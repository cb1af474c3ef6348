package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The one materialization primitive: write an intermediate once as
  * parquet and read it back, the write-then-read shape the reference gives
  * every dbt table.
  *
  * A computed frame (an edge list, an assignment table, a loop's round) is
  * often read by several consumers; without materialization each one
  * re-executes the producing plan. [[materialize]] runs the plan in one
  * job and hands back a plain parquet scan, so every consumer reads files
  * and an executor loss re-reads them instead of recomputing.
  *
  * The files live under the session's checkpoint dir, which the
  * `graft.GraftSession` contract always sets (on a cluster, durable shared
  * storage). [[release]] deletes a frame's files once its last consumer
  * has run; whatever is still alive at exit goes with the app's checkpoint
  * dir in a shutdown hook.
  *
  * The read-back is an ordinary file scan: it carries no output
  * partitioning from the plan that produced it, and its row order across
  * partitions follows Spark's file packing. A consumer that needs either
  * states it.
  */
object Reuse {

  private val MatPrefix = "mat-"

  /** Writes `df` once to `<checkpoint dir>/mat-<uuid>` and returns its
    * read-back under `df`'s own schema (columns come back nullable). */
  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val path = s"${home(spark.sparkContext)}/$MatPrefix${java.util.UUID.randomUUID()}"
    df.write.parquet(path)
    spark.read.schema(df.schema).parquet(path)
  }

  /** Unpersists `df` and, when `df` is the read-back of a [[materialize]]
    * directory under this app's checkpoint dir, deletes that directory.
    * Any other frame keeps its files. The frame is unreadable afterwards. */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    val sc = df.sparkSession.sparkContext
    matDir(df, sc).foreach { p =>
      p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
    }
  }

  /** The `mat-*` directory `df` reads, when `df` is exactly such a read-back. */
  private def matDir(df: DataFrame, sc: SparkContext): Option[Path] = {
    val roots = df.queryExecution.analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.rootPaths
      case _ => Nil
    }
    (roots, sc.getCheckpointDir) match {
      case (Seq(p), Some(dir)) if p.getName.startsWith(MatPrefix) =>
        val home = new Path(dir)
        val fs = home.getFileSystem(sc.hadoopConfiguration)
        if (fs.makeQualified(p.getParent) == fs.makeQualified(home)) Some(p) else None
      case _ => None
    }
  }

  private def home(sc: SparkContext): String = {
    val dir = sc.getCheckpointDir.getOrElse(throw new IllegalStateException(
      "Reuse.materialize writes under the session's checkpoint dir, and this " +
        "session has none: start it from graft.GraftSession, or set spark.checkpoint.dir"))
    registerCleanup(sc, dir)
    dir.stripSuffix("/")
  }

  // Each SparkContext gets its own UUID subdirectory under the checkpoint
  // home (`SparkContext.getCheckpointDir`), so deleting THAT directory at
  // JVM shutdown removes this app's unreleased frames and nothing of a
  // concurrent application's.
  private val cleanupRegistered = new ConcurrentHashMap[String, java.lang.Boolean]()

  private def registerCleanup(sc: SparkContext, dir: String): Unit =
    if (cleanupRegistered.putIfAbsent(dir, java.lang.Boolean.TRUE) == null) {
      val conf = new org.apache.hadoop.conf.Configuration(sc.hadoopConfiguration)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try {
          val p = new Path(dir)
          p.getFileSystem(conf).delete(p, true)
        } catch { case _: Throwable => () } // best-effort: never block exit
      }, "graft-checkpoint-cleanup"))
    }
}
