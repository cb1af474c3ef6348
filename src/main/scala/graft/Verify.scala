package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — fast local spot-checks
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local("graft-verify", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(e => selected(e._1)).foreach { case (name, fn) =>
      // progress marker: lets log warnings (e.g. WindowExec) be attributed
      // to the query that produced them
      System.err.println(s"[verify] running $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = msg
        // A failed query must surface as a RED correctness row, never a
        // dropped one (round 7: 26 plan errors silently shrank the gate from
        // 131 to 108 "all-green" entries). Overwrite any stale output with a
        // one-row sentinel whose schema can't match any oracle, so the
        // driver's compare runs and records the mismatch loudly.
        import spark.implicits._
        Seq(("GRAFT_QUERY_ERROR: " + msg.take(500)))
          .toDF("graft_error").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: ${failed.keys.mkString(", ")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable error roster alongside the results — lets any consumer
    // distinguish "query errored" from "query absent" without re-running.
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    // exit 0 even on per-query failures: the sentinel parquet above is the
    // loud signal; a nonzero exit could abort the driver's compare stage
    // entirely and produce NO artifact, which is worse than a red row.
    spark.stop()
  }
}
