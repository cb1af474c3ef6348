package graft.io

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The one inferred-parquet-schema memo, shared by every stored-table
  * reader: the catalog fixtures ([[Tables]]) and the finance warehouse
  * ([[graft.finance.TableStore]]).
  *
  * A bare-path `spark.read.parquet` infers its schema from a parquet
  * footer on every call, and that inference is a Spark job: a driver-side
  * stall of ~50-150 ms per reader call, 150-750 ms of every catalog
  * query's build time and about two jobs of every API page read. Here a
  * path's schema is inferred once per GENERATION of the path, the
  * `(fileKey, lastModifiedTime)` pair of one `stat`, and each read hands
  * the reader that schema explicitly, as a metastore-backed table would.
  * Plan shape, pushdown and results are unchanged.
  *
  * A directory swapped in, by this JVM or by another process such as a
  * `JobsMain` run, is a new inode with a new mtime, so the next read
  * re-infers, unless the writer [[record]]ed the schema of the generation
  * it published. Each path holds one entry (a newer generation replaces
  * the older), and an entry holds only the StructType: no rows, no file
  * listings.
  */
object SchemaMemo {

  private final case class Generation(fileKey: AnyRef, modified: FileTime)
  private final case class Entry(generation: Generation, schema: StructType)

  private val entries = new ConcurrentHashMap[String, Entry]()

  private def key(path: String): String = Paths.get(path).toAbsolutePath.normalize.toString

  private def generation(path: String): Option[Generation] =
    try {
      val a = Files.readAttributes(Paths.get(path), classOf[BasicFileAttributes])
      Some(Generation(a.fileKey, a.lastModifiedTime))
    } catch { case _: java.io.IOException | _: java.nio.file.InvalidPathException => None }

  /** `spark.read.parquet(path)` with the generation's memoized schema. A
    * path that cannot be stat'ed is read bare, so it fails as a bare read
    * does. An inference is kept only if the generation did not move while
    * it ran. */
  def read(spark: SparkSession, path: String): DataFrame =
    generation(path) match {
      case None => spark.read.parquet(path)
      case Some(gen) =>
        val k = key(path)
        val schema = Option(entries.get(k)).filter(_.generation == gen).map(_.schema)
          .getOrElse {
            val inferred = spark.read.parquet(path).schema
            if (generation(path).contains(gen)) entries.put(k, Entry(gen, inferred))
            inferred
          }
        spark.read.schema(schema).parquet(path)
    }

  /** Memoize the schema of the generation a writer is about to publish at
    * `path`. `staged` is the finished parquet directory that a rename within
    * `path`'s parent will move there; such a rename keeps the directory's
    * inode and mtime, so `staged`'s generation IS the published one. The
    * entry holds `written`, the frame's schema, as a parquet read returns
    * it: every field nullable. Call after the write and before the rename. */
  def record(path: String, staged: String, written: StructType): Unit =
    generation(staged).foreach(gen => entries.put(key(path), Entry(gen, nullable(written))))

  /** The memoized schema of `path`'s current generation, if any. Only
    * TableStoreSpec reads it, to tell a memo hit from a re-inference. */
  private[graft] def memoized(path: String): Option[StructType] =
    Option(entries.get(key(path))).filter(e => generation(path).contains(e.generation))
      .map(_.schema)

  private def nullable(t: StructType): StructType =
    StructType(t.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(t: DataType): DataType = t match {
    case s: StructType => nullable(s)
    case a: ArrayType => ArrayType(nullableType(a.elementType), containsNull = true)
    case m: MapType => MapType(nullableType(m.keyType), nullableType(m.valueType), valueContainsNull = true)
    case other => other
  }
}
