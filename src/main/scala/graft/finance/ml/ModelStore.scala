package graft.finance.ml

import java.io.{BufferedInputStream, BufferedOutputStream, IOException}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.bzip2.{BZip2CompressorInputStream, BZip2CompressorOutputStream}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.graftbridge.LocalSavingBridge.withLocalSaving
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.finance.ops.FileTrees

/** Model artifact persistence + the predict-time selection chain
  * (SURVEY §2.1 S8 / §2.10 M11, `classifier_train.py:315-347`,
  * `classifier_predict.py:33-84`): models are saved under
  * `<root>/<model_version>` with a `latest` copy; predict loads
  * active → latest-trained → `latest`-directory fallback, in that order.
  *
  * A version directory holds `model.tar.bz2` and `labels.txt`. The archive
  * is the pipeline in Spark ML's local layout (what its stage writers
  * produce in local saving mode) as one bzip2-compressed tar, so save and
  * load do local file I/O only and start no Spark job. bzip2 rather than
  * deflate: the forest's row-wise binary node records deflate to more bytes
  * than the default layout's zstd parquet, bzip2 to fewer. A directory
  * without the archive is a Spark-default-layout artifact written by
  * earlier code (a `latest` alias, a restored backup); it still loads,
  * through Spark's default reader.
  */
final class ModelStore(spark: SparkSession, root: String) {

  def save(model: PipelineModel, labels: Array[String], version: String): String = {
    val dir = Paths.get(root, version)
    FileTrees.delete(dir)
    Files.createDirectories(dir)
    withTempDir { tmp =>
      val layout = tmp.resolve("model")
      withLocalSaving(model.write.save(layout.toString))
      pack(layout, dir.resolve(ModelStore.Archive))
    }
    Files.writeString(dir.resolve("labels.txt"), labels.mkString("\n"))
    // copy-to-latest (classifier_train.py:341-347): a stable alias path
    val latest = Paths.get(root, "latest")
    FileTrees.delete(latest)
    FileTrees.copy(dir, latest)
    dir.toString
  }

  def load(pathOrVersion: String): (PipelineModel, Array[String]) = {
    val dir =
      if (Paths.get(pathOrVersion).isAbsolute) Paths.get(pathOrVersion)
      else Paths.get(root, pathOrVersion)
    val labels = Files.readString(dir.resolve("labels.txt")).split("\n").filter(_.nonEmpty)
    val archive = dir.resolve(ModelStore.Archive)
    val model =
      if (Files.exists(archive)) withTempDir { tmp =>
        unpack(archive, tmp)
        withLocalSaving(PipelineModel.load(tmp.toString))
      }
      else PipelineModel.load(dir.toString)
    (model, labels)
  }

  /** Predict-time selection: the registry's active model, else the newest
    * trained row, else the `latest` directory; None when nothing was ever
    * trained. A version the registry DOES name but that fails to load is an
    * error, not None — swallowing it would turn a corrupt/moved artifact
    * into a silent no-predictions state (the reference raises
    * FileNotFoundError here, `classifier_predict.py:78-81`). */
  def loadForPredict(registry: Option[DataFrame]): Option[(PipelineModel, Array[String], String)] = {
    // one top-1 over the trained rows: active first, then newest
    val fromRegistry = registry.flatMap { reg =>
      reg.filter(col("status") === "trained")
        .orderBy(coalesce(col("is_active"), lit(false)).desc,
          col("training_timestamp").desc, col("model_version"))
        .select("model_version").limit(1)
        .collect().headOption.map(_.getString(0))
    }
    fromRegistry match {
      case Some(v) =>
        val (m, l) =
          try load(v)
          catch { case e: Exception =>
            throw new IllegalStateException(
              s"registry names model '$v' but its artifact failed to load " +
                s"(moved or deleted?): ${e.getMessage}", e)
          }
        Some((m, l, v))
      case None =>
        if (Files.exists(Paths.get(root, "latest"))) {
          val (m, l) = load("latest")
          Some((m, l, "latest"))
        } else None
    }
  }

  /** Every file under `layout`, under its `/`-separated relative path, in
    * one bzip2-compressed tar. */
  private def pack(layout: Path, archive: Path): Unit = {
    val files = Using.resource(Files.walk(layout))(
      _.iterator.asScala.filter(Files.isRegularFile(_)).toSeq.sorted)
    Using.resource(new TarArchiveOutputStream(new BZip2CompressorOutputStream(
        new BufferedOutputStream(Files.newOutputStream(archive))))) { out =>
      out.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
      files.foreach { f =>
        out.putArchiveEntry(new TarArchiveEntry(f, layout.relativize(f).iterator.asScala.mkString("/")))
        Files.copy(f, out)
        out.closeArchiveEntry()
      }
    }
  }

  /** Extracts the regular files of `archive` into the empty dir `into`,
    * refusing any entry that resolves outside it. */
  private def unpack(archive: Path, into: Path): Unit =
    Using.Manager { use =>
      // the file is closed also when the bzip2 header check throws
      val file = use(new BufferedInputStream(Files.newInputStream(archive)))
      val in = use(new TarArchiveInputStream(new BZip2CompressorInputStream(file)))
      Iterator.continually(in.getNextEntry).takeWhile(_ != null).filter(_.isFile).foreach { e =>
        val dest = into.resolve(e.getName).normalize()
        if (!dest.startsWith(into))
          throw new IOException(s"$archive: entry '${e.getName}' resolves outside the extraction dir")
        Files.createDirectories(dest.getParent)
        Files.copy(in, dest)
      }
    }.get

  /** Runs `body` on a fresh temp dir and deletes the dir afterwards: a
    * loaded model lives in memory, and a long-lived JVM must not leak disk. */
  private def withTempDir[A](body: Path => A): A = {
    val tmp = Files.createTempDirectory(ModelStore.TempPrefix)
    try body(tmp) finally FileTrees.delete(tmp)
  }
}

object ModelStore {
  /** The pipeline archive inside a version directory. */
  val Archive = "model.tar.bz2"

  /** Name prefix of the temp dirs save and load stage the local layout in. */
  private[ml] val TempPrefix = "graft-model-"
}
