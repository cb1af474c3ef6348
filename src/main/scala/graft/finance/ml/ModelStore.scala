package graft.finance.ml

import java.nio.file.{Files, Paths}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model artifact persistence + the predict-time selection chain
  * (SURVEY §2.1 S8 / §2.10 M11, `classifier_train.py:315-347`,
  * `classifier_predict.py:33-84`): models are saved under
  * `<root>/<model_version>` with a `latest` copy; predict loads
  * active → latest-trained → `latest`-directory fallback, in that order.
  */
final class ModelStore(spark: SparkSession, root: String) {

  def save(model: PipelineModel, labels: Array[String], version: String): String = {
    val dir = Paths.get(root, version)
    model.write.overwrite().save(dir.toString)
    Files.writeString(dir.resolve("labels.txt"), labels.mkString("\n"))
    // copy-to-latest (classifier_train.py:341-347): a stable alias path
    val latest = Paths.get(root, "latest")
    deleteTree(latest)
    copyTree(dir, latest)
    dir.toString
  }

  def load(pathOrVersion: String): (PipelineModel, Array[String]) = {
    val dir =
      if (Paths.get(pathOrVersion).isAbsolute) Paths.get(pathOrVersion)
      else Paths.get(root, pathOrVersion)
    val labels = Files.readString(dir.resolve("labels.txt")).split("\n").filter(_.nonEmpty)
    (PipelineModel.load(dir.toString), labels)
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

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    graft.finance.ops.FileTrees.copy(from, to)
  private def deleteTree(p: java.nio.file.Path): Unit =
    graft.finance.ops.FileTrees.delete(p)
}
