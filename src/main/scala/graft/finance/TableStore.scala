package graft.finance

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Managed parquet tables with the reference's three mutation protocols
  * (SURVEY §2.8), built on an atomic directory-swap so readers never see a
  * half-written table:
  *
  *  - [[appendNew]]  — append-only incremental (`fct_validated_trxns.sql`):
  *    left-anti new rows against the target key set, then append.
  *  - [[upsert]]     — delete-then-insert by key
  *    (`classifier_predict.py:149-170`): drop target rows whose key is in
  *    the batch, union the batch.
  *  - [[overwrite]]  — full refresh.
  *
  * Spark has no OLTP mutation; each protocol recomputes the table
  * functionally and swaps the directory. At 100 TB the same protocols run
  * against a transactional table format's MERGE — the call sites don't
  * change, only this class.
  */
final class TableStore(spark: SparkSession, val root: String) {

  private def dir(table: String): Path = Paths.get(root, table)

  def exists(table: String): Boolean = Files.exists(dir(table))

  /** The table's current generation, read with its memoized schema
    * ([[graft.io.SchemaMemo]]): a table this store last [[overwrite]]s, or
    * one already read unchanged, starts no Spark job before the caller's
    * own action; one swapped in by anyone else is re-inferred once. */
  def read(table: String): DataFrame =
    graft.io.SchemaMemo.read(spark, dir(table).toString)

  /** [[read]], or an empty frame of `schema` while the table does not
    * exist yet (a fresh warehouse before the first job run). */
  def readOrEmpty(table: String, schema: StructType): DataFrame =
    if (exists(table)) read(table)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Dynamic partition overwrite — the date-partitioned BACKFILL protocol:
    * only the partitions PRESENT in the batch are replaced (wholesale —
    * a touched partition's rows not in the batch disappear, which is the
    * point of a restatement); untouched partitions' files are never
    * listed, rewritten, or even read. At 100 TB this is how a
    * late-arriving day is restated: one directory rewritten, not the
    * table. Uses Spark's native `partitionOverwriteMode=dynamic` as a
    * per-write option (no session-conf mutation — catalog queries share
    * the session). Atomicity contract is Spark's own dynamic-overwrite
    * commit (per-partition staging) — same contract as Hive/Spark
    * INSERT OVERWRITE, weaker than [[overwrite]]'s whole-table swap but
    * scoped to exactly the restated partitions. */
  def overwriteDynamicPartitions(
      table: String, batch: DataFrame, partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty, "overwriteDynamicPartitions needs partition columns")
    batch.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*)
      .parquet(dir(table).toString)
    // the directory keeps its inode: drop its schema rather than trust mtime
    graft.io.SchemaMemo.invalidate(dir(table).toString)
  }

  /** Full refresh: write to a temp sibling, swap atomically. The written
    * schema is memoized for the generation the swap publishes, so reading
    * the table back starts no inference job. */
  def overwrite(table: String, df: DataFrame): Unit = {
    val target = dir(table)
    val tmp = Paths.get(root, s".${table}__tmp")
    deleteRecursively(tmp)
    df.write.mode("overwrite").parquet(tmp.toString)
    graft.io.SchemaMemo.record(target.toString, tmp.toString, df.schema)
    swapInto(tmp, target)
  }

  private def swapInto(tmp: Path, target: Path): Unit = {
    val old = Paths.get(root, s".${target.getFileName}__old")
    deleteRecursively(old)
    if (Files.exists(target)) Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
  }

  /** Append-only incremental merge: insert only batch rows whose `key` is
    * not already present. Existing rows are never updated. */
  def appendNew(table: String, batch: DataFrame, key: String): Unit =
    if (!exists(table)) overwrite(table, batch)
    else {
      val existing = read(table)
      val fresh = batch.join(existing.select(key), Seq(key), "left_anti")
      overwrite(table, existing.unionByName(fresh))
    }

  /** Delete-then-insert upsert: exactly one surviving row per key from the
    * batch; untouched keys keep their existing rows. */
  def upsert(table: String, batch: DataFrame, key: String): Unit =
    if (!exists(table)) overwrite(table, batch)
    else {
      val kept = read(table).join(batch.select(key), Seq(key), "left_anti")
      overwrite(table, kept.unionByName(batch))
    }

  /** Field-wise merge persisted: the get-or-create + per-field-update
    * protocol of [[TableStore.mergeFieldwise]] against a stored table.
    * On a missing table the merge runs against an empty frame with the
    * batch's schema plus the touch column, so created-row defaults apply
    * from the very first batch. */
  def upsertFieldwise(
      table: String,
      batch: DataFrame,
      key: String,
      assigned: Seq[String],
      whenProvided: Seq[String],
      defaults: Map[String, org.apache.spark.sql.Column],
      touch: (String, org.apache.spark.sql.Column)): Unit = {
    val existing =
      if (exists(table)) read(table)
      else batch.withColumn(touch._1, touch._2).limit(0)
    overwrite(table, TableStore.mergeFieldwise(
      existing, batch, key, assigned, whenProvided, defaults, touch))
  }

  private def deleteRecursively(p: Path): Unit = graft.finance.ops.FileTrees.delete(p)
}

object TableStore {

  /** Field-wise OLTP merge, batched (reference
    * `transaction_service.py:78-126` `categorize_transaction`): the
    * reference does get-or-create per row — `master_category` /
    * `source_category` are ASSIGNED unconditionally (a null in the request
    * overwrites), `notes` / `validated` / `exclude_from_forecast` update
    * only WHEN PROVIDED (null keeps the stored value), created rows take
    * DEFAULTS for unprovided fields, and every touched row's `updated_at`
    * is stamped. The whole-row [[TableStore.upsert]] cannot express this —
    * a caller updating only `notes` would wipe the other fields.
    *
    * Spark shape: ONE full-outer join on the key — existing-only rows pass
    * through byte-identical (old touch value kept), matched rows take
    * assigned-from-batch / coalesce(batch, existing) per field, batch-only
    * rows take coalesce(batch, default). Scales as a plain shuffled equi
    * join; at warehouse scale the same column rules become the UPDATE SET
    * clause of a MERGE.
    *
    * `batch` must carry `key ++ assigned ++ whenProvided` and at most one
    * row per key; keys must be non-null on both sides (enforced). Output
    * columns = existing's columns.
    */
  def mergeFieldwise(
      existing: DataFrame,
      batch: DataFrame,
      key: String,
      assigned: Seq[String],
      whenProvided: Seq[String],
      defaults: Map[String, Column],
      touch: (String, Column)): DataFrame = {
    val (touchCol, touchVal) = touch
    val expectedBatch = (Seq(key) ++ assigned ++ whenProvided).toSet
    require(expectedBatch.subsetOf(batch.columns.toSet),
      s"batch is missing ${(expectedBatch -- batch.columns.toSet).mkString(", ")}")
    require(existing.columns.contains(touchCol), s"existing lacks touch column $touchCol")
    require(defaults.keySet.subsetOf(whenProvided.toSet),
      "defaults only apply to when-provided fields")

    def guardKey(df: DataFrame) = df.filter(
      when(col(key).isNull,
        raise_error(lit(s"mergeFieldwise: null $key"))).otherwise(lit(true)))

    val e = guardKey(existing).select(
      col(key).as("_mk") +: lit(true).as("_e_present") +:
        existing.columns.map(c => col(c).as(s"_e_$c")): _*)
    val b0 = guardKey(batch).select(
      col(key).as("_mk") +: lit(true).as("_b_present") +:
        (assigned ++ whenProvided).map(c => col(c).as(s"_b_$c")): _*)
    // at-most-one-row-per-key is a documented contract — enforce it like
    // the null-key guard: duplicate batch keys would fan out the join and
    // persist duplicate rows through upsertFieldwise (the reference's
    // per-row get-or-create cannot produce duplicates). The window rides
    // the same key exchange the join needs.
    val b = b0
      .withColumn("_dupn", count(lit(1)).over(Window.partitionBy(col("_mk"))))
      .filter(when(col("_dupn") > 1,
        raise_error(concat(lit(s"mergeFieldwise: duplicate batch rows for $key "),
          col("_mk").cast("string")))).otherwise(lit(true)))
      .drop("_dupn")

    val joined = e.join(b, Seq("_mk"), "full_outer")
    val fromBatch = col("_b_present").isNotNull
    val created = fromBatch && col("_e_present").isNull
    val outCols = existing.columns.map { c =>
      val ex = col(s"_e_$c")
      val out =
        if (c == key) col("_mk")
        else if (c == touchCol)
          when(fromBatch, touchVal.cast(existing.schema(touchCol).dataType)).otherwise(ex)
        else if (assigned.contains(c)) when(fromBatch, col(s"_b_$c")).otherwise(ex)
        else if (whenProvided.contains(c))
          when(created, coalesce(col(s"_b_$c"), defaults.getOrElse(c, lit(null))))
            .when(fromBatch, coalesce(col(s"_b_$c"), ex))
            .otherwise(ex)
        else ex
      out.as(c)
    }
    joined.select(outCols.toIndexedSeq: _*)
  }

  /** Recompute `is_latest` / `is_active` registry flags as a window instead
    * of UPDATEs (`classifier_train.py:110-151,352-423`, SURVEY §2.8):
    * latest = newest training_timestamp over all rows; active = newest row
    * with status 'trained'. */
  def recomputeRegistryFlags(registry: DataFrame): DataFrame = {
    // The registry is control-plane-small (one row per training run), so a
    // single-partition window is the intended plan; the constant-but-non-
    // foldable key (pmod(·,1) = 0 — a bare literal is stripped by Spark 4's
    // EliminateWindowPartitions) keeps the "No Partition Defined" warning
    // channel reserved for genuinely unbounded windows.
    val one = coalesce(pmod(year(col("training_timestamp")), lit(1)), lit(0))
    val byTime = Window.partitionBy(one)
      .orderBy(col("training_timestamp").desc, col("model_version"))
    val trainedByTime = Window.partitionBy(one).orderBy(
      when(col("status") === "trained", 0).otherwise(1),
      col("training_timestamp").desc, col("model_version"))
    registry
      .withColumn("is_latest", row_number().over(byTime) === 1)
      .withColumn("is_active",
        row_number().over(trainedByTime) === 1 && col("status") === "trained")
  }

  /** Registry metrics history (`ui/backend/api/model_metrics.py:56-143`):
    * trained rows only, in chronological order — the endpoint reads
    * `ORDER BY training_timestamp DESC` then reverses the list; `seq`
    * materializes that chronological position (model_version breaks
    * timestamp ties deterministically, which the reference leaves to the
    * database). The registry is control-plane-small, so the global window
    * sort is one task by design. */
  def metricsHistory(registry: DataFrame): DataFrame = {
    // constant-but-non-foldable single partition — see recomputeRegistryFlags
    val chrono = Window
      .partitionBy(coalesce(pmod(year(col("training_timestamp")), lit(1)), lit(0)))
      .orderBy(col("training_timestamp").asc, col("model_version"))
    registry.filter(col("status") === "trained")
      .withColumn("seq", row_number().over(chrono).cast("long"))
      .select(col("seq"), col("model_version"), col("training_timestamp"),
        col("accuracy"), col("f1_macro"), col("f1_weighted"),
        col("precision_macro"), col("recall_macro"),
        col("n_train"), col("n_test"), col("n_classes"))
  }

  /** Latest training status (`model_metrics.py` /training-status): the
    * newest registry row's status/reason — 'trained', 'skipped', or an
    * empty frame when no registry exists yet ('not_found' at the API). */
  def trainingStatus(registry: DataFrame): DataFrame =
    registry
      .orderBy(col("training_timestamp").desc, col("model_version"))
      .limit(1)
      .select(col("model_version"), col("status"), col("reason"),
        col("training_timestamp"), col("n_train"), col("n_classes"))
}
