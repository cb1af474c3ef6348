package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch MERGE with the full ANSI action matrix — the statement warehouses
  * (Delta/Iceberg `MERGE INTO`, SQL:2003 + the 2023 `NOT MATCHED BY SOURCE`
  * extension) run nightly at 100 TB, expressed as ONE full-outer join plus a
  * row-level decision calculus:
  *
  *   - matched, `matchedDelete`          → row dropped
  *   - matched, otherwise                → target row with `matchedUpdate`
  *                                         columns replaced
  *   - not matched (source-only)         → source row inserted
  *   - not matched by source, `staleDelete` → row dropped
  *   - not matched by source, otherwise  → target row kept byte-unchanged
  *
  * This generalizes the incremental family around it: [[graft.finance.TableStore.upsert]]
  * is the matrix with only update+insert, `mergeFieldwise` fixes the update
  * rule to coalesce-per-field, and a CDC apply (i6) is the matrix with
  * tombstone-driven deletes. Here all five actions are caller conditions.
  *
  * Condition/update columns are written against the JOINED schema: target
  * columns under their own names, non-key source columns under an `s_`
  * prefix. Conditions are evaluated null-safely (an unmatched side makes a
  * condition NULL → treated as false), so callers write plain predicates.
  *
  * Scale shape: one key-partitioned full-outer join — sort-merge at fact
  * scale, exchange-free when both sides are bucketed by the key
  * (`bucketBy` on the key, the i5 posture) — then a codegen'd filter + projection.
  * No second pass, no driver state: the decision for every row is local to
  * its key's partition.
  *
  * Cardinality contract: ANSI/Delta/Iceberg MERGE raises when more than
  * one source row matches the same target key (otherwise "update the
  * matched row" is ambiguous). With `failOnMultipleSourceMatches = true`
  * (the default) this does the same — a per-key source count (a window
  * over the SAME key partitioning the join needs, so no extra exchange
  * beyond its sort) feeds an `assert_true` that fails the job the moment
  * a duplicate-matched key is seen. Callers that have pre-deduplicated
  * the source can pass `false` to skip the window.
  */
object MergeInto {

  def apply(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      matchedDelete: Column = lit(false),
      matchedUpdate: Map[String, Column] = Map.empty,
      staleDelete: Column = lit(false),
      failOnMultipleSourceMatches: Boolean = true): DataFrame = {
    require(keys.nonEmpty, "MergeInto: at least one key column")
    require(target.columns.sameElements(source.columns),
      s"MergeInto: target/source schemas differ: " +
        s"${target.columns.mkString(",")} vs ${source.columns.mkString(",")}")
    require(matchedUpdate.keySet.subsetOf(target.columns.toSet -- keys),
      "MergeInto: matchedUpdate must name non-key target columns")

    val valueCols = target.columns.filterNot(keys.contains).toSeq
    val t = target.withColumn("_t_present", lit(true))
    val sBase = source
      .select(keys.map(col) ++
        valueCols.map(c => col(c).as(s"s_$c")) :+ lit(true).as("_s_present"): _*)
    val s =
      if (failOnMultipleSourceMatches) {
        import org.apache.spark.sql.expressions.Window
        sBase.withColumn("_s_n",
          count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      } else sBase.withColumn("_s_n", lit(1L))
    // using-columns full outer join: Spark coalesces the key columns itself,
    // so key output needs no CASE
    val joined = t.join(s, keys, "full_outer")

    val matched = col("_t_present") && col("_s_present")
    val sourceOnly = col("_s_present") && col("_t_present").isNull
    val targetOnly = col("_t_present") && col("_s_present").isNull
    def truly(c: Column): Column = coalesce(c, lit(false))

    val keep = (matched && !truly(matchedDelete)) ||
      sourceOnly ||
      (targetOnly && !truly(staleDelete))

    val outCols = keys.map(col) ++ valueCols.map { c =>
      when(matched, matchedUpdate.getOrElse(c, col(c)))
        .when(sourceOnly, col(s"s_$c"))
        .otherwise(col(c))
        .as(c)
    }
    // assert_true returns NULL while the invariant holds and throws on the
    // first duplicate-matched key, so riding it in the filter adds no rows
    // and no second pass
    val cardinalityOk = assert_true(
      // null-safe: unmatched rows leave `matched`/`_s_n` NULL, which must
      // read as "no violation", not as assert_true's not-true → throw
      !truly(matched && col("_s_n") > 1),
      lit("MergeInto: multiple source rows match one target key " +
        "(ANSI MERGE cardinality violation); dedup the source or pass " +
        "failOnMultipleSourceMatches = false"))
    joined.filter(cardinalityOk.isNull && keep).select(outCols: _*)
  }
}
