package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  private def violations(df: org.apache.spark.sql.DataFrame): Long =
    df.head.getAs[Long]("violations")

  /** The `dbt build` gate over a report: every check reports zero. */
  private def passes(report: org.apache.spark.sql.DataFrame): Boolean =
    report.agg(sum(col("violations"))).head.getLong(0) == 0L

  test("unique counts distinct duplicated key values, dbt-style") {
    val df = Seq(1, 1, 1, 2, 3, 3, 4).toDF("k")
    // two distinct values (1 and 3) are duplicated — not five rows
    assert(violations(DataQuality.unique(df, "t", Seq("k"))) == 2)
    assert(violations(DataQuality.unique(df.distinct(), "t", Seq("k"))) == 0)
  }

  test("unique excludes NULL keys, exactly like dbt's test SQL") {
    val df = Seq(Some(1), None, None, Some(2)).toDF("k")
    // dbt: `where k is not null` — two NULL rows are NOT a uniqueness violation
    assert(violations(DataQuality.unique(df, "t", Seq("k"))) == 0)
  }

  test("unique supports compound keys") {
    val df = Seq((1, "a"), (1, "b"), (1, "a")).toDF("k1", "k2")
    assert(violations(DataQuality.unique(df, "t", Seq("k1", "k2"))) == 1)
    val r = DataQuality.unique(df, "t", Seq("k1", "k2")).head
    assert(r.getAs[String]("col_name") == "k1,k2")
  }

  test("not_null counts null rows") {
    val df = Seq(Some("x"), None, None, Some("y")).toDF("c")
    assert(violations(DataQuality.notNull(df, "t", "c")) == 2)
  }

  test("accepted_values: out-of-list rows counted, NULLs pass") {
    val df = Seq(Some("F"), Some("O"), Some("P"), None).toDF("c")
    assert(violations(DataQuality.acceptedValues(df, "t", "c", Seq("F", "O"))) == 1)
  }

  test("relationships counts orphans, null child keys excluded") {
    val child = Seq(Some(1L), Some(2L), Some(99L), None).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    assert(violations(
      DataQuality.relationships(child, "c", "fk", parent, "pk")) == 1)
  }

  test("report unions checks; passes() gates on zero total") {
    val clean = Seq(1, 2, 3).toDF("k")
    val dirty = Seq(1, 1).toDF("k")
    val good = DataQuality.report(Seq(
      DataQuality.unique(clean, "a", Seq("k")),
      DataQuality.notNull(clean, "a", "k")))
    assert(good.count() == 2 && passes(good))
    val bad = DataQuality.report(Seq(
      DataQuality.unique(dirty, "b", Seq("k"))))
    assert(!passes(bad))
  }

  test("the reference's declared dbt test: stg_historic transaction_id unique") {
    // _staging.yml:6-11 — the one schema test `dbt build` runs; the W2
    // dedup window in Staging.stgHistoric must make it pass by construction
    val raw = Seq(
      ("chk", Option.empty[String], "-12.5", "01/02/2024", "grocer", "Food", "hist", "01/02/2024"),
      ("chk", Option.empty[String], "-12.5", "01/02/2024", "grocer", "Food", "hist", "01/02/2024"), // exact dup
      ("chk", Option.empty[String], "-3.0", "01/03/2024", "cafe", "Food", "hist", "01/03/2024"))
      .toDF("account_name", "additional_account_detail", "amount",
        "transaction_date", "description", "master_category",
        "source_category", "input_date")
    val mapping = Seq(("chk", Option.empty[String], "Checking", "Alice"))
      .toDF("account_name", "additional_account_info",
        "mapped_account_name", "owner_name")
    val stg = graft.finance.Staging.stgHistoric(raw, mapping)
    assert(passes(DataQuality.report(Seq(
      DataQuality.unique(stg, "stg_historic_trxns", Seq("transaction_id")),
      DataQuality.notNull(stg, "stg_historic_trxns", "transaction_id")))))
  }
}
