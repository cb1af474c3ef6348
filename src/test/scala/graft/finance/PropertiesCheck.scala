package graft.finance

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import scala.jdk.CollectionConverters._

/** ScalaCheck properties over the staging dedup and operator invariants
  * (SURVEY §5: "ScalaCheck properties — dedup idempotence, union-schema
  * alignment, threshold monotonicity"). Spark-backed properties run 10
  * cases each; pure ones the full 100.
  */
object PropertiesCheck extends Properties("graft.finance") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = graft.SparkSpec.session
  private lazy val noMapping =
    spark.createDataFrame(Seq.empty[Row].asJava, Schemas.accountMappingSimplefin)
  private lazy val noExclusions =
    spark.createDataFrame(Seq.empty[Row].asJava, Schemas.transactionExclusions)

  private val genRaw: Gen[Row] = for {
    txn <- Gen.choose(1, 40)
    acct <- Gen.oneOf("a1", "a2", "a3")
    name <- Gen.oneOf("Checking", "Checking (1234)", "Savings")
    amt <- Gen.oneOf("-5.00", "10.00", "42.42")
    date <- Gen.oneOf("2024-01-01", "2024-01-02")
    desc <- Gen.oneOf("coffee", "rent", "gas")
    imp <- Gen.choose(1, 9)
  } yield Row(s"t$txn", acct, name, "dom", "Bank",
    new java.math.BigDecimal(amt), 1700000000L, date, 1700000000L, date,
    desc, false, null, s"2024-02-0$imp 00:00:00", "2024-02-01")

  private def stage(rows: List[Row]) =
    Staging.stgSimplefin(
      spark.createDataFrame(rows.asJava, Schemas.simplefinRaw),
      noMapping, noExclusions)

  property("dedup: exactly one surviving row per transaction_id") =
    forAll(Gen.listOfN(30, genRaw)) { rows =>
      rows.isEmpty || {
        val out = stage(rows)
        out.count() == out.select("transaction_id").distinct().count()
      }
    }

  property("dedup: each logical transaction keeps exactly one account_id") =
    forAll(Gen.listOfN(30, genRaw)) { rows =>
      rows.isEmpty || {
        val out = stage(rows).withColumn("_k",
          Staging.normalizeAccountName(col("account_name")))
        out.groupBy("institution_name", "_k", "transacted_date", "amount", "description")
          .agg(countDistinct("account_id").as("n"))
          .filter(col("n") > 1).count() == 0
      }
    }

  property("dedup is idempotent: output ids survive a second pass unchanged") =
    forAll(Gen.listOfN(30, genRaw)) { rows =>
      rows.isEmpty || {
        val once = stage(rows)
        // re-wrap the survivors as raw rows (inverse casts) and re-stage
        val asRaw = once.select(
          col("transaction_id"), col("account_id"), col("account_name"),
          col("institution_domain"), col("institution_name"), col("amount"),
          col("posted").cast("long").as("posted"),
          col("posted_date").cast("string"),
          col("transacted_at").cast("long").as("transacted_at"),
          col("transacted_date").cast("string"),
          col("description"), col("pending"),
          lit(null).cast("string").as("extra"),
          col("import_timestamp").cast("string"),
          col("import_date").cast("string"))
        val twice = Staging.stgSimplefin(
          spark.createDataFrame(asRaw.collect().toSeq.asJava, Schemas.simplefinRaw),
          noMapping, noExclusions)
        val a = once.select("transaction_id").collect().map(_.getString(0)).sorted.toSeq
        val b = twice.select("transaction_id").collect().map(_.getString(0)).sorted.toSeq
        a == b
      }
    }

  property("amount_bucket is monotone in |amount| and always in [0,5]") =
    forAll(Gen.listOfN(20, Gen.choose(-2000.0, 2000.0))) { amounts =>
      amounts.isEmpty || {
        import spark.implicits._
        val df = amounts.map(a => ("t", BigDecimal(a).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString))
          .toDF("id", "a")
          .select(lit("x").as("transaction_id"), lit(null).cast("string").as("account_id"),
            lit(null).cast("string").as("original_account_name"), lit("n").as("account_name"),
            lit(null).cast("string").as("detailed_account_name"), lit(null).cast("string").as("owner_name"),
            lit(null).cast("string").as("institution_domain"), lit("i").as("institution_name"),
            col("a").cast("decimal(18,2)").as("amount"), lit(null).cast("timestamp").as("posted"),
            lit(null).cast("date").as("posted_date"), lit(null).cast("timestamp").as("transacted_at"),
            lit("2024-01-01").cast("date").as("transacted_date"), lit("d").as("description"),
            lit(null).cast("boolean").as("pending"), lit(null).cast("string").as("source_category"),
            lit(null).cast("string").as("master_category"), lit(null).cast("timestamp").as("import_timestamp"),
            lit(null).cast("timestamp").as("import_date"), lit("simplefin").as("source_name"))
        val got = Marts.intTrxnsFeatures(df)
          .select(col("amount_abs").cast("double"), col("amount_bucket"))
          .collect().map(r => r.getDouble(0) -> r.getInt(1))
        val sorted = got.sortBy(_._1)
        sorted.forall { case (_, b) => b >= 0 && b <= 5 } &&
          sorted.map(_._2).toSeq.sliding(2).forall {
            case Seq(b1, b2) => b1 <= b2
            case _ => true
          }
      }
    }

  property("WordShingles == HOF formulation on arbitrary text") = {
    import org.apache.spark.sql.functions._
    val genWord = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("Ä", "ß", "İ", "é", "", " ", "ω", "This", "the"))
    forAll(Gen.listOf(genWord).map(_.mkString(" "))) { text =>
      import spark.implicits._
      val df = Seq(text).toDF("text")
      val t = split(lower(col("text")), " ")
      val hof = when(size(t) >= 3,
        array_distinct(transform(sequence(lit(1), size(t) - 2),
          i => concat_ws(" ", slice(t, i, lit(3))))))
        .otherwise(array().cast("array<string>"))
      val r = df.select(
        graft.functions.WordShingles(col("text"), 3).as("native"), hof.as("hof")).head
      r.getSeq[String](0).sorted == r.getSeq[String](1).sorted
    }
  }

  property("TopK aggregator == sort-take-k for arbitrary inputs (pure)") = {
    val agg = graft.operators.TopK.topK(5)
    forAll(Gen.listOf(Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(0L, 50L)))) { vs =>
      val h = vs.foldLeft(agg.zero) { case (acc, (s, id)) => agg.reduce(acc, (0L, s, id)) }
      val got = agg.finish(h)
      val want = vs.map { case (s, id) => (s, id) }.distinct
        .sortBy { case (s, id) => (-s, id) }.take(5)
      // distinct because equal (score,id) pairs are indistinguishable in order
      got.distinct == want || got == vs.map { case (s, id) => (s, id) }
        .sortBy { case (s, id) => (-s, id) }.take(5)
    }
  }
}
