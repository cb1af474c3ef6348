package graft.io

import graft.SparkSpec
import org.apache.spark.sql.types._

/** Fixture-schema drift guard (round-7 lesson).
  *
  * The driver owns `/root/testdata` and has regenerated it mid-round once
  * already — round 7's fixtures switched `events.ts` from parquet
  * TIMESTAMP(NANOS) to timestamp[us], and the hard-coded reader turned that
  * single change into 26 scattered query errors. This spec pins the schema
  * every engine component assumes, AS SEEN THROUGH `Tables.apply` (i.e. after
  * any reader normalization), so the next fixture regeneration fails as one
  * obvious assertion here instead of a pile of analysis errors elsewhere.
  *
  * Timestamp-ish columns accept either TIMESTAMP or TIMESTAMP_NTZ: which one
  * Spark infers depends on the file's isAdjustedToUTC flag, both behave
  * identically under the UTC session the engine pins, and the reader is
  * required to normalize any raw encoding (including int64 nanos) to one of
  * them.
  */
class FixtureSchemaSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private val tsLike: Set[DataType] = Set(TimestampType, TimestampNTZType)

  /** name -> expected type; None = any timestamp type (see above). */
  private val expected: Map[String, Seq[(String, Option[DataType])]] = Map(
    "region" -> Seq("r_regionkey" -> Some(IntegerType), "r_name" -> Some(StringType)),
    "nation" -> Seq("n_nationkey" -> Some(IntegerType), "n_name" -> Some(StringType),
      "n_regionkey" -> Some(IntegerType)),
    "customer" -> Seq("c_custkey" -> Some(LongType), "c_name" -> Some(StringType),
      "c_nationkey" -> Some(IntegerType), "c_acctbal" -> Some(DoubleType),
      "c_mktsegment" -> Some(StringType)),
    "supplier" -> Seq("s_suppkey" -> Some(LongType), "s_name" -> Some(StringType),
      "s_nationkey" -> Some(IntegerType), "s_acctbal" -> Some(DoubleType)),
    "part" -> Seq("p_partkey" -> Some(LongType), "p_name" -> Some(StringType),
      "p_brand" -> Some(StringType), "p_type" -> Some(StringType),
      "p_size" -> Some(IntegerType), "p_retailprice" -> Some(DoubleType)),
    "orders" -> Seq("o_orderkey" -> Some(LongType), "o_custkey" -> Some(LongType),
      "o_orderstatus" -> Some(StringType), "o_totalprice" -> Some(DoubleType),
      "o_orderdate" -> None, "o_orderpriority" -> Some(StringType)),
    "lineitem" -> Seq("l_orderkey" -> Some(LongType), "l_partkey" -> Some(LongType),
      "l_suppkey" -> Some(LongType), "l_linenumber" -> Some(IntegerType),
      "l_quantity" -> Some(DoubleType), "l_extendedprice" -> Some(DoubleType),
      "l_discount" -> Some(DoubleType), "l_tax" -> Some(DoubleType),
      "l_returnflag" -> Some(StringType), "l_linestatus" -> Some(StringType),
      "l_shipdate" -> None),
    "events" -> Seq("event_id" -> Some(LongType), "ts" -> None,
      "user_id" -> Some(LongType), "event_type" -> Some(StringType),
      "value" -> Some(DoubleType), "props" -> Some(StringType)),
    "documents" -> Seq("doc_id" -> Some(LongType), "text" -> Some(StringType),
      "lang" -> Some(StringType), "source" -> Some(StringType),
      "n_chars" -> Some(LongType)),
    "embeddings" -> Seq("vec_id" -> Some(LongType),
      "embedding" -> Some(ArrayType(FloatType)), "label" -> Some(IntegerType))
  )

  for (name <- Tables.names) test(s"$name fixture schema matches engine assumptions") {
    val schema = Tables(spark, sfDir, name).schema
    val exp = expected(name)
    assert(schema.fieldNames.toSeq == exp.map(_._1),
      s"$name column drift: fixture=${schema.fieldNames.toSeq} expected=${exp.map(_._1)}")
    exp.foreach {
      case (col, Some(dt)) =>
        assert(schema(col).dataType == dt,
          s"$name.$col drifted to ${schema(col).dataType} (expected $dt)")
      case (col, None) =>
        assert(tsLike.contains(schema(col).dataType),
          s"$name.$col drifted to ${schema(col).dataType} (expected a timestamp type; " +
            "if the fixture regenerated with a new raw encoding, teach " +
            "Tables.apply to normalize it)")
    }
  }

  test("events reader normalizes regardless of raw encoding (nanos or µs)") {
    // Post-reader, ts must be usable as a timestamp in expressions — the
    // exact failure mode of round 7 was an analysis error here.
    val df = Tables.events(spark, sfDir)
    val row = df.selectExpr("min(ts)", "max(ts)").head()
    assert(!row.isNullAt(0) && !row.isNullAt(1))
  }

  test("events reader turns a timestamp[ns] ts into a µs timestamp") {
    // a three-row events file written by pyarrow with ts as
    // TIMESTAMP(NANOS, isAdjustedToUTC=false); sub-µs digits truncate
    val dir = new java.io.File(getClass.getResource("/nanos/events.parquet").toURI).getParent
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampNTZType)
    val row = df.selectExpr("min(ts)", "max(ts)", "count(*)").head()
    assert(row.get(0) == java.time.LocalDateTime.parse("2024-01-01T00:00:00.000001"))
    assert(row.get(1) == java.time.LocalDateTime.parse("2024-03-15T12:30:45.123456"))
    assert(row.getLong(2) == 3L)
  }
}
