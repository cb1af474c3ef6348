package graft.operators

import graft.SparkSpec

class ProfilerSpec extends SparkSpec {

  private def sample = {
    import spark.implicits._
    Seq(
      (1L, Some("a"), Some(10L)),
      (2L, Some("b"), None),
      (3L, None, Some(10L)),
      (4L, Some("a"), Some(30L))).toDF("id", "s", "v")
  }

  test("exact profile: counts, null fraction, distincts, lexicographic min/max") {
    val out = Profiler.profile(sample, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("id", "s", "v"))
    val s = out("s")
    assert(s.getLong(1) == 4L)            // n_rows
    assert(s.getLong(2) == 1L)            // n_nulls
    assert(s.getLong(3) == 250000L)       // 1/4 in micro units
    assert(s.getLong(4) == 2L)            // distinct non-null {a, b}
    assert(s.getString(5) == "a" && s.getString(6) == "b")
    val v = out("v")
    assert(v.getLong(4) == 2L)            // {10, 30}
    assert(v.getString(5) == "10" && v.getString(6) == "30")
    assert(out("id").getLong(2) == 0L && out("id").getLong(3) == 0L)
  }

  test("approx twin matches the exact shape and lands near exact distincts") {
    val exact = Profiler.profile(sample, Seq("id", "s"))
    val approx = Profiler.profileApprox(sample, Seq("id", "s"))
    assert(approx.columns.sameElements(exact.columns))
    val e = exact.collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    val a = approx.collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    // default HLL rsd is 5%; on 4-row cardinalities the estimate is exact
    assert(e == a)
  }

  test("a zero-row feed profiles as zeros with a NULL null-fraction, not a crash") {
    // ANSI mode makes `div 0` throw; the profiler must report the empty
    // feed, not die on it
    val out = Profiler.profile(sample.limit(0), Seq("id", "s"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("id", "s"))
    assert(out("s").getLong(1) == 0L && out("s").getLong(2) == 0L)
    assert(out("s").isNullAt(3)) // null_frac_micro undefined on 0 rows
    assert(out("s").getLong(4) == 0L && out("s").isNullAt(5) && out("s").isNullAt(6))
  }

  test("sketch accuracy bound on the events fixture: |HLL - exact| <= 3*rsd*exact") {
    // the production sketch plan (profileApprox, the dq5 catalog entry's)
    // against the exact profile on real fixture data at test SF
    import org.apache.spark.sql.functions._
    val src = graft.io.Tables.events(spark, "/root/testdata/sf0.001").select(
      col("event_id"), col("user_id"), col("event_type"),
      floor(col("value") * 100 + 0.5).cast("long").as("value_c"), col("props"))
    val cols = Seq("event_id", "user_id", "event_type", "value_c", "props")
    val rsd = 0.05
    def distincts(profile: org.apache.spark.sql.DataFrame) =
      profile.collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    val exact = distincts(Profiler.profile(src, cols))
    val approx = distincts(Profiler.profileApprox(src, cols, rsd))
    assert(exact.size == 5 && approx.keySet == exact.keySet)
    val offenders = cols.filter(c => math.abs(approx(c) - exact(c)) > 3 * rsd * exact(c))
    assert(offenders.isEmpty,
      s"HLL estimate outside 3*rsd of exact for: ${offenders.mkString(", ")}")
    // the cardinalities span 1e0..1e3 here — the bound is exercised on
    // real sketch error, not the tiny-exact regime of the sample corpus
    assert(exact("event_id") >= 1000L)
  }

  test("unknown and empty column lists are rejected") {
    intercept[IllegalArgumentException] { Profiler.profile(sample, Seq("nope")) }
    intercept[IllegalArgumentException] { Profiler.profile(sample, Seq.empty) }
  }
}
