package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ExpectationsSpec extends SparkSpec {
  import spark.implicits._

  private val checks = Seq(
    Expectations.Check("complete_v", Expectations.completeness("v"),
      1.0, 1.0),
    Expectations.Check("unique_id", Expectations.uniqueness("id"),
      1.0, 1.0),
    Expectations.Check("min_v", min(col("v")).cast("double"), 0.0, 100.0),
    Expectations.Check("positive_v",
      Expectations.conformance(col("v") > 0), 1.0, 1.0))

  test("clean data passes every check; metrics are exact") {
    val df = Seq((1L, 2.0), (2L, 3.0), (3L, 4.0)).toDF("id", "v")
    val rows = Expectations.run(df, checks)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getBoolean(4))).toMap
    assert(rows("complete_v") === ((1.0, true)))
    assert(rows("unique_id") === ((1.0, true)))
    assert(rows("min_v") === ((2.0, true)))
    assert(rows("positive_v") === ((1.0, true)))
  }

  test("planted violations fail exactly their checks, with the metric") {
    // one NULL v (completeness 3/4), one duplicate id (uniqueness 3/4),
    // one negative v (conformance 2/4 — the NULL row also fails the
    // predicate, the forAll NULL discipline)
    val df = Seq((1L, Some(2.0)), (2L, Some(-3.0)), (2L, Some(4.0)),
      (3L, None)).toDF("id", "v")
    val rows = Expectations.run(df, checks)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getBoolean(4))).toMap
    assert(rows("complete_v") === ((0.75, false)))
    assert(rows("unique_id") === ((0.75, false)))
    assert(rows("min_v") === ((-3.0, false)))
    assert(rows("positive_v") === ((0.5, false)))
  }

  test("the whole suite costs ONE scan of the table (the deequ claim)") {
    val dir = tmpDir("graft-exp-")
    Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    // AQE wraps the plan in an adaptive node whose subtree collect()
    // can't traverse (the bucketed-join audit's lesson) — read the
    // rendered tree instead.
    val plan = Expectations.run(spark.read.parquet(dir), checks)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans === 1, plan.take(2000))
  }

  test("verdict uses the 6-decimal-rounded metric (boundary determinism)") {
    // completeness 2/3 = 0.666666... rounds to 0.666667; a band whose lo
    // is exactly the rounded value passes — proving the verdict is
    // computed from the rounded metric, not the raw one.
    val df = Seq((1L, Some(1.0)), (2L, Some(1.0)), (3L, None))
      .toDF("id", "v")
    val out = Expectations.run(df, Seq(
      Expectations.Check("c", Expectations.completeness("v"),
        0.666667, 1.0))).collect().head
    assert(out.getDouble(1) === 0.666667)
    assert(out.getBoolean(4))
  }

  test("runGrouped isolates a violation to its group: the broken source " +
      "fails, healthy siblings pass") {
    val df = Seq(
      ("a", 1L, Some(2.0)), ("a", 2L, Some(3.0)),
      ("b", 3L, Some(4.0)), ("b", 4L, None)).toDF("src", "id", "v")
    val rows = Expectations.runGrouped(df, "src", Seq(
      Expectations.Check("complete_v", Expectations.completeness("v"),
        1.0, 1.0)))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getBoolean(5))).toMap
    assert(rows("a") === ((1.0, true)))
    assert(rows("b") === ((0.5, false)))
    intercept[IllegalArgumentException] {
      Expectations.runGrouped(df, "src; drop", Seq(
        Expectations.Check("c", Expectations.completeness("v"), 0.0, 1.0)))
    }
  }

  test("an EMPTY table fails avg-based checks loudly (NULL metric -> " +
      "passed=false, never NULL)") {
    val df = Seq((1L, 2.0)).toDF("id", "v").filter(col("id") < 0)
    val rows = Expectations.run(df, checks).collect()
      .map(r => r.getString(0) -> (r.isNullAt(1), r.getBoolean(4))).toMap
    // every avg/min-based metric is NULL on zero rows; the verdict must
    // be a real false so `passed === false` consumers catch the vanish
    assert(rows("complete_v") === ((true, false)))
    assert(rows("min_v") === ((true, false)))
    assert(rows.values.forall(!_._2))
  }

  test("check names must be identifiers (SQL-injection guard on stack)") {
    intercept[IllegalArgumentException] {
      Expectations.Check("bad name', 1.0, 1.0, 1.0) --",
        lit(1.0), 0.0, 1.0)
    }
  }
}
