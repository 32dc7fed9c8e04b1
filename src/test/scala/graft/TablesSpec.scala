package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Loader edge cases — chiefly the legacy TIMESTAMP(NANOS) events fallback
  * (ADVICE r8: the match must survive Spark wrapping the type error in a
  * nested cause, so the test drives the real reader against a real
  * NANOS-written fixture, not a synthesized exception).
  */
class TablesSpec extends SparkSpec {

  test("events written as TIMESTAMP(NANOS) load through the fallback and " +
    "normalize to TimestampType") {
    val dir = tmpDir("nanos_events")
    val src = getClass.getResource("/events_nanos.parquet")
    assert(src != null, "NANOS fixture missing from test resources")
    java.nio.file.Files.copy(java.nio.file.Paths.get(src.toURI),
      java.nio.file.Paths.get(dir, "events.parquet"))
    // start from a clean session: the fallback must DISCOVER the need for
    // nanosAsLong from the reader's own error, wherever Spark nests it
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try {
      val events = Tables.t(spark, dir, "events")
      assert(events.schema("ts").dataType === TimestampType)
      assert(events.count() === 20L)
      // nanos -> micros must be exact integer arithmetic: second i of
      // 2024-01-01T00:00 survives the round-trip for every row
      val secs = events
        .select(unix_timestamp(col("ts")).as("s")).orderBy(col("s"))
        .collect().map(_.getLong(0))
      val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
        .getEpochSecond
      assert(secs.toSeq === (0 until 20).map(base + _))
    } finally spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
  }

  test("the handle memo is keyed per session: each session gets a handle " +
    "bound to itself, and a repeat call returns the same handle") {
    val other = spark.newSession()
    val mine = Tables.t(spark, sfDir, "region")
    val theirs = Tables.t(other, sfDir, "region")
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq other)
    assert(Tables.t(spark, sfDir, "region") eq mine)
    assert(Tables.t(other, sfDir, "region") eq theirs)
  }
}
