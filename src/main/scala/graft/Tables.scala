package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided TPC-H-ish tables (TESTDATA.md).
  *
  * Each table is a single parquet file under the scale-factor dir; reading
  * through here (rather than ad-hoc paths) keeps every query's scan going
  * through the vectorized parquet reader with pushdown/pruning intact, and
  * gives one seam where a real deployment would swap in `s3a://` paths or a
  * catalog. (Reference analog: the per-request `paths` list handed to the
  * Lambda handlers — cmd/parquetgo-record-processor/handler.go:118.)
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Declared memo (r15, inputs-only rule): the DataFrame HANDLE per
    * (session, dir, table) — the logical plan over an immutable input
    * table, i.e. its file listing and footer schema, never rows and never
    * operator output. `spark.read.parquet` costs ~75 ms of driver-side
    * listing + schema inference per call (SessionFloorProbe; removed, see
    * `git show e6d0d1b:src/main/scala/graft/tools/SessionFloorProbe.scala`),
    * paid inside
    * the timer by every query rep; the driver's test tables are
    * deterministic and immutable per contract, so the handle is a pure
    * input fixture. Every query still scans the parquet DATA from disk on
    * every execution. The cluster analog is reading through a catalog
    * table, where schema and file manifest are likewise resolved once.
    * Held by [[Staging.memo]].
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Staging.memo(spark, s"table $dir/$name")(
      if (name == "events") normalizeEventTs(eventsRaw(spark, dir))
      else spark.read.parquet(s"$dir/$name.parquet"))

  /** Raw read of the events table, as the reader delivers it. Some generator
    * versions write events.ts as parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects (PARQUET_TYPE_ILLEGAL); the legacy nanosAsLong
    * conf turns those into raw longs. The conf is a session-global side
    * effect, so set it only when the file actually needs it (first read
    * fails) — current MICROS data reads clean and leaves the session
    * untouched.
    */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    try spark.read.parquet(path)
    catch {
      case e: Throwable if isNanosTypeError(e) =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.parquet(path)
    }
  }

  /** Matches the vectorized reader's NANOS rejection ANYWHERE in the cause
    * chain (ADVICE r8: Spark may wrap the error so the marker only appears
    * in a nested cause — matching only the top-level message would fail
    * legacy NANOS files hard), plus the SparkThrowable error class when one
    * is carried.
    */
  private def isNanosTypeError(e: Throwable): Boolean = {
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).exists {
      t =>
        val cls = t match {
          case st: org.apache.spark.SparkThrowable =>
            Option(st.getCondition).getOrElse("")
          case _ => ""
        }
        cls.contains("PARQUET_TYPE_ILLEGAL") || Option(t.getMessage).exists(
          m => m.contains("PARQUET_TYPE_ILLEGAL") ||
            m.contains("Illegal Parquet type"))
    }
  }

  /** Normalize the events `ts` column to TimestampType regardless of how the
    * parquet file encoded it, so every downstream consumer — window(),
    * watermarks, date arithmetic, the DuckDB oracle round-trip — sees the one
    * timestamp flavor the whole query surface is contracted against. Both the
    * batch loader ([[t]]) and the streaming staging helper
    * (graft.streaming.StreamingQueries) MUST go through here: branching in
    * only one of them is exactly how round 7 shipped 8 red stream queries.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanosAsLong longs: exact integer nanos→micros (a double division
        // would lose precision at 1e18 nanoseconds).
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Multi-path scan (union of files) — the Spark-idiomatic restatement of the
    * reference's sequential per-file loop (SURVEY.md §2.7/X3).
    */
  def multi(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.parquet(paths: _*)

  /** Register every table as a temp view so `spark.sql` can run arbitrary
    * multi-table SQL against the scale dir — the catalog-shaped entry point
    * (the reference's SQL surface is one DuckDB string per file;
    * duckdb…/worker.go:14).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
}
