package graft.sources

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Domains, Record}

/** Distributed, deterministic synthetic `Record` source.
  *
  * Spark-first restatement of the reference's single-threaded generator CLI
  * (cmd/create-test-data/main.go:97-177): `spark.range(n)` gives an
  * embarrassingly-parallel seed column, and every field is derived from
  * `xxhash64(id, salt)` so the output is (a) deterministic for a given
  * (seed, n) regardless of partitioning or cluster size — the reference's
  * unseeded `math/rand` is not — and (b) shuffle-free, so generation scales
  * linearly to 100 TB by raising `n` and `numPartitions`.
  *
  * All fields except `body` are pure Catalyst column expressions (codegen'd);
  * `body` (1000 chars from a 63-char set — main.go:170-177) uses a
  * deterministic Scala UDF seeded per-row, which is acceptable off the query
  * hot path.
  */
object DataGenerator {
  import Domains._

  /** Uniform pseudo-random long in [0, m) derived from (id, seed, salt). */
  private def h(salt: Int, seed: Long, m: Long): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(m))

  /** Deterministic pick from a fixed domain. */
  private def pick(domain: Seq[String], salt: Int, seed: Long): Column =
    element_at(array(domain.map(lit): _*),
      (h(salt, seed, domain.size.toLong) + 1).cast("int"))

  /** UUID-v4-shaped id derived from md5 (deterministic analog of
    * uuid.New().String() — main.go:100).
    */
  private def uuidCol(seed: Long): Column = {
    val hx = md5(concat(lit(seed.toString), lit(":"), col("id").cast("string")))
    concat(
      substring(hx, 1, 8), lit("-"), substring(hx, 9, 4), lit("-4"),
      substring(hx, 14, 3), lit("-"), substring(hx, 17, 4), lit("-"),
      substring(hx, 21, 12))
  }

  private val bodyUdf = udf { (id: Long, seed: Long) =>
    val rng = new scala.util.Random(id * 0x9E3779B97F4A7C15L ^ seed)
    val sb = new StringBuilder(bodyLength)
    var i = 0
    while (i < bodyLength) {
      sb.append(bodyCharset.charAt(rng.nextInt(bodyCharset.length)))
      i += 1
    }
    sb.toString
  }

  /** Generate `n` records. `baseTs` anchors the relative dates the reference
    * derives from `time.Now()` (main.go:101, :112) so output is reproducible.
    */
  def generate(
      spark: SparkSession,
      n: Long,
      seed: Long = 42L,
      numPartitions: Int = 0,
      baseTs: String = "2026-01-01 00:00:00",
      idOffset: Long = 0L): Dataset[Record] = {
    import spark.implicits._
    val base = to_timestamp(lit(baseTs))
    val range =
      if (numPartitions > 0) spark.range(idOffset, idOffset + n, 1, numPartitions)
      else spark.range(idOffset, idOffset + n)
    val first = pick(firstNames, 10, seed)
    val last = pick(lastNames, 11, seed)
    range.select(
      uuidCol(seed).as("id"),
      // created_at = base - [0,365) days (main.go:101)
      (base.cast("long") - h(1, seed, 365L * 86400L)).cast("timestamp")
        .as("created_at"),
      base.as("updated_at"),
      first.as("first_name"),
      last.as("last_name"),
      lower(concat(first, lit("."), last, lit("@"), pick(emailDomains, 12, seed)))
        .as("email"),
      format_string("+1-%03d-%03d-%04d",
        h(13, seed, 1000L), h(14, seed, 1000L), h(15, seed, 10000L))
        .as("phone_number"),
      // day capped at 28 like the reference (main.go:166)
      format_string("%04d-%02d-%02d",
        h(16, seed, 50L) + 1950L, h(17, seed, 12L) + 1L, h(18, seed, 28L) + 1L)
        .as("date_of_birth"),
      struct(
        format_string("%d %s", h(19, seed, 9999L) + 1L, pick(streets, 20, seed))
          .as("street"),
        pick(cities, 21, seed).as("city"),
        pick(states, 22, seed).as("state"),
        format_string("%05d", h(23, seed, 100000L)).as("postal_code"),
        pick(countries, 24, seed).as("country")
      ).as("address"),
      pick(accountTypes, 25, seed).as("account_type"),
      pick(accountStatuses, 26, seed).as("account_status"),
      // last_login = base - [0,30) days (main.go:112)
      (base.cast("long") - h(2, seed, 30L * 86400L)).cast("timestamp")
        .as("last_login_date"),
      // [0, 10000) with 2 decimals (main.go:113)
      (h(27, seed, 1000000L).cast("double") / 100.0).as("account_balance"),
      pick(languages, 28, seed).as("language"),
      // 1-4 elements, duplicates allowed (main.go:127-132)
      slice(
        array(pick(commPrefs, 30, seed), pick(commPrefs, 31, seed),
              pick(commPrefs, 32, seed), pick(commPrefs, 33, seed)),
        lit(1), (h(34, seed, 4L) + 1L).cast("int"))
        .as("communication_preferences"),
      (h(35, seed, 2L) === 1L).as("newsletter_subscribed"),
      // 0-3 elements (main.go:134-139)
      slice(
        array(pick(tagPool, 36, seed), pick(tagPool, 37, seed),
              pick(tagPool, 38, seed)),
        lit(1), h(39, seed, 4L).cast("int"))
        .as("tags"),
      bodyUdf(col("id"), lit(seed)).as("body")
    ).as[Record]
  }

  /** Size-targeted parquet writer — the reference's stop-at-1-GiB loop
    * (main.go:60-91) restated as append batches with a FileSystem size check
    * between them. Returns total rows written.
    */
  def writeSized(
      spark: SparkSession,
      outPath: String,
      targetBytes: Long,
      batchRows: Long = 10000L,
      seed: Long = 42L): Long = {
    val hadoopPath = new org.apache.hadoop.fs.Path(outPath)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var total = 0L
    var size = 0L
    while (size < targetBytes) {
      generate(spark, batchRows, seed, idOffset = total)
        .write.mode("append").parquet(outPath)
      total += batchRows
      size = fs.getContentSummary(hadoopPath).getLength
    }
    total
  }
}
