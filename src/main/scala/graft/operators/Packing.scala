package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlShim.{column, expression}
import org.apache.spark.sql.catalyst.expressions.ShiftLeft
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: assign documents to fixed-token-budget packs (the
  * pre-tokenization step that turns a corpus into training context windows).
  *
  * Packing is inherently sequential — a doc's pack depends on everything
  * packed before it — so the scalable form shards first: documents are
  * hash-sharded, ordered deterministically within their shard, and packed by
  * cumulative token count. Each shard packs independently (window over
  * `partitionBy(shard)` — ONE shuffle by shard id, then a linear scan), so
  * the operator scales by adding shards exactly like any keyed aggregation;
  * there is no global order-by (which would serialize onto one partition).
  *
  * Semantics: docs are concatenated in (shard, key) order; a doc belongs to
  * the pack containing its FIRST token (`floor(preceding_tokens / budget)`).
  * Packs can therefore overflow the budget by at most one document tail —
  * the standard greedy-fill contract; the trainer truncates or splits at
  * the boundary. Deterministic: pure function of (doc set, nShards, budget).
  */
object Packing {

  /** One row per doc: (all of `df`'s columns, shard, n_tokens, pack). */
  def packSequences(df: DataFrame, idCol: String, tokensCol: Column,
      budget: Long, nShards: Int): DataFrame = {
    require(budget > 0 && nShards > 0)
    // A non-integral id would cast to NULL, collapsing every row into one
    // NULL shard — a silent single-partition sequential pack. Fail instead.
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"packSequences needs an integral id column for sharding; " +
        s"'$idCol' is ${idType.catalogString} — hash it to a long first")
    val shard = pmod(col(idCol).cast("long"), lit(nShards)).as("shard")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("shard", shard)
      .withColumn("n_tokens", tokensCol.cast("long"))
      .withColumn("pack",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / budget))
  }

  /** Per-pack roll-up: how full each pack is. `max_overflow` in the spec
    * asserts the ≤ one-doc-tail overflow contract.
    */
  def packStats(packed: DataFrame, budget: Long): DataFrame =
    packed.groupBy(col("shard"), col("pack"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        max(col("n_tokens")).as("max_doc_tokens"))
      .withColumn("over_budget",
        greatest(col("pack_tokens") - budget, lit(0L)))

  /** Length-bucketed batching (the pad-to-static-shape alternative to
    * [[packSequences]]'s concatenation): docs go to the smallest
    * power-of-two length bucket ≥ their token count, then into
    * deterministic fixed-size batches inside each bucket (hash-ordered),
    * and every doc in a batch is padded to the bucket length — the shape a
    * compiled/static-graph trainer wants. The payoff metric is padding
    * waste, reported per batch as exact integer parts-per-million:
    * `pad_ppm = (envelope − sum_tok)·10^6 div envelope`, envelope =
    * bucket·n_docs — no float in the output, so the result is engine- and
    * partition-exact.
    *
    * Bucket math is integer-only and portable: bucket = 2^len(bin(tok−1))
    * (the binary-digit count of tok−1) with a tok=1 special case mapping
    * to bucket 1 (len(bin(0)) is 1, which would double-pad single-token
    * docs into bucket 2), and tok clamped to ≥ 1 — so both engines compute
    * identical smallest-power-of-two-≥-tok buckets with no log2 rounding
    * hazard.
    *
    * Output: one row per (bucket, batch_id) with n_docs, max_tok, sum_tok,
    * pad_ppm. Only the final batch of a bucket may be short.
    *
    * Shape at scale: bucket assignment is scan-side column math; batching
    * is ONE hash shuffle for the per-bucket row_number window (same
    * envelope as any keyed agg — bucket count is small and fixed, so at
    * extreme scale shard the window key to (bucket, pmod(hash, s)) exactly
    * like packSequences shards its sequential scan).
    */
  def lengthBucketBatches(df: DataFrame, idCol: String, tokensCol: Column,
      batchSize: Int, salt: String = ""): DataFrame = {
    require(batchSize > 0)
    val tok = greatest(tokensCol.cast("long"), lit(1L))
    // functions.shiftleft takes an Int shift amount only; the Catalyst
    // expression takes a Column.
    val bucket = when(tok === 1L, lit(1L))
      .otherwise(column(ShiftLeft(expression(lit(1L)),
        expression(length(bin(tok - 1)).cast("int")))))
      .cast("long").as("bucket")
    val w = Window.partitionBy(col("bucket"))
      .orderBy(md5(concat(col(idCol).cast("string"), lit(salt))), col(idCol))
    val batched = df
      .withColumn("__tok", tok)
      .withColumn("bucket", bucket)
      .withColumn("batch_id",
        floor((row_number().over(w) - 1) / batchSize).cast("long"))
    batched.groupBy(col("bucket"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("__tok")).as("max_tok"),
        sum(col("__tok")).as("sum_tok"))
      .withColumn("pad_ppm",
        expr("(bucket * n_docs - sum_tok) * 1000000 div (bucket * n_docs)"))
  }
}
