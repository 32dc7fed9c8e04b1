package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sliding-window document chunking — the context-window splitter every
  * LLM training pipeline runs between curation and packing. A doc of n
  * tokens becomes ceil((n-window)/stride)+1 overlapping chunks (one chunk
  * when n ≤ window); consecutive chunks share window-stride tokens so no
  * training example loses cross-boundary context.
  *
  * Shape at scale: `posexplode(sequence(...))` fans each row out to its
  * chunk starts and `slice` projects the token window — all scan-side,
  * codegen'd, shuffle-free. Output size is input × (1/stride) tokens; the
  * explode never materializes more than one doc's chunks per row buffer,
  * so a 100 TB corpus chunks as a map-only pass.
  */
object Chunking {

  /** Per-chunk rows: (id, chunk_id, n_chunk_tokens, chunk_md5). The md5 is
    * of the space-joined token window — representation-stable across
    * engines, and compact enough to dump at any scale.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val toks = TextAnalysis.tokens(col(textCol))
    val n = size(toks)
    val lastStart =
      when(n <= window, lit(0))
        .otherwise(floor((n - window + stride - 1).cast("double") / stride)
          .cast("int"))
    df.select(col(idCol), toks.as("t"), lastStart.as("last"))
      .select(col(idCol), col("t"),
        posexplode(sequence(lit(0), col("last"))).as(Seq("chunk_id", "_s")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        slice(col("t"), col("chunk_id") * stride + 1, lit(window)).as("w"))
      .select(col(idCol), col("chunk_id"),
        size(col("w")).cast("long").as("n_chunk_tokens"),
        md5(array_join(col("w"), " ")).as("chunk_md5"))
  }
}
