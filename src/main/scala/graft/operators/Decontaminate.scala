package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.BloomExpressions.bloomMightContain
import graft.functions.HashExpressions.wordShingles

/** Benchmark decontamination: remove corpus documents that share verbatim
  * n-grams with an evaluation/benchmark set — the train/test-overlap hygiene
  * step every LLM data pipeline runs before training.
  *
  * Shape at 100 TB: the eval side is small (benchmarks are thousands of
  * docs, not billions), so its distinct shingle hashes BROADCAST; corpus
  * shingling is scan-side (native `word_shingles` + `xxhash64`, codegen'd),
  * and the only shuffle is the per-doc overlap count over the few documents
  * that hit the broadcast filter. The corpus is never shuffled wholesale and
  * document bodies never leave their scan — only 8-byte hashes move.
  */
object Decontaminate {

  private def shingleHashes(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    df.select(col(idCol).as("doc"),
      explode(wordShingles(split(trim(lower(col(textCol))), "\\s+"), n))
        .as("gram"))
      .select(col("doc"), xxhash64(col("gram")).as("gh"))
  }

  /** Corpus docs sharing ≥ `minOverlap` distinct n-grams with `evalSet`:
    * (idCol, n_overlap), one row per contaminated doc.
    */
  def contaminated(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int = 8, minOverlap: Int = 1): DataFrame = {
    val evalGrams = broadcast(
      shingleHashes(evalSet, idCol, textCol, n).select(col("gh")).distinct())
    shingleHashes(corpus, idCol, textCol, n)
      .join(evalGrams, Seq("gh"), "left_semi")
      .groupBy(col("doc"))
      .agg(count_distinct(col("gh")).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .select(col("doc").as(idCol), col("n_overlap"))
  }

  /** Sketch-path contamination check: the eval side's shingle hashes are
    * folded into a Bloom filter (one distributed treeAggregate, ~10 bits per
    * item) instead of an exact broadcast set, and the corpus probes it
    * scan-side — zero shuffle until the few surviving hashes aggregate.
    *
    * `exact = true` (default) re-verifies bloom survivors against the exact
    * eval set, so the result EQUALS [[contaminated]] while the exact
    * broadcast join only ever sees the bloom's pass-through (fpp · corpus
    * grams instead of all of them). `exact = false` skips the verify and
    * over-flags at the fpp rate — the cheap posture when dropping an extra
    * 0.1% of docs is acceptable, as it usually is for decontamination.
    * Either way there are NO false negatives: every truly contaminated doc
    * is flagged (the filter cannot miss a present key).
    *
    * At 100 TB: the broadcast exact set for a large eval suite would be GBs
    * (it caps how big a reference corpus "decontaminate against X" can take);
    * the bloom form is ~120 MB per 100 M reference grams and turns the
    * membership test into per-row long probes inside whole-stage codegen.
    */
  def contaminatedBloom(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int = 8, minOverlap: Int = 1,
      fpp: Double = 0.01, exact: Boolean = true): DataFrame = {
    // persisted: the eval grams feed the count, the filter's treeAggregate,
    // and (exact mode) the verify join — re-deriving them three times would
    // triple the eval-side shingle work this sketch path exists to bound
    val evalGrams = shingleHashes(evalSet, idCol, textCol, n)
      .select(col("gh")).distinct()
      .persist()
    val nEval = math.max(evalGrams.count(), 1L)
    val bf = evalGrams.stat.bloomFilter("gh", nEval, fpp)
    val survivors = shingleHashes(corpus, idCol, textCol, n)
      .filter(bloomMightContain(col("gh"), bf))
    val verified =
      if (exact) survivors.join(broadcast(evalGrams), Seq("gh"), "left_semi")
      else survivors
    val out = verified.groupBy(col("doc"))
      .agg(count_distinct(col("gh")).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .select(col("doc").as(idCol), col("n_overlap"))
    Caching.materializeThenRelease(out, evalGrams)
  }

  /** Fuzzy (near-duplicate) decontamination: corpus documents whose n-gram
    * JACCARD similarity to some eval/benchmark document reaches `threshold`
    * — the Dolma/Llama-style hygiene step that catches paraphrased or
    * lightly-edited benchmark leaks verbatim overlap ([[contaminated]])
    * misses. Output: one row per contaminated (corpus doc, eval doc) pair
    * with the exact Jaccard — richer than a drop list, it names WHICH eval
    * doc leaked.
    *
    * Per-doc distinct shingle counts come from `size(word_shingles(...))`
    * SCAN-SIDE (the native expression already dedups grams), so neither
    * corpus-wide count aggregation nor corpus shuffle exists: the only
    * joins are the broadcast gram-hash join against the (small) eval side
    * and the (doc, eval) group-by over broadcast-HIT rows only. At 100 TB
    * the moved bytes are proportional to corpus∩eval gram volume — the
    * contamination rate — not corpus size. Jaccard uses 64-bit gram hashes;
    * as with [[contaminated]], a hash collision could perturb a count
    * (~2⁻⁶⁴ per gram pair — accepted, same stance as the verbatim path).
    */
  def fuzzyContaminated(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.3): DataFrame = {
    def sides(df: DataFrame, doc: String, cnt: String) = df
      .select(col(doc),
        wordShingles(split(trim(lower(col("__text"))), "\\s+"), n)
          .as("__sh"))
      .select(col(doc), size(col("__sh")).as(cnt),
        explode(col("__sh")).as("__g"))
      .select(col(doc), col(cnt), xxhash64(col("__g")).as("gh"))
    // Shingle AFTER spreading raw text across cores (the shingleFrame
    // lesson: a single local parquet file scans as one split and would run
    // the kernel on one core). The eval side is small and skips it.
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val c = sides(corpus
      .select(col(idCol).as("__cdoc"), col(textCol).as("__text"))
      .repartition(par, col("__cdoc")), "__cdoc", "n_c")
    val e = sides(evalSet
      .select(col(idCol).as("eval_id"), col(textCol).as("__text")),
      "eval_id", "n_e")
    c.join(broadcast(e), "gh")
      .groupBy(col("__cdoc"), col("eval_id"), col("n_c"), col("n_e"))
      .agg(count(lit(1)).as("__shared"))
      .withColumn("jaccard", round(col("__shared").cast("double") /
        (col("n_c") + col("n_e") - col("__shared")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("__cdoc").as(idCol), col("eval_id"), col("jaccard"))
  }

  /** The clean corpus: anti-join away contaminated docs. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int = 8, minOverlap: Int = 1): DataFrame =
    corpus.join(
      contaminated(corpus, evalSet, idCol, textCol, n, minOverlap)
        .select(col(idCol)),
      Seq(idCol), "left_anti")
}
