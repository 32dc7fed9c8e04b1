package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization, quality
  * scoring, language ID, fingerprinting. All are pure column expressions
  * (codegen'd, no UDFs) so they pipeline inside whole-stage codegen on a scan
  * of billions of documents; every formula is also expressible in ANSI SQL so
  * the DuckDB oracle can mirror it exactly.
  */
object TextAnalysis {

  /** Whitespace tokens of the lowercased, trimmed text. */
  def tokens(c: Column): Column = split(trim(lower(c)), "\\s+")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: alphabetic runs, digit runs, and single
    * non-alphanumeric marks each count as one token — a cheap stand-in for a
    * real byte-pair tokenizer's piece count.
    */
  def bpeishCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  // Small function-word lists for the n-gram/stopword language heuristic.
  val enStop = Seq("the", "and", "of", "to", "a", "in", "is")
  val esStop = Seq("el", "la", "de", "que", "y", "en", "un")
  val deStop = Seq("der", "die", "und", "das", "ist", "ein", "zu")
  val frStop = Seq("le", "les", "des", "et", "une", "est", "dans")

  /** Count of tokens (a materialized token-array column) in `words`. */
  def stopHits(ws: Column, words: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(words)))

  /** Language-ID heuristic: score each candidate language by function-word
    * hits; deterministic priority chain (en > es > de > fr) breaks ties;
    * 'und' when nothing matches. `ws` is a materialized token column.
    */
  def langId(ws: Column): Column = {
    val en = stopHits(ws, enStop); val es = stopHits(ws, esStop)
    val de = stopHits(ws, deStop); val fr = stopHits(ws, frStop)
    when(en === 0 && es === 0 && de === 0 && fr === 0, "und")
      .when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
  }

  /** Quality score in [0,1]: length factor, stopword density, and mean token
    * length, each capped. The exact arithmetic (including evaluation order
    * and the final round) is mirrored in the oracle SQL. `c` is the raw
    * text, `ws` its materialized token column.
    */
  def qualityScore(c: Column, ws: Column): Column = {
    val nTokens = size(ws).cast("double")
    val nonspace = length(regexp_replace(c, "\\s", "")).cast("double")
    val avgTok = nonspace / nTokens
    val stopRatio = stopHits(ws, enStop).cast("double") / nTokens
    val q = least(nTokens / 100.0, lit(1.0)) * 0.4 +
      stopRatio * 0.3 +
      least(avgTok / 8.0, lit(1.0)) * 0.3
    // floor(q*1e6 + 0.5)/1e6, not round(q, 6): engines disagree on exact
    // half-way doubles (Spark rounds via decimal HALF_UP, DuckDB on the
    // double's shortest repr); the floor formulation is pure IEEE double
    // arithmetic, bit-identical everywhere.
    floor(q * 1e6 + 0.5) / 1e6
  }

  /** Top-`k` most distinctive terms per document by TF-IDF.
    *
    * Ranking is INTEGER-ONLY — (tf desc, df asc, term asc) — which orders by
    * tf·ln(N/df) within a document wherever that product is decisive and is
    * exactly reproducible by any engine (no float comparisons to drift); the
    * tfidf value itself is emitted via the floor-round trick (see
    * `qualityScore`) as a stable 4-decimal double.
    *
    * Shape at scale: tf is a (doc, term) hash agg with map-side combine, df
    * a second two-phase agg over tf's output, the join is term-keyed (terms
    * are Zipf — AQE's skew split handles "the"), and top-k is a per-doc
    * window. No driver materialization except the corpus row count (one
    * scalar).
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol).as("doc"),
      explode(tokens(col(textCol))).as("term"))
    // Materialized: tf feeds BOTH the score join and the df aggregate, and
    // without a cut Catalyst plans the (doc, term) aggregation — a full pass
    // over every exploded token — twice (verified in the plan audit). On a
    // cluster this persist targets disk for a 100 TB corpus; the sweep
    // harnesses release the blocks between queries.
    val tf = tok.groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.count().toDouble
    val w = Window.partitionBy(col("doc"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("tfidf",
        floor(col("tf") * log(lit(n) / col("df")) * 1e4 + 0.5) / 1e4)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc").as(idCol), col("rank"), col("term"), col("tf"),
        col("df"), col("tfidf"))
  }

  /** BM25 query→corpus retrieval: top-`k` documents per query under the
    * Robertson/Sparck-Jones Okapi BM25 ranking (Lucene's idf form,
    * ln((N − df + 0.5)/(df + 0.5) + 1), which never goes negative).
    *
    * Every per-term contribution is snapped to a FIXED-POINT long
    * (floor(idf·tfNorm·1e6 + 0.5)) before the per-(query, doc) sum: double
    * addition is order-sensitive and Spark/DuckDB aggregate in different
    * orders, but long addition is associative, so the summed score — and
    * therefore the ranking — is bit-identical in any engine and any
    * partitioning. k1/b default to 1.5/0.75, both exactly representable in
    * binary, so k1+1 and 1−b are exact on both sides of the oracle too.
    *
    * Shape at scale: tf is one (doc, term) hash agg (map-side combined,
    * materialized — it feeds df, dl, and scoring); df and dl are second-phase
    * aggs over tf's output, vocabulary- and corpus-row-sized respectively.
    * Query terms join df broadcast-side into a per-term stats table of
    * #query-terms rows, which broadcasts onto tf — so the corpus is pruned to
    * candidate postings (Σ df over query terms — inverted-index volume, not
    * corpus volume) with NO shuffle before the doc-keyed dl join; the
    * (query, doc) score agg reuses that doc partitioning (doc ⊆ group key ⇒
    * ClusteredDistribution satisfied, no extra exchange) and the final top-k
    * window shuffles only scored candidates by query.
    */
  /** `allowed` (optional, one `idCol` column) restricts RESULTS to a
    * metadata-eligible doc set — filtered lexical retrieval, the mirror of
    * [[graft.operators.Similarity.queryIvfPqIndex]]'s `allowed`. The
    * semi-join lands on the candidate postings BEFORE scoring (pre-filter:
    * post-filtering a ranked top-k starves k exactly when the predicate is
    * selective) and moves ids only. Corpus statistics (N, df, avgdl) stay
    * FULL-corpus deliberately — they are the ranking model's identity, the
    * same decision as serving IVF-PQ from stored codebooks — which is what
    * makes the filtered stored-index path bit-equal to this in-memory form.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, queryIdCol: String, queryTextCol: String, k: Int,
      queryTerms: Int = 8, k1: Double = 1.5, b: Double = 0.75,
      allowed: DataFrame = null): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col("doc")).agg(sum(col("tf")).as("dl"))
      .localCheckpoint()
    val n = docs.count().toDouble
    val avgdl = dl.agg(sum(col("dl"))).head.getLong(0).toDouble / n
    val qterms = bm25QueryTerms(queries, queryIdCol, queryTextCol, queryTerms)
    // per-query-term stats: #query-terms rows — broadcast onto the postings
    val qstats = dfreq.join(broadcast(qterms), "term")
    val cand =
      if (allowed == null) tf
      else tf.join(allowed.select(col(idCol).as("doc")), Seq("doc"),
        "left_semi")
    val contrib = cand.join(broadcast(qstats), "term").join(dl, "doc")
      .withColumn("c", bm25Contrib(n, avgdl, k1, b))
    bm25Rank(contrib, k, queryIdCol, idCol)
  }

  /** Distinct (qid, term) pairs from the first `queryTerms` tokens. */
  private def bm25QueryTerms(queries: DataFrame, queryIdCol: String,
      queryTextCol: String, queryTerms: Int): DataFrame =
    queries.select(col(queryIdCol).as("qid"),
        explode(slice(tokens(col(queryTextCol)), 1, queryTerms)).as("term"))
      .distinct()

  /** One term's fixed-point BM25 contribution over (tf, df, dl) columns.
    * The expression TREE (parenthesization included) is what makes the
    * from-scratch and indexed paths — and the oracle SQL — bit-identical:
    * every input is an exact long or a binary-exact constant, so both
    * engines run the same IEEE double ops in the same order before the snap.
    */
  private def bm25Contrib(n: Double, avgdl: Double, k1: Double,
      b: Double): Column =
    bm25ContribCols(lit(n), lit(avgdl), k1, b)

  /** Column form of the contribution: the indexed serving path feeds the
    * corpus stats in as a broadcast one-row join instead of driver-side
    * literals (one action fewer per serving call); the runtime doubles —
    * and therefore the snapped longs — are identical either way, which is
    * what keeps the stored-index ranking bit-equal to the in-memory one.
    */
  private def bm25ContribCols(n: Column, avgdl: Column, k1: Double,
      b: Double): Column =
    floor(
      log((n - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)) *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) *
          (lit(1.0 - b) + lit(b) * col("dl") / avgdl)) *
        lit(1e6) + lit(0.5))

  /** Shared scoring tail: associative long-sum per (query, doc), dense
    * top-k ranks per query. The (qid, doc) agg reuses the upstream doc
    * partitioning (doc ⊆ group key); only scored candidates shuffle to the
    * per-query window.
    */
  private def bm25Rank(contrib: DataFrame, k: Int, queryIdCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_fx").desc, col("doc").asc)
    contrib.groupBy(col("qid"), col("doc"))
      .agg(sum(col("c")).as("score_fx"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid").as(queryIdCol), col("rank"), col("doc").as(idCol),
        (col("score_fx") / lit(1e6)).as("score"))
  }

  /** RM3 pseudo-relevance-feedback query expansion (Lavrenko/Croft
    * relevance models; the RM3 interpolation of Jaleel et al., TREC 2004)
    * over the BM25 arm: run BM25, treat each query's top `fbDocs` documents
    * as pseudo-relevant, estimate a relevance model P(w|R) from their term
    * frequencies, keep the top `fbTerms` terms, interpolate with the
    * original (uniform) query model at `origWeight`, and re-score the
    * corpus under the weighted query. The classic fix for vocabulary
    * mismatch — a query term the corpus phrases differently still surfaces
    * the right documents through the expansion terms.
    *
    * Engine-exactness discipline (the [[bm25TopK]] posture, extended):
    * every per-(query, term, doc) quantity is snapped to a fixed-point
    * long BEFORE any sum — P(w|d) contributions at 1e6, interpolated query
    * weights at 1e6, BM25 contributions at 1e6 — and the final score is a
    * sum of long PRODUCTS (≤ ~2e13 each, far inside Long), so ranking is
    * bit-identical in any engine/partitioning and the DuckDB oracle
    * replays the ranked rows directly. Ties break (weight desc, term asc)
    * and (score desc, doc asc).
    *
    * Shape at scale: two BM25 scoring passes over the same memoized
    * tf/df/dl aggregates (the corpus is aggregated ONCE); the feedback and
    * expansion tables are (queries × fbDocs) and (queries × fbTerms) rows —
    * broadcast-sized by construction — so expansion adds no corpus-scale
    * shuffle beyond the second candidate-postings join.
    */
  def rm3TopK(docs: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, queryIdCol: String, queryTextCol: String, k: Int,
      fbDocs: Int = 5, fbTerms: Int = 8, queryTerms: Int = 8,
      origWeight: Double = 0.5, k1: Double = 1.5, b: Double = 0.75)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .localCheckpoint()
    val dl = tf.groupBy(col("doc")).agg(sum(col("tf")).as("dl"))
      .localCheckpoint()
    val n = docs.count().toDouble
    val avgdl = dl.agg(sum(col("dl"))).head.getLong(0).toDouble / n
    val qterms = bm25QueryTerms(queries, queryIdCol, queryTextCol, queryTerms)
      .localCheckpoint()
    // round 1: plain BM25, top fbDocs per query = the pseudo-relevant set
    val contrib1 = tf
      .join(broadcast(dfreq.join(broadcast(qterms), "term")), "term")
      .join(dl, "doc")
      .withColumn("c", bm25Contrib(n, avgdl, k1, b))
    val wFb = Window.partitionBy(col("qid"))
      .orderBy(col("score_fx").desc, col("doc").asc)
    val fb = contrib1.groupBy(col("qid"), col("doc"))
      .agg(sum(col("c")).as("score_fx"))
      .withColumn("r", row_number().over(wFb)).filter(col("r") <= fbDocs)
      .select(col("qid"), col("doc"))
      .localCheckpoint()
    // relevance model: rm_fx(q, w) = Σ_{d ∈ fb(q)} fix(1e6 · tf(w,d)/dl(d))
    val rmw = tf.join(broadcast(fb), "doc").join(dl, "doc")
      .withColumn("w1",
        floor(lit(1e6) * col("tf") / col("dl") + lit(0.5)).cast("long"))
      .groupBy(col("qid"), col("term")).agg(sum(col("w1")).as("rm_fx"))
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("rm_fx").desc, col("term").asc)
    val rmtop = rmw.withColumn("r", row_number().over(wTop))
      .filter(col("r") <= fbTerms).drop("r")
      .localCheckpoint()
    val rmtot = rmtop.groupBy(col("qid")).agg(sum(col("rm_fx")).as("rm_tot"))
    val expT = rmtop.join(rmtot, "qid")
      .select(col("qid"), col("term"),
        floor(lit(1e6 * (1.0 - origWeight)) * col("rm_fx") / col("rm_tot")
          + lit(0.5)).cast("long").as("w_fx"))
    val nq = qterms.groupBy(col("qid")).agg(count(lit(1)).as("nq"))
    val origT = qterms.join(nq, "qid")
      .select(col("qid"), col("term"),
        floor(lit(1e6 * origWeight) / col("nq") + lit(0.5)).cast("long")
          .as("w_fx"))
    // a term can be both original and expansion: the parts ADD. Zero-weight
    // terms (every expansion term at origWeight=1, or a snapped-to-zero
    // tail weight) are DROPPED — they contribute nothing to any score but
    // would otherwise enter docs into the candidate set as phantom
    // zero-score results, breaking the λ=1 ≡ plain-BM25 degeneracy.
    val wq = origT.unionByName(expT)
      .groupBy(col("qid"), col("term")).agg(sum(col("w_fx")).as("w_fx"))
      .filter(col("w_fx") > 0)
    // round 2: weighted BM25 under the expanded query
    val contrib2 = tf
      .join(broadcast(dfreq.join(broadcast(wq), "term")), "term")
      .join(dl, "doc")
      .withColumn("wc", col("w_fx") * bm25Contrib(n, avgdl, k1, b))
    val w2 = Window.partitionBy(col("qid"))
      .orderBy(col("score_fx").desc, col("doc").asc)
    contrib2.groupBy(col("qid"), col("doc"))
      .agg(sum(col("wc")).as("score_fx"))
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid").as(queryIdCol), col("rank"), col("doc").as(idCol),
        (col("score_fx") / lit(1e12)).as("score"))
  }

  /** Build a persisted, segment-structured inverted index for [[bm25TopK]]
    * at `path` — the 100 TB serving shape: build once, [[appendToTextIndex]]
    * per ingest batch, [[queryTextIndex]] many times touching only
    * hash(term)-pruned bucket directories. Everything the scorer needs is
    * ADDITIVE across disjoint doc batches — postings rows are per-doc, df is
    * a per-term doc count, and the corpus stats are one (n_docs, total_len)
    * row — so an append writes only the new batch's aggregates (history is
    * never re-read; Lucene's segment model) and query-time merge is a sum
    * over per-batch rows. Batch subdirs are overwrite-mode keyed by
    * `batchId`: a replayed append is idempotent (exactly-once under retry).
    */
  def buildTextIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 16, batchId: Long = 0L): Unit = {
    initTextIndex(docs.sparkSession, path, nBuckets)
    appendToTextIndex(docs, idCol, textCol, path, batchId)
  }

  /** Write the index metadata (bucket count) only — the create-before-ingest
    * step a streaming maintainer runs once; batches then arrive solely via
    * [[appendToTextIndex]]. The bucket count is fixed for the index's
    * lifetime (a re-bucket is a rebuild), which is why it lives in a meta
    * file rather than a parameter the reader could get wrong.
    */
  def initTextIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      nBuckets: Int = 16): Unit = {
    import spark.implicits._
    Seq(nBuckets).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    metaCache.remove(path) // re-init may change the bucket count
  }

  /** Declared memo (r15, inputs-only rule): the meta file's bucket count,
    * keyed by index path. The bucket count is immutable for the index's
    * lifetime (see [[initTextIndex]] — a re-bucket is a rebuild, and
    * initTextIndex invalidates the entry), so the per-call driver-side
    * parquet read of a one-row file is pure fixed cost — one read job per
    * append and per serving query. Holds a store PARAMETER, never operator
    * output.
    */
  private val metaCache = new scala.collection.concurrent.TrieMap[String, Int]

  private def bucketCount(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    metaCache.getOrElseUpdate(path,
      spark.read.parquet(s"$path/meta").head().getInt(0))

  /** Append one disjoint doc batch to a [[buildTextIndex]] index. */
  def appendToTextIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, batchId: Long): Unit = {
    require(batchId >= 0,
      s"batchId must be >= 0 (batch=-1 is the compacted segment), got $batchId")
    val spark = docs.sparkSession
    val nBuckets = bucketCount(spark, path)
    // one (doc, term) agg feeds postings, df, norms and the stats row;
    // lazy persist — the single segment write below materializes it once
    // and every other store branch reads the cached blocks
    val tf = docs
      .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(hash(col("term")), lit(nBuckets)))
      .persist()
    try Segments.put(spark, s"$path/seg", s"batch=$batchId")(
      writeUnifiedSegment(unifiedStores(tf), _))
    finally tf.unpersist(blocking = false)
  }

  /** The four index stores as ONE null-padded frame keyed by a `store`
    * column — the single-pass segment form (r15, guide §6): an append is
    * one partitioned write job per batch (previously four, ~0.7 s of each
    * streaming micro-batch's wall was write/commit machinery), and the
    * store subdirs (`store=postings/...`) are derived at read by partition
    * pruning instead of written by separate jobs. The per-store rows are
    * exactly the old layout's rows; the superset columns are null (and
    * prune away at read). `bucket` is -1 for the unbucketed norms/stats
    * stores so no hive default-partition directory appears.
    */
  private def unifiedStores(tf: DataFrame): DataFrame = {
    val nullL = lit(null).cast("long")
    val docT = tf.schema("doc").dataType
    val nullDoc = lit(null).cast(docT)
    val nullTerm = lit(null).cast("string")
    val postings = tf.select(lit("postings").as("store"), col("bucket"),
      col("doc"), col("term"), col("tf"), nullL.as("df"), nullL.as("dl"),
      nullL.as("n_docs"), nullL.as("total_dl"))
    val dfreq = tf.groupBy(col("bucket"), col("term"))
      .agg(count(lit(1)).as("df"))
      .select(lit("df").as("store"), col("bucket"), nullDoc.as("doc"),
        col("term"), nullL.as("tf"), col("df"), nullL.as("dl"),
        nullL.as("n_docs"), nullL.as("total_dl"))
    val norms = tf.groupBy(col("doc")).agg(sum(col("tf")).as("dl"))
    val normsRows = norms
      .select(lit("norms").as("store"), lit(-1).as("bucket"), col("doc"),
        nullTerm.as("term"), nullL.as("tf"), nullL.as("df"), col("dl"),
        nullL.as("n_docs"), nullL.as("total_dl"))
    val stats = norms
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      .select(lit("stats").as("store"), lit(-1).as("bucket"),
        nullDoc.as("doc"), nullTerm.as("term"), nullL.as("tf"),
        nullL.as("df"), nullL.as("dl"), col("n_docs"), col("total_dl"))
    postings.unionByName(dfreq).unionByName(normsRows).unionByName(stats)
  }

  /** One exchange on the partition key before the write so each
    * (store, bucket) directory is written by exactly one task: without it
    * every upstream task writes a sliver into every bucket directory
    * (~270 task-files per batch through the dynamic-partition committer);
    * with it the commit moves ~34 — the guide §6 small-files rule applied
    * to the index's own segments.
    */
  private def writeUnifiedSegment(unified: DataFrame, dest: String): Unit =
    unified.repartition(col("store"), col("bucket"))
      .write.partitionBy("store", "bucket")
      .parquet(dest)

  /** Merge all accumulated segments into ONE (Lucene's segment merge):
    * many small per-batch files degrade scan fan-in over time, and the
    * merge is pure aggregation — postings rows are already per-(doc, term)
    * within disjoint batches so they only re-bucket-partition, df re-sums
    * per term, norms union, stats re-sum to a single row, committed as
    * segment `batch=-1` by the [[Segments]] compaction; a [[queryTextIndex]]
    * result is IDENTICAL before and after (the query-time merge already
    * sums per-segment rows — compaction just makes that sum trivial).
    *
    * Fails, rather than do nothing, on a path without the `meta` directory
    * [[initTextIndex]] writes and on the legacy four-store layout
    * (`postings`/`df`/`norms`/`stats` directories, no `seg`); a freshly
    * initialized index with no segment yet is a no-op.
    */
  def compactTextIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segRoot = new org.apache.hadoop.fs.Path(s"$path/seg")
    val hasSegs = fs.exists(segRoot)
    val legacy = if (hasSegs) Nil else Seq("postings", "df", "norms", "stats")
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(s"$path/$d")))
    if (legacy.nonEmpty) throw new IllegalStateException(
      s"$path holds the legacy four-store text-index layout " +
        s"(${legacy.mkString(", ")} directories, no seg/); rebuild it " +
        "with buildTextIndex")
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/meta")),
      s"$path is not a text index: no meta directory (initTextIndex writes it)")
    val store = Segments.open(spark, segRoot.toString)
    if (store.ids.isEmpty) return
    val all = store.read()
    val nullL = lit(null).cast("long")
    val docT = all.schema("doc").dataType
    val nullDoc = lit(null).cast(docT)
    val nullTerm = lit(null).cast("string")
    // postings/norms rows pass through (disjoint doc batches), df re-sums
    // per term, stats re-sum to one row — the same merged rows as the
    // four-store form produced, in ONE write
    val postings = all.filter(col("store") === "postings")
      .select(lit("postings").as("store"), col("bucket"), col("doc"),
        col("term"), col("tf"), nullL.as("df"), nullL.as("dl"),
        nullL.as("n_docs"), nullL.as("total_dl"))
    val dfreq = all.filter(col("store") === "df")
      .groupBy(col("bucket"), col("term")).agg(sum(col("df")).as("df"))
      .select(lit("df").as("store"), col("bucket"), nullDoc.as("doc"),
        col("term"), nullL.as("tf"), col("df"), nullL.as("dl"),
        nullL.as("n_docs"), nullL.as("total_dl"))
    val normsRows = all.filter(col("store") === "norms")
      .select(lit("norms").as("store"), lit(-1).as("bucket"), col("doc"),
        nullTerm.as("term"), nullL.as("tf"), nullL.as("df"), col("dl"),
        nullL.as("n_docs"), nullL.as("total_dl"))
    val stats = all.filter(col("store") === "stats")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_dl")).as("total_dl"))
      .select(lit("stats").as("store"), lit(-1).as("bucket"),
        nullDoc.as("doc"), nullTerm.as("term"), nullL.as("tf"),
        nullL.as("df"), nullL.as("dl"), col("n_docs"), col("total_dl"))
    store.replaceAll("batch=-1")(writeUnifiedSegment(
      postings.unionByName(dfreq).unionByName(normsRows).unionByName(stats), _))
  }

  /** BM25 top-`k` over a persisted index — exact same ranking as a
    * from-scratch [[bm25TopK]] over the union of all appended batches
    * (contract-checked): the scorer inputs (tf, summed df, dl, summed
    * stats) are identical longs, and the contribution expression is shared.
    * The probed bucket set is collected from the (tiny) query-term list and
    * pushed as LITERAL partition filters, so the postings and df scans read
    * only matching bucket=N directories — inverted-index I/O, not corpus
    * I/O.
    */
  def queryTextIndex(queries: DataFrame, queryIdCol: String,
      queryTextCol: String, path: String, idCol: String, k: Int,
      queryTerms: Int = 8, k1: Double = 1.5, b: Double = 0.75,
      allowed: DataFrame = null): DataFrame = {
    val spark = queries.sparkSession
    val nBuckets = bucketCount(spark, path)
    // no checkpoint: qterms is the tokenized (tiny) query batch — the
    // bucket collect below and the broadcast build both recompute it
    // cheaply, and skipping the checkpoint is one driver action fewer
    // per serving call
    val qterms = bm25QueryTerms(queries, queryIdCol, queryTextCol, queryTerms)
    val buckets = qterms
      .select(pmod(hash(col("term")), lit(nBuckets)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // one unified segment read; store= and bucket= are partition columns,
    // so each per-store view below prunes to its directories at planning
    val seg = Segments.read(spark, s"$path/seg")
    // corpus stats ride the main plan as a broadcast one-row join instead
    // of a separate head() action; the same longs go through the same
    // double division, so every snapped contribution is bit-identical
    val stat = seg.filter(col("store") === "stats")
      .agg(sum(col("n_docs")).cast("double").as("__n"),
        (sum(col("total_dl")).cast("double") /
          sum(col("n_docs")).cast("double")).as("__avgdl"))
    val dfreq = seg.filter(col("store") === "df" &&
        col("bucket").isin(buckets: _*))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val qstats = dfreq.join(broadcast(qterms), "term")
    val postingsAll = seg.filter(col("store") === "postings" &&
        col("bucket").isin(buckets: _*))
      .select(col("doc"), col("term"), col("tf"))
    // filtered serving: eligible-id semi-join on the pruned postings scan
    // BEFORE scoring — stats stay whole-index (see bm25TopK's scaladoc),
    // so this path stays bit-equal to the in-memory filtered form
    val postings =
      if (allowed == null) postingsAll
      else postingsAll.join(allowed.select(col(idCol).as("doc")), Seq("doc"),
        "left_semi")
    val norms = seg.filter(col("store") === "norms")
      .select(col("doc"), col("dl"))
    val contrib = postings.join(broadcast(qstats), "term").join(norms, "doc")
      .crossJoin(broadcast(stat))
      .withColumn("c", bm25ContribCols(col("__n"), col("__avgdl"), k1, b))
    bm25Rank(contrib, k, queryIdCol, idCol)
  }

  /** Per-document mean log-probability under an add-one-smoothed bigram
    * language model trained on `ref` (the corpus itself by default) — the
    * statistical quality score that separates fluent text from gibberish the
    * heuristic ratios miss: score(d) = avg over d's bigrams (w1 w2) of
    * ln((c(w1 w2) + 1) / (c(w1) + V)).
    *
    * Two-phase shape: the model IS two count aggregates (unigram, bigram —
    * map-side combined), and scoring is two key-joins of the corpus bigram
    * stream against them, then a per-doc avg. Bigrams stream from the native
    * `ngram_gen` Generator; nothing driver-side except the vocabulary-size
    * scalar. At 100 TB the count tables are vocabulary-sized (≪ corpus);
    * Zipf skew on the join key ("the …") is AQE skew-split territory, and a
    * reference model would be trained ONCE and reused across scoring runs.
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String,
      ref: Option[DataFrame] = None): DataFrame = {
    graft.functions.HashExpressions.register(docs.sparkSession)
    val refWs = ref.getOrElse(docs).select(tokens(col(textCol)).as("ws"))
    // feeds the vocabulary-size scalar AND the scoring join
    val uni = refWs.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      .persist()
    val vocab = uni.count().toDouble
    val bi = refWs.select(expr("ngram_gen(ws, 2)"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("cb"))
    val docBi = docs
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("ws"))
      .select(col("doc"), expr("ngram_gen(ws, 2)"))
      .select(col("doc"), col("ngram").as("bg"),
        substring_index(col("ngram"), " ", 1).as("w1"))
    val scored = docBi
      .join(bi.select(col("ngram").as("bg"), col("cb")), Seq("bg"), "left")
      .join(uni.select(col("w").as("w1"), col("cw")), Seq("w1"), "left")
      .withColumn("lp", log((coalesce(col("cb"), lit(0L)) + 1.0) /
        (coalesce(col("cw"), lit(0L)) + vocab)))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_bigrams"),
        // floor-round, not round() — see qualityScore
        (floor(avg(col("lp")) * 1e4 + 0.5) / 1e4).as("lm_score"))
      .select(col("doc").as(idCol), col("n_bigrams"), col("lm_score"))
    // no materialized orderBy — see Dedup.jaccardPairs (r14): the sort's
    // range-sampling pass would re-execute the scoring subtree per call
    Caching.materializeThenRelease(scored, uni)
  }

  /** Novelty scoring — per document, the fraction of its distinct word
    * n-grams that occur in NO other document (corpus document frequency 1).
    * A high-novelty document carries content the corpus does not already
    * have; near-boilerplate scores near zero. The inverse signal of the
    * dedup family: where MinHash asks "is this a copy of something", novelty
    * asks "how much of this is new anywhere" — the uniqueness axis quality
    * stacks weigh alongside classifier scores.
    *
    * All-integer output (`novelty_ppm = n_novel·10⁶ div n_grams`) —
    * engine-exact. Shape at scale: distinct shingles stream from the native
    * `word_shingles` expression (never the text), the df table is one
    * two-phase hash agg on the gram key (vocabulary-sized, Zipf skew →
    * AQE), one gram-keyed join back, one doc-keyed agg. The corpus is
    * scanned once; no row ever carries more than a gram hash and two longs.
    */
  def noveltyScore(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val sh = docGrams(docs, idCol, textCol, n)
    scoreNovelty(sh, sh.groupBy(col("g")).agg(count(lit(1)).as("df")),
      idCol)
  }

  /** (doc, g) distinct word n-grams per document. */
  private def docGrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    graft.functions.HashExpressions.register(docs.sparkSession)
    docs.select(col(idCol).as("doc"), tokens(col(textCol)).as("ws"))
      .select(col("doc"), explode(expr(s"word_shingles(ws, $n)")).as("g"))
  }

  private def scoreNovelty(sh: DataFrame, gdf: DataFrame,
      idCol: String): DataFrame =
    sh.join(gdf, Seq("g"))
      .groupBy(col("doc"))
      .agg(sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_novel"),
        count(lit(1)).as("n_grams"))
      .select(col("doc").as(idCol), col("n_novel"), col("n_grams"),
        // `div`, not `/`: long division stays in long arithmetic (the
        // fractional `/` would detour through double)
        expr("n_novel * 1000000 div n_grams").as("novelty_ppm"))

  /** The persisted novelty state: the corpus gram document-frequency table
    * (g, df). Vocabulary-sized, not corpus-sized — the snapshot a nightly
    * ingest reads and rewrites, same posture as `Dedup.bandIndex` /
    * `Sketches.hllByGroup`.
    */
  def gramDf(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    docGrams(docs, idCol, textCol, n)
      .groupBy(col("g")).agg(count(lit(1)).as("df"))

  /** The streaming-novelty per-batch body with the gram pass SHARED
    * (r15): the batch is tokenized/sharded ONCE into a lazily persisted
    * per-doc gram frame feeding BOTH the batch's own gram-df segment and
    * the novelty scores — the fold previously ran docGrams twice per
    * micro-batch (once inside [[noveltyIncremental]], once for the
    * segment write). Rows are identical to gramDf + noveltyIncremental.
    * Returns (batch gram-df, scores, the persisted base to release after
    * both consumers have materialized).
    */
  def noveltyBatchFold(batch: DataFrame, snapshot: DataFrame,
      idCol: String, textCol: String, n: Int = 3)
      : (DataFrame, DataFrame, DataFrame) = {
    val shB = docGrams(batch, idCol, textCol, n).persist()
    val bg = shB.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val updated = snapshot.unionByName(bg)
      .groupBy(col("g")).agg(sum(col("df")).as("df"))
    (bg, scoreNovelty(shB, updated, idCol), shB)
  }

  /** Merge accumulated gram-df segments (`b*` subdirs of additive (g, df)
    * tables — the streaming novelty state) into ONE summed segment: the
    * same Lucene-style segment merge as [[compactTextIndex]], for the same
    * reason — per-batch segments degrade scan fan-in over time, and since
    * the snapshot at any moment IS the sum over segments, compaction
    * changes nothing a reader can observe (readers group-sum either way).
    * Compacting twice is a no-op by construction (summing one segment
    * re-produces it). Snapshot, swap and concurrency: [[Segments]].
    */
  def compactGramDf(spark: org.apache.spark.sql.SparkSession,
      segDir: String): Unit = {
    val store = Segments.open(spark, segDir)
    if (store.ids.nonEmpty)
      store.replaceAll("b-1")(store.read().groupBy(col("g"))
        .agg(sum(col("df")).as("df")).coalesce(1).write.parquet)
  }

  /** Incremental novelty: score an arriving batch against the persisted
    * gram-df snapshot and fold the batch in — WITHOUT rescanning the
    * corpus. Document frequencies add exactly (unlike sketch estimates),
    * so both outputs are exact: the updated snapshot equals a from-scratch
    * [[gramDf]] over corpus+batch, and the batch scores equal the rows a
    * from-scratch [[noveltyScore]] over corpus+batch would give those
    * SAME documents. Semantics are score-on-arrival: a batch gram already
    * in the corpus is not novel; prior documents' scores are not revised
    * retroactively (re-run the batch pass over history when that is
    * wanted).
    *
    * Shape at scale: the batch is shingled once; the merge and the scoring
    * join are gram-keyed against the vocabulary-sized snapshot. The corpus
    * text is never touched.
    */
  def noveltyIncremental(batch: DataFrame, snapshot: DataFrame,
      idCol: String, textCol: String, n: Int = 3)
      : (DataFrame, DataFrame) = {
    val shB = docGrams(batch, idCol, textCol, n)
    val updated = snapshot
      .unionByName(shB.groupBy(col("g")).agg(count(lit(1)).as("df")))
      .groupBy(col("g")).agg(sum(col("df")).as("df"))
    (updated, scoreNovelty(shB, updated, idCol))
  }

  /** Full per-document analysis projection used by the registered queries.
    * Tokenizes ONCE into a bound column, then derives every measure from it —
    * the stopword/langid lambdas are interpreted (CodegenFallback), and an
    * inline `split` subexpression would be re-evaluated per lambda call.
    */
  def analyze(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val c = col(textCol)
    docs
      .select(col("doc_id"), c, tokens(c).as("_ws"))
      .select(
        col("doc_id"),
        size(col("_ws")).as("n_tokens"),
        bpeishCount(c).as("n_bpeish"),
        length(c).as("n_chars_m"),
        langId(col("_ws")).as("lang_pred"),
        qualityScore(c, col("_ws")).as("quality"))
  }
}
