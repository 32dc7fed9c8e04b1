package graft.operators

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration.{DurationInt, FiniteDuration}

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashExpressions.{minhashSig, ngramGen, simhash64, vecDot,
  winnowFingerprint, wordShingles}

/** Deduplication operators for training-data pipelines, each designed so the
  * shuffle volume stays bounded at 100 TB:
  *
  *  - exact: one hash-shuffle on a 128-bit content key (never on raw text).
  *  - MinHash+LSH: signatures computed scan-side; the only shuffle is on
  *    (band, bandHash) keys whose cardinality ~ n·bands; exact Jaccard is
  *    verified only for candidate pairs (≪ n²).
  *  - SimHash: 64-bit fingerprints, blocked by 4×16-bit bands (any pair
  *    within Hamming distance 3 must agree on at least one band), verified
  *    with bit_count(xor).
  *  - n-gram Jaccard: the exact quadratic form, for oracle verification on
  *    bounded subsets only.
  */
object Dedup {

  /** Observation names [[prefixJaccardPairs]] attaches to its candidate
    * join (PPJoin filter health: raw join volume / distinct pairs). Read
    * them from `qe.observedMetrics` in a QueryExecutionListener.
    */
  val PrefixJoinRawObservation = "jaccard_prefix_join_raw"
  val PrefixJoinPairsObservation = "jaccard_prefix_join_pairs"

  /** Candidate-volume observations for the other filter-heavy joins (same
    * role as the PPJoin pair: exact, stable scale-health counts where local
    * wall-clock is ±40% noise). Bench's listener lands them in bench_out.
    */
  val WinnowRawObservation = "winnow_raw_matches"
  val WinnowPairsObservation = "winnow_candidate_pairs"
  val EmbeddingLshCandObservation = "embedding_lsh_candidates"

  /** Word shingles (n-gram strings) from a materialized token-array column.
    *
    * `ws` MUST be a bound column (project `split(...)` into a column first),
    * never an inline `split(...)` expression: higher-order lambdas are
    * interpreted (CodegenFallback), and an inline subexpression is
    * re-evaluated on every lambda invocation — turning shingling into
    * O(tokens²) regex splits per row (measured 100× slowdown at sf0.1).
    */
  def shinglesFromTokens(ws: Column, n: Int = 3): Column =
    array_distinct(
      transform(sequence(lit(1), greatest(size(ws) - (n - 1), lit(1))),
        // try_element_at: inputs shorter than n index past the end, and
        // under ANSI mode (Spark 4 default) plain element_at would throw
        // instead of yielding the null that concat_ws skips.
        i => concat_ws(" ", (0 until n).map(o => try_element_at(ws, i + o)): _*)))

  /** Tokenize + shingle via the native `word_shingles` expression (one split
    * + one tight loop per row). Output: (id, sh), repartitioned across all
    * cores (a single local parquet file scans as one split; cluster scans
    * arrive pre-split and the repartition collapses to a no-op cost-wise).
    */
  private def shingleFrame(df: DataFrame, idCol: String, textCol: String,
      nGram: Int, numPartitions: Int): DataFrame = {
    // Repartition the RAW text, then shingle: a single local parquet file
    // scans as one split, and an exchange placed after the projection would
    // leave the expensive kernel running on that one core. (Cheap to
    // shuffle bodies once; the kernel then runs on every core.)
    df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(numPartitions, col("id"))
      .select(col("id"),
        wordShingles(split(trim(lower(col("__text"))), "\\s+"), nGram)
          .as("sh"))
      .filter(size(col("sh")) > 0)
  }

  /** Exact dedup: keep the lowest `idCol` row per distinct content. Grouping
    * key is md5(text) so the shuffle carries 16-byte keys, not document
    * bodies; the oracle mirrors md5 exactly.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** The 16-byte content-key table of a corpus snapshot — the state an
    * incremental dedup pipeline persists between ingests.
    */
  def contentKeys(df: DataFrame, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("content_key")).distinct()

  /** Incremental exact dedup: rows of `newBatch` whose content key is
    * absent from `seenKeys` (prior snapshots' [[contentKeys]]), then
    * deduped within the batch ([[exact]]). The recurring-ingest form of
    * exact dedup: each new crawl/delivery anti-joins the accumulated key
    * table (16-byte keys, never bodies) instead of re-deduping the whole
    * corpus; the caller unions the survivors' keys back into its state.
    */
  def exactIncremental(newBatch: DataFrame, textCol: String, idCol: String,
      seenKeys: DataFrame): DataFrame = {
    val fresh = newBatch.join(seenKeys,
      md5(newBatch(textCol)) === seenKeys("content_key"), "left_anti")
    exact(fresh, textCol, idCol)
  }

  /** Exact Jaccard similarity of two (already distinct) shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Quadratic all-pairs n-gram Jaccard (oracle-checkable; use only on
    * bounded subsets — the scale path is `minhashPairs`).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, nGram: Int = 3): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val sh = shingleFrame(df, idCol, textCol, nGram, par).persist()
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    val pairs = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // No materialized orderBy (r14): a global sort right before the
    // eager checkpoint pays a range-sampling pass that RE-EXECUTES the
    // pair-verify subtree (and double-fires any observe() counters);
    // every consumer — contracts, segment writes, the driver compare —
    // is row-set-based.
    Caching.materializeThenRelease(pairs, sh)
  }

  /** Expand rep-level pair rows through identical-content dup groups:
    * every member pair across the two groups (carrying the rep pair's
    * `payload` columns) plus all intra-group member pairs (payload =
    * `intraPayload`, the identical-content value — Jaccard 1.0, Hamming 0).
    * Cross and intra are disjoint by construction (cross spans two groups,
    * intra stays inside one), so a plain union is duplicate-free. Shared by
    * every pre-collapsing pair operator (minhash / simhash / prefix join).
    */
  private def expandDupGroups(repPairs: DataFrame, members: DataFrame,
      payload: Seq[String], intraPayload: Seq[Column]): DataFrame = {
    val cross = repPairs
      .join(members.select(col("rep").as("rep_a"), col("id").as("ida")),
        "rep_a")
      .join(members.select(col("rep").as("rep_b"), col("id").as("idb")),
        "rep_b")
      .select(least(col("ida"), col("idb")).as("id_a") +:
        greatest(col("ida"), col("idb")).as("id_b") +:
        payload.map(col): _*)
    val intra = members.as("a")
      .join(members.as("b"),
        col("a.rep") === col("b.rep") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a") +: col("b.id").as("id_b") +:
        payload.zip(intraPayload).map { case (n, c) => c.as(n) }: _*)
    cross.union(intra)
  }

  /** EXACT set-similarity self-join via prefix filtering (PPJoin-family,
    * Xiao et al. WWW'08) — all pairs with n-gram Jaccard >= threshold, with
    * NO false negatives (unlike MinHash banding) and no quadratic pass
    * (unlike [[jaccardPairs]]).
    *
    * Shingles are globally ordered rarest-document-frequency-first; a record
    * of n shingles keeps only its first n - ceil(t*n) + 1 as its PREFIX.
    * Any pair with J >= t has overlap >= ceil(t*n) on both sides, so by
    * pigeonhole their prefixes must share a shingle — candidates are
    * generated by an equi-join on PREFIX shingles only. Because prefixes
    * hold each record's rarest shingles, the join keys are the low-frequency
    * tail of the corpus distribution: candidate volume is sum-of-df² over
    * rare shingles, not over all shingles (the reason a plain shared-token
    * join blows up and this doesn't). A length filter
    * (min(na,nb) >= t*max(na,nb), necessary for J >= t) prunes further;
    * survivors are verified with exact Jaccard on the full shingle arrays.
    *
    * At 100 TB: two shuffles that matter — the df-rank join (shingle-keyed,
    * combiner-friendly count) and the prefix equi-join (keys = rare
    * shingles). Nothing is quadratic in corpus size; per-key fan-out is
    * df², bounded by the rarity of prefix shingles. Same output contract as
    * [[jaccardPairs]], checked exactly against it in DedupSpec and against
    * a DuckDB token-equijoin oracle on the FULL documents table.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, nGram: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val par = df.sparkSession.sparkContext.defaultParallelism
    val sh = shingleFrame(df, idCol, textCol, nGram, par)
    // Pre-collapse identical shingle SETS (the minhashPairs lesson): exact
    // duplicates share every prefix shingle, so a dup cluster of size c
    // would fan each prefix key out c times and every bucket join would go
    // quadratic in c. One representative per distinct set runs the prefix
    // join; pairs re-expand through the groups after (intra-group pairs are
    // Jaccard 1.0 by construction). The collapse key is a pair of
    // STRUCTURAL 64-bit hashes of the shingle array (16 bytes through the
    // exchange, never the array itself); the salt leads in the second hash
    // because xxhash64 chains its running state, so a trailing salt would
    // inherit any first-hash collision instead of being independent.
    val grouped = sh
      .withColumn("rep", min(col("id")).over(
        Window.partitionBy(xxhash64(col("sh")),
          xxhash64(lit(7L), col("sh")))))
      .persist()
    val members = grouped.select(col("id"), col("rep"))
    val reps = grouped.filter(col("id") === col("rep"))
      .select(col("rep"), col("sh"))
      .persist()
    val toks = reps.select(col("rep"), explode(col("sh")).as("tok"))
    // Global ordering key: (document frequency asc, shingle) — rarest first.
    // The df table is shingle-keyed; counting is map-side combinable.
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ranked = toks.join(dfreq, "tok")
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("rep"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("rep")).orderBy(col("df"), col("tok"))))
    // EVERY filter below must only ever be LOOSENED by float rounding,
    // never tightened: exact Jaccard verification makes extra candidates
    // harmless, but one rejected true candidate is a silent false negative
    // in a join documented as exact. Each threshold product sits at an
    // integer boundary for rational thresholds (e.g. t=0.4, n=5 → n·t=2
    // exactly in ℝ but 2.0000000000000004 in binary), so each bound
    // subtracts EPS before ceil/compare — at worst one extra prefix token
    // or candidate pair, checked exactly downstream.
    val EPS = 1e-9
    val prefix = ranked
      .filter(col("rk") <=
        col("n") - ceil(col("n") * threshold - EPS) + 1)
      .select(col("rep"), col("tok"), col("n"), col("rk"))
      .persist()
    // Candidate join = prefix filter + length filter + POSITIONAL filter
    // (the "P" in PPJoin). J >= t needs overlap >= t/(1+t)·(na+nb); a
    // shared prefix token at ranks (rk_a, rk_b) bounds the achievable
    // overlap by 1 + min(na - rk_a, nb - rk_b) (everything after the match
    // on each side, plus the match itself — both sides are sorted in the
    // SAME global order, so earlier tokens on either side can only overlap
    // tokens already behind the other side's match point). Without this
    // bound the prefix+length filters alone pass ~309k candidates per 5k
    // docs on this corpus (0.08% precision) and verification dominates the
    // runtime shuffling full shingle arrays; with it, candidates drop to
    // the near-real set.
    val ubound =
      lit(1) + least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk"))
    // Telemetry (the thing local wall-clock can't give: rep-to-rep timing
    // spread here ran 60 s while the candidate counts are exact and stable):
    // raw join output = the shuffle/compute volume the filters let through;
    // distinct pairs = the verification-join volume. Observed metrics land
    // in bench_out via Bench's listener, keyed by these names.
    val candRep = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.rep") < col("b.rep") &&
          least(col("a.n"), col("b.n")) >=
            greatest(col("a.n"), col("b.n")) * threshold - EPS &&
          ubound.cast("double") >=
            (col("a.n") + col("b.n")) * (threshold / (1 + threshold)) - EPS)
      .select(col("a.rep").as("rep_a"), col("b.rep").as("rep_b"))
      .observe(PrefixJoinRawObservation, count(lit(1)).as("n_candidates_raw"))
      .distinct()
      .observe(PrefixJoinPairsObservation,
        count(lit(1)).as("n_candidate_pairs"))
    val verifiedRep = candRep
      .join(reps.select(col("rep").as("rep_a"), col("sh").as("sh_a")),
        "rep_a")
      .join(reps.select(col("rep").as("rep_b"), col("sh").as("sh_b")),
        "rep_b")
      .select(col("rep_a"), col("rep_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val pairs = expandDupGroups(verifiedRep, members,
        Seq("jaccard"), Seq(lit(1.0)))
    Caching.materializeThenRelease(pairs, grouped, reps, prefix)
  }

  /** MinHash + LSH banding near-dup pairs with exact-Jaccard verification.
    *
    * Pipeline: shingle → k-hash signature (native `MinHashSig` expression,
    * one pass per row, computed scan-side with no shuffle) → explode into
    * `bands` (bandIdx, bandHash) keys → self-join on the band key →
    * distinct candidate pairs → join shingles back → exact Jaccard filter.
    * With k=64, bands=16 (r=4), a 0.95-Jaccard pair collides with
    * probability ≈ 1 - (1-0.95⁴)¹⁶ ≈ 1.
    *
    * The shingle and banded frames are persisted: each feeds two branches
    * (both sides of a self-join), and Spark would otherwise recompute the
    * signatures per branch. At cluster scale the same role is played by
    * writing the signature table once and joining against it.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 64, bands: Int = 16,
      nGram: Int = 3): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    // A single local parquet file scans as one split; spread the (cheap to
    // shuffle, expensive to hash) raw text across all cores first. Cluster
    // scans arrive pre-split and can skip this.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val sh = shingleFrame(df, idCol, textCol, nGram, par).persist()
    // Pre-collapse identical signatures before banding: exact duplicates
    // (the dominant near-dup class in web corpora) share ALL `bands` band
    // hashes, so banding them directly makes every bucket join quadratic in
    // the dup-cluster size ×bands. One representative per distinct signature
    // goes through LSH; pairs re-expand through the signature groups after —
    // candidate volume becomes O(distinct-sig collisions + output pairs).
    val sig = sh.select(col("id"), minhashSig(col("sh"), k).as("sig"))
      .withColumn("rep", min(col("id")).over(Window.partitionBy(col("sig"))))
      .persist()
    val members = sig.select(col("id"), col("rep"))
    val banded = sig
      .filter(col("id") === col("rep"))
      .select(col("rep"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          bi => xxhash64(slice(col("sig"), bi * r + 1, lit(r)), bi))))
      .toDF("rep", "band_idx", "band_hash")
      .persist()
    val candRep = banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("rep_a"), col("b.rep").as("rep_b"))
      .distinct()
    // cross: colliding signature groups; intra: identical signatures
    // always collide — all member pairs are candidates
    val cand = expandDupGroups(candRep, members, Seq.empty, Seq.empty)
    val shA = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    val pairs = cand.join(shA, "id_a").join(shB, "id_b")
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    Caching.materializeThenRelease(pairs, sh, sig, banded)
  }

  /** The persisted LSH state of a corpus snapshot: one (id, band_idx,
    * band_hash) row per band per document — what an incremental near-dup
    * pipeline stores between ingests (k·|corpus|/r fixed-width rows; no
    * text, no shingles).
    */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, nGram: Int = 3): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val par = df.sparkSession.sparkContext.defaultParallelism
    // Build parameters ride as column metadata (they survive a parquet
    // round-trip in the schema footer) so an incremental query against a
    // PERSISTED index can assert it was built with matching (k, bands,
    // nGram) — mismatched band hashes would yield silently empty pair sets.
    val buildMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.minhash.k", k)
      .putLong("graft.minhash.bands", bands)
      .putLong("graft.minhash.nGram", nGram)
      .build()
    shingleFrame(df, idCol, textCol, nGram, par)
      .withColumn("sig", minhashSig(col("sh"), k))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          bi => xxhash64(slice(col("sig"), bi * r + 1, lit(r)), bi))))
      .toDF("id", "band_idx", "band_hash")
      .withColumn("band_hash", col("band_hash").as("band_hash", buildMeta))
  }

  /** Incremental MinHash near-dup: pairs between a NEW batch and an
    * already-indexed corpus (via its persisted [[bandIndex]]) plus pairs
    * within the batch — WITHOUT re-banding the corpus. Only the new batch
    * is shingled and banded in full; of the corpus, only candidate
    * documents (those sharing a band with a new document) are re-read for
    * the exact-Jaccard verification, via a semi-join pushed to their scan.
    * Band parameters must match the ones the index was built with.
    *
    * Output pairs are (id_a, id_b, jaccard) with id_a < id_b, identical
    * to what a from-scratch [[minhashPairs]] over corpus ∪ batch would
    * emit minus its corpus-internal pairs (banding is deterministic, so
    * this equality is exact — the driver contract asserts it).
    */
  def minhashPairsIncremental(newBatch: DataFrame, corpus: DataFrame,
      index: DataFrame, idCol: String, textCol: String, threshold: Double,
      k: Int = 64, bands: Int = 16, nGram: Int = 3): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // If the index carries its build parameters ([[bandIndex]] metadata),
    // refuse a mismatched call: integer-divided slices and different band
    // hashes would produce a silently wrong/empty pair set otherwise.
    index.schema.find(_.name == "band_hash").map(_.metadata)
      .filter(_.contains("graft.minhash.k")).foreach { m =>
        val (ik, ib, ig) = (m.getLong("graft.minhash.k"),
          m.getLong("graft.minhash.bands"), m.getLong("graft.minhash.nGram"))
        require(ik == k && ib == bands && ig == nGram,
          s"band index was built with (k=$ik, bands=$ib, nGram=$ig) " +
            s"but queried with (k=$k, bands=$bands, nGram=$nGram)")
      }
    val par = newBatch.sparkSession.sparkContext.defaultParallelism
    val shNew = shingleFrame(newBatch, idCol, textCol, nGram, par).persist()
    val bandedNew = shNew
      .withColumn("sig", minhashSig(col("sh"), k))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          bi => xxhash64(slice(col("sig"), bi * (k / bands) + 1,
            lit(k / bands)), bi))))
      .toDF("id", "band_idx", "band_hash")
      .persist()
    val crossCand = bandedNew.as("n")
      .join(index.as("o"),
        col("n.band_idx") === col("o.band_idx") &&
        col("n.band_hash") === col("o.band_hash"))
      .select(least(col("o.id"), col("n.id")).as("id_a"),
        greatest(col("o.id"), col("n.id")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val newCand = bandedNew.as("a")
      .join(bandedNew.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cand = crossCand.union(newCand).distinct()
    // only candidate corpus docs pay shingling (semi-join prunes the scan)
    val candOldIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
      .join(shNew.select(col("id")), Seq("id"), "left_anti")
    val shOld = shingleFrame(
      corpus.join(candOldIds,
        corpus(idCol) === candOldIds("id"), "left_semi"),
      idCol, textCol, nGram, par)
    val sh = shNew.unionByName(shOld)
    val pairs = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    Caching.materializeThenRelease(pairs, shNew, bandedNew)
  }

  /** SimHash near-dup pairs: fingerprint via the native SimHash64 expression,
    * block on 4×16-bit bands, verify with Hamming distance ≤ `maxHamming`
    * (any pair with ≤3 differing bits shares at least one of 4 bands).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // exchange BEFORE the kernel — see shingleFrame
    // Pre-collapse identical fingerprints before banding: exact duplicates
    // share all 4 bands, so banding raw ids makes a b-sized dup cluster
    // contribute 4·b²/2 candidate rows — quadratic on exactly the corpora
    // (boilerplate-heavy web data) this operator targets. One representative
    // per distinct fingerprint goes through banding; pairs re-expand through
    // the fingerprint groups afterwards, so candidate volume is
    // O(distinct-fp collisions + output pairs).
    val fp = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(par, col("id"))
      .select(col("id"),
        simhash64(split(trim(lower(col("__text"))), "\\s+")).as("fp"))
      .withColumn("rep", min(col("id")).over(Window.partitionBy(col("fp"))))
      .persist()
    val members = fp.select(col("id"), col("rep"))
    val candRep = simhashRepCandidates(
      fp.filter(col("id") === col("rep")).select(col("rep"), col("fp")),
      maxHamming)
    // cross: near-colliding fp groups at their Hamming distance; intra:
    // identical fingerprints are Hamming-0 pairs by definition
    val pairs = expandDupGroups(candRep, members,
        Seq("hamming"), Seq(lit(0)))
    Caching.materializeThenRelease(pairs, fp)
  }

  /** Banding candidates over DISTINCT fingerprints: `reps` is one
    * (rep, fp) row per distinct 64-bit fingerprint; output is the
    * (rep_a, rep_b, hamming) pairs that share at least one 16-bit band and
    * pass the Hamming filter. Package-private so the spec suite can assert
    * the candidate volume stays O(near-collisions) on an exact-dup-heavy
    * corpus (the pre-collapse guarantee), independent of output size.
    */
  private[graft] def simhashRepCandidates(reps: DataFrame,
      maxHamming: Int): DataFrame = {
    val bandStructs = array((0 until 4).map { bi =>
      struct(lit(bi).as("band_idx"),
        shiftrightunsigned(col("fp"), bi * 16).bitwiseAND(0xffffL)
          .as("band_key"))
    }: _*)
    val banded = reps.select(col("rep"), col("fp"),
        explode(bandStructs).as("b"))
      .select(col("rep"), col("fp"),
        col("b.band_idx").as("band_idx"), col("b.band_key").as("band_key"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("rep_a"), col("b.rep").as("rep_b"),
        col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("rep_a"), col("rep_b"), col("hamming"))
  }

  /** Duplicated-substring spans — the distributed form of what suffix-array
    * exact-substring dedup computes (dedup of long verbatim repeats ACROSS
    * documents, not whole-document near-dup): every k-token window whose
    * text occurs in ≥ `minDocs` distinct documents is a duplicated window,
    * and per document, overlapping duplicated windows merge into maximal
    * token spans `[span_start, span_end)` to cut or audit. Any verbatim
    * cross-document repeat of ≥ k tokens is covered end-to-end by its
    * k-windows, so the merged span recovers the full repeat; repeats
    * < k tokens are invisible (the standard length threshold).
    *
    * Scale shape: windows stream out of the native `ngram_gen` Generator
    * (no per-row n-gram array materialization); the global frequency pass
    * and the join back both shuffle 8-byte xxhash64 keys, never gram text —
    * O(total windows · 8 B) each, vs the single-machine super-linear suffix
    * array this approximates. Span merging is one window function
    * partitioned by document. At 100 TB the frequency pass's skew (a
    * boilerplate window shared by millions of docs) is absorbed by the
    * two-phase aggregate; a CMS prefilter can replace the exact counts when
    * only high-multiplicity spans matter.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // exchange BEFORE the kernel — see shingleFrame
    val win = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(par, col("id"))
      .select(col("id"),
        ngramGen(split(trim(lower(col("__text"))), "\\s+"), k))
      .select(col("id"), col("pos").cast("long").as("pos"),
        xxhash64(col("ngram")).as("gh"))
      .persist()
    val dup = win.groupBy(col("gh"))
      .agg(count_distinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("gh"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val flagged = win.join(dup, "gh")
      .withColumn("prev_end",
        max(col("pos") + k).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("span_no", sum(col("new_span")).over(w))
    val spans = flagged.groupBy(col("id"), col("span_no"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("n_tokens"),
        col("n_windows"))
    Caching.materializeThenRelease(spans, win)
  }

  /** Apply a [[repeatedSpans]] cut-list: drop every token inside a flagged
    * span and re-join the survivors — the "deduplicate the substring, keep
    * the document" form of substring dedup. Output is (id, cleaned,
    * n_tokens_cut) for EVERY input document (docs with no spans pass
    * through with whitespace-normalized text, 0 cut).
    *
    * Shape: spans collapse to one array per affected document (their count
    * per doc is small — merged islands) and join back on the id key; the
    * cut itself is a per-row token filter. The join side is left to the
    * optimizer: a lightly-duplicated corpus's span table broadcasts, a
    * boilerplate-heavy one (spans on most documents) hash-joins on the id
    * key rather than forcing a giant broadcast.
    */
  def cutSpans(df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val sp = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("sp"))
    // original-case tokens align 1:1 with the lowered tokens the spans were
    // computed on (lowering never changes token boundaries)
    val toks = split(trim(col(textCol)), "\\s+")
    df.join(sp, Seq(idCol), "left")
      .select(col(idCol),
        concat_ws(" ", filter(toks, (tok, i) =>
          col("sp").isNull || !exists(col("sp"), s =>
            i >= s.getField("span_start") && i < s.getField("span_end"))))
          .as("cleaned"),
        coalesce(aggregate(col("sp"), lit(0L),
            (acc, s) => acc + (s.getField("span_end") -
              s.getField("span_start"))), lit(0L))
          .as("n_tokens_cut"))
  }

  /** The convergence witness of one round of an iterative loop: the row of
    * `metrics` that `obs` collects while `out`'s eager `localCheckpoint`
    * materializes. The observed row arrives through a listener callback, so
    * the wait for it is bounded; if it has not landed within `bound`, the
    * same `metrics` are computed as a scalar aggregate over the checkpointed
    * `out` (one more job, the same value).
    */
  private[operators] def roundWitness(obs: Observation, out: DataFrame,
      metrics: Seq[Column], bound: FiniteDuration = 60.seconds): Row =
    try Await.result(obs.future, bound)
    catch {
      case _: TimeoutException => out.agg(metrics.head, metrics.tail: _*).head()
    }

  /** Connected components over an undirected pair list — the step that turns
    * near-dup PAIRS into dedup CLUSTERS (keep one representative per
    * component). Iterative min-label propagation: every node starts labeled
    * with itself; each round takes the min of its own and its neighbors'
    * labels; converges in O(component diameter) rounds. Each round is one
    * join + one aggregate, and `localCheckpoint` truncates the lineage so
    * the plan doesn't grow with iterations.
    *
    * Near-dup components are overwhelmingly tiny (pairs/triples), so the
    * loop converges in 2-3 rounds; a graph with giant components would swap
    * this for the alternating large-star/small-star formulation — same
    * join-aggregate building blocks.
    *
    * Output: (id, cluster) for every node appearing in `pairs`, where
    * cluster = min node id of the component.
    */
  def clusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b"): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .persist()
    // Labels only ever decrease, so sum(lbl) is a strictly decreasing
    // convergence witness. r15: the witness rides the round's materializing
    // checkpoint as an observe() metric — previously it was its own scalar
    // aggregate job per round, doubling the loop's action count.
    def ckptWithSum(df: DataFrame): (DataFrame, Long) = {
      val obs = Observation("graft_clusters_witness")
      val s = coalesce(sum(col("lbl")), lit(0L)).as("s")
      val out = df.observe(obs, s).localCheckpoint()
      (out, roundWitness(obs, out, Seq(s)).getAs[Long]("s"))
    }
    var (labels, prevSum) = ckptWithSum(
      edges.select(col("src").as("id")).distinct()
        .withColumn("lbl", col("id")))
    var converged = false
    while (!converged) {
      val viaNeighbors = edges
        .join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("lbl"))
      val (next, s) = ckptWithSum(labels.unionByName(viaNeighbors)
        .groupBy(col("id")).agg(min(col("lbl")).as("lbl")))
      converged = s == prevSum
      prevSum = s
      labels = next
    }
    edges.unpersist()
    labels.select(col("id"), col("lbl").as("cluster"))
  }

  /** Connected components via alternating large-star / small-star rounds —
    * the giant-component-safe formulation `clusters` defers to (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14).
    *
    * Why a second formulation: min-label propagation needs as many rounds as
    * the component DIAMETER (a 10⁶-node boilerplate chain = 10⁶ joins),
    * while the alternating algorithm provably converges in O(log² n) rounds
    * regardless of shape, hopping labels along star edges instead of walking
    * them. Each round is two join+aggregate stages over the edge list —
    * identical shuffle building blocks to `clusters`, just a smarter
    * rewiring rule:
    *
    *  - large-star: every node u links its LARGER neighbors to
    *    m(u) = min(Γ(u) ∪ u), halving long tails;
    *  - small-star: with edges oriented hi→lo, u links its smaller
    *    neighbors (and itself) to its minimum, flattening local stars.
    *
    * Edges stay oriented hi→lo throughout (large-star emits (v, m) with
    * m ≤ u < v; small-star emits targets that are per-node minima), so at
    * convergence the edge set IS the answer: a star forest whose dst values
    * are exactly the component minima. Convergence is detected by an
    * order-insensitive (count, Σ xxhash64) witness over the edge set — one
    * scalar aggregate per round, no join-based diff. Each round
    * localCheckpoints (lineage would otherwise grow per iteration) and
    * releases the previous round's blocks.
    *
    * Output matches `clusters`: (id, cluster) for every node in `pairs`,
    * cluster = min node id of the component. DedupSpec asserts equality on
    * random graphs and convergence ≪ diameter on a 500-node path.
    */
  def clustersStar(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b"): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // `.rdd.unpersist` would miss localCheckpoint blocks (DataFrame.rdd
    // derives a NEW RDD from the plan); track the checkpoint's persistent
    // ids directly so each round can release its predecessor.
    // r15: the order-insensitive (count, Σ xxhash64) convergence witness
    // rides each round's materializing checkpoint as an observe() metric —
    // previously a second scalar-aggregate job per round.
    def checkpointTracked(
        df: DataFrame): (DataFrame, Set[Int], (Long, BigDecimal)) = {
      val obs = Observation("graft_cs_witness")
      val n = count(lit(1)).as("n")
      val h = coalesce(sum(xxhash64(col("src"), col("dst"))
        .cast("decimal(38,0)")), lit(java.math.BigDecimal.ZERO)).as("h")
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = df.observe(obs, n, h)
        .localCheckpoint() // eager: materialized before release
      val m = roundWitness(obs, out, Seq(n, h))
      (out, sc.getPersistentRDDs.keySet.toSet.diff(before),
        (m.getAs[Long]("n"), BigDecimal(m.getAs[java.math.BigDecimal]("h"))))
    }
    def release(ids: Set[Int]): Unit =
      ids.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    var (edges, ckptIds, prev) = checkpointTracked(pairs
      .select(greatest(col(idA), col(idB)).as("src"),
        least(col(idA), col(idB)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    var converged = prev._1 == 0L
    var rounds = 0
    while (!converged) {
      // large-star: m(u) over the SYMMETRIC neighborhood; larger neighbors
      // of u re-point at m(u).
      val sym = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val mLarge = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src").as("u"), least(col("src"), col("mn")).as("m"))
      val afterLarge = sym.join(mLarge, sym("src") === mLarge("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      // small-star: edges are hi→lo, so min(dst) per src is the local
      // minimum; smaller neighbors and u itself re-point at it.
      val mSmall = afterLarge.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val viaNbr = afterLarge.join(mSmall, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
      val (next, nextIds, w) = checkpointTracked(viaNbr
        .union(mSmall.select(col("src"), col("m").as("dst")))
        .distinct())
      converged = w == prev
      prev = w
      release(ckptIds)
      edges = next
      ckptIds = nextIds
      rounds += 1
      // O(log² n) bound; a non-terminating witness would mean a broken
      // rewiring rule, not a big graph.
      require(rounds < 64, s"clustersStar failed to converge in $rounds rounds")
    }
    edges.select(col("src").as("id"), col("dst").as("cluster"))
      .union(edges.select(col("dst").as("id"), col("dst").as("cluster")))
      .distinct()
  }

  /** Incremental component resolution: fold a NEW batch of pairs into the
    * star forest of a previous [[clustersStar]] run — the recurring-ingest
    * form of cluster resolution. The (id, cluster) forest IS a compressed
    * mergeable representation of every pair resolved so far (n_nodes
    * depth-1 edges with identical connectivity), so the update costs
    * O(log² ) rounds over forest ∪ batch instead of a rescan of all
    * historical pairs — at 100 TB the historical edge set is never read
    * again, only the forest snapshot. Labels of previously-resolved nodes
    * may legitimately CHANGE when a batch edge bridges two old clusters
    * (the merged component takes the global min id). Output schema matches
    * [[clustersStar]]; `labels` must come from a clustersStar-family run
    * (every cluster ≥ 2 members — the min's self-row alone does not
    * survive the self-edge filter).
    */
  def clustersStarIncremental(labels: DataFrame, newPairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b"): DataFrame =
    clustersStar(
      labels.select(col("id").as(idA), col("cluster").as(idB))
        .unionByName(newPairs.select(col(idA), col(idB))), idA, idB)

  /** Containment pairs via winnowing fingerprints: documents sharing long
    * byte substrings (quotes, boilerplate, wrapped copies) share winnow
    * hashes, so the pair's containment score is
    * |shared hashes| / min(|fp_a|, |fp_b|) — near 1.0 when one document
    * contains the other, regardless of how much extra text surrounds it
    * (which Jaccard-style whole-document similarity misses).
    *
    * Scale shape: fingerprint scan-side (native expression), explode to
    * (hash, id), drop ultra-common hashes (`maxDocFreq` — boilerplate shared
    * by everything would otherwise quadratically blow up the self-join),
    * then join-count on the hash. Shuffle volume is O(total fingerprints),
    * join fan-out is bounded by maxDocFreq per hash.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, threshold: Double = 0.5,
      maxDocFreq: Int = 100): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // exchange BEFORE the kernel — see shingleFrame
    val fp = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(par, col("id"))
      .select(col("id"),
        winnowFingerprint(col("__text"), k, w).as("fp"))
      .filter(size(col("fp")) > 0)
      .persist()
    val ex = fp.select(col("id"), explode(col("fp")).as("h"))
    val rare = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select(col("h"))
    val exRare = ex.join(rare, "h").persist()
    // containment is scored over the RETAINED hash universe: sizes must be
    // post-filter, or common-hash-heavy documents (small vocabulary corpora)
    // can never reach the threshold.
    val sizes = exRare.groupBy(col("id")).agg(count(lit(1)).as("nfp"))
    val shared = exRare.as("a")
      .join(exRare.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      // raw hash-match volume = the shuffle/compute the maxDocFreq filter
      // let through — the count that flags boilerplate blow-up at scale
      .observe(WinnowRawObservation, count(lit(1)).as("n_raw_matches"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .observe(WinnowPairsObservation, count(lit(1)).as("n_candidate_pairs"))
    val pairs = shared
      .join(sizes.select(col("id").as("id_a"), col("nfp").as("nfp_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("nfp").as("nfp_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("shared").cast("double") /
          least(col("nfp_a"), col("nfp_b")), 6).as("containment"))
      .filter(col("containment") >= threshold)
    Caching.materializeThenRelease(pairs, fp, exRare)
  }

  /** Near-duplicate removal end-to-end: given the corpus and its near-dup
    * pair list, keep only cluster representatives (the min-id member of each
    * component; documents in no pair survive untouched).
    */
  def keepRepresentatives(df: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    val dropIds = clusters(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id"))
    df.join(dropIds, df(idCol) === dropIds("id"), "left_anti")
  }

  /** Canonical selection: near-duplicate removal that keeps the BEST member
    * of each near-dup component by `scoreCol` (highest score, ties → lowest
    * id) instead of [[keepRepresentatives]]'s arbitrary min-id member — the
    * form curation pipelines actually want (keep the longest / highest-
    * quality copy of a near-dup group, drop the rest). Documents in no pair
    * survive untouched.
    *
    * Shape at scale: component labels come from the O(log² n) star passes
    * over the PAIR set (the clustered minority of a deduplicated corpus —
    * never the whole corpus); the argmax is one per-cluster window over
    * (id, cluster, score) rows only, then an anti-join drops the losers.
    * The corpus itself is scanned once and shuffled only by the anti-join's
    * id key; text/payload columns never enter the argmax shuffle.
    */
  def keepCanonical(df: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val labels = clustersStar(pairs) // (id, cluster = component min id)
    val scored = labels.join(
      df.select(col(idCol).as("id"), col(scoreCol).as("__s")), "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("__s").desc, col("id").asc)
    val losers = scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("id"))
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** Embedding near-dup pairs by cosine similarity (exact quadratic form for
    * bounded subsets; the ANN path lives in Similarity).
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // Norm computed once per vector; each pair costs one fused native dot.
    val v = df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", sqrt(vecDot(col("v"), col("v"))))
    val a = v.select(col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a"))
    val b = v.select(col("id").as("id_b"), col("v").as("v_b"), col("n").as("n_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(vecDot(col("v_a"), col("v_b")) /
          (col("n_a") * col("n_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Embedding near-dup pairs at scale: SRP-LSH bucketing with `nTables`
    * independent hash tables replaces the all-pairs join. Each vector lands
    * in one bucket per table (scan-side sign arithmetic); candidates are
    * pairs sharing a (table, bucket); exact cosine verifies them — so
    * precision is 1.0 by construction and only recall depends on the LSH
    * geometry (more tables → higher recall; measured against the exact form
    * in the spec suite and the driver contract row).
    *
    * Shuffle carries (table, bucket, id, vec) — nTables copies of the
    * vectors, vs the exact form's |V|²/2 pair fan-out; each bucket's join is
    * local to its partition. At 100 TB: corpus written bucket-partitioned
    * per table, candidate join is co-located, and nBits grows with corpus
    * size to keep buckets bounded.
    */
  /** The persisted SRP-LSH state of an embedding corpus snapshot: one
    * (tbl, bucket, id) row per table per vector — what an incremental
    * embedding near-dup pipeline stores between ingests (nTables
    * fixed-width rows per vector; no vectors). Build parameters ride as
    * column metadata so [[embeddingPairsLshIncremental]] can assert parity
    * (mismatched planes would silently empty the candidate set).
    */
  def srpIndex(df: DataFrame, idCol: String, vecCol: String,
      nBits: Int = 4, nTables: Int = 4, seed: Long = 19L): DataFrame = {
    // empty input (a no-new-vectors ingest cycle) is legal: dim 0 marks
    // "unknown" in the metadata, and the parity check skips it
    val dim = df.select(size(col(vecCol))).head(1).headOption
      .map(_.getInt(0)).getOrElse(0)
    srpIndexWithDim(df, idCol, vecCol, nBits, nTables, seed, dim)
  }

  private def srpIndexWithDim(df: DataFrame, idCol: String, vecCol: String,
      nBits: Int, nTables: Int, seed: Long, dim: Int): DataFrame = {
    val buildMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.srp.nBits", nBits)
      .putLong("graft.srp.nTables", nTables)
      .putLong("graft.srp.seed", seed)
      .putLong("graft.srp.dim", dim)
      .build()
    df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .select(col("id"), explode(array((0 until nTables).map { t =>
        struct(lit(t).as("tbl"),
          Similarity.srpBucket(col("v"),
            Similarity.planes(nBits, math.max(dim, 1), seed + t))
            .as("bucket"))
      }: _*)).as("tb"))
      .select(col("tb.tbl").as("tbl"),
        col("tb.bucket").as("bucket", buildMeta), col("id"))
  }

  /** Incremental embedding near-dup: pairs between a NEW batch and an
    * already-indexed corpus (via its persisted [[srpIndex]]) plus pairs
    * within the batch — WITHOUT re-hashing the corpus. Only the batch is
    * bucketed in full; of the corpus, only candidate vectors (those
    * sharing a (table, bucket) with a new vector) are re-read for the
    * exact-cosine verification, via a semi-join pushed to their scan.
    * Hyperplanes are seeded and deterministic, so the output equals a
    * from-scratch [[embeddingPairsLsh]] over corpus ∪ batch minus its
    * corpus-internal pairs — the driver contract asserts this exactly.
    */
  def embeddingPairsLshIncremental(newBatch: DataFrame, corpus: DataFrame,
      index: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nBits: Int = 4, nTables: Int = 4, seed: Long = 19L,
      cacheCand: Boolean = false, cacheVecs: Boolean = true): DataFrame = {
    val batchDim = newBatch.select(size(col(vecCol))).head(1).headOption
      .map(_.getInt(0)).getOrElse(0)
    index.schema.find(_.name == "bucket").map(_.metadata)
      .filter(_.contains("graft.srp.nBits")).foreach { m =>
        val (ib, it, is) = (m.getLong("graft.srp.nBits"),
          m.getLong("graft.srp.nTables"), m.getLong("graft.srp.seed"))
        // dim metadata arrived later than the other keys — an index
        // persisted by an older build lacks it; treat absence as unknown
        val idim = if (m.contains("graft.srp.dim"))
          m.getLong("graft.srp.dim") else 0L
        require(ib == nBits && it == nTables && is == seed,
          s"srp index was built with (nBits=$ib, nTables=$it, seed=$is) " +
            s"but queried with (nBits=$nBits, nTables=$nTables, seed=$seed)")
        // dim drift (schema change between ingests) would generate
        // different hyperplanes and silently empty the candidate set —
        // refuse it too; 0 marks an empty (dim-unknown) side and skips
        require(idim == 0 || batchDim == 0 || idim == batchDim,
          s"srp index was built on dim=$idim vectors " +
            s"but queried with dim=$batchDim")
      }
    // batchDim is already computed — thread it through so the batch is not
    // hit with a second dim-probe job
    val bandedNew = srpIndexWithDim(newBatch, idCol, vecCol, nBits, nTables,
      seed, batchDim).persist()
    val crossCand = bandedNew.as("n")
      .join(index.as("o"),
        col("n.tbl") === col("o.tbl") &&
        col("n.bucket") === col("o.bucket"))
      .select(least(col("o.id"), col("n.id")).as("id_a"),
        greatest(col("o.id"), col("n.id")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val newCand = bandedNew.as("a")
      .join(bandedNew.as("b"),
        col("a.tbl") === col("b.tbl") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // cand is referenced by both candOldIds union branches AND the final
    // pair join, but a persist here LOSES (r15 EmbIncAbProbe, removed; see
    // `git show e6d0d1b:src/main/scala/graft/tools/EmbIncAbProbe.scala`;
    // median-of-5:
    // cand+vecs 3.51 s, none 2.57, cand-only 3.09, vecs-only 1.86): within
    // the one materializing action Spark's exchange reuse already dedups
    // the identical cand subtrees, so the r14 persist only added block
    // materialization and a job barrier. Default off; toggleable so both
    // shapes stay measurable.
    val cand0 = crossCand.union(newCand).distinct()
    val cand = if (cacheCand) cand0.persist() else cand0
    // only candidate corpus vectors are re-read (semi-join prunes the scan)
    val newIds = newBatch.select(col(idCol).as("id"))
    val candOldIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
      .join(newIds, Seq("id"), "left_anti")
    // persist (lazy) for the same reason: the id_a and id_b attach joins
    // would otherwise each re-run the pruned corpus re-read.
    val vecs0 = newBatch.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .unionByName(
        corpus.join(candOldIds, corpus(idCol) === candOldIds("id"),
            "left_semi")
          .select(col(idCol).as("id"),
            col(vecCol).cast("array<double>").as("v")))
      .withColumn("n", sqrt(vecDot(col("v"), col("v"))))
    val vecs = if (cacheVecs) vecs0.persist() else vecs0
    val pairs = cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a"),
        col("n").as("n_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b"),
        col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(vecDot(col("v_a"), col("v_b")) /
          (col("n_a") * col("n_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)
    // no orderBy: the result is materialized right here, so a global sort
    // would pay a range-sampling pass + exchange per call; every consumer
    // (contracts, segment writes, the driver compare) is row-set-based.
    Caching.materializeThenRelease(pairs, bandedNew, cand, vecs)
  }

  /** Merge `b*` segment subdirs of DISJOINT rows — the streaming
    * embedding index's corpus/ and idx/ stores — into one segment `b-1`.
    * Unlike [[TextAnalysis.compactGramDf]]'s summing merge, rows here
    * pass through unchanged (each vector/band row lives in exactly one
    * batch segment), so compaction is purely scan-fan-in repair: a
    * long-running ingest accumulates one subdir per micro-batch and the
    * per-batch candidate read degrades with file count, not data. The
    * snapshot, swap and concurrency rules are [[Segments]]'.
    *
    * Schema metadata (the SRP parameter block on `bucket`) survives the
    * parquet round trip, so a compacted index still fails loudly on
    * parameter mismatch. At 100 TB keep the write partitioned (this
    * coalesces — segment stores here are batch-scaled, not corpus-scaled).
    */
  def compactSegmentDirs(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val store = Segments.open(spark, dir)
    if (store.ids.nonEmpty)
      store.replaceAll("b-1")(store.read().coalesce(1).write.parquet)
  }

  def embeddingPairsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 4, nTables: Int = 4,
      seed: Long = 19L): DataFrame = {
    // Candidates are generated NARROW — (tbl, bucket, id) only — and the
    // vectors are attached to the distinct id pairs afterwards, the same
    // shape as [[embeddingPairsLshIncremental]]. Two reasons, both
    // r11-profiled at sf1 (20k vectors, 7.4M collisions):
    //  (1) observe()'s CollectMetrics node does not participate in
    //      whole-stage codegen, so every join output row crosses an
    //      interpreter boundary; with both 64-double vectors carried
    //      through the bucket join that boundary cost 72 of the form's
    //      75 s — on 16-byte id pairs it is noise. Same metric, same
    //      count (raw collisions before the multi-table dedup).
    //  (2) the dedup-then-verify order computes ONE cosine per distinct
    //      pair instead of one per collision.
    val idx = srpIndex(df, idCol, vecCol, nBits, nTables, seed)
    val cand = idx.as("a")
      .join(idx.as("b"),
        col("a.tbl") === col("b.tbl") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      // bucket-collision volume BEFORE cosine verification: the count that
      // flags an under-sized nBits (bucket degeneracy) at scale
      .observe(EmbeddingLshCandObservation,
        count(lit(1)).as("n_candidates"))
      // a pair can collide in several tables — verify it once
      .distinct()
    val vecs = df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", sqrt(vecDot(col("v"), col("v"))))
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a"),
        col("n").as("n_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b"),
        col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(vecDot(col("v_a"), col("v_b")) /
          (col("n_a") * col("n_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }
}
