package graft.queries

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Staging
import graft.Tables.t
import graft.functions.HashExpressions.{simhash64, vecDot, winnowFingerprint,
  wordShingles}
import graft.operators.{Bpe, Chunking, Decontaminate, Dedup, Embeddings, Filtering, Multimodal, Packing, QualityModel, Redaction, Retrieval, Sampling, Segments, Selection, Similarity, Sketches, TextAnalysis}

/** Training-data pipeline operators (builder mandate + SURVEY.md §7.3):
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding),
  * similarity search (brute-force + SRP-LSH), text analysis, multimodal.
  *
  * Oracle scoping: the quadratic exact forms (all-pairs Jaccard / cosine) are
  * restricted to id < 300 so the DuckDB oracle stays cheap at every sf; the
  * LSH/ANN forms run on the full table — they are the 100 TB path — and are
  * verified through scalar-boolean CONTRACT rows (see `Contracts`): the
  * query proves its invariants distributed (subset equality vs the exact
  * form, recall floors, determinism) and dumps one row of booleans whose
  * oracle is literal TRUE, making them driver-checkable rather than
  * spec-only.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Corpus-sized SRP bucket count: 2^nBits buckets targeting ~100 vectors
    * each, so per-bucket candidate generation stays linear-ish in n instead
    * of quadratic (which is what any FIXED nBits degrades to as the corpus
    * grows). 500 vecs → 3 bits (≈62/bucket); 2 000 → 5 (≈62); a 10⁹-vector
    * corpus → 24 bits. Recall floors are re-swept per scale factor because
    * more bits lower per-table collision probability (NOTES.md lesson:
    * floors are scale-dependent).
    */
  /** Training may return fewer merges than requested only when the final
    * word table genuinely has no repeated adjacent pair (Bpe.trainOnWords'
    * stop condition) — the check the bpe_* contracts use instead of
    * comparing the merge count against a hardcoded request (ADVICE r8).
    */
  private def bpeEarlyStopLegitimate(
      words: org.apache.spark.sql.DataFrame): Boolean =
    graft.operators.Bpe.maxPairCount(words) < 2

  private def lshBits(nVecs: Long, targetBucket: Long = 100L): Int =
    math.max(3, math.ceil(
      math.log(math.max(1L, nVecs / targetBucket).toDouble) / math.log(2)).toInt)

  val queries: Map[String, Q] = Map(
    // --- Deduplication ------------------------------------------------------
    // Exact dedup over an input with real duplicates (documents ∪ documents):
    // keep the lowest doc_id per distinct content, key = md5(text).
    "dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.exact(docs.union(docs), "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "dedup_exact_groups" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.union(docs)
        .groupBy(md5(col("text")).as("content_key"))
        .agg(count(lit(1)).as("copies"), min(col("doc_id")).as("keep_id"))
        .orderBy(col("keep_id"))
    }),

    // Quadratic n-gram Jaccard on a bounded subset (oracle-checkable).
    "ngram_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 300),
        "doc_id", "text", threshold = 0.3)),

    // EXACT similarity self-join over the FULL documents table — prefix
    // filtering (PPJoin-family) generates candidates from each record's
    // rarest shingles only, so unlike jaccardPairs there is no quadratic
    // pass and unlike minhashPairs there are no false negatives. The DuckDB
    // oracle recomputes every qualifying pair independently via a
    // shared-shingle equi-join, so this row certifies EXACTNESS of the
    // pruned plan, not just plausibility.
    "jaccard_prefix_join" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.5)),

    // Pairs → clusters: connected components over the exact-Jaccard edge set
    // (bounded subset so the recursive-CTE oracle stays cheap); each node
    // reports the min doc_id of its component.
    "dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(
        Dedup.jaccardPairs(
          t(s, dir, "documents").filter(col("doc_id") < 300),
          "doc_id", "text", threshold = 0.3))
        .orderBy(col("id"))),

    // Same component problem solved by the O(log² n)-round alternating
    // large-star/small-star algorithm — the formulation that survives giant
    // components (label propagation needs diameter-many rounds). Oracle is
    // identical to dedup_clusters; DedupSpec covers the giant-component case
    // (500-node path) the bounded oracle subset can't produce.
    "dedup_clusters_star" -> ((s, dir) =>
      Dedup.clustersStar(
        Dedup.jaccardPairs(
          t(s, dir, "documents").filter(col("doc_id") < 300),
          "doc_id", "text", threshold = 0.3))
        .orderBy(col("id"))),

    // Recurring-ingest cluster resolution: the star forest from a previous
    // run is a compressed mergeable state — folding a new batch of pairs
    // in costs O(log²) rounds over forest ∪ batch, never a rescan of the
    // historical edge set. The oracle resolves ALL pairs from scratch
    // (same recursive CTE as dedup_clusters), so the hash compare proves
    // incremental ≡ full-recompute including cross-old-cluster bridges.
    "dedup_clusters_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        threshold = 0.3).localCheckpoint()
      val initial = pairs.filter(col("id_b") < 200)
      val batch = pairs.filter(col("id_b") >= 200)
      val labels0 = Dedup.clustersStar(initial).localCheckpoint()
      Dedup.clustersStarIncremental(labels0, batch).orderBy(col("id"))
    }),

    // The complete near-dup removal: corpus minus non-representative cluster
    // members, using the exact-Jaccard edge set on the bounded subset.
    "dedup_near_keep" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
      Dedup.keepRepresentatives(docs,
          Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.3), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Canonical selection: same near-dup components, but the survivor of
    // each cluster is the BEST member (longest text, tie → lowest id) —
    // the keep-the-highest-quality-copy form curation pipelines want,
    // vs dedup_near_keep's arbitrary min-id representative. The oracle
    // replays components (recursive CTE) + the per-cluster argmax window.
    "dedup_canonical" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
      Dedup.keepCanonical(docs,
          Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.3),
          "doc_id", "n_chars")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Incremental exact dedup across snapshots: the new batch anti-joins
    // the previous snapshot's 16-byte content-key table, then dedups
    // within itself. The batch plants re-ingested copies of 30 already-
    // seen documents under fresh ids — every one must be filtered — and
    // the oracle rebuilds the same funnel in SQL.
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val b1 = docs.filter(col("doc_id") < 250)
      val b2 = docs.filter(col("doc_id") >= 250)
        .unionByName(docs.filter(col("doc_id") < 30)
          .withColumn("doc_id", col("doc_id") + 9000000L))
      Dedup.exactIncremental(b2, "text", "doc_id",
          Dedup.contentKeys(b1, "text"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Incremental MinHash near-dup: the new batch (top 20% of ids) bands
    // against the corpus's persisted band index; only candidate corpus
    // docs are re-read for verification. Banding is deterministic, so the
    // contract asserts EXACT set equality with a from-scratch full run
    // minus its corpus-internal pairs.
    "dedup_minhash_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val split = docs.agg(floor(max(col("doc_id")) * 0.8)).head().getLong(0)
      val corpus = docs.filter(col("doc_id") < split)
      val batch = docs.filter(col("doc_id") >= split)
      val idx = Dedup.bandIndex(corpus, "doc_id", "text").localCheckpoint()
      val inc = Dedup.minhashPairsIncremental(batch, corpus, idx,
        "doc_id", "text", threshold = 0.3).localCheckpoint()
      val full = Dedup.minhashPairs(docs, "doc_id", "text",
        threshold = 0.3).localCheckpoint()
      // a pair touches the batch iff its LARGER id is in the batch
      val expected = full.filter(col("id_b") >= split)
      Contracts.row(s,
        "n_batch" -> batch.count(),
        "ids_ordered_ok" -> Contracts.forAll(inc, col("id_a") < col("id_b")),
        "matches_full_run_ok" -> Contracts.sameKeys(inc, expected,
          Seq("id_a", "id_b", "jaccard")),
        "nonvacuous_ok" -> (expected.count() >= 1L))
    }),

    // Duplicated-substring spans over the full corpus: maximal per-doc runs
    // of 8-token windows whose text recurs in ≥2 distinct documents — the
    // distributed form of suffix-array substring dedup, emitted as a
    // per-document cut list. The oracle rebuilds the identical spans in SQL
    // from the gram strings (frequency pass + gaps-and-islands merge), so
    // this is a FULL row/hash equality check, not a contract row.
    "dedup_repeated_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 8, minDocs = 2)),

    // The cut-list APPLIED: every token inside a duplicated span is
    // dropped and survivors re-join — per-doc cleaned text + tokens-cut
    // accounting, full row/hash equality vs the oracle's composed
    // spans+cut SQL.
    "dedup_span_cut" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val spans = Dedup.repeatedSpans(docs, "doc_id", "text",
        k = 8, minDocs = 2)
      Dedup.cutSpans(docs, "doc_id", "text", spans).orderBy(col("doc_id"))
    }),

    // MinHash+LSH near-dup pairs on the FULL table — the scale path. The
    // contract claims are the ones banding can actually GUARANTEE:
    // precision is deterministic (candidates are verified with exact
    // Jaccard, so every emitted pair is an exact pair), and recall is
    // asserted only for STRONG pairs (exact Jaccard ≥ 0.9), where the
    // 16-band × r=4 miss probability is (1-0.9⁴)¹⁶ ≈ 4·10⁻⁸ — effectively
    // deterministic. At Jaccard 0.7 the per-pair miss is already ~1.2%
    // (this failed a sweep at sf0.1), and exact set equality would fail on
    // any marginal pair near the 0.3 threshold. The recovery claim is
    // vacuously true when the BOUNDED subset holds no strong pair (their
    // doc_ids scale with table size); non-vacuous coverage is pinned at
    // sf0.01 — the driver's gate — and in DedupSpec.
    "dedup_minhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // operator outputs are materialized ONCE (each contract boolean
      // below re-reads them; without the cut every scalar re-runs the plan)
      val mh = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.3)
        .localCheckpoint()
      val exact = Dedup.jaccardPairs(docs.filter(col("doc_id") < 300),
        "doc_id", "text", threshold = 0.3).localCheckpoint()
      val mhSub = mh.filter(col("id_a") < 300 && col("id_b") < 300)
      val strong = exact.filter(col("jaccard") >= 0.9)
      Contracts.row(s,
        "n_docs" -> docs.count(),
        "pairs_found_ok" -> (mh.count() >= 1L),
        "ids_ordered_ok" -> Contracts.forAll(mh, col("id_a") < col("id_b")),
        "precision_ok" -> mhSub
          .join(exact, Seq("id_a", "id_b"), "left_anti").isEmpty,
        "strong_pairs_recovered_ok" ->
          strong.join(mhSub, Seq("id_a", "id_b"), "left_anti").isEmpty)
    }),

    // Substring-containment via winnowing fingerprints. Contract: on the
    // full table the pair list is well-formed and non-empty; and for a
    // planted wrapped-copy corpus (every doc embedded in fresh pre/suffix
    // text under shifted ids) the operator recovers every (original,
    // wrapped) pair at the threshold — the defining containment property,
    // which whole-document Jaccard misses.
    "winnow_containment_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cp = Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.6)
        .localCheckpoint()
      val base = docs.filter(col("doc_id") < 50 && length(col("text")) >= 200)
        .select(col("doc_id"), col("text"))
      val wrapped = base.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("aurora vat "), col("text"), lit(" mox zephyr")).as("text"))
      val planted = Dedup.containmentPairs(base.union(wrapped),
        "doc_id", "text", threshold = 0.6)
      val expected = base.select(col("doc_id").as("id_a"),
        (col("doc_id") + 1000000L).as("id_b"))
      val recovered = expected.join(planted, Seq("id_a", "id_b"), "left_anti")
        .isEmpty && !expected.isEmpty
      Contracts.row(s,
        "n_docs" -> docs.count(),
        "pairs_found_ok" -> (cp.count() >= 1L),
        "scores_in_range_ok" -> Contracts.forAll(cp,
          col("containment") > 0.0 && col("containment") <= 1.0 &&
            col("id_a") < col("id_b")),
        "wrapped_copies_recovered_ok" -> recovered)
    }),

    // SimHash banding + Hamming verification. 4×16-bit banding guarantees
    // recall 1.0 for Hamming ≤ 3 (pigeonhole: ≤3 differing bits leave ≥1
    // band intact), so the banded pair set must EQUAL the brute-force
    // all-pairs Hamming scan on the bounded subset — checked exactly.
    "dedup_simhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
        .localCheckpoint()
      val fp = docs.filter(col("doc_id") < 300)
        .select(col("doc_id").as("id"),
          simhash64(split(trim(lower(col("text"))), "\\s+")).as("fp"))
      val brute = fp.as("a").join(fp.as("b"), col("a.id") < col("b.id"))
        .filter(bit_count(col("a.fp").bitwiseXOR(col("b.fp"))) <= 3)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .localCheckpoint()
      val shSub = sh.filter(col("id_a") < 300 && col("id_b") < 300)
      Contracts.row(s,
        "n_docs" -> docs.count(),
        "pairs_found_ok" -> (sh.count() >= 1L),
        "hamming_bounded_ok" -> Contracts.forAll(sh,
          col("hamming") >= 0 && col("hamming") <= 3),
        "subset_equals_bruteforce_ok" ->
          Contracts.sameKeys(shSub, brute, Seq("id_a", "id_b")))
    }),

    // Embedding cosine near-dup pairs, bounded subset (oracle-checkable).
    "dedup_embedding_pairs" -> ((s, dir) =>
      Dedup.embeddingPairs(
        t(s, dir, "embeddings").filter(col("vec_id") < 300),
        "vec_id", "embedding", threshold = 0.4)),

    // Embedding near-dup at scale: SRP-LSH bucketing (8 independent tables)
    // replaces the all-pairs join; exact cosine verifies candidates. The
    // contract proves precision = 1 exactly (every found pair IS an exact
    // pair — checked by set containment against the quadratic form on the
    // bounded subset) and recall clears a sweep-derived floor (planted
    // near-dups at cos≈1 collide in every table regardless of nBits).
    // nBits is derived from the corpus count so buckets stay ~100 vectors
    // as the corpus grows — a FIXED bucket count makes the per-bucket
    // self-join quadratic in n (the round-3 scale finding).
    "dedup_embedding_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lsh = Dedup.embeddingPairsLsh(emb, "vec_id", "embedding",
        threshold = 0.4, nBits = lshBits(emb.count()), nTables = 8)
        .localCheckpoint()
      val lshSub = lsh.filter(col("id_a") < 300 && col("id_b") < 300)
        .localCheckpoint()
      val exact = Dedup.embeddingPairs(emb.filter(col("vec_id") < 300),
        "vec_id", "embedding", threshold = 0.4).localCheckpoint()
      val hit = exact.select(col("id_a"), col("id_b"))
        .join(lshSub.select(col("id_a"), col("id_b")),
          Seq("id_a", "id_b"), "left_semi").count()
      val nExact = exact.count()
      Contracts.row(s,
        "n_vecs" -> emb.count(),
        "pairs_well_formed_ok" -> Contracts.forAll(lsh,
          col("id_a") < col("id_b") && col("cos") >= 0.4),
        "precision_exact_ok" -> lshSub
          .join(exact, Seq("id_a", "id_b"), "left_anti").isEmpty,
        "recall_ok" -> (nExact > 0 && hit.toDouble / nExact >= 0.6))
    }),

    // Incremental embedding near-dup against a persisted SRP index: only
    // the new batch is hashed; corpus candidates are re-read via semi-join
    // prune. Hyperplanes are seeded, so the contract asserts EXACT set
    // equality with the batch-touching pairs of a from-scratch full run —
    // the recurring-ingest form of embedding dedup.
    "dedup_embedding_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val nBits = lshBits(emb.count())
      val split = emb.agg(floor(max(col("vec_id")) * 0.8)).head().getLong(0)
      val corpus = emb.filter(col("vec_id") < split)
      val batch = emb.filter(col("vec_id") >= split)
      val idx = Dedup.srpIndex(corpus, "vec_id", "embedding",
        nBits = nBits, nTables = 8).localCheckpoint()
      val inc = Dedup.embeddingPairsLshIncremental(batch, corpus, idx,
        "vec_id", "embedding", threshold = 0.4, nBits = nBits, nTables = 8)
        .localCheckpoint()
      val full = Dedup.embeddingPairsLsh(emb, "vec_id", "embedding",
        threshold = 0.4, nBits = nBits, nTables = 8).localCheckpoint()
      val expected = full.filter(col("id_b") >= split)
      Contracts.row(s,
        "n_vecs" -> emb.count(),
        "pairs_well_formed_ok" -> Contracts.forAll(inc,
          col("id_a") < col("id_b") && col("cos") >= 0.4),
        "equals_full_run_batch_pairs_ok" ->
          (Contracts.sameKeys(inc.select(col("id_a"), col("id_b")),
            expected.select(col("id_a"), col("id_b")),
            Seq("id_a", "id_b")) &&
            inc.count() == expected.count()))
    }),

    // --- Similarity search --------------------------------------------------
    "sim_bruteforce_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
    }),

    // Contrastive triplet mining: anchors with an in-band positive
    // (cos ≥ 0.4, the dedup_embedding_pairs band) paired with their top-3
    // hardest negatives below the band. The one quadratic candidate pass is
    // anchor-bounded and checkpointed once for both windows; full SQL
    // oracle replays banding + both windows on the same rounded cosines.
    "contrastive_triplets" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegativeTriplets(emb, emb.filter(col("vec_id") < 50),
          "vec_id", "embedding", k = 3, posThreshold = 0.4)
        .orderBy(col("anchor"), col("rank"))
    }),

    // nBits sizes the bucket count to the corpus: 2^4 here (hundreds of
    // vectors); a 100 TB corpus would use 2^16+ and partition by bucket.
    // nProbe=6 margin-guided probes touch 6/16 buckets (~37% of the corpus;
    // measured recall 0.54 on this gaussian worst-case data, monotone in
    // nProbe: 0.14/1 → 0.42/4 → 0.66/8). Contract: well-formed ranks, every
    // returned score matches an exact recomputation through the interpreted
    // HOF path (cross-implementation check of the native vec_dot kernel),
    // and recall@5 vs brute force clears the floor for this geometry.
    "sim_srp_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val srp = Similarity.srpTopK(emb, q, "vec_id", "embedding",
        k = 5, nBits = 4, nProbe = 6).localCheckpoint()
      val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
        k = 5).localCheckpoint()
      Contracts.row(s,
        "n_queries" -> q.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(srp, "qid", "rank", 5),
        "scores_exact_ok" -> scoresMatchExact(srp, emb),
        "recall_ok" -> (Contracts.recall(srp, brute) >= 0.4))
    }),

    // JL projection composed INTO the ANN ladder: corpus + queries are
    // sign-matrix-projected 64 -> 32 dims (2x fewer stored/shuffled bytes
    // — the compression move BEFORE indexing), the SRP shortlist runs
    // entirely in the projected space (every hyperplane dot is 32-d), and
    // the shortlist reranks by EXACT cosine in the original space — the
    // standard compressed-domain serving shape: cheap wide recall, exact
    // narrow precision. Swept (JlProbe): at dOut=32 the SRP shortlist
    // recovers ~the projected-space brute CEILING (0.54 vs 0.56 at
    // sf0.01, 0.66 vs 0.68 at sf0.1) — the residual loss IS the JL
    // distortion, not the index; the gaussian worst-case geometry needs
    // an n/10 shortlist (real clustered corpora need far less). The
    // shortlist scales with the corpus (fixed k was the semantic_dedup
    // lesson: a constant shortlist makes recall decay with n and the
    // contract would measure the harness, not the operator). Contract:
    // well-formed ranks, served scores match exact recomputation (rerank
    // IS original-space), recall@5 vs original-space brute force >= 0.4
    // (measured 0.50/0.54/0.66 at the three sfs).
    "sim_jl_srp_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") < 10)
      val served = jlSrpServed(s, dir).localCheckpoint()
      val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
        k = 5).localCheckpoint()
      Contracts.row(s,
        "n_queries" -> q.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(served, "qid", "rank", 5),
        "scores_exact_ok" -> scoresMatchExact(served, emb),
        "recall_ok" -> (Contracts.recall(served, brute) >= 0.4))
    }),

    // Margin-guided MULTI-PROBE composed over the JL-COMPRESSED serving
    // pipeline (r13 verdict #4): the same 64→32 projection + SRP
    // shortlist + exact original-space rerank as sim_jl_srp_topk, graded
    // at nProbe=1 (the query's own bucket only) AGAINST the nProbe=10
    // margin-guided 1/2-bit flip sequence — all probe cost paid in the
    // PROJECTED space (every flip decision reads the 32-d margins), the
    // compressed-domain shape that matters at 100 TB where the projected
    // corpus is the only thing bucket-partitioned and resident. Contract:
    // both servings well-formed and exact-rerank-verified, multi-probe
    // recall@5 vs ORIGINAL-space brute force STRICTLY above the
    // single-probe serving's (measured via JlMultiProbe, removed; see
    // `git show e6d0d1b:src/main/scala/graft/tools/JlMultiProbe.scala`:
    // single 0.12/0.22/0.22 vs multi 0.66/0.50/0.54 at sf0.1/0.01/0.001,
    // monotone through the ladder 1->2->4->6) and above the serving
    // row's 0.4 floor.
    "sim_jl_srp_multiprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") < 10)
      val single = jlSrpServed(s, dir, nProbe = 1).localCheckpoint()
      val multi = jlSrpServed(s, dir, nProbe = 10).localCheckpoint()
      val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
        k = 5).localCheckpoint()
      val rSingle = Contracts.recall(single, brute)
      val rMulti = Contracts.recall(multi, brute)
      Contracts.row(s,
        "n_queries" -> q.count(),
        "ranks_ok" -> (Contracts.ranksWellFormed(multi, "qid", "rank", 5) &&
          Contracts.ranksWellFormed(single, "qid", "rank", 5)),
        "scores_exact_ok" ->
          (scoresMatchExact(multi, emb) && scoresMatchExact(single, emb)),
        "multi_beats_single_ok" -> (rMulti > rSingle),
        "recall_ok" -> (rMulti >= 0.4))
    }),

    // IVF coarse-quantizer ANN with Lloyd refinement. Same contract shape.
    // On structureless gaussian data IVF recall ≈ the probed corpus
    // fraction, so nProbe=6 of 16 (~37%) is what keeps the floor
    // scale-stable: measured recall 0.62 at sf0.01 AND 0.66 at sf0.1
    // (nProbe=4 sat at 0.48-0.50 — under the floor at the larger scale).
    "sim_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 6, trainIters = 2).localCheckpoint()
      val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
        k = 5).localCheckpoint()
      Contracts.row(s,
        "n_queries" -> q.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(ivf, "qid", "rank", 5),
        "scores_exact_ok" -> scoresMatchExact(ivf, emb),
        "recall_ok" -> (Contracts.recall(ivf, brute) >= 0.5))
    }),

    // PQ (product-quantization) top-k: 16-byte codes + native ADC scoring
    // + exact re-rank of the 8k-shortlist. Params swept at sf0.001/0.01/0.1
    // via PqSweep (removed; see
    // `git show e6d0d1b:src/main/scala/graft/tools/PqSweep.scala`;
    // recall 0.88/0.82/0.84, floor 0.6 — the
    // round-2 lesson: statistical floors are scale-dependent, sweep first).
    "sim_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val pq = Similarity.pqTopK(emb, q, "vec_id", "embedding",
        k = 5, m = 16, shortlistFactor = 8).localCheckpoint()
      val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
        k = 5).localCheckpoint()
      Contracts.row(s,
        "n_queries" -> q.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(pq, "qid", "rank", 5),
        "scores_exact_ok" -> scoresMatchExact(pq, emb),
        "recall_ok" -> (Contracts.recall(pq, brute) >= 0.6))
    }),

    // SQ8 (scalar-quantization) top-k: uint8 codes against global per-dim
    // ranges — the 4× serving tier below PQ's 32× when near-lossless
    // recall is required. The approximate score is decode-free (affine
    // algebra folds the ranges into a per-query bias + Δ-scaled weights),
    // so the exhaustive scan reads only (id, codes). 8-bit quantization of
    // unit vectors is near-lossless for cosine ordering: floor 0.9, swept
    // green at sf0.01 and sf0.1.
    "sim_sq8_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val sq = Similarity.sq8TopK(emb, q, "vec_id", "embedding", k = 5)
        .localCheckpoint()
      val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
        k = 5).localCheckpoint()
      Contracts.row(s,
        "n_queries" -> q.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(sq, "qid", "rank", 5),
        "scores_exact_ok" -> scoresMatchExact(sq, emb),
        "recall_ok" -> (Contracts.recall(sq, brute) >= 0.9))
    }),

    // All-pairs kNN similarity graph + mutual-kNN density clusters — the
    // corpus-wide construction (every node's top-k neighbors via one cached
    // norm+centroid-score pass and a bucket-key self-join), distinct from
    // the query→corpus top-k families above. Contract: ranks well-formed,
    // edge recall vs the exact all-pairs graph, mutual edges present in the
    // kNN set in BOTH directions, cluster labels = min member id over
    // exactly the mutual-edge node set, and the trainIters=0 edge set
    // partition-invariant (deterministic seeded init + fixed-order kernels).
    // Recall floor 0.6 from KnnSweep (removed; see
    // `git show e6d0d1b:src/main/scala/graft/tools/KnnSweep.scala`):
    // (16, 6, 2) measures 0.69-0.73
    // at sf0.001/0.01/0.1.
    "sim_knn_graph" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = Similarity.knnGraph(emb, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 6).localCheckpoint()
      val exact = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding",
        k = 5)
        .select(col("qid").as("src"), col("nid").as("dst"))
        .localCheckpoint()
      val mutual = Similarity.mutualKnnEdges(knn).localCheckpoint()
      val clusters = Similarity.knnClusters(knn).localCheckpoint()
      val edges = knn.select(col("src"), col("dst"))
      val mutualNodes = mutual.select(col("src").as("id"))
        .union(mutual.select(col("dst").as("id"))).distinct()
      val det0 = Similarity.knnGraph(emb, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 6, trainIters = 0).localCheckpoint()
      val det13 = Similarity.knnGraph(emb.repartition(13), "vec_id",
        "embedding", k = 5, nCentroids = 16, nProbe = 6, trainIters = 0)
      // NN-descent form (the bench/scale construction): same recall floor
      // vs the same exact graph, and partition-invariant end to end
      // (seeded hash-ordered in-neighbor cap, rounded scores, id
      // tie-breaks — trainIters = 0 by default).
      val descent = Similarity.knnGraphDescent(emb, "vec_id", "embedding",
        k = 5).localCheckpoint()
      val descent7 = Similarity.knnGraphDescent(emb.repartition(7),
        "vec_id", "embedding", k = 5)
      Contracts.row(s,
        "n_vecs" -> emb.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(knn, "src", "rank", 5),
        "recall_ok" ->
          (Contracts.recall(knn, exact, "src", "dst") >= 0.6),
        "descent_ranks_ok" ->
          Contracts.ranksWellFormed(descent, "src", "rank", 5),
        "descent_recall_ok" ->
          (Contracts.recall(descent, exact, "src", "dst") >= 0.6),
        "descent_partition_invariant_ok" -> Contracts.sameKeys(descent,
          descent7, Seq("src", "rank", "dst")),
        "mutual_reciprocal_ok" -> (!mutual.isEmpty &&
          mutual.select(col("src"), col("dst"))
            .join(edges, Seq("src", "dst"), "left_anti").isEmpty &&
          mutual.select(col("dst").as("src"), col("src").as("dst"))
            .join(edges, Seq("src", "dst"), "left_anti").isEmpty),
        "cluster_label_min_ok" -> (Contracts.forAll(
            clusters.groupBy(col("cluster")).agg(min(col("id")).as("mn")),
            col("cluster") === col("mn")) &&
          Contracts.sameKeys(clusters.select(col("id")), mutualNodes,
            Seq("id"))),
        "partition_invariant_ok" -> Contracts.sameKeys(det0, det13,
          Seq("src", "rank", "dst")))
    }),

    // Incremental kNN-graph maintenance: fold the top-10%-of-ids batch
    // into a graph built on the other 90% — the daily-embedding-drop
    // shape, completing the incremental family. Contract: recall of the
    // UPDATED graph vs the exact graph on the full corpus holds the same
    // 0.6 floor as the from-scratch build, ranks well-formed, every new
    // node integrated, at least one old node adopted a new neighbor (the
    // maintenance is real, not append-only), and the whole pass is
    // partition-invariant.
    "sim_knn_graph_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").localCheckpoint()
      val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
      val cut = (maxId * 9) / 10
      val base = emb.filter(col("vec_id") <= cut)
      val batch = emb.filter(col("vec_id") > cut)
      val baseGraph = Similarity.knnGraphDescent(base, "vec_id",
        "embedding", k = 5).localCheckpoint()
      val updated = Similarity.knnGraphIncremental(baseGraph, base, batch,
        "vec_id", "embedding", k = 5).localCheckpoint()
      val exact = Similarity.bruteForceTopK(emb, emb, "vec_id",
          "embedding", k = 5)
        .select(col("qid").as("src"), col("nid").as("dst"))
        .localCheckpoint()
      val updated7 = Similarity.knnGraphIncremental(baseGraph,
        base.repartition(7), batch.repartition(3), "vec_id", "embedding",
        k = 5)
      Contracts.row(s,
        "n_vecs" -> emb.count(),
        "n_new" -> batch.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(updated, "src", "rank", 5),
        "recall_ok" ->
          (Contracts.recall(updated, exact, "src", "dst") >= 0.6),
        "new_nodes_integrated_ok" -> batch
          .select(col("vec_id").as("src"))
          .join(updated.select(col("src")).distinct(), Seq("src"),
            "left_anti").isEmpty,
        "old_adopts_new_ok" -> (updated
          .filter(col("src") <= cut && col("dst") > cut).count() > 0L),
        "partition_invariant_ok" -> Contracts.sameKeys(updated, updated7,
          Seq("src", "rank", "dst")))
    }),

    // PCA / whitening: one typed-Aggregator covariance pass (KB buffers
    // shuffle, never vectors), driver-side Jacobi eigendecomposition,
    // literal-component projection. Contract: components orthonormal,
    // Johnson–Lindenstrauss sign-matrix projection (Achlioptas 2003):
    // 64 → 32 dims as 32 native vec_dot kernels against broadcast literal
    // sign vectors regenerated from the seed — scan-side, shuffle-free,
    // nothing to ship. Contract: on ALL pairs of the first 40 vectors
    // (the bounded-quadratic verification baseline, sim_bruteforce's
    // posture), squared-distance ratios concentrate where the JL lemma
    // puts them for dOut=32 (unbiased mean, quantile envelope), and the
    // projection is partition-invariant.
    "embedding_jl_project" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val proj = graft.operators.Embeddings
        .jlProject(emb, "embedding", dIn = 64, dOut = 32)
        .localCheckpoint()
      val sub = proj.filter(col("vec_id") < 40)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("embedding"),
          col("proj"))
      def d2(a: String, b: String) =
        vecDot(col(a), col(a)) -
          vecDot(col(a), col(b)) * 2 +
          vecDot(col(b), col(b))
      val pairs = sub.as("a").join(sub.as("b"),
          col("a.id") < col("b.id"))
        .select(
          d2("a.embedding", "b.embedding").as("d2o"),
          d2("a.proj", "b.proj").as("d2p"))
        .filter(col("d2o") > 0)
        .select((col("d2p") / col("d2o")).as("r"))
        .localCheckpoint()
      val st = pairs.agg(avg(col("r")),
        expr("percentile(r, 0.05)"), expr("percentile(r, 0.5)"),
        expr("percentile(r, 0.95)")).head()
      val again = graft.operators.Embeddings
        .jlProject(emb.repartition(7), "embedding", dIn = 64, dOut = 32)
      Contracts.row(s,
        "n_vecs" -> emb.count(),
        "mean_unbiased_ok" ->
          (st.getDouble(0) > 0.85 && st.getDouble(0) < 1.15),
        "distortion_envelope_ok" ->
          (st.getDouble(1) >= 0.4 && st.getDouble(2) >= 0.75 &&
            st.getDouble(2) <= 1.25 && st.getDouble(3) <= 1.9),
        "partition_invariant_ok" ->
          (Contracts.checksum(proj) == Contracts.checksum(again)))
    }),

    // eigenvalues decreasing, DISTRIBUTED projected variance per coordinate
    // equals its eigenvalue, whitening normalizes it to 1, and the
    // projection is partition-invariant (rounded checksum).
    "embedding_pca" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val k = 8
      val model = Embeddings.fitPca(emb, "embedding", k)
      def rounded(df: org.apache.spark.sql.DataFrame) =
        Embeddings.project(df, "embedding", model)
          .select(col("vec_id"),
            expr("transform(pc, x -> round(x, 6))").as("pcr"))
      val proj = Embeddings.project(emb, "embedding", model)
        .localCheckpoint()
      val ortho = model.components.indices.forall { i =>
        model.components.indices.forall { j =>
          val d = model.components(i).zip(model.components(j))
            .map { case (a, b) => a * b }.sum
          math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-8
        }
      }
      val decreasing = model.eigenvalues.sliding(2)
        .forall(p => p.length < 2 || p(0) >= p(1) - 1e-12)
      val vrow = proj
        .select((0 until k).map(i => var_pop(col("pc")(i))): _*).head()
      val varMatch = (0 until k).forall(i =>
        math.abs(vrow.getDouble(i) - model.eigenvalues(i)) <=
          1e-6 * math.max(model.eigenvalues(i), 1.0))
      val wrow = Embeddings.project(emb, "embedding", model, whiten = true)
        .select((0 until k).map(i => var_pop(col("pc")(i))): _*).head()
      val whiteOk = (0 until k).forall(i =>
        math.abs(wrow.getDouble(i) - 1.0) < 1e-6)
      Contracts.row(s,
        "n_vectors" -> model.n,
        "components_orthonormal_ok" -> ortho,
        "eigen_decreasing_ok" -> decreasing,
        "projected_variance_matches_ok" -> varMatch,
        "whitened_unit_variance_ok" -> whiteOk,
        "projection_partition_invariant_ok" ->
          (Contracts.checksum(rounded(emb)) ==
            Contracts.checksum(rounded(emb.repartition(13)))))
    }),

    // Spherical k-means corpus bucketing. Contract: every vector lands in
    // a cluster, centroids are unit-norm, training IMPROVED the objective
    // (mean cosine to the assigned centroid vs the untrained init — both
    // computed distributedly), and assignments are partition-invariant.
    "embedding_kmeans" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val k = 8
      val (assigned, cent) = Embeddings.kmeans(emb, "vec_id", "embedding",
        k = k, iters = 3)
      val (_, centInit) = Embeddings.kmeans(emb, "vec_id", "embedding",
        k = k, iters = 0)
      def meanSim(df: org.apache.spark.sql.DataFrame,
          cs: Array[Array[Double]]): Double = {
        val v = col("embedding").cast("array<double>")
        val best = greatest(cs.map(c =>
          vecDot(v, typedlit(c.toSeq)) /
            sqrt(vecDot(v, v))): _*)
        df.select(avg(best)).head().getDouble(0)
      }
      val ass = assigned.localCheckpoint()
      Contracts.row(s,
        "n_vectors" -> emb.count(),
        "all_assigned_ok" -> (ass.filter(col("cluster").isNull).count() == 0L),
        "k_bounded_ok" -> {
          val nd = ass.select(count_distinct(col("cluster"))).head().getLong(0)
          nd >= 2 && nd <= k
        },
        "centroids_unit_ok" -> cent.forall(c =>
          math.abs(c.map(x => x * x).sum - 1.0) < 1e-9),
        "training_improves_objective_ok" ->
          (meanSim(emb, cent) >= meanSim(emb, centInit) - 1e-9),
        // invariance of the ASSIGNMENT step under the fitted centroids:
        // re-fitting on a repartitioned corpus would aggregate the Lloyd
        // update's double sums in a partition-dependent order, so a
        // near-tie vector could flip clusters by ulps — a flaky claim by
        // construction. Assignment against fixed centroid literals is a
        // per-row argmax with no aggregation: provably partition-invariant.
        "assignments_partition_invariant_ok" -> {
          val a2 = Embeddings.assign(emb.repartition(13), "vec_id",
            "embedding", cent)
          Contracts.sameKeys(ass.select(col("vec_id"), col("cluster")),
            a2.select(col("vec_id"), col("cluster")),
            Seq("vec_id", "cluster"))
        })
    }),

    // Cluster-balanced sampling COMPOSED: spherical k-means buckets the
    // corpus semantically, then each cluster yields its `kPer` smallest
    // salted-md5 ranks — diversity sampling (cap any one topic's share)
    // from two already-verified operators. Contract: per-cluster take is
    // exactly min(kPer, cluster size) and the sample is a subset of the
    // corpus.
    "cluster_balanced_sample" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (assigned, _) = Embeddings.kmeans(emb, "vec_id", "embedding",
        k = 8, iters = 2)
      val ass = assigned.localCheckpoint()
      val kPer = 20L
      val sampled = Sampling.topKPerGroup(ass, "cluster", "vec_id",
        kPer, "cb").localCheckpoint()
      val sizes = ass.groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
      val got = sampled.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"))
        .select(col("cluster").as("gc"), col("n"))
      // null-safe key: a zero-norm vector gets a null cluster (kmeans
      // filters it from training), and Seq-join equality would strand it
      val countsOk = sizes
        .join(got, sizes("cluster") <=> got("gc"), "left")
        .filter(coalesce(col("n"), lit(0L)) =!=
          least(col("sz"), lit(kPer))).isEmpty
      Contracts.row(s,
        "n_vectors" -> emb.count(),
        "per_cluster_counts_ok" -> countsOk,
        "subset_ok" -> sampled.select(col("vec_id"))
          .join(emb, Seq("vec_id"), "left_anti").isEmpty)
    }),

    // SemDeDup-style semantic dedup: k-means clusters bound the quadratic
    // (the (n/k)² within-cluster join is the only pair generation — no n²
    // anywhere), components resolve via the giant-component-safe
    // large-star/small-star CC, min-id representative survives. Contract:
    // pair generation is partition-invariant under the FITTED model (the
    // assignment+join path has no aggregation, so no summation-order ulps),
    // pairs restricted to the bounded subset are a subset of the exact
    // quadratic form, no near-dup pair survives dedup, every dropped doc is
    // witnessed by at least one pair, and counts conserve. The cross-cluster
    // MISS is measured, not just accepted: within-cluster recall of the
    // exact bounded pairs (0.37 sf0.01 / 0.125 sf0.1 on this
    // worst-case-isotropic corpus, floor 0.1), and a top-2 multi-probe
    // assignment must recover strictly more (measured 0.89 / 0.71, floor
    // 0.6) with the single-probe pairs provably a subset of multi-probe's.
    "semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val thr = 0.4
      val (assigned, cent) = Embeddings.kmeans(emb, "vec_id", "embedding",
        k = 8, iters = 2)
      val pairs = Embeddings.semanticPairs(assigned, "vec_id", "embedding",
        "cluster", thr).localCheckpoint()
      val cc = Dedup.clustersStar(pairs).localCheckpoint()
      val dropIds = cc.filter(col("id") =!= col("cluster"))
        .select(col("id")).localCheckpoint()
      val survivors = emb.join(dropIds, emb("vec_id") === dropIds("id"),
        "left_anti").localCheckpoint()
      val pairs2 = Embeddings.semanticPairs(
        Embeddings.assign(emb.repartition(13), "vec_id", "embedding", cent),
        "vec_id", "embedding", "cluster", thr)
      val exactSubset = graft.operators.Dedup.embeddingPairs(
        emb.filter(col("vec_id") < 300), "vec_id", "embedding", thr)
        .localCheckpoint()
      val nExact = exactSubset.count()
      def boundedHits(p: DataFrame): Long = p
        .filter(col("id_a") < 300 && col("id_b") < 300)
        .select(col("id_a"), col("id_b"))
        .join(exactSubset, Seq("id_a", "id_b"), "left_semi").count()
      val hits = boundedHits(pairs)
      val mpPairs = Embeddings.semanticPairs(
        Embeddings.assignMulti(emb, "embedding", cent, probes = 2),
        "vec_id", "embedding", "cluster", thr)
        .select(col("id_a"), col("id_b")).distinct().localCheckpoint()
      Contracts.row(s,
        "n_vectors" -> emb.count(),
        "pairs_well_formed_ok" -> Contracts.forAll(pairs,
          col("id_a") < col("id_b") && col("cos") >= thr),
        "pairs_partition_invariant_ok" -> Contracts.sameKeys(pairs, pairs2,
          Seq("id_a", "id_b")),
        "pairs_subset_of_exact_ok" -> pairs
          .filter(col("id_a") < 300 && col("id_b") < 300)
          .join(exactSubset, Seq("id_a", "id_b"), "left_anti").isEmpty,
        // the measured SemDeDup trade (see scaladoc for the sweep)
        "single_probe_recall_ok" ->
          (nExact > 0 && hits.toDouble / nExact >= 0.1),
        "multiprobe_recovers_ok" ->
          (nExact > 0 && boundedHits(mpPairs).toDouble / nExact >= 0.6 &&
            pairs.select(col("id_a"), col("id_b"))
              .join(mpPairs, Seq("id_a", "id_b"), "left_anti").isEmpty),
        "no_surviving_pair_ok" -> pairs
          .join(survivors.select(col("vec_id").as("id_a")), Seq("id_a"),
            "left_semi")
          .join(survivors.select(col("vec_id").as("id_b")), Seq("id_b"),
            "left_semi").isEmpty,
        "every_drop_witnessed_ok" -> dropIds.join(
          pairs.select(col("id_a").as("id"))
            .union(pairs.select(col("id_b").as("id"))),
          Seq("id"), "left_anti").isEmpty,
        "survivors_plus_dropped_ok" ->
          (survivors.count() + dropIds.count() == emb.count()))
    }),

    // IVF-PQ composition: coarse buckets bound WHICH vectors a query
    // touches, PQ codes bound WHAT the scan reads per vector. Both
    // approximations compound, so the floor sits under the plain-IVF and
    // plain-PQ floors (PqSweep, removed; see
    // `git show e6d0d1b:src/main/scala/graft/tools/PqSweep.scala`:
    // 0.54/0.70/0.58 at nProbe=8, m=16 across
    // sfs; floor 0.4).
    "sim_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val ivfpq = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 8, m = 16, shortlistFactor = 8)
        .localCheckpoint()
      val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
        k = 5).localCheckpoint()
      Contracts.row(s,
        "n_queries" -> q.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(ivfpq, "qid", "rank", 5),
        "scores_exact_ok" -> scoresMatchExact(ivfpq, emb),
        "recall_ok" -> (Contracts.recall(ivfpq, brute) >= 0.4))
    }),

    // Persisted IVF-PQ index: the (bucket, nid, codes) table written
    // bucket-partitioned once, then queried from storage. Training is
    // deterministic (seeded hash-ordered draws), so the stored-index path
    // must return EXACTLY the in-memory ivfPqTopK results — plus a physical
    // check that the layout really is bucket-partitioned directories (the
    // property that turns nProbe into partition pruning at scale).
    "sim_ivfpq_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val path = Staging.dir(s, "graft-ivfpq-idx-")
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", path,
        nCentroids = 16, m = 16)
      val stored = Similarity.queryIvfPqIndex(emb, q, "vec_id", "embedding",
        path, k = 5, nProbe = 8, shortlistFactor = 8)
      val mem = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 8, m = 16, shortlistFactor = 8)
      val bucketDirs = new java.io.File(s"$path/codes/batch=0").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      Contracts.row(s,
        "n_queries" -> q.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(stored, "qid", "rank", 5),
        "equals_in_memory_ok" ->
          (Contracts.checksum(stored) == Contracts.checksum(mem)),
        "bucket_partitioned_ok" -> (bucketDirs.length > 1))
    }),

    // IVF-PQ index MAINTENANCE: the last persisted store to gain the
    // append/compact symmetry its three siblings have (text index,
    // gram-df, SRP embedding index). Build on the first 2/3 of the
    // corpus, append the rest as TWO batch segments encoded with the
    // STORED codebooks (no retraining — per-append cost is O(batch)),
    // and compare against a one-shot rebuild over the FULL corpus whose
    // training is pinned to the same 2/3 (buildIvfPqIndex's trainOn seam,
    // the train-on-sample/encode-everything production workflow): the
    // served top-k must be IDENTICAL — same codebooks + deterministic
    // encode means the incremental store and the rebuild hold the same
    // rows. Then compact: one segment remains and serving is unchanged.
    "sim_ivfpq_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val base = emb.filter(col("vec_id") % 3 =!= 2)
      val b1 = emb.filter(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 0)
      val b2 = emb.filter(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 1)
      val pInc = Staging.dir(s, "graft-ivfpq-inc-")
      val pFull = Staging.dir(s, "graft-ivfpq-full-")
      Similarity.buildIvfPqIndex(base, "vec_id", "embedding", pInc,
        nCentroids = 16, m = 16)
      Similarity.appendToIvfPqIndex(b1, "vec_id", "embedding", pInc)
      Similarity.appendToIvfPqIndex(b2, "vec_id", "embedding", pInc)
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", pFull,
        nCentroids = 16, m = 16, trainOn = base)
      def serve(p: String): DataFrame =
        Similarity.queryIvfPqIndex(emb, q, "vec_id", "embedding", p,
          k = 5, nProbe = 8, shortlistFactor = 8)
      val incBefore = serve(pInc).localCheckpoint()
      val rebuild = serve(pFull).localCheckpoint()
      Similarity.compactIvfPqIndex(s, pInc)
      val incAfter = serve(pInc).localCheckpoint()
      val segs = Segments.open(s, s"$pInc/codes").ids
      Contracts.row(s,
        "n_queries" -> q.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(incAfter, "qid", "rank", 5),
        "equals_full_rebuild_ok" ->
          (Contracts.checksum(incBefore) == Contracts.checksum(rebuild)),
        "compaction_invisible_ok" ->
          (Contracts.checksum(incAfter) == Contracts.checksum(incBefore)),
        "one_segment_after_compact_ok" -> (segs.length == 1),
        "scores_exact_ok" -> scoresMatchExact(incAfter, emb))
    }),

    // FILTERED vector search from the persisted IVF-PQ index: serving
    // restricted to a metadata-eligible id set (label < 5 — about half the
    // corpus), applied as a semi-join on the compressed codes scan BEFORE
    // the ADC shortlist so every query still returns k eligible results
    // (post-filtering a ranked top-k starves results exactly when the
    // filter is selective). Graded against the exact brute-force top-k of
    // the FILTERED corpus; every served id must satisfy the predicate and
    // every served score is an exact re-ranked cosine.
    "sim_ivfpq_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val allowed = emb.filter(col("label") < 5).select(col("vec_id"))
      val path = Staging.dir(s, "graft-ivfpq-flt-")
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", path,
        nCentroids = 16, m = 16)
      val served = Similarity.queryIvfPqIndex(emb, q, "vec_id", "embedding",
          path, k = 5, nProbe = 8, shortlistFactor = 8, allowed = allowed)
        .localCheckpoint()
      val exact = Similarity.bruteForceTopK(
          emb.join(allowed, Seq("vec_id"), "left_semi"), q,
          "vec_id", "embedding", k = 5).localCheckpoint()
      Contracts.row(s,
        "n_queries" -> q.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(served, "qid", "rank", 5),
        "all_eligible_ok" -> (served
          .join(allowed.select(col("vec_id").as("nid")), Seq("nid"),
            "left_anti").count() == 0),
        "scores_exact_ok" -> scoresMatchExact(served, emb),
        "recall_ok" -> (Contracts.recall(served, exact) >= 0.4))
    }),

    // OPQ-style rotated PQ: principal-axis rotation + snake eigenvalue
    // allocation before product quantization. The load-bearing claim is
    // EXACT: a pure orthonormal rotation preserves cosine, so the
    // re-ranked scores computed in ROTATED space must equal exact cosines
    // of the ORIGINAL vectors (tolerance 2e-6: both sides round to 6 dp,
    // and the rotation's float error can flip a rounding boundary). Recall
    // vs brute force is corpus-geometry-dependent (helps correlated
    // coordinates, neutral-to-negative on axis-aligned ones — measured
    // range 0.24..0.88 across sfs/m; see Similarity.opqTopK scaladoc), so
    // the floor is deliberately loose.
    "sim_opq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val opq = Similarity.opqTopK(emb, q, "vec_id", "embedding",
        k = 5, m = 8, shortlistFactor = 4).localCheckpoint()
      val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
        k = 5).localCheckpoint()
      Contracts.row(s,
        "n_queries" -> q.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(opq, "qid", "rank", 5),
        "scores_exact_ok" -> scoresMatchExact(opq, emb, tol = 2e-6),
        "recall_ok" -> (Contracts.recall(opq, brute) >= 0.15))
    }),

    // Token frequency top-k over the whole corpus (explode → two-phase agg).
    "token_freq_topk" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)),

    // --- Curation: sampling / packing / decontamination ---------------------
    // Deterministic stratified sampling (training-mix reweighting): keep
    // 75% of BUILDING, 50% of AUTOMOBILE, 25% of the rest, selected by an
    // md5-prefix threshold — partition-invariant, shuffle-free, and exactly
    // reproducible by the oracle since both engines share md5.
    "stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "customer"), "c_custkey",
          "c_mktsegment", Map("BUILDING" -> 0.75, "AUTOMOBILE" -> 0.5),
          defaultRate = 0.25, salt = "mix1")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))),

    // Deterministic global shuffle order (epoch-reproducible training-
    // example serving): total shuffle_rank by md5(id || salt), computed
    // the scalable way — range-partition on the hash, per-partition row
    // numbers, broadcast partition offsets — never a single-partition
    // global sort. The oracle re-derives every rank from the shared md5.
    "global_shuffle_order" -> ((s, dir) =>
      Sampling.globalShuffle(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          "c_custkey", salt = "epoch1")
        .orderBy(col("shuffle_rank"))),

    // Target-mix resampling: hit exact 50/30/20 proportions across three
    // segments, downsampling only — N = min floor(count_d / p_d), each
    // domain keeps its floor(p_d·N) smallest salted-md5 ranks. The oracle
    // re-derives N, every quota, and every rank, so the exact selected row
    // set is pinned.
    "mix_resample" -> ((s, dir) =>
      Sampling.mixToTarget(t(s, dir, "customer"), "c_custkey",
          "c_mktsegment",
          Map("BUILDING" -> 0.5, "AUTOMOBILE" -> 0.3, "MACHINERY" -> 0.2),
          salt = "mt1")
        .select(col("c_mktsegment"), col("rn"), col("c_custkey"))
        .orderBy(col("c_mktsegment"), col("rn"))),

    // Token-budget mixing: the pretraining form of mix_resample — targets
    // are TOKEN shares (50/20/10/10/10 across languages), T = min
    // floor(domain_tokens / p_d), each domain keeps its hash-ordered doc
    // prefix while the exclusive cumulative token count stays under
    // floor(p_d·T). The oracle re-derives the budgets and every prefix sum,
    // pinning the exact kept set.
    "mix_token_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tok",
          size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      Sampling.mixToTokenTarget(docs, "doc_id", "lang", "n_tok",
          Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.1, "es" -> 0.1,
            "zh" -> 0.1), salt = "tb1")
        .select(col("doc_id"), col("lang"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // Temperature-scaled mixing (α = 1/2): kept rows per language ∝
    // floor(sqrt(n_lang)) — upweights low-resource languages vs their raw
    // share. All-integer budget math (see mixTemperatureSqrt scaladoc), so
    // the oracle replays every budget and prefix exactly.
    "mix_temperature" -> ((s, dir) => {
      Sampling.mixTemperatureSqrt(t(s, dir, "documents"), "doc_id", "lang",
          salt = "mt1")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Length-bucketed batching: pad-to-static-shape packing with exact
    // integer padding-waste telemetry (pad_ppm) per (bucket, batch).
    "pack_length_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tok",
          size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      Packing.lengthBucketBatches(docs, "doc_id", col("n_tok"),
          batchSize = 8, salt = "lb1")
        .orderBy(col("bucket"), col("batch_id"))
    }),

    // Systematic PPS sampling: ~100 docs drawn with probability ∝ token
    // count along the md5(id||salt) order — all-long interval math
    // (step = W div n, points at off + k·step, off = step div 2), so the
    // oracle replays the exact kept set including each row's weight and
    // global exclusive cumulative weight.
    "sample_pps" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tok",
          size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      Sampling.ppsSystematic(docs, "doc_id", col("n_tok"), n = 100,
          salt = "pps1")
        .select(col("doc_id"), col("w"), col("cum"))
        .orderBy(col("doc_id"))
    }),

    // Soft-dedup weighted sampling: near-dup cluster members SPLIT their
    // token mass (w = tok div cluster_size, clamped ≥ 1) before PPS — a
    // family of k near-dups contributes ~one doc's sampling mass without
    // dropping any copy outright. Oracle replays components (recursive
    // CTE), the weight math, and the PPS interval test.
    "soft_dedup_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
        .withColumn("n_tok",
          size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      val labels = Dedup.clustersStar(
        Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.3))
      val weighted = Sampling.softDedupWeights(docs, labels, "doc_id",
        col("n_tok"))
      Sampling.ppsSystematic(weighted, "doc_id", col("eff_w"), n = 40,
          salt = "sd1")
        .select(col("doc_id"), col("w"), col("cum"))
        .orderBy(col("doc_id"))
    }),

    // Top-p (nucleus) selection: per language, the minimal n_chars-desc
    // prefix covering ≥ 50% of the domain's char mass — keep the top half
    // of the quality mass per domain, in all-long arithmetic.
    "select_top_p" -> ((s, dir) =>
      Selection.topPPerDomain(t(s, dir, "documents"), "doc_id", "lang",
          col("n_chars"), pPpm = 500000L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // Pretraining-mix capstone, COMPOSED end-to-end from this round's
    // operators in one plan: token floor → leakage-safe train split
    // (near-dup clusters bucketed by representative) → token-budget lang
    // mix → length-bucketed batches. The oracle replays the ENTIRE chain
    // (recursive-CTE components, md5-fold split, budget prefix sums,
    // bucket bit math, pad_ppm) — integration proof that the stage
    // contracts compose without drift.
    "pretrain_mix_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
        .withColumn("n_tok",
          size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      val quality = docs.filter(col("n_tok") >= 10)
      val clusters = Dedup.clustersStar(
        Dedup.jaccardPairs(quality, "doc_id", "text", threshold = 0.3))
      val train = Sampling.leakageSafeSplit(quality, clusters, "doc_id")
        .filter(col("split") === "train")
      val mixed = Sampling.mixToTokenTarget(train, "doc_id", "lang",
        "n_tok", Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.1, "es" -> 0.1,
          "zh" -> 0.1), salt = "pm1")
      Packing.lengthBucketBatches(mixed, "doc_id", col("n_tok"),
          batchSize = 8, salt = "pm2")
        .orderBy(col("bucket"), col("batch_id"))
    }),

    // Exact-k per-group sampling: the k rows per stratum with the smallest
    // salted-md5 rank — deterministic, partition-invariant, reproducible by
    // the oracle (both engines share md5). The per-stratum eval-split /
    // inspection-sample primitive; one window shuffle on the stratum key.
    "sample_per_group" -> ((s, dir) =>
      Sampling.topKPerGroup(t(s, dir, "customer"), "c_mktsegment",
          "c_custkey", 10L, "gs")
        .select(col("c_mktsegment"), col("rn"), col("c_custkey"))
        .orderBy(col("c_mktsegment"), col("rn"))),

    // Deterministic reservoir: the k globally-smallest salted-md5 ranks —
    // same distribution as a random reservoir, but reproducible and a
    // semilattice under union (the streaming_reservoir fold's foundation).
    // Plans as TakeOrderedAndProject: per-partition top-k, no global sort.
    // Full SQL oracle — DuckDB replays the identical md5 order.
    "sample_exact_k" -> ((s, dir) =>
      Sampling.exactK(t(s, dir, "documents"), "doc_id", 40, "rs")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // Weighted exact-k without replacement (Efraimidis–Spirakis A-ES):
    // rank = -ln(md5-uniform)/n_chars, k smallest win — longer documents
    // proportionally likelier, yet the draw is deterministic and
    // partition-invariant. Plans as TakeOrderedAndProject (no global
    // sort); the oracle replays the identical rank formula hex-for-hex.
    "sample_weighted_aes" -> ((s, dir) =>
      Sampling.weightedExactK(t(s, dir, "documents"), "doc_id",
          col("n_chars"), 40, "wrs")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // Sequence packing: docs → fixed-token-budget packs, sharded so each
    // shard packs independently (no global sort). Per-doc assignment is the
    // dump — the oracle re-derives every pack id from the same cumulative
    // token sums.
    "seq_pack" -> ((s, dir) =>
      Packing.packSequences(t(s, dir, "documents"), "doc_id",
          size(split(trim(col("text")), "\\s+")), budget = 2048L, nShards = 8)
        .select(col("doc_id"), col("shard"), col("n_tokens"), col("pack"))
        .orderBy(col("doc_id"))),

    // Benchmark decontamination: docs sharing any verbatim 8-gram with the
    // eval slice (doc_id < 20). The oracle rebuilds the n-gram overlap in
    // SQL; testdata plants a contaminated doc, so the result is non-empty.
    "decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.contaminated(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
          "doc_id", "text", n = 8, minOverlap = 1)
        .orderBy(col("doc_id"))
    }),

    // Sketch-path decontamination: the eval set folds into a Bloom filter
    // probed scan-side (native codegen'd expression), survivors verified
    // against the exact set. Contract: the bloom-exact path returns the
    // IDENTICAL (doc, n_overlap) table the exact path does; the bloom-only
    // path (no verify) never misses a truly contaminated doc (one-sided
    // error). Oracle contributes the independent contaminated-doc count.
    "decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") >= 20)
      val evalSet = docs.filter(col("doc_id") < 20)
      val ex = Decontaminate.contaminated(corpus, evalSet,
        "doc_id", "text", n = 8, minOverlap = 1).localCheckpoint()
      // contaminatedBloom already materializes internally (it releases its
      // eval-gram cache via materializeThenRelease) — no extra checkpoint
      val bl = Decontaminate.contaminatedBloom(corpus, evalSet,
        "doc_id", "text", n = 8, minOverlap = 1, fpp = 0.01,
        exact = true)
      val blOnly = Decontaminate.contaminatedBloom(corpus, evalSet,
        "doc_id", "text", n = 8, minOverlap = 1, fpp = 0.01,
        exact = false)
      Contracts.row(s,
        "n_contaminated" -> ex.count(),
        "bloom_equals_exact_ok" ->
          Contracts.sameKeys(bl, ex, Seq("doc_id", "n_overlap")),
        "no_false_negatives_ok" ->
          ex.select(col("doc_id"))
            .join(blOnly, Seq("doc_id"), "left_anti").isEmpty)
    }),

    // Fuzzy (near-dup) decontamination: corpus docs whose 3-gram Jaccard
    // vs ANY eval doc (doc_id % 13 == 0 slice) reaches 0.3 — catches the
    // paraphrased/lightly-edited benchmark leaks verbatim 8-gram overlap
    // misses. Output names the leaking (corpus, eval) pair with its exact
    // Jaccard; the oracle replays the shared-gram join over the full table.
    "decontaminate_fuzzy" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.fuzzyContaminated(
          docs.filter(col("doc_id") % 13 =!= 0),
          docs.filter(col("doc_id") % 13 === 0),
          "doc_id", "text", n = 3, threshold = 0.3)
        .orderBy(col("doc_id"), col("eval_id"))
    }),

    // The full curation flow COMPOSED: quality floor → exact dedup →
    // deterministic sample → sequence packing, one declarative plan (Catalyst
    // pipelines the filter stages into the dedup shuffle's map side). The
    // per-doc dump pins every stage at once — a doc appears iff it survived
    // all four, with the pack id its cumulative position implies.
    "curation_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tok", size(TextAnalysis.tokens(col("text"))))
      val quality = docs.filter(col("n_tok") >= 30)
      val deduped = Dedup.exact(quality, "text", "doc_id")
      val sampled = Sampling.sample(deduped, "doc_id", 0.5, salt = "cur")
      Packing.packSequences(sampled, "doc_id", col("n_tok"),
          budget = 512L, nShards = 4)
        .select(col("doc_id"), col("n_tokens"), col("shard"), col("pack"))
        .orderBy(col("doc_id"))
    }),

    // Sliding-window chunking (window=64 tokens, stride=48 → 16-token
    // overlap): the corpus → training-example splitter. The oracle rebuilds
    // every chunk boundary and window md5 from the same integer formula.
    "doc_chunks" -> ((s, dir) =>
      Chunking.chunk(t(s, dir, "documents"), "doc_id", "text",
          window = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // Boilerplate detection: non-overlapping chunks (window = stride = 32)
    // repeated across distinct documents — headers/footers/licenses in a
    // real corpus, the planted duplicate docs here. Chunk md5s shuffle, not
    // bodies; two-phase agg, HAVING on distinct-doc count.
    "boilerplate_chunks" -> ((s, dir) =>
      Chunking.chunk(t(s, dir, "documents"), "doc_id", "text",
          window = 32, stride = 32)
        .groupBy(col("chunk_md5"))
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("chunk_md5"))),

    // PII redaction: counts per category on the raw text, then the masked
    // text's md5. The documents corpus is word-soup with no organic PII, so
    // the query plants deterministic PII derived from doc_id on BOTH sides
    // — every count is thereby non-zero and the masking provably fired
    // (the md5 differs from the unmasked text's md5 iff rules applied).
    "pii_redact" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" reach user"), col("doc_id").cast("string"),
        lit("@mail.example.com via http://example.com/d/"),
        col("doc_id").cast("string"),
        lit(" from 10.0."), (col("doc_id") % 250).cast("string"),
        lit(".7 tel 303-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      t(s, dir, "documents")
        .select(col("doc_id"), aug.as("a"))
        .select(col("doc_id"),
          Redaction.countOf(col("a"), Redaction.urlRe).as("n_url"),
          Redaction.countOf(col("a"), Redaction.emailRe).as("n_email"),
          Redaction.countOf(col("a"), Redaction.ipRe).as("n_ip"),
          Redaction.countOf(col("a"), Redaction.phoneRe).as("n_phone"),
          md5(Redaction.redact(col("a"))).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }),

    // Heavy hitters via count-min sketch — the mergeable-sketch form of
    // token frequency that replaces the exact groupBy when the vocabulary
    // itself is too large to shuffle. The sketch aggregates distributed
    // (map-side partial merge, counters sum elementwise, so the bytes are
    // partition-invariant for a fixed seed); only the ~KB sketch reaches
    // the driver. Contract: CMS never undercounts, overcount on the true
    // top-20 is within eps·N (deterministic for the fixed seed — verified
    // at sf0.001/0.01/0.1), and a differently-partitioned build yields
    // byte-identical sketches.
    "heavy_hitters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      def sketchOf(d: org.apache.spark.sql.DataFrame): Array[Byte] = d
        .agg(expr("count_min_sketch(token, 0.001d, 0.99d, 42)"))
        .head().getAs[Array[Byte]](0)
      val bytes = sketchOf(toks)
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      val totalN = toks.count()
      val top20 = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val epsN = math.ceil(0.001 * totalN).toLong
      Contracts.row(s,
        "n_docs" -> docs.count(),
        "never_undercounts_ok" ->
          top20.forall { case (t, n) => cms.estimateCount(t) >= n },
        "overcount_within_eps_ok" ->
          top20.forall { case (t, n) => cms.estimateCount(t) <= n + epsN },
        "partition_invariant_ok" ->
          java.util.Arrays.equals(bytes, sketchOf(toks.repartition(7))))
    }),

    // Mergeable frequent-items sketches (Misra-Gries, Datasketches
    // ItemsSketch): per-lang token heavy hitters at maxMapSize=8 —
    // deliberately SMALLER than the vocabulary, so purging is active and
    // the guarantees are doing real work. Contract = what the sketch
    // actually promises: [lb, ub] brackets the exact count for every
    // returned item, NO_FALSE_NEGATIVES returns every item whose exact
    // count exceeds the sketch's max error, and a two-half merge keeps
    // both properties (estimates are NOT merge-tree-invariant — the
    // HLL/KLL posture, never estimate equality).
    "sketch_frequent_items" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"), col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .localCheckpoint()
      val exact = toks.groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("cnt")).localCheckpoint()
      def brackets(items: DataFrame): Boolean = {
        val j2 = items.alias("i").join(exact.alias("e"),
          col("i.lang") === col("e.lang") &&
            col("i.item") === col("e.token"), "left")
          .select(col("i.lb"), col("i.ub"),
            coalesce(col("e.cnt"), lit(0L)).as("cnt"))
        Contracts.forAll(j2,
          col("lb") <= col("cnt") && col("cnt") <= col("ub"))
      }
      val sk = Sketches.fiByGroup(toks, "lang", "token", maxMapSize = 8)
        .localCheckpoint()
      val items = Sketches.fiFrequentItems(sk, "lang").localCheckpoint()
      val maxErr = items.select(col("lang"), col("max_error")).distinct()
      val missing = exact.join(maxErr, Seq("lang"))
        .filter(col("cnt") > col("max_error"))
        .join(items.select(col("lang"), col("item").as("token")),
          Seq("lang", "token"), "left_anti")
      val mid = docs.agg(floor(max(col("doc_id")) * 0.5)).head().getLong(0)
      val merged = Sketches.fiMergeSnapshots(
        Sketches.fiByGroup(toks.filter(col("doc_id") < mid), "lang",
          "token", maxMapSize = 8),
        Sketches.fiByGroup(toks.filter(col("doc_id") >= mid), "lang",
          "token", maxMapSize = 8),
        "lang", maxMapSize = 8)
      val itemsM = Sketches.fiFrequentItems(merged, "lang")
        .localCheckpoint()
      Contracts.row(s,
        "n_groups" -> sk.count(),
        "bounds_bracket_exact_ok" -> brackets(items),
        "no_false_negatives_ok" -> missing.isEmpty,
        "merge_bounds_bracket_ok" -> brackets(itemsM),
        "nonvacuous_ok" -> (items.count() >= 1L))
    }),

    // Incremental distinct counting via mergeable HLL sketches: the corpus
    // snapshot is a per-group sketch table (groups × KB), a new batch
    // sketches itself and MERGES — the corpus is never rescanned (the
    // persisted-state pattern of dedup_incremental, for cardinalities).
    // Contract: what Datasketches HLL actually guarantees. Registers merge
    // associatively, but ESTIMATES are not invariant across merge trees —
    // a stream-built sketch answers with the HIP estimator while a
    // union-built one falls back to the composite estimator — so the legs
    // assert the lgK=12 error envelope against the exact distributed
    // distinct count for all three build shapes (incremental merge,
    // single-pass, repartitioned single-pass), never estimate equality.
    "approx_distinct_incremental" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val split = ev.agg(floor(max(col("event_id")) * 0.8)).head().getLong(0)
      val snapshot = Sketches.hllByGroup(ev.filter(col("event_id") < split),
        "event_type", "event_id").localCheckpoint()
      val (_, estInc) = Sketches.hllIncremental(snapshot,
        ev.filter(col("event_id") >= split), "event_type", "event_id")
      val inc = estInc.localCheckpoint()
      def fullEst(d: DataFrame): DataFrame = Sketches.hllEstimates(
        Sketches.hllByGroup(d, "event_type", "event_id"), "event_type")
      val full = fullEst(ev).localCheckpoint()
      val exact = ev.groupBy(col("event_type"))
        .agg(count_distinct(col("event_id")).as("exact")).localCheckpoint()
      def withinEnvelope(est: DataFrame): Boolean = Contracts.forAll(
        est.join(exact, "event_type"),
        abs(col("n_distinct_est") - col("exact")).cast("double") <=
          col("exact") * lit(0.05))
      Contracts.row(s,
        "n_groups" -> inc.count(),
        "merge_within_error_ok" -> withinEnvelope(inc),
        "within_error_ok" -> withinEnvelope(full),
        "partition_within_error_ok" -> withinEnvelope(fullEst(
          ev.repartition(13))))
    }),

    // Incremental per-group quantiles via mergeable KLL sketches — the
    // distribution analog of approx_distinct_incremental: the snapshot is a
    // groups × KB sketch table, a batch sketches itself and merges, the
    // corpus is never rescanned. Contract written envelope-first (the HLL
    // lesson): KLL guarantees each estimated quantile's EXACT rank within
    // the normalized rank error (~1.65% at k=200, 99% confidence) — never
    // value equality across merge trees — plus getN exactness under merge
    // (counts add associatively).
    "approx_quantile_incremental" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val qs = Seq(0.05, 0.5, 0.95)
      val split = ev.agg(floor(max(col("event_id")) * 0.8)).head().getLong(0)
      val snapshot = Sketches.kllByGroup(ev.filter(col("event_id") < split),
        "event_type", "value").localCheckpoint()
      val (_, quantInc) = Sketches.kllIncremental(snapshot,
        ev.filter(col("event_id") >= split), "event_type", "value", qs)
      val inc = quantInc.localCheckpoint()
      val full = Sketches.kllQuantiles(
        Sketches.kllByGroup(ev, "event_type", "value"), "event_type", qs)
        .localCheckpoint()
      val exactN = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_exact"))
      // exact rank of each estimate, computed distributed: the estimates
      // frame is n_groups × |qs| rows — broadcast onto one corpus scan
      def rankEnvelopeOk(est: DataFrame): Boolean = {
        val ranks = ev.join(
            broadcast(est.select(col("event_type"), col("q"),
              col("value").as("est"))), "event_type")
          .groupBy(col("event_type"), col("q"), col("est"))
          .agg(avg((col("value") <= col("est")).cast("double")).as("rank"))
        Contracts.forAll(ranks, abs(col("rank") - col("q")) <= lit(0.04))
      }
      Contracts.row(s,
        "n_groups" -> inc.select(col("event_type")).distinct().count(),
        "merge_rank_envelope_ok" -> rankEnvelopeOk(inc),
        "full_rank_envelope_ok" -> rankEnvelopeOk(full),
        "merged_n_exact_ok" -> Contracts.forAll(
          inc.select(col("event_type"), col("n")).distinct()
            .join(exactN, "event_type"),
          col("n") === col("n_exact")))
    }),

    // Corpus-overlap estimation via theta set algebra: how many distinct
    // tokens two corpus halves SHARE, without ever joining them — each side
    // is sketched in one scan (KB blob), then union/intersection/a-not-b
    // run driver-side in microseconds. The 100 TB question this answers is
    // train/eval contamination RATE (decontaminate_bloom finds the rows;
    // this measures the set overlap cheaply). Contract: every estimate
    // within the envelope of the exact distributed counterpart (theta RSE
    // ~1.6% at lgK=12 on unions; intersections compound — 8% tolerance),
    // plus internal algebra consistency (|A∩B| + |A\B| ≈ |A|).
    "approx_overlap_theta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(
        (col("doc_id") % 2 === 0).cast("string").as("side"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      val sk = Sketches.thetaByGroup(toks, "side", "token")
      val bySide = sk.collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]]("theta")).toMap
      val a = bySide("true")
      val b = bySide("false")
      val distA = toks.filter(col("side") === "true")
        .select(col("token")).distinct().localCheckpoint()
      val distB = toks.filter(col("side") === "false")
        .select(col("token")).distinct().localCheckpoint()
      val nA = distA.count()
      val nB = distB.count()
      val nInter = distA.join(distB, Seq("token"), "left_semi").count()
      def within(est: Double, exact: Long, tol: Double): Boolean =
        math.abs(est - exact) <= math.max(1.0, exact * tol)
      Contracts.row(s,
        "n_docs" -> docs.count(),
        "side_estimates_ok" ->
          (within(Sketches.thetaEstimate(a), nA, 0.05) &&
            within(Sketches.thetaEstimate(b), nB, 0.05)),
        "union_estimate_ok" ->
          within(Sketches.thetaUnionEstimate(a, b), nA + nB - nInter, 0.05),
        "intersect_estimate_ok" ->
          within(Sketches.thetaIntersectEstimate(a, b), nInter, 0.08),
        "anotb_estimate_ok" ->
          within(Sketches.thetaANotBEstimate(a, b), nA - nInter, 0.08),
        "algebra_consistent_ok" -> {
          val whole = Sketches.thetaEstimate(a)
          val parts = Sketches.thetaIntersectEstimate(a, b) +
            Sketches.thetaANotBEstimate(a, b)
          math.abs(whole - parts) <= math.max(1.0, whole * 0.05)
        })
    }),

    // Per-domain corpus mix: extract the host from planted URLs (same
    // derivation trick as pii_redact) and count documents per domain — the
    // source-composition report every corpus curation run starts from.
    "url_domain_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"), lit(" see http://d"),
          (col("doc_id") % 7).cast("string"), lit(".example.org/p/"),
          col("doc_id").cast("string")).as("a"))
        .select(regexp_extract(col("a"), "https?://([^/ ]+)", 1).as("domain"))
        .groupBy(col("domain")).agg(count(lit(1)).as("n"))
        .orderBy(col("domain"))),

    // --- Text analysis ------------------------------------------------------
    "text_analysis" -> ((s, dir) =>
      TextAnalysis.analyze(t(s, dir, "documents")).orderBy(col("doc_id"))),

    // The trained-quality-filter feature map, exact: token count, mean word
    // length, stopword ratio, distinct-token ratio — exact integer counts +
    // one IEEE division each, floor-rounded for engine-exact comparison.
    // This is the scan-side half of quality_classifier with a full
    // row/hash-equality oracle (the training half is contract-checked).
    "quality_features" -> ((s, dir) => {
      def r6(c: org.apache.spark.sql.Column) =
        graft.operators.Fixed.round6(c)
      QualityModel.featurize(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"),
          r6(col("mean_wlen")).as("mean_wlen_r"),
          r6(col("stop_ratio")).as("stop_ratio_r"),
          r6(col("distinct_ratio")).as("distinct_ratio_r"))
    }),

    // Trained quality classifier (QualityModel): Newton-fit logistic
    // regression distilling a weak curation label, the fastText-style
    // "train a cheap linear filter, score everything" pipeline stage.
    // Contracts: the accepted-step loss sequence strictly decreases (line
    // search guarantees it — a broken gradient/Hessian aggregation would
    // stall it at iteration 1), the final gradient certifies convergence,
    // training accuracy vs the weak label clears a swept floor (measured
    // 0.82–0.86 at every sf; the label is an AND of thresholds, carved by
    // the x1·x2 interaction), scores are valid probabilities, and an
    // independent fit on a repartitioned corpus scores every document
    // within 1e-4 (strict convexity → unique optimum; see scaladoc).
    "quality_classifier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val fit = QualityModel.train(docs, "doc_id", "text")
      val scored = QualityModel.score(docs, "doc_id", "text", fit.weights)
        .localCheckpoint()
      val acc = scored
        .join(QualityModel.featurize(docs, "doc_id", "text")
          .select(col("doc_id"), QualityModel.weakLabel.as("y")), "doc_id")
        .agg(avg(((col("score") >= 0.5) === (col("y") >= 0.5))
          .cast("double"))).head().getDouble(0)
      val refit = QualityModel.train(docs.repartition(7), "doc_id", "text")
      val scored2 = QualityModel.score(docs, "doc_id", "text", refit.weights)
        .select(col("doc_id"), col("score").as("score2"))
      Contracts.row(s,
        "n_docs" -> docs.count(),
        "loss_strictly_decreases_ok" ->
          (fit.losses.size >= 2 &&
            fit.losses.sliding(2).forall(p => p(1) < p(0))),
        "converged_ok" -> (fit.gradInf <= 1e-3 * fit.n),
        "accuracy_floor_ok" -> (acc >= 0.75),
        "scores_in_range_ok" -> Contracts.forAll(scored,
          col("score") >= 0.0 && col("score") <= 1.0),
        "fit_partition_invariant_ok" -> scored.join(scored2, "doc_id")
          .filter(abs(col("score") - col("score2")) > 1e-4).isEmpty)
    }),

    // Gopher-style quality-rule battery: within-doc repetition (duplicate
    // bigram ratio — the classic repeated-n-gram filter), alphabetic-token
    // ratio, and mean token length, plus the composed keep flag. All
    // scan-side column arithmetic; ratios floor-rounded for engine-exact
    // comparison, and the keep thresholds chosen so this corpus exercises
    // both branches.
    "quality_rules" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      val nTok = size(col("t"))
      val rep = floor((lit(1.0) -
        size(wordShingles(col("t"), 2)).cast("double") /
          greatest(nTok - 1, lit(1)).cast("double")) * 1e6 + 0.5) / 1e6
      val alphaRaw = size(filter(col("t"), x => x.rlike("^[a-z]+$")))
        .cast("double") / nTok
      val meanTok = length(regexp_replace(concat_ws(" ", col("t")), "\\s", ""))
        .cast("double") / nTok
      base.select(col("doc_id"),
          rep.as("rep_ratio"),
          (floor(alphaRaw * 1e6 + 0.5) / 1e6).as("alpha_ratio"),
          (floor(meanTok * 1e6 + 0.5) / 1e6).as("mean_tok_len"),
          (rep <= 0.02 && alphaRaw >= 0.6 &&
            meanTok.between(2.0, 12.0)).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // C4-style blocklist phrase filter (Raffel et al. 2020 dropped any page
    // containing a banned phrase): word-boundary-exact match of a broadcast
    // literal phrase list against the padded token stream — one scan-side
    // exists()/filter() higher-order function, ZERO shuffles. The dump
    // keeps the annotation (n_hits + which phrase fired first) because
    // removal-rate-per-phrase is the standard blocklist health metric.
    "blocklist_filter" -> ((s, dir) => {
      val annotated = Filtering.blocklistAnnotate(t(s, dir, "documents"),
        "text", Seq("vector table", "slow fast", "customer group",
          "big vector table"))
      annotated.select(col("doc_id"), col("n_hits"), col("keep"),
          when(col("n_hits") > 0, col("hits")(0)).as("first_hit"))
        .orderBy(col("doc_id"))
    }),

    // The LARGE-blocklist route, result-identical to blocklist_filter's
    // scan-side form but shaped for 10⁵+ phrases: corpus token df → each
    // phrase's rarest corpus token as semi-join key (a phrase with an
    // absent token drops out free — the fifth phrase here) → candidates
    // pay the exact verify. Dump = (doc, phrase) hit pairs.
    "blocklist_scale" -> ((s, dir) => {
      import s.implicits._
      val phrases = Seq("vector table", "slow fast", "customer group",
        "big vector table", "warp drive table").toDF("phrase")
      Filtering.blocklistHitsLarge(t(s, dir, "documents"), "doc_id",
          "text", phrases)
        .orderBy(col("doc_id"), col("phrase"))
    }),

    // Rejection sampling by a per-row keep probability (classifier-score
    // thinning: keep each doc with probability = its quality score). The
    // draw is the deterministic ppm fold of md5(id||salt) — engine-exact,
    // partition-invariant, rerun-stable — compared against the score in
    // integer ppm. Scan-side math only; zero shuffles.
    "sample_rejection" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.withColumn("q",
        TextAnalysis.qualityScore(col("text"),
          TextAnalysis.tokens(col("text"))))
        .withColumn("qppm", floor(col("q") * 1e6 + 0.5).cast("long"))
      Sampling.rejectionSample(scored, "doc_id", col("qppm"), salt = "rj1")
        .select(col("doc_id"), col("score_ppm"), col("draw_ppm"))
        .orderBy(col("doc_id"))
    }),

    // Robust per-language length outliers via MAD: median/median-absolute-
    // deviation flags — unlike the mean/stddev z-score pass, one enormous
    // document cannot drag the threshold. Exact interpolated percentiles
    // are engine-identical on integer token counts; both windows share one
    // lang-key exchange.
    "length_outliers_mad" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tok",
          size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      graft.operators.Robust.madOutliers(docs, "lang", col("n_tok"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          col("med"), col("mad"), col("is_outlier"))
        .orderBy(col("doc_id"))
    }),

    // Score-and-thin capstone, COMPOSED from this round's signals in one
    // plan: scan-side quality score + gram-df novelty (the uniqueness
    // axis), fused to an all-integer ensemble ppm, then deterministic
    // rejection sampling at that per-row probability. The oracle replays
    // the ENTIRE chain — quality double math, gram df, integer mean, md5
    // ppm fold — so the kept set is pinned end to end.
    "quality_ensemble_thin" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val quality = docs.withColumn("q",
        TextAnalysis.qualityScore(col("text"),
          TextAnalysis.tokens(col("text"))))
        .withColumn("q_ppm", floor(col("q") * 1e6 + 0.5).cast("long"))
      val novelty = TextAnalysis.noveltyScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("novelty_ppm"))
      val scored = quality.join(novelty, Seq("doc_id"))
        .withColumn("ens_ppm", expr("(q_ppm + novelty_ppm) div 2"))
      Sampling.rejectionSample(scored, "doc_id", col("ens_ppm"),
          salt = "qe1")
        .select(col("doc_id"), col("q_ppm"), col("novelty_ppm"),
          col("ens_ppm"), col("draw_ppm"))
        .orderBy(col("doc_id"))
    }),

    // Corpus audit report — the "dataset card" numbers a corpus release
    // ships, per language in ONE pass: doc/token counts, redundant exact
    // copies (docs minus distinct content keys), mean quality in integer
    // ppm, and the exact median length (interpolated percentile — engine-
    // identical on integers). One lang-key agg; the md5 content key is
    // 16 bytes on the shuffle, never text.
    "corpus_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tok",
          size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
        .withColumn("q_ppm",
          floor(TextAnalysis.qualityScore(col("text"),
            TextAnalysis.tokens(col("text"))) * 1e6 + 0.5).cast("long"))
      docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          (count(lit(1)) - countDistinct(md5(col("text"))))
            .as("n_dup_copies"),
          expr("sum(q_ppm) div count(1)").as("mean_q_ppm"),
          percentile(col("n_tok").cast("double"), lit(0.5)).as("p50_tok"))
        .orderBy(col("lang"))
    }),

    // Curriculum ordering with domain interleaving: easy tiers first
    // (tier = token count div 25, capped), domains round-robin within a
    // tier via per-(tier, lang) salted-md5 ranks. The training order is
    // the (tier, rn, lang) triple; no global rank column (that would be a
    // single-partition window). One (tier, domain) window shuffle.
    "curriculum_order" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tok",
          size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      Selection.curriculumInterleave(docs, "doc_id", "lang",
          least(expr("n_tok div 25"), lit(3L)), salt = "cu1")
        .select(col("doc_id"), col("lang"), col("tier"), col("rn"))
        .orderBy(col("doc_id"))
    }),

    // Novelty scoring: the fraction of each doc's distinct word 3-grams
    // with corpus document frequency 1 — "how much of this document is new
    // anywhere", the uniqueness axis of a quality stack (inverse of the
    // dedup signal). All-integer ppm output; gram hashes shuffle, text
    // never does.
    "novelty_score" -> ((s, dir) =>
      TextAnalysis.noveltyScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Incremental novelty: the batch (top fifth of ids) scores against
    // the persisted gram-df snapshot of the prior corpus, never rescanning
    // it. Document frequencies add exactly, so the dump — the batch's
    // scores — must EQUAL the rows a from-scratch full-corpus novelty run
    // gives those same documents; the oracle replays exactly that
    // (full-corpus gram df, batch docs only). Snapshot == from-scratch
    // equality is spec-asserted.
    "novelty_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 400)
      val batch = docs.filter(col("doc_id") >= 400)
      val snap = TextAnalysis.gramDf(corpus, "doc_id", "text")
        .localCheckpoint()
      TextAnalysis.noveltyIncremental(batch, snap, "doc_id", "text")._2
        .orderBy(col("doc_id"))
    }),

    // Embedding-index segment compaction: the streaming SRP index store
    // (corpus/b*, idx/b*) merged to one segment each — disjoint rows pass
    // through, so this is scan-fan-in repair, not arithmetic. Contract:
    // incremental LSH pairing of a held-out batch against the COMPACTED
    // store equals the uncompacted result exactly (the SRP parameter
    // metadata must survive the parquet round trip for the call to even
    // run), one segment remains per store, and row counts are preserved.
    "compact_embedding_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val stage = Staging.dir(s, "graft-eseg-")
      writeEmbeddingSegments(s, emb, stage)
      val batch = emb.filter(col("vec_id") % 3 === 2)
      def pair(): DataFrame = Dedup.embeddingPairsLshIncremental(batch,
        Segments.read(s, s"$stage/corpus"),
        Segments.read(s, s"$stage/idx"),
        "vec_id", "embedding", threshold = 0.4)
      val before = pair().localCheckpoint()
      val rowsBefore = Segments.read(s, s"$stage/idx").count()
      Dedup.compactSegmentDirs(s, s"$stage/corpus")
      Dedup.compactSegmentDirs(s, s"$stage/idx")
      def segs(d: String): Int = Segments.open(s, s"$stage/$d").ids.size
      val after = pair().localCheckpoint()
      Contracts.row(s,
        "n_batch" -> batch.count(),
        "one_segment_each_ok" -> (segs("corpus") == 1 && segs("idx") == 1),
        "rows_preserved_ok" ->
          (Segments.read(s, s"$stage/idx").count() == rowsBefore),
        "pairs_unchanged_ok" -> (Contracts.sameKeys(after, before,
          Seq("id_a", "id_b", "cos")) && after.count() == before.count()),
        "nonvacuous_ok" -> (before.count() >= 1L))
    }),

    // Gram-df segment compaction (the streaming-novelty state's Lucene-
    // style segment merge): 3 per-slice segments → one summed segment.
    // Contract: exactly one segment remains, it equals the from-scratch
    // full-corpus gram-df table, compacting again is a no-op, and an
    // incremental batch scored against the compacted state equals the
    // same score against the uncompacted segments.
    "compact_gram_segments" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val segDir = Staging.dir(s, "graft-gseg-")
      writeGramSegments(s, docs, segDir)
      val batch = docs.filter(col("doc_id") < 50)
      val scoreBefore = TextAnalysis.noveltyIncremental(batch,
        Segments.read(s, segDir), "doc_id", "text")._2
        .localCheckpoint()
      TextAnalysis.compactGramDf(s, segDir)
      val segsOnce = Segments.open(s, segDir).ids.size
      val afterOnce = Segments.read(s, segDir).localCheckpoint()
      TextAnalysis.compactGramDf(s, segDir)
      val afterTwice = Segments.read(s, segDir).localCheckpoint()
      val scratch = TextAnalysis.gramDf(docs, "doc_id", "text")
        .localCheckpoint()
      val scoreAfter = TextAnalysis.noveltyIncremental(batch,
        afterOnce, "doc_id", "text")._2.localCheckpoint()
      Contracts.row(s,
        "n_grams" -> scratch.count(),
        "one_segment_ok" -> (segsOnce == 1),
        "equals_scratch_ok" -> (Contracts.sameKeys(afterOnce, scratch,
          Seq("g", "df")) && afterOnce.count() == scratch.count()),
        "idempotent_ok" -> (Contracts.sameKeys(afterTwice, afterOnce,
          Seq("g", "df")) && afterTwice.count() == afterOnce.count()),
        "scores_unchanged_ok" -> (Contracts.sameKeys(scoreAfter,
          scoreBefore,
          Seq("doc_id", "n_novel", "n_grams", "novelty_ppm")) &&
          scoreAfter.count() == scoreBefore.count()))
    }),

    // Distributed BPE tokenizer training (Sennrich ACL'16): the corpus is
    // reduced ONCE to the vocab-bounded word-frequency table; each merge is
    // one weighted pair-count aggregate + a one-row argmax + an in-place
    // array merge, checkpoint-per-iteration. Contract: the chosen pair
    // count is non-increasing across steps (merges only remove occurrences
    // of other pairs; new pairs are bounded by the merged count), decode
    // reproduces every word exactly, weighted symbol count strictly
    // compresses, and the merge list is partition-invariant (exact integer
    // counts + lexicographic tie-break; asserted against repartition(13)
    // at spec scale in BpeSpec — here against the un-repartitioned rerun
    // being deterministic via the n_words anchor).
    "bpe_train" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val wt = Bpe.wordTable(docs, "text").localCheckpoint()
      val before = wt.agg(sum(size(col("syms")) * col("cnt"))).head()
        .getLong(0)
      // trainOnWords reuses the materialized table — the corpus is scanned
      // exactly once in this whole query
      val (merges, words) = Bpe.trainOnWords(wt, nMerges = 16)
      val after = words.agg(sum(size(col("syms")) * col("cnt"))).head()
        .getLong(0)
      Contracts.row(s,
        "n_words" -> wt.count(),
        // NOT the raw count vs a hardcoded 16 (ADVICE r8): training stops
        // early when no adjacent pair repeats, so a degenerate corpus
        // would go red for a reason unrelated to correctness. Early stop
        // is legitimate iff the final table really has no repeated pair.
        "n_merges_ok" -> (merges.size == 16 || bpeEarlyStopLegitimate(words)),
        "merge_counts_nonincreasing_ok" -> merges.map(_.count)
          .sliding(2).forall(w => w.size < 2 || w(0) >= w(1)),
        "roundtrip_ok" -> Contracts.forAll(words,
          concat_ws("", col("syms")) === concat(col("w"), lit("</w>"))),
        "compression_ok" -> (after < before))
    }),

    // ENCODE side of the BPE tokenizer: segment text under an
    // already-learned merge list via the single-pass rank-table form — one
    // broadcast (l,r)→rank map, one projection, one job at ANY vocabulary
    // size (each word repeatedly merges its lowest-rank pair, which
    // provably replays training order; see Bpe.encode). Contract: encoding
    // with the rank table padded to 10k+ never-matching merges (the
    // realistic big-vocab shape) reproduces the training-side segmentation
    // EXACTLY, both directions.
    "bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val wt = Bpe.wordTable(docs, "text").localCheckpoint()
      val (merges, trained) = Bpe.trainOnWords(wt, nMerges = 16)
      val padded = merges ++ (1 to 10000).map(i =>
        Bpe.Merge(merges.size + i, s" z$i", s" q$i", 1L))
      val encoded = Bpe.encode(wt, padded)
      val trainedWS = trained.select(col("w"), col("syms"))
      val encodedWS = encoded.select(col("w"), col("syms"))
      Contracts.row(s,
        "n_words" -> wt.count(),
        "n_merges_ok" ->
          (merges.size == 16 || bpeEarlyStopLegitimate(trained)),
        "encode_matches_training_ok" ->
          (trainedWS.exceptAll(encodedWS).count() == 0 &&
            encodedWS.exceptAll(trainedWS).count() == 0))
    }),

    // UNIGRAM-LM tokenizer training (Kudo 2018, the SentencePiece model)
    // beside BPE: EM over each word's segmentation lattice, fixed-point
    // expected counts (long sums — partition-invariant training), ppb
    // probabilities. Contracts: the EM objective trace is non-decreasing
    // (up to the documented 1e-9 fixed-point perturbation), probabilities
    // normalize, and every corpus character stays covered.
    "unigram_train" -> ((s, dir) => {
      val words = graft.operators.Unigram
        .wordTable(t(s, dir, "documents"), "text").localCheckpoint()
      val (model, lls) = graft.operators.Unigram.train(words,
        seedSize = 512, iters = 3)
      val corpusChars = words
        .select(explode(split(col("w"), "")).as("c"))
        .filter(length(col("c")) === 1)
        .distinct().collect().map(_.getString(0)).toSet
      Contracts.row(s,
        "n_words" -> words.count(),
        "ll_nondecreasing_ok" -> lls.sliding(2).forall(w =>
          w.size < 2 || w(1) >= w(0) - math.abs(w(0)) / 1000000L - 10L),
        "probs_normalized_ok" -> {
          val sum = model.probPpb.values.sum
          sum > 900000000L && sum <= 1000000600L
        },
        "chars_covered_ok" ->
          corpusChars.forall(c => model.probPpb.contains(c)))
    }),

    // ENCODE side of the unigram tokenizer: Viterbi segmentation of the
    // full word table under the trained model. Contracts: every word's
    // pieces concatenate back exactly (coverage is total), the encoding
    // compresses (weighted pieces < weighted chars — the vocabulary
    // learned something), and a repartitioned encode is identical
    // row-for-row (pure function of word + model).
    "unigram_encode" -> ((s, dir) => {
      val words = graft.operators.Unigram
        .wordTable(t(s, dir, "documents"), "text").localCheckpoint()
      val (model, _) = graft.operators.Unigram.train(words,
        seedSize = 512, iters = 2)
      val enc = graft.operators.Unigram.encode(words, model)
        .localCheckpoint()
      val nPieces = enc.agg(sum(size(col("pieces")) * col("cnt")))
        .head().getLong(0)
      val nChars = words.agg(sum(length(col("w")) * col("cnt")))
        .head().getLong(0)
      val again = graft.operators.Unigram
        .encode(words.repartition(7), model)
      Contracts.row(s,
        "n_words" -> words.count(),
        "roundtrip_ok" -> Contracts.forAll(enc,
          concat_ws("", col("pieces")) === col("w")),
        "compression_ok" -> (nPieces < nChars),
        "partition_invariant_ok" ->
          (Contracts.checksum(enc) == Contracts.checksum(again)))
    }),

    // Deterministic k-best segmentations (the subword-regularization
    // enumeration — Kudo 2018 samples training-time segmentations from
    // exactly this list; the weighted draw stays caller-side so the
    // ENGINE primitive is deterministic, the repo-wide posture). Same
    // lattice as Viterbi with top-3 candidate paths per DP cell; the tie
    // rule reproduces encode's greedy backtrack so rank 1 is Viterbi
    // bit-for-bit, even on permuted-multiset float ties. Contracts:
    // rank-1 ≡ encode on every word, every path roundtrips, per-word
    // scores non-increasing in rank, paths distinct, partition-invariant.
    "unigram_nbest" -> ((s, dir) => {
      val words = graft.operators.Unigram
        .wordTable(t(s, dir, "documents"), "text").localCheckpoint()
      val (model, _) = graft.operators.Unigram.train(words,
        seedSize = 512, iters = 2)
      val nb = graft.operators.Unigram.nBest(words, model, k = 3)
        .localCheckpoint()
      val viterbi = graft.operators.Unigram.encode(words, model)
      val r1 = nb.filter(col("rank") === 1)
        .select(col("w"), col("cnt"), col("pieces"))
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("w")).orderBy(col("rank"))
      val again = graft.operators.Unigram
        .nBest(words.repartition(7), model, k = 3)
      Contracts.row(s,
        "n_words" -> words.count(),
        "rank1_equals_viterbi_ok" ->
          (Contracts.checksum(r1) == Contracts.checksum(
            viterbi.select(col("w"), col("cnt"), col("pieces")))),
        "roundtrip_ok" -> Contracts.forAll(nb,
          concat_ws("", col("pieces")) === col("w")),
        "scores_monotone_ok" -> Contracts.forAll(
          nb.withColumn("prev", lag(col("score_fx"), 1).over(wOrd)),
          col("prev").isNull || col("score_fx") <= col("prev")),
        "paths_distinct_ok" ->
          (nb.select(col("w"), col("pieces")).distinct().count() ==
            nb.count()),
        "partition_invariant_ok" ->
          (Contracts.checksum(nb) == Contracts.checksum(again)))
    }),

    // Deterministic subword-regularization sampling end-to-end (the draw
    // OVER unigram_nbest — Kudo 2018's training-time sampling as an
    // engine primitive): every token occurrence of every document draws
    // one segmentation from the k-best posterior via the md5-uniform
    // idiom. Contracts: exactly one draw per occurrence, every drawn
    // path roundtrips, the per-(word, rank) draw frequencies sit inside
    // a binomial envelope of the n-best posterior (the md5 uniform
    // behaves as the iid draw it replaces), and the whole thing is
    // partition-invariant — a re-run draws identically.
    "unigram_sample_encode" -> ((s, dir) => {
      val words = graft.operators.Unigram
        .wordTable(t(s, dir, "documents"), "text").localCheckpoint()
      val (model, _) = graft.operators.Unigram.train(words,
        seedSize = 512, iters = 2)
      val occs = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+")))
        .select(concat(col("doc_id"), lit("#"), col("pos")).as("occ_id"),
          col("col").as("w"))
        .filter(length(col("w")) > 0)
        .localCheckpoint()
      val nOccs = occs.count()
      val draws = graft.operators.Unigram
        .sampleEncode(occs, "occ_id", "w", model, k = 3)
        .localCheckpoint()
      // binomial envelope vs the n-best posterior, for words with >= 30
      // occurrences: |m - n·p| <= 4.5·sqrt(n·p·(1-p)) + 3 (the +3 absorbs
      // the sub-ppm posterior snap; 4.5 sigma over a deterministic
      // fixture can only fail if the md5 uniform is NOT uniform)
      val wCounts = occs.groupBy(col("w")).agg(count(lit(1)).as("n_occ"))
      val byW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("w"))
      val post = graft.operators.Unigram
        .nBest(wCounts.select(col("w")).withColumn("cnt", lit(1L)),
          model, 3)
        .withColumn("wt", exp(
          (col("score_fx") - max(col("score_fx")).over(byW)) / lit(1e4)))
        .withColumn("p", col("wt") / sum(col("wt")).over(byW))
        .select(col("w"), col("rank"), col("p"))
      val emp = draws.groupBy(col("w"), col("rank"))
        .agg(count(lit(1)).as("m"))
      val env = post.join(wCounts, Seq("w"))
        .join(emp, Seq("w", "rank"), "left")
        .withColumn("m", coalesce(col("m"), lit(0L)))
        .filter(col("n_occ") >= 30)
        .withColumn("dev", abs(col("m") - col("n_occ") * col("p")))
        .withColumn("bound", lit(4.5) *
          sqrt(col("n_occ") * col("p") * (lit(1.0) - col("p"))) + lit(3.0))
      val again = graft.operators.Unigram
        .sampleEncode(occs.repartition(7), "occ_id", "w", model, k = 3)
      Contracts.row(s,
        "n_draws" -> draws.count(),
        "one_draw_per_occurrence_ok" ->
          (draws.count() == nOccs &&
            draws.select(col("occ_id")).distinct().count() == nOccs),
        "roundtrip_ok" -> Contracts.forAll(draws,
          concat_ws("", col("pieces")) === col("w")),
        "envelope_ok" -> Contracts.forAll(env,
          col("dev") <= col("bound")),
        "partition_invariant_ok" ->
          (Contracts.checksum(draws) == Contracts.checksum(again)))
    }),

    // Statistical quality scoring: per-doc mean log-probability under an
    // add-one-smoothed bigram LM trained on the corpus itself — two count
    // aggregates (the model) + two key-joins (the scoring). Full SQL
    // oracle: DuckDB retrains the identical model and re-derives every
    // score.
    "quality_lm_score" -> ((s, dir) =>
      TextAnalysis.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")),

    // Calibration audit of the frozen-weight quality scorer (the
    // reliability diagram as a table — the Platt-scaling input): scores
    // are snapped to ppm LONGS at the scan, then every bin statistic is
    // integer arithmetic (sum-of-ppm div n, positive-rate ppm, gap), so
    // DuckDB replays the whole diagram exactly. Same literal-weights
    // posture as streaming_quality_score: scoring is scan-side, zero
    // shuffle before the 10-bin aggregate — at 100 TB calibration costs
    // one pass, and a mis-calibrated bin (gap_ppm far from 0) tells the
    // curation funnel its threshold no longer means what the weak label
    // meant.
    "quality_calibration" -> ((s, dir) => {
      val w = Array(-0.5, 2.0, 1.5, -0.3, 0.4, 1.0)
      val d = QualityModel.design(
        QualityModel.featurize(t(s, dir, "documents"), "doc_id", "text"))
      val z = (0 until QualityModel.nFeatures)
        .map(j => col(s"x$j") * lit(w(j))).reduce(_ + _)
      val scored = d.select(QualityModel.weakLabel.cast("long").as("y"),
        floor((lit(1.0) / (lit(1.0) + exp(-z))) * 1e6 + 0.5)
          .cast("long").as("score_ppm"))
      scored
        .withColumn("bin",
          least(floor(col("score_ppm") / 100000.0).cast("long"), lit(9L)))
        .groupBy(col("bin"))
        // exact long `div`, NOT floor(double /): the double route rounds
        // past 2^53 once a bin's ppm sum exceeds it — the exact failure
        // mode the attribution_multi_touch comment documents; DuckDB's
        // oracle `//` is integer division, so this matches it at any n
        .agg(count(lit(1)).as("n"),
          expr("sum(score_ppm) div count(1)")
            .cast("long").as("mean_score_ppm"),
          expr("(sum(y) * 1000000) div count(1)")
            .cast("long").as("pos_rate_ppm"))
        .withColumn("gap_ppm",
          col("pos_rate_ppm") - col("mean_score_ppm"))
        .orderBy(col("bin"))
    }),

    // Platt recalibration — the step AFTER quality_calibration: fit
    // p = σ(A·s + B) on the reliability bins (driver-side 2×2 Newton,
    // Platt prior smoothing, FIXED 25 iterations so the oracle can
    // replay the fit as unrolled SQL CTEs), snap A/B to a 1e-6 grid
    // (the score_fx posture: at convergence the iterate is a fixed
    // point, so engine float-order noise decays instead of flipping the
    // snap), then score EVERY document scan-side with the literal
    // snapped A/B and re-bin. The output is the post-calibration
    // reliability diagram: fit inputs (n, n_pos, mean_score_ppm),
    // the fitted a_fx/b_fx, the calibrated mean per bin, and the
    // calibrated gap — DuckDB replays fit AND scoring end to end. At
    // 100 TB: one pass for the bins, a 10-row driver solve, one
    // scan-side projection — zero shuffle beyond the 10-row aggs.
    "quality_platt" -> ((s, dir) => {
      val w = Array(-0.5, 2.0, 1.5, -0.3, 0.4, 1.0)
      val d = QualityModel.design(
        QualityModel.featurize(t(s, dir, "documents"), "doc_id", "text"))
      val z = (0 until QualityModel.nFeatures)
        .map(j => col(s"x$j") * lit(w(j))).reduce(_ + _)
      val scored = d.select(QualityModel.weakLabel.cast("long").as("y"),
        floor((lit(1.0) / (lit(1.0) + exp(-z))) * 1e6 + 0.5)
          .cast("long").as("score_ppm"))
        .withColumn("bin",
          least(floor(col("score_ppm") / 100000.0).cast("long"), lit(9L)))
        .localCheckpoint() // fit input AND scoring input — scanned twice
      val bins = scored.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("y")).cast("long").as("n_pos"),
          expr("sum(score_ppm) div count(1)")
            .cast("long").as("mean_score_ppm"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1) // summation order is part of the fit contract
      val (a, b) = QualityModel.plattFit(
        bins.map { case (_, n, np, ms) => (ms.toDouble / 1e6, n, np) }
          .toSeq)
      val aFx = math.floor(a * 1e6 + 0.5).toLong
      val bFx = math.floor(b * 1e6 + 0.5).toLong
      val zc = lit(aFx / 1e6) * (col("score_ppm") / lit(1e6)) +
        lit(bFx / 1e6)
      scored
        .withColumn("cal_ppm",
          floor((lit(1.0) / (lit(1.0) + exp(-zc))) * 1e6 + 0.5)
            .cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("y")).cast("long").as("n_pos"),
          expr("sum(score_ppm) div count(1)")
            .cast("long").as("mean_score_ppm"),
          expr("sum(cal_ppm) div count(1)")
            .cast("long").as("mean_cal_ppm"),
          expr("(sum(y) * 1000000) div count(1)")
            .cast("long").as("pos_rate_ppm"))
        .withColumn("a_fx", lit(aFx))
        .withColumn("b_fx", lit(bFx))
        .withColumn("cal_gap_ppm",
          col("pos_rate_ppm") - col("mean_cal_ppm"))
        .withColumn("monotone_ok", lit(aFx > 0))
        .orderBy(col("bin"))
    }),

    // TF-IDF top-3 distinctive terms per doc. Integer-only ranking (tf desc,
    // df asc, term asc) keeps the order engine-exact; the score column uses
    // the floor-round trick shared with qualityScore.
    "tfidf_topk" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text",
          k = 3)
        .orderBy(col("doc_id"), col("rank"))),

    // BM25 query→corpus retrieval: 5 query docs (first 8 tokens each)
    // against the full corpus, top-5 per query. Per-term contributions are
    // fixed-point longs before the (query, doc) sum, so the score — and the
    // ranking — is engine- and partitioning-exact (long addition is
    // associative where double addition is not); k1=1.5 / b=0.75 are
    // binary-exact so both engines evaluate the identical expression tree.
    "bm25_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qs = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      TextAnalysis.bm25TopK(docs, qs, "doc_id", "text",
          "query_id", "text", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Ranking-quality evaluation: nDCG@5 of the BM25 arm against a graded
    // relevance both engines can derive exactly (rel = distinct first-8
    // query terms present in the doc). The ranking is fixed-point
    // (engine-exact rows), the relevance is integer set arithmetic, and
    // the DCG log sums round at 6 decimals — so the oracle replays the
    // ENTIRE evaluation, ranking included, not just the formula.
    "retrieval_ndcg" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qs = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      val ranked = TextAnalysis.bm25TopK(docs, qs, "doc_id", "text",
        "query_id", "text", k = 5)
      val docTerms = docs.select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .distinct()
      val qTerms = qs.select(col("query_id"),
          explode(slice(split(trim(lower(col("text"))), "\\s+"), 1, 8))
            .as("term"))
        .distinct()
      val rels = qTerms.join(docTerms, "term")
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("rel"))
      graft.operators.Retrieval.ndcgAtK(ranked, rels, "query_id",
          "doc_id", "rank", "rel", 5)
        .orderBy(col("query_id"))
    }),

    // RM3 pseudo-relevance-feedback expansion (Lavrenko/Croft relevance
    // models + the RM3 interpolation): BM25 round 1, relevance model from
    // each query's top-5 docs, top-8 expansion terms interpolated with the
    // uniform original query model at λ=0.5, weighted BM25 round 2. Every
    // stage is fixed-point (P(w|d) at 1e6, weights at 1e6, contributions at
    // 1e6; scores are sums of long products) so the DuckDB oracle replays
    // the RANKED ROWS of the full two-round pipeline exactly.
    "retrieval_rm3" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qs = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      TextAnalysis.rm3TopK(docs, qs, "doc_id", "text",
          "query_id", "text", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Segment-structured persisted inverted index (Lucene's model, Spark
    // form): built from one doc batch, a second DISJOINT batch appended
    // without re-reading the first (postings/df/stats are all additive),
    // then queried with literal bucket partition pruning. Contract: the
    // indexed ranking — scores included — EQUALS a from-scratch bm25TopK of
    // the full corpus (fixed-point contributions make that equality exact,
    // not approximate), both segments exist, and the pruned postings scan
    // carries PartitionFilters (index I/O, not corpus I/O).
    "bm25_indexed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qs = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      val path = Staging.dir(s, "graft-bm25-idx-")
      TextAnalysis.buildTextIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", path, nBuckets = 16, batchId = 0L)
      TextAnalysis.appendToTextIndex(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", path, batchId = 1L)
      val stored = TextAnalysis.queryTextIndex(qs, "query_id", "text", path,
        "doc_id", k = 5).localCheckpoint()
      val scratch = TextAnalysis.bm25TopK(docs, qs, "doc_id", "text",
        "query_id", "text", k = 5)
      val plan = TextAnalysis.queryTextIndex(qs, "query_id", "text", path,
        "doc_id", k = 5).queryExecution.executedPlan.toString
      val segments = Segments.open(s, s"$path/seg").ids.size
      Contracts.row(s,
        "n_queries" -> qs.count(),
        "equals_full_run_ok" ->
          (Contracts.checksum(stored) == Contracts.checksum(scratch)),
        "segments_ok" -> (segments == 2),
        "bucket_pruned_ok" ->
          (plan.contains("PartitionFilters") && plan.contains("bucket")))
    }),

    // FILTERED lexical retrieval from the persisted inverted index: serving
    // restricted to English documents via an eligible-id semi-join on the
    // bucket-pruned postings scan BEFORE scoring (pre-filter — the mirror
    // of sim_ivfpq_filtered). Corpus statistics stay whole-index (the
    // ranking model's identity), which is what the full SQL oracle
    // replays: contributions restricted to eligible docs, stats from the
    // whole corpus. The output is the ranked rows themselves — the
    // strongest oracle form — and Bm25Spec pins served ≡ in-memory
    // filtered bm25TopK.
    "bm25_filtered" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qs = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      val allowed = docs.filter(col("lang") === "en").select(col("doc_id"))
      val path = Staging.dir(s, "graft-bm25-flt-")
      TextAnalysis.buildTextIndex(docs, "doc_id", "text", path,
        nBuckets = 16, batchId = 0L)
      TextAnalysis.queryTextIndex(qs, "query_id", "text", path, "doc_id",
          k = 5, allowed = allowed)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Hybrid lexical+vector retrieval with reciprocal-rank fusion: a BM25
    // arm over documents.text and an exact-cosine arm over
    // embeddings.embedding (id-aligned: vec_id = doc_id), each top-20 per
    // query, fused as sum of fixed-point floor(1e9/(60+rank)) RRF
    // contributions — long addition keeps the fused score and ranking
    // engine- and partitioning-exact, the same design as BM25's own
    // fixed-point contributions. Fusion cost is candidate-volume, not
    // corpus-volume: the arms have already pruned to ≤20 rows/query.
    "hybrid_rrf_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val qs = docs.filter(col("doc_id") < 5)
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
          "doc_id")
        .select(col("doc_id").as("query_id"), col("text"), col("embedding"))
      Retrieval.hybridTopK(docs, emb, qs,
          "doc_id", "text", "vec_id", "embedding",
          "query_id", "text", "embedding", k = 10, armK = 20)
        .select(col("qid").as("query_id"), col("rank"),
          col("id").as("doc_id"), col("score_fx"), col("n_arms"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // MMR diversity re-ranking over a vector arm's top-20: λ=0.7 pick of
    // 5, graded on (a) well-formed ranks over a candidate SUBSET, (b) the
    // first pick being the arm's own top hit (MMR's pick-1 is pure
    // relevance), and (c) the λ=1 degenerate case EQUALLING the arm's
    // top-5 exactly — rank for rank — which pins the greedy machinery to
    // the already-oracle-checked brute-force ranking. The diversity side
    // (near-dup crowding) is spec-tested with planted duplicates.
    "retrieval_mmr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val arm = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
        k = 20).localCheckpoint()
      val cands = arm
        .select(col("qid"), col("nid").as("id"), col("cos").as("rel"))
        .join(emb.select(col("vec_id").as("id"), col("embedding").as("v")),
          "id")
      val mmr = Retrieval.mmrRerank(cands, k = 5, lambda = 0.7)
        .localCheckpoint()
      val pure = Retrieval.mmrRerank(cands, k = 5, lambda = 1.0)
        .select(col("qid"), col("rank"), col("id"))
      val armTop5 = arm.filter(col("rank") <= 5)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("nid").as("id"))
      val firstOk = Contracts.forAll(
        mmr.filter(col("rank") === 1)
          .join(armTop5.filter(col("rank") === 1)
            .select(col("qid"), col("id").as("top_id")), "qid"),
        col("id") === col("top_id"))
      Contracts.row(s,
        "n_queries" -> q.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(mmr, "qid", "rank", 5),
        "subset_ok" -> (mmr.join(cands.select(col("qid"), col("id")),
          Seq("qid", "id"), "left_anti").count() == 0),
        "first_is_top_rel_ok" -> firstOk,
        "lambda_one_is_pure_relevance_ok" ->
          (Contracts.checksum(pure) == Contracts.checksum(armTop5)))
    }),

    // Hybrid retrieval SERVED from the two persisted indexes — the 100 TB
    // serving shape: inverted-index arm (bucket-pruned postings) + IVF-PQ
    // arm (bucket-partitioned codes), RRF-fused. Contract: the served
    // fusion EQUALS the fusion of the same in-memory arms, scores included
    // (both arm equalities are individually certified by bm25_indexed and
    // sim_ivfpq_indexed; this pins the composition end to end).
    "hybrid_indexed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val qs = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      val qv = emb.filter(col("vec_id") < 5)
      val tpath = Staging.dir(s, "graft-hybrid-text-")
      val vpath = Staging.dir(s, "graft-hybrid-ivfpq-")
      TextAnalysis.buildTextIndex(docs, "doc_id", "text", tpath,
        nBuckets = 16, batchId = 0L)
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", vpath,
        nCentroids = 16, m = 16)
      def fuse(lex: DataFrame, vec: DataFrame) = Retrieval.rrfFuse(Seq(
        lex.select(col("query_id").as("qid"), col("doc_id").as("id"),
          col("rank")),
        vec.select(col("qid"), col("nid").as("id"), col("rank"))), k = 10)
      val served = fuse(
        TextAnalysis.queryTextIndex(qs, "query_id", "text", tpath,
          "doc_id", k = 20),
        Similarity.queryIvfPqIndex(emb, qv, "vec_id", "embedding", vpath,
          k = 20, nProbe = 8, shortlistFactor = 8)).localCheckpoint()
      val scratch = fuse(
        TextAnalysis.bm25TopK(docs, qs, "doc_id", "text", "query_id",
          "text", 20),
        Similarity.ivfPqTopK(emb, qv, "vec_id", "embedding", k = 20,
          nCentroids = 16, nProbe = 8, m = 16, shortlistFactor = 8))
      Contracts.row(s,
        "n_queries" -> qs.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(served, "qid", "rank", 10),
        "equals_in_memory_fusion_ok" ->
          (Contracts.checksum(served) == Contracts.checksum(scratch)))
    }),

    // FILTERED hybrid retrieval: both persisted-index arms restricted to
    // the same metadata-eligible doc set (lang = 'en'; vec_id is
    // doc-aligned) and RRF-fused — the filtered-serving capstone
    // composing sim_ivfpq_filtered and bm25_filtered. Contract: the
    // index-served filtered fusion EQUALS the in-memory filtered fusion
    // (both arms are individually deterministic-equal across paths), and
    // every fused hit satisfies the predicate.
    "hybrid_filtered" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val allowed = docs.filter(col("lang") === "en").select(col("doc_id"))
      val allowedV = allowed.select(col("doc_id").as("vec_id"))
      val qs = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      val qv = emb.filter(col("vec_id") < 5)
      val tpath = Staging.dir(s, "graft-hybflt-text-")
      val vpath = Staging.dir(s, "graft-hybflt-ivfpq-")
      TextAnalysis.buildTextIndex(docs, "doc_id", "text", tpath,
        nBuckets = 16, batchId = 0L)
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", vpath,
        nCentroids = 16, m = 16)
      def fuse(lex: DataFrame, vec: DataFrame) = Retrieval.rrfFuse(Seq(
        lex.select(col("query_id").as("qid"), col("doc_id").as("id"),
          col("rank")),
        vec.select(col("qid"), col("nid").as("id"), col("rank"))), k = 10)
      val served = fuse(
        TextAnalysis.queryTextIndex(qs, "query_id", "text", tpath,
          "doc_id", k = 20, allowed = allowed),
        Similarity.queryIvfPqIndex(emb, qv, "vec_id", "embedding", vpath,
          k = 20, nProbe = 8, shortlistFactor = 8, allowed = allowedV))
        .localCheckpoint()
      val scratch = fuse(
        TextAnalysis.bm25TopK(docs, qs, "doc_id", "text", "query_id",
          "text", 20, allowed = allowed),
        Similarity.ivfPqTopK(emb, qv, "vec_id", "embedding", k = 20,
          nCentroids = 16, nProbe = 8, m = 16, shortlistFactor = 8,
          allowed = allowedV))
      Contracts.row(s,
        "n_queries" -> qs.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(served, "qid", "rank", 10),
        "all_eligible_ok" -> (served
          .join(allowed.select(col("doc_id").as("id")), Seq("id"),
            "left_anti").count() == 0),
        "equals_in_memory_fusion_ok" ->
          (Contracts.checksum(served) == Contracts.checksum(scratch)))
    }),

    // Filtered hybrid → MMR: the retrieval capstone (r10 verdict item #6)
    // composing the whole serving stack — both arms restricted to the
    // eligible doc set (pre-filter semi-joins), RRF-fused, then
    // diversity-re-ranked. rel = score_fx / max-possible-fused (a
    // monotone rescale into (0, 1]: fused scores are exact longs < 2^53,
    // so the division preserves order bit-exactly), which puts relevance
    // on the cosine scale λ trades against. A fused hit with no embedding
    // participates with a ZERO vector: its relevance order is untouched
    // (the λ=1 identity must hold over the FULL fused list) and a zero
    // vector neither exerts nor suffers a cosine penalty (cos := 0 at
    // zero norm). Contract: λ=1 MMR top-5 EQUALS the filtered fusion's
    // own top-5 rank for rank; every pick is fused-candidate and
    // predicate-eligible; pick-1 is the fusion's top hit.
    "retrieval_filtered_mmr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val allowed = docs.filter(col("lang") === "en").select(col("doc_id"))
      val allowedV = allowed.select(col("doc_id").as("vec_id"))
      val qs = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      val qv = emb.filter(col("vec_id") < 5)
      val fused = Retrieval.rrfFuse(Seq(
          TextAnalysis.bm25TopK(docs, qs, "doc_id", "text", "query_id",
              "text", 20, allowed = allowed)
            .select(col("query_id").as("qid"), col("doc_id").as("id"),
              col("rank")),
          Similarity.ivfPqTopK(emb, qv, "vec_id", "embedding", k = 20,
              nCentroids = 16, nProbe = 8, m = 16, shortlistFactor = 8,
              allowed = allowedV)
            .select(col("qid"), col("nid").as("id"), col("rank"))),
        k = 20).localCheckpoint()
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val maxFx = 2.0 * math.floor(1e9 / 61)
      val cands = fused
        .join(emb.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("emb_v")), Seq("id"),
          "left")
        .select(col("qid"), col("id"),
          (col("score_fx").cast("double") / lit(maxFx)).as("rel"),
          coalesce(col("emb_v"),
            array_repeat(lit(0.0), dim)).as("v"))
      val mmr = Retrieval.mmrRerank(cands, k = 5, lambda = 0.5)
        .localCheckpoint()
      val pure = Retrieval.mmrRerank(cands, k = 5, lambda = 1.0)
        .select(col("qid"), col("rank"), col("id"))
      val fusedTop5 = fused.filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("id"))
      val firstOk = Contracts.forAll(
        mmr.filter(col("rank") === 1)
          .join(fused.filter(col("rank") === 1)
            .select(col("qid"), col("id").as("top_id")), "qid"),
        col("id") === col("top_id"))
      Contracts.row(s,
        "n_queries" -> qs.count(),
        "ranks_ok" -> Contracts.ranksWellFormed(mmr, "qid", "rank", 5),
        "subset_of_fused_ok" -> (mmr
          .join(fused.select(col("qid"), col("id")), Seq("qid", "id"),
            "left_anti").count() == 0),
        "all_eligible_ok" -> (mmr
          .join(allowed.select(col("doc_id").as("id")), Seq("id"),
            "left_anti").count() == 0),
        "first_is_fused_top_ok" -> firstOk,
        "lambda_one_is_fused_topk_ok" ->
          (Contracts.checksum(pure) == Contracts.checksum(fusedTop5)))
    }),

    // Readability-style metrics (sentence marks, words/sentence, mean word
    // length) — the cheap quality filters a corpus pipeline runs per doc.
    "text_readability" -> ((s, dir) => {
      val ws = split(trim(lower(col("text"))), "\\s+")
      val nTok = size(ws).cast("double")
      val nonspace = length(regexp_replace(col("text"), "\\s", ""))
        .cast("double")
      val marks = regexp_count(col("text"), lit("[.!?]+")).cast("double")
      t(s, dir, "documents")
        .select(col("doc_id"),
          marks.cast("long").as("n_sent_marks"),
          round(nTok / greatest(marks, lit(1.0)), 4).as("words_per_sent"),
          round(nonspace / nTok, 4).as("mean_word_len"))
        .orderBy(col("doc_id"))
    }),

    // Document fingerprinting (simhash64 + winnow_fingerprint natives).
    // Contract: duplicate texts fingerprint identically, winnow output is
    // sorted/distinct/non-empty for fingerprintable docs, and the whole
    // fingerprint table is bit-identical under a different partitioning
    // (the determinism a cluster re-run relies on).
    "text_fingerprint" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def fpOf(d: org.apache.spark.sql.DataFrame) = d.select(
        col("doc_id"), col("text"),
        simhash64(split(trim(lower(col("text"))), "\\s+")).as("simhash"),
        winnowFingerprint(col("text"), 8, 4).as("wfp"))
      val fp = fpOf(docs).localCheckpoint()
      val dupsConsistent = Contracts.forAll(
        fp.groupBy(md5(col("text")).as("key"))
          .agg(count_distinct(col("simhash")).as("nd_sim"),
            count_distinct(xxhash64(col("wfp"))).as("nd_wfp")),
        col("nd_sim") === 1 && col("nd_wfp") === 1)
      val wellFormed = Contracts.forAll(fp,
        length(col("text")) < 8 ||
          (size(col("wfp")) >= 1 &&
            col("wfp") === array_sort(col("wfp")) &&
            size(array_distinct(col("wfp"))) === size(col("wfp"))))
      val stable = Contracts.checksum(fp.drop("text")) ==
        Contracts.checksum(fpOf(docs.repartition(7)).drop("text"))
      Contracts.row(s,
        "n_docs" -> docs.count(),
        "dup_text_same_fp_ok" -> dupsConsistent,
        "winnow_well_formed_ok" -> wellFormed,
        "partition_invariant_ok" -> stable)
    }),

    // --- Multimodal (binary columns; image decode REAL — PPM P6) -----------
    // Contract: one feature row per media item, features join back to their
    // source metadata exactly (n_bytes = payload length, aspect = w/h, kind
    // preserved), brightness lands in [0,1], image brightness equals the
    // raster pixel mean recomputed by an INDEPENDENT path (newline-scan
    // header skip, no shared parse with the decoder), and the batched
    // mapPartitions path is deterministic (two runs checksum-identical).
    "multimodal_features" -> ((s, _) => {
      import s.implicits._
      val media = Multimodal.generate(s, 200L)
      val feats = Multimodal.extractFeatures(media).toDF().localCheckpoint()
      val src = media.toDF().select(col("media_id"),
        col("kind").as("src_kind"), length(col("payload")).as("plen"),
        (col("meta.width").cast("double") / col("meta.height").cast("double"))
          .as("src_aspect"),
        col("meta.duration_ms").as("src_dur"))
      val joined = feats.join(src, "media_id")
      // Independent raster mean: skip the P6 header by scanning to its 3rd
      // newline ("P6\n", "<w> <h>\n", "255\n") — no width/height arithmetic
      // shared with decodePpm — then average the remaining bytes.
      val pixelMeans = media.map { r =>
        if (r.kind != "image") (r.media_id, -1.0)
        else {
          var nl = 0; var i = 0
          while (nl < 3 && i < r.payload.length) {
            if (r.payload(i) == '\n') nl += 1
            i += 1
          }
          var sum = 0L; var j = i
          while (j < r.payload.length) { sum += (r.payload(j) & 0xff); j += 1 }
          (r.media_id, sum.toDouble / (r.payload.length - i) / 255.0)
        }
      }.toDF("media_id", "pix_mean")
      Contracts.row(s,
        "n_media" -> feats.count(),
        "one_row_per_media_ok" ->
          (feats.select(col("media_id")).distinct().count() == 200L),
        "features_match_source_ok" -> Contracts.forAll(joined,
          col("n_bytes") === col("plen") && col("kind") === col("src_kind") &&
            col("aspect") === col("src_aspect") &&
            col("brightness") >= 0.0 && col("brightness") <= 1.0),
        "brightness_matches_pixels_ok" -> Contracts.forAll(
          feats.join(pixelMeans, "media_id"),
          col("kind") =!= "image" ||
            abs(col("brightness") - col("pix_mean")) <= lit(1e-12)),
        // Audio is decoded from the actual RIFF/WAVE chunks: sample_rate
        // matches the generator's 8/16/24 kHz assignment, duration matches
        // INDEPENDENT arithmetic over the payload length (44-byte canonical
        // header, 2 bytes/sample), and brightness (= sample RMS) is strictly
        // inside (0,1) — a byte-mean stub would not satisfy the duration
        // equation. All 67 audio items (id ≡ 1 mod 3) must decode.
        "audio_stats_ok" -> (Contracts.forAll(
          feats.filter(col("kind") === "audio"),
          col("sample_rate") ===
            (lit(8000) * (lit(1) + expr("media_id div 3") % 3)) &&
            col("duration_ms") ===
              floor((col("n_bytes") - 44) / 2 * 1000 / col("sample_rate")) &&
            col("brightness") > 0.0 && col("brightness") < 1.0) &&
          feats.filter(col("kind") === "audio").count() == 67L),
        // Video container parse: duration comes from the mvhd box and must
        // equal the generator's metadata, and brightness is the mdat
        // byte mean — recomputed here from the KNOWN generator layout
        // (ftyp 16 + moov 116 + mdat header 8 = payload offset 140), no
        // arithmetic shared with the decoder's box walk. A whole-payload
        // fallback mean would differ (it would include the box headers).
        "video_container_ok" -> {
          val mdatMeans = media.map { r =>
            if (r.kind != "video") (r.media_id, -1.0)
            else {
              var sum = 0L; var i = 140
              while (i < r.payload.length) { sum += (r.payload(i) & 0xff); i += 1 }
              (r.media_id, sum.toDouble / (r.payload.length - 140) / 255.0)
            }
          }.toDF("media_id", "mdat_mean")
          Contracts.forAll(
            feats.join(src, "media_id").join(mdatMeans, "media_id"),
            col("kind") =!= "video" ||
              (col("duration_ms") === col("src_dur") &&
                col("sample_rate") === 0 &&
                abs(col("brightness") - col("mdat_mean")) <= lit(1e-12))) &&
          feats.filter(col("kind") === "video").count() == 66L
        },
        "deterministic_ok" -> (Contracts.checksum(feats) ==
          Contracts.checksum(Multimodal.extractFeatures(media).toDF())))
    }),

    // Frame sampling contract: every media item yields exactly nFrames
    // slices, and concatenating them in frame order reassembles the original
    // payload byte-for-byte — the lossless-slicing property a real keyframe
    // sampler must also preserve for its covered ranges. PLUS real in-mdat
    // pixel decode: sampleVideoFrames walks each video's mdat as embedded
    // PPM frames; per-frame pixel means must match an INDEPENDENT recompute
    // from the generator's KNOWN layout (mdat payload at 140, 589-byte
    // frames, 13-byte headers — no arithmetic shared with the box walk or
    // the PPM parser), with one frame per second of mvhd duration.
    "multimodal_frames" -> ((s, _) => {
      import s.implicits._
      val media = Multimodal.generate(s, 50L)
      val frames = Multimodal.frameSample(media, nFrames = 4).toDF()
      val reassembled = frames
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          aggregate(
            transform(
              array_sort(collect_list(struct(col("frame_idx"), col("frame")))),
              x => x.getField("frame")),
            lit(Array.empty[Byte]),
            (acc, x) => concat(acc, x)).as("rebuilt"))
      val joined = reassembled.join(
        media.toDF().select(col("media_id"), col("payload")), "media_id")
      val decoded = Multimodal.sampleVideoFrames(media).toDF()
        .localCheckpoint()
      val independent = media.flatMap { r =>
        if (r.kind != "video") Iterator.empty
        else (0 until (r.meta.duration_ms / 1000L).toInt).iterator.map { f =>
          val start = 140 + f * 589 + 13
          var sum = 0L; var i = start
          while (i < start + 576) { sum += (r.payload(i) & 0xff); i += 1 }
          (r.media_id, f, sum.toDouble / 576 / 255.0)
        }
      }.toDF("media_id", "frame_idx", "ind_mean")
      Contracts.row(s,
        "n_media" -> frames.select(col("media_id")).distinct().count(),
        "frames_per_media_ok" -> Contracts.forAll(reassembled,
          col("n_frames") === 4),
        "reassembles_payload_ok" -> Contracts.forAll(joined,
          col("rebuilt") === col("payload")),
        "frame_pixels_ok" -> (Contracts.forAll(
          decoded.join(independent, Seq("media_id", "frame_idx"), "full"),
          col("width") === 16 && col("height") === 12 &&
            col("pixel_mean") > 0.0 && col("pixel_mean") < 1.0 &&
            abs(col("pixel_mean") - col("ind_mean")) <= lit(1e-12)) &&
          decoded.count() > 0L))
    }),

    // PageRank over the per-user event-type transition graph (the domain-
    // authority scoring a curation pipeline runs over its link graph, here
    // on the testdata's only natural directed graph). One window to derive
    // edges, then `Graph.pageRank`: per iteration one key join + one agg —
    // the same plan at 50 M domain nodes. 3 iterations, damping 0.85;
    // the oracle unrolls the identical power iteration as chained CTEs.
    "pagerank_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val edges = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("event_type").as("src"), col("nxt").as("dst"))
      graft.operators.Graph.pageRank(edges, iters = 3)
        .select(col("node"),
          (floor(col("rank") * 1e6 + 0.5) / 1e6).as("rank"))
        .orderBy(col("node"))
    }),

    // Community detection by deterministic synchronous label propagation
    // (Raghavan et al. 2007) over a user co-activity graph: users adjacent
    // in time on the same (event_type, day) timeline share an edge — a
    // LINEAR edge derivation (one lag window; a shared-key co-occurrence
    // self-join would be 21.7 M pairs at sf0.1, a fixture-induced
    // quadratic). 3 synchronous rounds, most-frequent-neighbor label with
    // min tie-break: a pure function of the edge set, so the oracle
    // replays the rounds as unrolled CTEs and compares EVERY node's final
    // label.
    "graph_label_prop" -> ((s, dir) => {
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val edges = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"),
          expr("datediff(to_date(ts), DATE '1970-01-01')").as("day"))
        .withColumn("prev", lag(col("user_id"), 1).over(wd))
        .filter(col("prev").isNotNull && col("prev") =!= col("user_id"))
        .select(least(col("prev"), col("user_id")).as("src"),
          greatest(col("prev"), col("user_id")).as("dst"))
        .distinct()
      graft.operators.Graph.labelPropagation(edges, iters = 3)
        .orderBy(col("node"))
    }),

    // Distribution-based outlier trim: keep documents inside the exact
    // [p5, p95] length band. `percentile` here is the exact interpolated
    // form ((n-1)*p position, same definition as DuckDB's quantile_cont);
    // it buffers the column per group, so at 100 TB the drop-in is
    // approx_percentile (same plan, sketch state) — the tolerance pattern
    // approx_median_check already pins. For RECURRING trims the 100 TB
    // path is Sketches.kllIncremental (approx_quantile_incremental): a
    // persisted groups × KB KLL snapshot answers the [p5, p95] bounds per
    // batch without rescanning the corpus at all.
    "length_trim_stats" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bounds = docs.agg(
        expr("percentile(n_chars, 0.05)").as("lo"),
        expr("percentile(n_chars, 0.95)").as("hi"))
      docs.crossJoin(broadcast(bounds))
        .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
        .groupBy(round(col("lo"), 2).as("lo"), round(col("hi"), 2).as("hi"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("n_chars")).as("min_c"), max(col("n_chars")).as("max_c"))
        .select(col("n_kept"), col("min_c"), col("max_c"),
          col("lo"), col("hi"))
    }),

    // Per-group feature normalization: z-score of event value within its
    // event_type. One window (= one shuffle on the group key); the same
    // avg/stddev_samp frame both engines define identically.
    "zscore_normalize" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      t(s, dir, "events")
        .filter(col("event_id") < 10000)
        .select(col("event_id"), col("event_type"),
          (round((col("value") - avg(col("value")).over(w))
            / stddev_samp(col("value")).over(w), 4) + 0.0).as("z"))
        .orderBy(col("event_id"))
    }),

    // Deterministic train/val/test assignment: bucket = a 4-char fold of
    // md5(doc_id) mod 100 (90/5/5). Pure column math on both engines — the
    // same document lands in the same split on any cluster, any partition
    // count, any run; the property that makes splits reproducible and
    // decontamination auditable at 100 TB.
    "split_assign" -> ((s, dir) => {
      val h = md5(col("doc_id").cast("string"))
      val fold = ((ascii(substring(h, 1, 1)) * 31
        + ascii(substring(h, 2, 1))) * 31
        + ascii(substring(h, 3, 1))) * 31 + ascii(substring(h, 4, 1))
      t(s, dir, "documents")
        .withColumn("bucket", fold % 100)
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("split"))
    }),

    // DSIR-style importance resampling (Xie et al. 2023): every document
    // weighted by Σ tokens' fixed-point bucket log-likelihood-ratios
    // (target = lang='en' vs the full corpus), top-100 flagged selected.
    // All 500 per-doc rows hash-matched against a full DuckDB replay of
    // the bucket counts, smoothing, snap, and top-N.
    "dsir_select" -> ((s, dir) => {
      Selection.dsirSelect(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en", n = 100)
        .orderBy(col("doc_id"))
    }),

    // Leakage-safe split: near-dup clusters (the dedup_clusters_star
    // pipeline: shingle-Jaccard pairs → star components) are bucketed by
    // their representative, so a paraphrase of a test document can never
    // land in train. Per-doc rows (doc_id, rep, split) hash-matched against
    // a DuckDB replay of the whole chain (recursive-CTE components + the
    // same md5 ascii fold on the representative).
    "split_leakage_safe" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
      val clusters = Dedup.clustersStar(
        Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.3))
      Sampling.leakageSafeSplit(docs.select(col("doc_id")), clusters,
          "doc_id")
        .orderBy(col("doc_id"))
    })
  )

  // Fixtures of the timed forms below, memoized per (session, dir) through
  // Staging.memo: one-off ingest or training outside every timed rep,
  // never the operator a form times.

  /** Unigram model the two timed unigram forms serve from (training is
    * unigram_train's number).
    */
  private def unigramModel(s: SparkSession,
      dir: String): graft.operators.Unigram.Model =
    Staging.memo(s, s"unigram-model $dir") {
      val wt = graft.operators.Unigram
        .wordTable(t(s, dir, "documents"), "text").localCheckpoint()
      graft.operators.Unigram.train(wt, seedSize = 512, iters = 2)._1
    }

  /** Persisted BM25 index path for the timed bm25 forms: index
    * CONSTRUCTION is a one-off ingest cost — the serving-path number a
    * bench should track is pruned-scan query latency (the persisted-index
    * pattern of the kNN base below).
    */
  private def bm25Index(s: SparkSession, dir: String): String =
    Staging.memo(s, s"bm25-index $dir") {
      val docs = t(s, dir, "documents")
      val p = Staging.dir(s, "graft-bm25-bench-")
      TextAnalysis.buildTextIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", p, nBuckets = 16, batchId = 0L)
      TextAnalysis.appendToTextIndex(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", p, batchId = 1L)
      p
    }

  /** (text index, IVF-PQ index) path pair for the timed hybrid forms —
    * same one-off-ingest reasoning as [[bm25Index]], covering both serving
    * arms.
    */
  private def hybridIndexes(s: SparkSession, dir: String): (String, String) =
    Staging.memo(s, s"hybrid-indexes $dir") {
      val tp = Staging.dir(s, "graft-hybrid-text-bench-")
      val vp = Staging.dir(s, "graft-hybrid-ivfpq-bench-")
      TextAnalysis.buildTextIndex(t(s, dir, "documents"), "doc_id", "text",
        tp, nBuckets = 16, batchId = 0L)
      Similarity.buildIvfPqIndex(t(s, dir, "embeddings"), "vec_id",
        "embedding", vp, nCentroids = 16, m = 16)
      (tp, vp)
    }

  /** Bench-only timing variants (see SparkEntry.benchQueries): the contract
    * queries above run the operator PLUS its verification harness — exact
    * quadratic baselines, recomputation joins, repartition re-runs — which
    * is the right correctness design and the wrong benchmark design
    * (round-3 finding: the bench was measuring QA, hiding operator
    * regressions). Each entry here is the SAME operator invocation minus
    * the contract scalars; Verify still runs the full contract form, so
    * correctness coverage is unchanged.
    */
  /** The compaction fixtures' embedding-index store under `d`: two vec_id
    * slices as segments `b0`, `b1` of `corpus/` and of `idx/`.
    */
  private def writeEmbeddingSegments(s: SparkSession, emb: DataFrame,
      d: String): Unit =
    (0 until 2).foreach { i =>
      val slice = emb.filter(col("vec_id") % 3 === i)
      Segments.put(s, s"$d/corpus", s"b$i")(slice.coalesce(1).write.parquet)
      Segments.put(s, s"$d/idx", s"b$i")(
        Dedup.srpIndex(slice, "vec_id", "embedding").coalesce(1).write.parquet)
    }

  /** The compaction fixtures' gram-df store: three doc_id slices as
    * segments `b0`..`b2` of `d`.
    */
  private def writeGramSegments(s: SparkSession, docs: DataFrame,
      d: String): Unit =
    (0 until 3).foreach { i =>
      Segments.put(s, d, s"b$i")(TextAnalysis.gramDf(
        docs.filter(col("doc_id") % 3 === i), "doc_id", "text").coalesce(1).write.parquet)
    }

  /** Shared JL→SRP→exact-rerank serving pipeline for `sim_jl_srp_topk`
    * (contract + timed forms run ONE implementation — the
    * `Layout.fileBoxes` discipline: the timed number and the certified
    * contract can never drift apart). Projection 64→32, SRP shortlist in
    * the projected space sized to the corpus, exact original-space
    * cosine rerank to top-5.
    */
  private def jlSrpServed(s: SparkSession, dir: String,
      nProbe: Int = 10): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") < 10)
    val shortK = math.max(50L, emb.count() / 10).toInt
    val projC = Embeddings.jlProject(emb, "embedding", 64, 32)
      .select(col("vec_id"), col("proj"))
    val projQ = Embeddings.jlProject(q, "embedding", 64, 32)
      .select(col("vec_id"), col("proj"))
    val shortlist = Similarity.srpTopK(projC, projQ, "vec_id", "proj",
      k = shortK, nBits = 4, nProbe = nProbe)
    val v = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val pairs = shortlist.select(col("qid"), col("nid"))
      .join(v.select(col("vec_id").as("qid"), col("v").as("v_q")), "qid")
      .join(v.select(col("vec_id").as("nid"), col("v").as("v_n")), "nid")
      .select(col("qid"), col("nid"),
        round(Similarity.cosine(col("v_q"), col("v_n")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  val timed: Map[String, Q] = Map(
    // r14: the timer covers the compaction OPERATOR — copy the staged
    // uncompacted store to a fresh dir, merge its segments, read the
    // merged segment back. The contract form (Verify) keeps the full
    // build + pair-before/pair-after equality harness, which at ~4.8 s
    // was ~5x the operator it certifies.
    "compact_embedding_index" -> ((s, dir) => {
      // the STAGED (uncompacted) segment store is ingest scaffolding —
      // srpIndex / gramDf passes over the corpus — memoized per dir;
      // compaction MUTATES its store, so each rep file-copies it to a
      // fresh dir (tens of MB, inside the timer — the copy is the "read
      // the segments" cost any merge pays) and compacts the copy. The
      // contract forms in Verify build from scratch and check equality.
      val staged = Staging.memo(s, s"compact-emb-store $dir") {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val d = Staging.dir(s, "graft-eseg-stage-")
        writeEmbeddingSegments(s, emb, d)
        d
      }
      val work = Staging.dir(s, "graft-eseg-work-")
      graft.fs.copyTree(Paths.get(staged), Paths.get(work))
      Dedup.compactSegmentDirs(s, s"$work/corpus")
      Dedup.compactSegmentDirs(s, s"$work/idx")
      Segments.read(s, s"$work/idx")
    }),
    // same shape for the gram-df (summing) segment merge
    "compact_gram_segments" -> ((s, dir) => {
      val staged = Staging.memo(s, s"compact-gram-segments $dir") {
        val docs = t(s, dir, "documents")
        val d = Staging.dir(s, "graft-gseg-stage-")
        writeGramSegments(s, docs, d)
        d
      }
      val work = Staging.dir(s, "graft-gseg-work-")
      graft.fs.copyTree(Paths.get(staged), Paths.get(work))
      TextAnalysis.compactGramDf(s, work)
      Segments.read(s, work)
    }),

    // The timer covers one Newton fit + the scoring projection (the
    // operator); the contract form retrains on a repartitioned corpus and
    // runs the verification joins — QA harness, not operator.
    "quality_classifier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val fit = QualityModel.train(docs, "doc_id", "text")
      QualityModel.score(docs, "doc_id", "text", fit.weights)
    }),

    // The timer covers queryTextIndex only — bucket-pruned postings scan,
    // broadcast term-stats join, (query, doc) sum, top-k window. Build +
    // append are memoized per dir (one-off ingest cost; the contract form
    // in Verify still runs the full build-append-compare harness).
    "bm25_indexed" -> ((s, dir) => {
      val path = bm25Index(s, dir)
      val qs = t(s, dir, "documents").filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      TextAnalysis.queryTextIndex(qs, "query_id", "text", path,
        "doc_id", k = 5)
    }),
    // filtered serving from the same memoized index
    "bm25_filtered" -> ((s, dir) => {
      val path = bm25Index(s, dir)
      val docs = t(s, dir, "documents")
      val qs = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      TextAnalysis.queryTextIndex(qs, "query_id", "text", path, "doc_id",
        k = 5, allowed = docs.filter(col("lang") === "en")
          .select(col("doc_id")))
    }),

    // The timer covers the served fusion only: both index arms (pruned
    // postings scan + probed PQ-codes scan) and the RRF tail. Index builds
    // are memoized per dir; the contract form still builds fresh and
    // compares against the in-memory fusion in Verify.
    "hybrid_indexed" -> ((s, dir) => {
      val (tpath, vpath) = hybridIndexes(s, dir)
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val qs = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      val lex = TextAnalysis.queryTextIndex(qs, "query_id", "text", tpath,
          "doc_id", k = 20)
        .select(col("query_id").as("qid"), col("doc_id").as("id"),
          col("rank"))
      val vec = Similarity.queryIvfPqIndex(emb,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", vpath,
          k = 20, nProbe = 8, shortlistFactor = 8)
        .select(col("qid"), col("nid").as("id"), col("rank"))
      Retrieval.rrfFuse(Seq(lex, vec), k = 10)
    }),
    // filtered fusion from the same memoized indexes — the in-memory
    // equality baseline stays in Verify
    "hybrid_filtered" -> ((s, dir) => {
      val (tpath, vpath) = hybridIndexes(s, dir)
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val allowed = docs.filter(col("lang") === "en").select(col("doc_id"))
      val qs = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      val lex = TextAnalysis.queryTextIndex(qs, "query_id", "text", tpath,
          "doc_id", k = 20, allowed = allowed)
        .select(col("query_id").as("qid"), col("doc_id").as("id"),
          col("rank"))
      val vec = Similarity.queryIvfPqIndex(emb,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", vpath,
          k = 20, nProbe = 8, shortlistFactor = 8,
          allowed = allowed.select(col("doc_id").as("vec_id")))
        .select(col("qid"), col("nid").as("id"), col("rank"))
      Retrieval.rrfFuse(Seq(lex, vec), k = 10)
    }),

    // Auto bin width memoized per dir (same pattern as the BPE merge
    // cache): the approxQuantile is one-off data statistics — at 0.2 s it
    // would dominate the sub-second small-sf denominator of the
    // scale-growth ratio. The timer covers explode+join+agg only; the
    // contract form (Verify) keeps the inline derivation.
    "interval_join_binned" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("value"))
      val ranges = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("range_id"), col("value").as("lo"),
          (col("value") + 2.0).as("hi"))
      val width = Staging.memo(s, s"interval-bin-width $dir") {
        val w = ranges.select((col("hi") - col("lo")).as("_len"))
          .stat.approxQuantile("_len", Array(0.5), 0.01)
        if (w.nonEmpty && w(0) > 0) w(0) / 4.0 else 1.0
      }
      graft.operators.TemporalJoins.rangeJoinBinned(clicks, ranges,
          "value", "lo", "hi", width)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_ranges"),
          min(col("range_id")).as("first_range"))
        .orderBy(col("event_id"))
    }),
    "bpe_train" -> ((s, dir) =>
      Bpe.train(t(s, dir, "documents"), "text", nMerges = 12)._2),
    "bpe_encode" -> ((s, dir) => {
      // Training hoisted out of the timed window (memoized per dir,
      // ADVICE r8): the timer covers the word-table scan + encode
      // projection only — training cost is bpe_train's number. The first
      // rep pays the memoization; the bench's median-of-3 discards it.
      // (a driver-side Seq of ≤12 Merge rows: bounded, and immune to the
      // bench's RDD-cache releases)
      val merges = Staging.memo(s, s"bpe-merges $dir") {
        val wt0 = Bpe.wordTable(t(s, dir, "documents"), "text")
          .localCheckpoint()
        Bpe.trainOnWords(wt0, nMerges = 12)._1
      }
      // timed form still pays the realistic 10k-entry rank table
      Bpe.encode(Bpe.wordTable(t(s, dir, "documents"), "text"),
        merges ++ (1 to 10000).map(i =>
          Bpe.Merge(merges.size + i, s" z$i", s" q$i", 1L)))
    }),
    // Timer covers the word-table scan + k-best lattice enumeration only
    // (the operator); training is memoized per dir (unigram_train's
    // number), and the contract form's double-run/checksum harness stays
    // in Verify.
    "unigram_nbest" -> ((s, dir) => {
      val model = unigramModel(s, dir)
      graft.operators.Unigram.nBest(
        graft.operators.Unigram.wordTable(t(s, dir, "documents"), "text"),
        model, k = 3)
    }),
    // Timer covers ONE sampled-encode pass (occurrence explode + the
    // per-distinct-word lattice + posterior join + per-occurrence
    // top-1): training is memoized per dir, and the contract form's
    // envelope/partition-invariance harness (three further nBest
    // passes) stays in Verify.
    "unigram_sample_encode" -> ((s, dir) => {
      val model = unigramModel(s, dir)
      val occs = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+")))
        .select(concat(col("doc_id"), lit("#"), col("pos")).as("occ_id"),
          col("col").as("w"))
        .filter(length(col("w")) > 0)
      graft.operators.Unigram.sampleEncode(occs, "occ_id", "w", model,
        k = 3)
    }),
    "dedup_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.3)),
    "jaccard_prefix_join" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5)),
    "dedup_minhash_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val split = docs.agg(floor(max(col("doc_id")) * 0.8)).head().getLong(0)
      val corpus = docs.filter(col("doc_id") < split)
      val idx = Dedup.bandIndex(corpus, "doc_id", "text").localCheckpoint()
      Dedup.minhashPairsIncremental(docs.filter(col("doc_id") >= split),
        corpus, idx, "doc_id", "text", threshold = 0.3)
    }),
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)),
    "winnow_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.6)),
    "dedup_embedding_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Dedup.embeddingPairsLsh(emb, "vec_id", "embedding", threshold = 0.4,
        nBits = lshBits(emb.count()), nTables = 8)
    }),
    "dedup_embedding_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val nBits = lshBits(emb.count())
      val split = emb.agg(floor(max(col("vec_id")) * 0.8)).head().getLong(0)
      val corpus = emb.filter(col("vec_id") < split)
      val idx = Dedup.srpIndex(corpus, "vec_id", "embedding",
        nBits = nBits, nTables = 8).localCheckpoint()
      Dedup.embeddingPairsLshIncremental(emb.filter(col("vec_id") >= split),
        corpus, idx, "vec_id", "embedding", threshold = 0.4,
        nBits = nBits, nTables = 8)
    }),
    // cluster count scales with the corpus (SemDeDup's deployment shape:
    // per-cluster size — and with it the bounded in-cluster quadratic —
    // stays ~constant as rows grow; a FIXED k would make the pair pass
    // quadratic in n and the fourth-decade slope would measure the
    // harness parameter, not the operator). 2000 vecs / 250 = the
    // contract form's k = 8 at the bench sf, so the timed numbers are
    // unchanged there.
    "semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val k = math.max(8, (emb.count() / 250).toInt)
      Embeddings.semanticDedup(emb, "vec_id", "embedding", k = k,
        threshold = 0.4)._1
    }),
    "approx_distinct_incremental" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val split = ev.agg(floor(max(col("event_id")) * 0.8)).head().getLong(0)
      val snapshot = Sketches.hllByGroup(ev.filter(col("event_id") < split),
        "event_type", "event_id").localCheckpoint()
      Sketches.hllIncremental(snapshot,
        ev.filter(col("event_id") >= split), "event_type", "event_id")._2
    }),
    "approx_quantile_incremental" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val split = ev.agg(floor(max(col("event_id")) * 0.8)).head().getLong(0)
      val snapshot = Sketches.kllByGroup(ev.filter(col("event_id") < split),
        "event_type", "value").localCheckpoint()
      Sketches.kllIncremental(snapshot, ev.filter(col("event_id") >= split),
        "event_type", "value", Seq(0.05, 0.5, 0.95))._2
    }),
    "approx_overlap_theta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Sketches.thetaByGroup(docs.select(
        (col("doc_id") % 2 === 0).cast("string").as("side"),
        explode(TextAnalysis.tokens(col("text"))).as("token")),
        "side", "token")
    }),
    "dedup_clusters_star" -> ((s, dir) =>
      Dedup.clustersStar(
        Dedup.jaccardPairs(
          t(s, dir, "documents").filter(col("doc_id") < 300),
          "doc_id", "text", threshold = 0.3))),
    "sim_srp_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.srpTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, nBits = 4, nProbe = 6)
    }),
    "sim_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, nCentroids = 16, nProbe = 6, trainIters = 2)
    }),
    "sim_jl_srp_topk" -> ((s, dir) => jlSrpServed(s, dir)),
    // the multi-probe serving is the operator; the single-probe
    // baseline + recall comparison stay in Verify
    "sim_jl_srp_multiprobe" -> ((s, dir) => jlSrpServed(s, dir, 10)),
    "sim_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, m = 16, shortlistFactor = 8)
    }),
    "sim_sq8_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5)
    }),
    // NN-descent form (r9): sqrt(n)-bucket seed at a FIXED 2-bucket probe
    // (volume 2·n^1.5) + 3 neighbor-of-neighbor rounds (volume 2·kk²·n,
    // linear) — sub-quadratic total at held recall (0.92/0.84 at
    // sf0.01/0.1, floor 0.6), vs the auto-IVF form whose held-recall
    // probing pinned volume at fraction·n². Per-round proposal counts land
    // in telemetry (knn_descent_r*), so the sub-quadratic claim is
    // measured, not asserted. The contract form keeps fixed nc=16
    // knnGraph for its deterministic recall floor and ALSO verifies this
    // descent form against the exact graph.
    "sim_knn_graph" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnGraphDescent(emb, "vec_id", "embedding", k = 5)
    }),
    // Timed incremental maintenance: base graph built once per dir and
    // persisted to parquet (the persisted-index pattern of the SRP and
    // IVF-PQ stored forms, immune to the bench's RDD-cache releases between
    // reps; a driver-side row cache would be a collect() scale
    // anti-pattern). Building the 99%-corpus graph is sim_knn_graph's
    // number; the timer covers reading the stored graph + folding a 1%
    // batch in — the daily-drop ratio (the contract form uses 10% for
    // robust adoption checks; the TIMED question is "what does folding a
    // small drop cost", where frontier locality is the point).
    "sim_knn_graph_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (path, cut) = Staging.memo(s, s"knn-base $dir") {
        val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
        val c = (maxId * 99) / 100
        val p = Staging.dir(s, "graft-knn-base-")
        Similarity.knnGraphDescent(emb.filter(col("vec_id") <= c),
            "vec_id", "embedding", k = 5)
          .write.mode("overwrite").parquet(p)
        (p, c)
      }
      Similarity.knnGraphIncremental(s.read.parquet(path),
        emb.filter(col("vec_id") <= cut),
        emb.filter(col("vec_id") > cut), "vec_id", "embedding", k = 5)
    }),
    "sim_opq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.opqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, m = 8, shortlistFactor = 4)
    }),
    "sim_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, nCentroids = 16, nProbe = 8, m = 16,
        shortlistFactor = 8)
    }),
    // times build + stored-layout query end-to-end (the serving shape)
    "sim_ivfpq_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = Staging.dir(s, "graft-ivfpq-idx-")
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", path,
        nCentroids = 16, m = 16)
      Similarity.queryIvfPqIndex(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", path, k = 5, nProbe = 8, shortlistFactor = 8)
    }),
    // times the maintenance path: build on 2/3, append 1/3, serve —
    // the contract's rebuild/compaction equality baselines stay in Verify
    "sim_ivfpq_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = Staging.dir(s, "graft-ivfpq-inc-t-")
      Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 3 =!= 2),
        "vec_id", "embedding", path, nCentroids = 16, m = 16)
      Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") % 3 === 2),
        "vec_id", "embedding", path)
      Similarity.queryIvfPqIndex(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", path, k = 5, nProbe = 8, shortlistFactor = 8)
    }),
    // arm + one λ=0.7 MMR pass — the degenerate-λ equality baseline stays
    // in Verify
    "retrieval_mmr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val arm = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 20)
      val cands = arm
        .select(col("qid"), col("nid").as("id"), col("cos").as("rel"))
        .join(emb.select(col("vec_id").as("id"), col("embedding").as("v")),
          "id")
      Retrieval.mmrRerank(cands, k = 5, lambda = 0.7)
    }),
    // filtered fusion + one λ=0.5 MMR pass — the λ=1 equality and
    // eligibility baselines stay in Verify
    "retrieval_filtered_mmr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val allowed = docs.filter(col("lang") === "en").select(col("doc_id"))
      val qs = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      val fused = Retrieval.rrfFuse(Seq(
          TextAnalysis.bm25TopK(docs, qs, "doc_id", "text", "query_id",
              "text", 20, allowed = allowed)
            .select(col("query_id").as("qid"), col("doc_id").as("id"),
              col("rank")),
          Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5),
              "vec_id", "embedding", k = 20, nCentroids = 16, nProbe = 8,
              m = 16, shortlistFactor = 8,
              allowed = allowed.select(col("doc_id").as("vec_id")))
            .select(col("qid"), col("nid").as("id"), col("rank"))),
        k = 20)
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val cands = fused
        .join(emb.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("emb_v")), Seq("id"),
          "left")
        .select(col("qid"), col("id"),
          (col("score_fx").cast("double") /
            lit(2.0 * math.floor(1e9 / 61))).as("rel"),
          coalesce(col("emb_v"), array_repeat(lit(0.0), dim)).as("v"))
      Retrieval.mmrRerank(cands, k = 5, lambda = 0.5)
    }),
    // times build + filtered serving; the exact-baseline recall/eligibility
    // checks stay in Verify
    "sim_ivfpq_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = Staging.dir(s, "graft-ivfpq-flt-t-")
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", path,
        nCentroids = 16, m = 16)
      Similarity.queryIvfPqIndex(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", path, k = 5, nProbe = 8, shortlistFactor = 8,
        allowed = emb.filter(col("label") < 5).select(col("vec_id")))
    }),
    "embedding_pca" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Embeddings.project(emb, "embedding",
        Embeddings.fitPca(emb, "embedding", k = 8))
    }),
    "embedding_kmeans" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Embeddings.kmeans(emb, "vec_id", "embedding", k = 8, iters = 3)._1
    }),
    "cluster_balanced_sample" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (assigned, _) = Embeddings.kmeans(emb, "vec_id", "embedding",
        k = 8, iters = 2)
      Sampling.topKPerGroup(assigned, "cluster", "vec_id", 20L, "cb")
    }),
    "text_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        simhash64(split(trim(lower(col("text"))), "\\s+")).as("simhash"),
        winnowFingerprint(col("text"), 8, 4).as("wfp"))
    }),
    "heavy_hitters" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .agg(expr("count_min_sketch(token, 0.001d, 0.99d, 42)").as("cms"))),
    "decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.contaminatedBloom(docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20), "doc_id", "text",
        n = 8, minOverlap = 1, fpp = 0.01, exact = true)
    }),
  )

  /** Every (qid, nid, cos) in a top-k result matches an exact cosine
    * recomputed from the raw embeddings through the interpreted HOF path —
    * an independent implementation of the native `vec_dot` kernel.
    */
  private def scoresMatchExact(topk: org.apache.spark.sql.DataFrame,
      emb: org.apache.spark.sql.DataFrame,
      tol: Double = 1e-9): Boolean = {
    val v = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val joined = topk
      .join(v.select(col("vec_id").as("qid"), col("v").as("v_q")), "qid")
      .join(v.select(col("vec_id").as("nid"), col("v").as("v_n")), "nid")
      .withColumn("exact_cos",
        round(Similarity.cosine(col("v_q"), col("v_n")), 6))
    Contracts.forAll(joined, abs(col("cos") - col("exact_cos")) <= tol)
  }

  val oracles: Map[String, String] = Map(
    // Contract-row oracles: the boolean columns are invariants the Spark
    // side PROVES distributed (set equality vs an exact baseline, recall
    // floors, reassembly byte-equality, ...); the oracle contributes the
    // literal TRUE plus an independently-computed row count over the same
    // parquet tables, so the driver's hash compare turns each invariant
    // into a hard pass/fail.
    "dedup_minhash_pairs" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  TRUE AS pairs_found_ok, TRUE AS ids_ordered_ok,
        |  TRUE AS precision_ok, TRUE AS strong_pairs_recovered_ok""".stripMargin,

    "dedup_simhash_pairs" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  TRUE AS pairs_found_ok, TRUE AS hamming_bounded_ok,
        |  TRUE AS subset_equals_bruteforce_ok""".stripMargin,

    "winnow_containment_pairs" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  TRUE AS pairs_found_ok, TRUE AS scores_in_range_ok,
        |  TRUE AS wrapped_copies_recovered_ok""".stripMargin,

    "sim_srp_topk" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 10)
        |    AS n_queries,
        |  TRUE AS ranks_ok, TRUE AS scores_exact_ok,
        |  TRUE AS recall_ok""".stripMargin,

    "sim_jl_srp_topk" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 10)
        |    AS n_queries,
        |  TRUE AS ranks_ok, TRUE AS scores_exact_ok,
        |  TRUE AS recall_ok""".stripMargin,

    "sim_jl_srp_multiprobe" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 10)
        |    AS n_queries,
        |  TRUE AS ranks_ok, TRUE AS scores_exact_ok,
        |  TRUE AS multi_beats_single_ok, TRUE AS recall_ok""".stripMargin,

    "sim_ivf_topk" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 10)
        |    AS n_queries,
        |  TRUE AS ranks_ok, TRUE AS scores_exact_ok,
        |  TRUE AS recall_ok""".stripMargin,

    "sim_pq_topk" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 10)
        |    AS n_queries,
        |  TRUE AS ranks_ok, TRUE AS scores_exact_ok,
        |  TRUE AS recall_ok""".stripMargin,

    "sim_sq8_topk" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 10)
        |    AS n_queries,
        |  TRUE AS ranks_ok, TRUE AS scores_exact_ok,
        |  TRUE AS recall_ok""".stripMargin,

    "sim_knn_graph_incremental" ->
      """SELECT (SELECT count(*) FROM embeddings) AS n_vecs,
        |  (SELECT count(*) FROM embeddings
        |   WHERE vec_id > (9 * (SELECT max(vec_id) FROM embeddings)) // 10)
        |    AS n_new,
        |  TRUE AS ranks_ok, TRUE AS recall_ok,
        |  TRUE AS new_nodes_integrated_ok, TRUE AS old_adopts_new_ok,
        |  TRUE AS partition_invariant_ok""".stripMargin,

    "sim_knn_graph" ->
      """SELECT (SELECT count(*) FROM embeddings) AS n_vecs,
        |  TRUE AS ranks_ok, TRUE AS recall_ok,
        |  TRUE AS descent_ranks_ok, TRUE AS descent_recall_ok,
        |  TRUE AS descent_partition_invariant_ok,
        |  TRUE AS mutual_reciprocal_ok, TRUE AS cluster_label_min_ok,
        |  TRUE AS partition_invariant_ok""".stripMargin,

    "sim_opq_topk" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 10)
        |    AS n_queries,
        |  TRUE AS ranks_ok, TRUE AS scores_exact_ok,
        |  TRUE AS recall_ok""".stripMargin,

    "sim_ivfpq_topk" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 10)
        |    AS n_queries,
        |  TRUE AS ranks_ok, TRUE AS scores_exact_ok,
        |  TRUE AS recall_ok""".stripMargin,

    "sim_ivfpq_indexed" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 10)
        |    AS n_queries,
        |  TRUE AS ranks_ok, TRUE AS equals_in_memory_ok,
        |  TRUE AS bucket_partitioned_ok""".stripMargin,

    "sim_ivfpq_incremental" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 10)
        |    AS n_queries,
        |  TRUE AS ranks_ok, TRUE AS equals_full_rebuild_ok,
        |  TRUE AS compaction_invisible_ok,
        |  TRUE AS one_segment_after_compact_ok,
        |  TRUE AS scores_exact_ok""".stripMargin,

    "sim_ivfpq_filtered" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 10)
        |    AS n_queries,
        |  TRUE AS ranks_ok, TRUE AS all_eligible_ok,
        |  TRUE AS scores_exact_ok, TRUE AS recall_ok""".stripMargin,

    "cluster_balanced_sample" ->
      """SELECT (SELECT count(*) FROM embeddings) AS n_vectors,
        |  TRUE AS per_cluster_counts_ok, TRUE AS subset_ok""".stripMargin,

    "dedup_embedding_incremental" ->
      """SELECT (SELECT count(*) FROM embeddings) AS n_vecs,
        |  TRUE AS pairs_well_formed_ok,
        |  TRUE AS equals_full_run_batch_pairs_ok""".stripMargin,

    "embedding_kmeans" ->
      """SELECT (SELECT count(*) FROM embeddings) AS n_vectors,
        |  TRUE AS all_assigned_ok, TRUE AS k_bounded_ok,
        |  TRUE AS centroids_unit_ok,
        |  TRUE AS training_improves_objective_ok,
        |  TRUE AS assignments_partition_invariant_ok""".stripMargin,

    "embedding_pca" ->
      """SELECT (SELECT count(*) FROM embeddings) AS n_vectors,
        |  TRUE AS components_orthonormal_ok, TRUE AS eigen_decreasing_ok,
        |  TRUE AS projected_variance_matches_ok,
        |  TRUE AS whitened_unit_variance_ok,
        |  TRUE AS projection_partition_invariant_ok""".stripMargin,

    "embedding_jl_project" ->
      """SELECT (SELECT count(*) FROM embeddings) AS n_vecs,
        |  TRUE AS mean_unbiased_ok, TRUE AS distortion_envelope_ok,
        |  TRUE AS partition_invariant_ok""".stripMargin,

    "semantic_dedup" ->
      """SELECT (SELECT count(*) FROM embeddings) AS n_vectors,
        |  TRUE AS pairs_well_formed_ok,
        |  TRUE AS pairs_partition_invariant_ok,
        |  TRUE AS pairs_subset_of_exact_ok,
        |  TRUE AS single_probe_recall_ok,
        |  TRUE AS multiprobe_recovers_ok,
        |  TRUE AS no_surviving_pair_ok,
        |  TRUE AS every_drop_witnessed_ok,
        |  TRUE AS survivors_plus_dropped_ok""".stripMargin,

    "text_fingerprint" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  TRUE AS dup_text_same_fp_ok, TRUE AS winnow_well_formed_ok,
        |  TRUE AS partition_invariant_ok""".stripMargin,

    "multimodal_features" ->
      """SELECT 200::BIGINT AS n_media, TRUE AS one_row_per_media_ok,
        |  TRUE AS features_match_source_ok,
        |  TRUE AS brightness_matches_pixels_ok,
        |  TRUE AS audio_stats_ok,
        |  TRUE AS video_container_ok,
        |  TRUE AS deterministic_ok""".stripMargin,

    "multimodal_frames" ->
      """SELECT 50::BIGINT AS n_media, TRUE AS frames_per_media_ok,
        |  TRUE AS reassembles_payload_ok, TRUE AS frame_pixels_ok""".stripMargin,

    "dedup_embedding_lsh" ->
      """SELECT (SELECT count(*) FROM embeddings) AS n_vecs,
        |  TRUE AS pairs_well_formed_ok, TRUE AS precision_exact_ok,
        |  TRUE AS recall_ok""".stripMargin,

    "quality_features" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |      AS nws
        |  FROM documents)
        |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
        |  floor(nws / len(t) * 1e6 + 0.5) / 1e6 AS mean_wlen_r,
        |  floor(CAST(len(list_filter(t, x -> x IN ('the','a','of','and',
        |    'to','in','is','it','for','on'))) AS DOUBLE) / len(t)
        |    * 1e6 + 0.5) / 1e6 AS stop_ratio_r,
        |  floor(CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
        |    * 1e6 + 0.5) / 1e6 AS distinct_ratio_r
        |FROM toks""".stripMargin,

    "quality_classifier" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  TRUE AS loss_strictly_decreases_ok, TRUE AS converged_ok,
        |  TRUE AS accuracy_floor_ok, TRUE AS scores_in_range_ok,
        |  TRUE AS fit_partition_invariant_ok""".stripMargin,

    "quality_calibration" ->
      """WITH f AS (
        |  SELECT CAST(len(t) AS DOUBLE) AS n_tok,
        |    nws / len(t) AS mean_wlen,
        |    CAST(len(list_filter(t, x -> x IN ('the','a','of','and',
        |      'to','in','is','it','for','on'))) AS DOUBLE) / len(t)
        |      AS stop_ratio,
        |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
        |      AS distinct_ratio
        |  FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS t,
        |      CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |        AS nws
        |    FROM documents)),
        |s AS (
        |  SELECT CASE WHEN n_tok >= 40.0 AND mean_wlen >= 4.4
        |      THEN 1 ELSE 0 END AS y,
        |    CAST(floor(1.0 / (1.0 + exp(-(1.0 * (-0.5)
        |      + ((n_tok - 50.0) / 25.0) * 2.0
        |      + ((mean_wlen - 4.5) * 4.0) * 1.5
        |      + (stop_ratio * 5.0) * (-0.3)
        |      + ((distinct_ratio - 0.5) * 4.0) * 0.4
        |      + (((n_tok - 50.0) / 25.0) * ((mean_wlen - 4.5) * 4.0))
        |        * 1.0))) * 1e6 + 0.5) AS BIGINT) AS score_ppm
        |  FROM f)
        |SELECT CAST(least(score_ppm // 100000, 9) AS BIGINT) AS bin,
        |  count(*) AS n,
        |  CAST(sum(score_ppm) // count(*) AS BIGINT) AS mean_score_ppm,
        |  CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm,
        |  CAST(sum(y) * 1000000 // count(*)
        |    - sum(score_ppm) // count(*) AS BIGINT) AS gap_ppm
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    // The Platt oracle replays the ENTIRE fit: the 25 Newton iterations
    // are unrolled as chained CTEs (a fixed iteration count is the only
    // form both engines can evaluate identically), with the same ±5 step
    // clamp and singular-Hessian guard as QualityModel.plattFit, then the
    // snapped a_fx/b_fx score every document exactly as the Spark side.
    // Every iteration CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    // each step references its predecessor several times, so the inlined
    // tree doubles per iteration — 2^25 planning blowup without the hint.
    "quality_platt" -> {
      val newton = (1 to 25).map { k =>
        s"""it$k AS MATERIALIZED (
           |  SELECT
           |    a - CASE WHEN abs(det) > 1e-300
           |      THEN greatest(least((hbb*ga - hab*gb)/det, 5.0), -5.0)
           |      ELSE 0.0 END AS a,
           |    b - CASE WHEN abs(det) > 1e-300
           |      THEN greatest(least((haa*gb - hab*ga)/det, 5.0), -5.0)
           |      ELSE 0.0 END AS b
           |  FROM (
           |    SELECT any_value(a) AS a, any_value(b) AS b,
           |      sum((n*p - t)*sv) AS ga, sum(n*p - t) AS gb,
           |      sum(n*p*(1.0-p)*sv*sv) AS haa, sum(n*p*(1.0-p)*sv) AS hab,
           |      sum(n*p*(1.0-p)) AS hbb,
           |      sum(n*p*(1.0-p)*sv*sv) * sum(n*p*(1.0-p))
           |        - sum(n*p*(1.0-p)*sv) * sum(n*p*(1.0-p)*sv) AS det
           |    FROM (
           |      SELECT it${k - 1}.a, it${k - 1}.b, bins.n,
           |        bins.mean_score_ppm/1000000.0 AS sv,
           |        bins.n_pos*tgt.tp + (bins.n - bins.n_pos)*tgt.tn AS t,
           |        1.0/(1.0 + exp(-(it${k - 1}.a
           |          *(bins.mean_score_ppm/1000000.0) + it${k - 1}.b))) AS p
           |      FROM bins, it${k - 1}, tgt)))""".stripMargin
      }.mkString(",\n")
      s"""WITH f AS (
         |  SELECT CAST(len(t) AS DOUBLE) AS n_tok,
         |    nws / len(t) AS mean_wlen,
         |    CAST(len(list_filter(t, x -> x IN ('the','a','of','and',
         |      'to','in','is','it','for','on'))) AS DOUBLE) / len(t)
         |      AS stop_ratio,
         |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
         |      AS distinct_ratio
         |  FROM (SELECT string_split_regex(trim(lower(text)), '\\s+') AS t,
         |      CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
         |        AS nws
         |    FROM documents)),
         |sc AS (
         |  SELECT CASE WHEN n_tok >= 40.0 AND mean_wlen >= 4.4
         |      THEN 1 ELSE 0 END AS y,
         |    CAST(floor(1.0 / (1.0 + exp(-(1.0 * (-0.5)
         |      + ((n_tok - 50.0) / 25.0) * 2.0
         |      + ((mean_wlen - 4.5) * 4.0) * 1.5
         |      + (stop_ratio * 5.0) * (-0.3)
         |      + ((distinct_ratio - 0.5) * 4.0) * 0.4
         |      + (((n_tok - 50.0) / 25.0) * ((mean_wlen - 4.5) * 4.0))
         |        * 1.0))) * 1e6 + 0.5) AS BIGINT) AS score_ppm
         |  FROM f),
         |bins AS MATERIALIZED (
         |  SELECT CAST(least(score_ppm // 100000, 9) AS BIGINT) AS bin,
         |    count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(sum(score_ppm) // count(*) AS BIGINT) AS mean_score_ppm
         |  FROM sc GROUP BY 1),
         |tgt AS MATERIALIZED (
         |  SELECT (sum(n_pos) + 1.0) / (sum(n_pos) + 2.0) AS tp,
         |    1.0 / (sum(n) - sum(n_pos) + 2.0) AS tn
         |  FROM bins),
         |it0 AS MATERIALIZED (SELECT 0.0 AS a, 0.0 AS b),
         |$newton,
         |fit AS MATERIALIZED (SELECT CAST(floor(a*1e6 + 0.5) AS BIGINT)
         |  AS a_fx,
         |  CAST(floor(b*1e6 + 0.5) AS BIGINT) AS b_fx FROM it25),
         |cal AS (
         |  SELECT sc.y, sc.score_ppm,
         |    CAST(least(sc.score_ppm // 100000, 9) AS BIGINT) AS bin,
         |    CAST(floor((1.0/(1.0 + exp(-((fit.a_fx/1000000.0)
         |      *(sc.score_ppm/1000000.0) + fit.b_fx/1000000.0))))*1e6
         |      + 0.5) AS BIGINT) AS cal_ppm,
         |    fit.a_fx AS a_fx, fit.b_fx AS b_fx
         |  FROM sc, fit)
         |SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(sum(score_ppm) // count(*) AS BIGINT) AS mean_score_ppm,
         |  CAST(sum(cal_ppm) // count(*) AS BIGINT) AS mean_cal_ppm,
         |  CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm,
         |  any_value(a_fx) AS a_fx, any_value(b_fx) AS b_fx,
         |  CAST(sum(y) * 1000000 // count(*) - sum(cal_ppm) // count(*)
         |    AS BIGINT) AS cal_gap_ppm,
         |  (SELECT a_fx > 0 FROM fit) AS monotone_ok
         |FROM cal GROUP BY bin ORDER BY bin""".stripMargin
    },

    "quality_rules" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(1, greatest(len(t)-1, 1))) AS i
        |  FROM toks
        |), grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 2 THEN array_to_string(t, ' ')
        |         ELSE array_to_string(t[i:i+1], ' ') END AS g
        |  FROM idx
        |), rep AS (
        |  SELECT doc_id,
        |    floor((1.0 - count(DISTINCT g)::DOUBLE / count(*)) * 1e6 + 0.5)
        |      / 1e6 AS rep_ratio
        |  FROM grams GROUP BY doc_id
        |), feats AS (
        |  SELECT doc_id,
        |    len(list_filter(t, x -> regexp_full_match(x, '[a-z]+')))::DOUBLE
        |      / len(t) AS alpha_raw,
        |    length(regexp_replace(array_to_string(t, ' '), '\s', '', 'g'))
        |      ::DOUBLE / len(t) AS mean_raw
        |  FROM toks
        |)
        |SELECT r.doc_id, r.rep_ratio,
        |  floor(f.alpha_raw * 1e6 + 0.5) / 1e6 AS alpha_ratio,
        |  floor(f.mean_raw * 1e6 + 0.5) / 1e6 AS mean_tok_len,
        |  (r.rep_ratio <= 0.02 AND f.alpha_raw >= 0.6
        |   AND f.mean_raw BETWEEN 2.0 AND 12.0) AS keep
        |FROM rep r JOIN feats f ON r.doc_id = f.doc_id
        |ORDER BY r.doc_id""".stripMargin,

    "bpe_train" ->
      """SELECT (SELECT count(DISTINCT w) FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |    FROM documents) WHERE length(w) > 0) AS n_words,
        |  TRUE AS n_merges_ok,
        |  TRUE AS merge_counts_nonincreasing_ok,
        |  TRUE AS roundtrip_ok, TRUE AS compression_ok""".stripMargin,

    "bpe_encode" ->
      """SELECT (SELECT count(DISTINCT w) FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |    FROM documents) WHERE length(w) > 0) AS n_words,
        |  TRUE AS n_merges_ok,
        |  TRUE AS encode_matches_training_ok""".stripMargin,

    "unigram_train" ->
      """SELECT (SELECT count(DISTINCT w) FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |    FROM documents) WHERE length(w) > 0) AS n_words,
        |  TRUE AS ll_nondecreasing_ok,
        |  TRUE AS probs_normalized_ok,
        |  TRUE AS chars_covered_ok""".stripMargin,

    "unigram_encode" ->
      """SELECT (SELECT count(DISTINCT w) FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |    FROM documents) WHERE length(w) > 0) AS n_words,
        |  TRUE AS roundtrip_ok,
        |  TRUE AS compression_ok,
        |  TRUE AS partition_invariant_ok""".stripMargin,

    "unigram_nbest" ->
      """SELECT (SELECT count(DISTINCT w) FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |    FROM documents) WHERE length(w) > 0) AS n_words,
        |  TRUE AS rank1_equals_viterbi_ok,
        |  TRUE AS roundtrip_ok,
        |  TRUE AS scores_monotone_ok,
        |  TRUE AS paths_distinct_ok,
        |  TRUE AS partition_invariant_ok""".stripMargin,

    "unigram_sample_encode" ->
      """SELECT (SELECT CAST(sum(len(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> len(x) > 0))) AS BIGINT)
        |    FROM documents) AS n_draws,
        |  TRUE AS one_draw_per_occurrence_ok,
        |  TRUE AS roundtrip_ok,
        |  TRUE AS envelope_ok,
        |  TRUE AS partition_invariant_ok""".stripMargin,

    "quality_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |uc AS (
        |  SELECT w, count(*) AS cw
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
        |v AS (SELECT count(*)::DOUBLE AS vs FROM uc),
        |big AS (
        |  SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i + 1] AS bg
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)),
        |bc AS (SELECT bg, count(*) AS cb FROM big GROUP BY bg)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  floor(avg(ln((cb + 1.0) / (cw + vs))) * 1e4 + 0.5) / 1e4
        |    AS lm_score
        |FROM big JOIN bc USING (bg) JOIN uc ON big.w1 = uc.w CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "tfidf_topk" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
        |), scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    floor(tf.tf * ln((SELECT count(*)::DOUBLE FROM documents)
        |      / dfreq.df) * 1e4 + 0.5) / 1e4 AS tfidf,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC)::BIGINT AS rank
        |  FROM tf JOIN dfreq USING (term)
        |)
        |SELECT doc_id, rank, term, tf, df, tfidf FROM scored
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "bm25_indexed" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 5)
        |    AS n_queries,
        |  TRUE AS equals_full_run_ok, TRUE AS segments_ok,
        |  TRUE AS bucket_pruned_ok""".stripMargin,

    "bm25_topk" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
        |), dl AS (
        |  SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT (SELECT count(*)::DOUBLE FROM documents) AS n,
        |    (SELECT sum(dl)::DOUBLE FROM dl)
        |      / (SELECT count(*)::DOUBLE FROM documents) AS avgdl
        |), qterms AS (
        |  SELECT DISTINCT doc_id AS query_id,
        |    unnest((string_split_regex(trim(lower(text)), '\s+'))[1:8])
        |      AS term
        |  FROM documents WHERE doc_id < 5
        |), contrib AS (
        |  SELECT q.query_id, tf.doc_id,
        |    floor(ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
        |      * (tf.tf * 2.5)
        |      / (tf.tf + 1.5 * (0.25 + 0.75 * dl.dl / s.avgdl))
        |      * 1e6 + 0.5)::BIGINT AS c
        |  FROM tf JOIN qterms q USING (term) JOIN dfreq USING (term)
        |    JOIN dl USING (doc_id) CROSS JOIN stats s
        |), scored AS (
        |  SELECT query_id, doc_id, sum(c)::BIGINT AS score_fx,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sum(c) DESC, doc_id ASC)::BIGINT AS rank
        |  FROM contrib GROUP BY query_id, doc_id
        |)
        |SELECT query_id, rank, doc_id, score_fx / 1e6 AS score
        |FROM scored WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "retrieval_ndcg" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
        |), dl AS (
        |  SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT (SELECT count(*)::DOUBLE FROM documents) AS n,
        |    (SELECT sum(dl)::DOUBLE FROM dl)
        |      / (SELECT count(*)::DOUBLE FROM documents) AS avgdl
        |), qterms AS (
        |  SELECT DISTINCT doc_id AS query_id,
        |    unnest((string_split_regex(trim(lower(text)), '\s+'))[1:8])
        |      AS term
        |  FROM documents WHERE doc_id < 5
        |), contrib AS (
        |  SELECT q.query_id, tf.doc_id,
        |    floor(ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
        |      * (tf.tf * 2.5)
        |      / (tf.tf + 1.5 * (0.25 + 0.75 * dl.dl / s.avgdl))
        |      * 1e6 + 0.5)::BIGINT AS c
        |  FROM tf JOIN qterms q USING (term) JOIN dfreq USING (term)
        |    JOIN dl USING (doc_id) CROSS JOIN stats s
        |), scored AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sum(c) DESC, doc_id ASC)::BIGINT AS rank
        |  FROM contrib GROUP BY query_id, doc_id
        |), dterm AS (
        |  SELECT DISTINCT doc_id, term FROM tok
        |), rels AS (
        |  SELECT q.query_id, d.doc_id, count(*)::BIGINT AS rel
        |  FROM qterms q JOIN dterm d USING (term) GROUP BY 1, 2
        |), dcg AS (
        |  SELECT s.query_id,
        |    sum((pow(2, coalesce(r.rel, 0)) - 1) / log2(s.rank + 1)) AS dcg
        |  FROM scored s LEFT JOIN rels r
        |    ON r.query_id = s.query_id AND r.doc_id = s.doc_id
        |  WHERE s.rank <= 5 GROUP BY 1
        |), ideal AS (
        |  SELECT query_id,
        |    sum((pow(2, rel) - 1) / log2(irank + 1)) AS idcg
        |  FROM (SELECT query_id, rel, row_number() OVER (
        |      PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) AS irank
        |    FROM rels)
        |  WHERE irank <= 5 GROUP BY 1
        |)
        |SELECT d.query_id,
        |  CASE WHEN coalesce(i.idcg, 0) > 0
        |    THEN floor(d.dcg / i.idcg * 1e6 + 0.5) / 1e6
        |    ELSE 0.0 END AS ndcg,
        |  floor(d.dcg * 1e6 + 0.5) / 1e6 AS dcg,
        |  floor(coalesce(i.idcg, 0) * 1e6 + 0.5) / 1e6 AS idcg
        |FROM dcg d LEFT JOIN ideal i USING (query_id)
        |ORDER BY d.query_id""".stripMargin,

    "retrieval_rm3" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
        |), dl AS (
        |  SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT (SELECT count(*)::DOUBLE FROM documents) AS n,
        |    (SELECT sum(dl)::DOUBLE FROM dl)
        |      / (SELECT count(*)::DOUBLE FROM documents) AS avgdl
        |), qterms AS (
        |  SELECT DISTINCT doc_id AS query_id,
        |    unnest((string_split_regex(trim(lower(text)), '\s+'))[1:8])
        |      AS term
        |  FROM documents WHERE doc_id < 5
        |), contrib1 AS (
        |  SELECT q.query_id, tf.doc_id,
        |    floor(ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
        |      * (tf.tf * 2.5)
        |      / (tf.tf + 1.5 * (0.25 + 0.75 * dl.dl / s.avgdl))
        |      * 1e6 + 0.5)::BIGINT AS c
        |  FROM tf JOIN qterms q USING (term) JOIN dfreq USING (term)
        |    JOIN dl USING (doc_id) CROSS JOIN stats s
        |), fb AS (
        |  SELECT query_id, doc_id FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY sum(c) DESC, doc_id ASC) AS r
        |    FROM contrib1 GROUP BY query_id, doc_id)
        |  WHERE r <= 5
        |), rmw AS (
        |  SELECT fb.query_id, tf.term,
        |    sum(floor(1e6 * tf.tf / dl.dl + 0.5)::BIGINT)::BIGINT AS rm_fx
        |  FROM tf JOIN fb USING (doc_id) JOIN dl USING (doc_id)
        |  GROUP BY 1, 2
        |), rmtop AS (
        |  SELECT query_id, term, rm_fx FROM (
        |    SELECT query_id, term, rm_fx,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY rm_fx DESC, term ASC) AS r
        |    FROM rmw)
        |  WHERE r <= 8
        |), rmtot AS (
        |  SELECT query_id, sum(rm_fx)::BIGINT AS rm_tot
        |  FROM rmtop GROUP BY 1
        |), expt AS (
        |  SELECT query_id, term,
        |    floor(500000.0 * rm_fx / rm_tot + 0.5)::BIGINT AS w_fx
        |  FROM rmtop JOIN rmtot USING (query_id)
        |), nq AS (
        |  SELECT query_id, count(*)::BIGINT AS nq FROM qterms GROUP BY 1
        |), origt AS (
        |  SELECT query_id, term, floor(500000.0 / nq + 0.5)::BIGINT AS w_fx
        |  FROM qterms JOIN nq USING (query_id)
        |), wq AS (
        |  SELECT query_id, term, sum(w_fx)::BIGINT AS w_fx
        |  FROM (SELECT * FROM origt UNION ALL SELECT * FROM expt)
        |  GROUP BY 1, 2 HAVING sum(w_fx) > 0
        |), contrib2 AS (
        |  SELECT w.query_id, tf.doc_id,
        |    w.w_fx * (floor(ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5)
        |        + 1.0)
        |      * (tf.tf * 2.5)
        |      / (tf.tf + 1.5 * (0.25 + 0.75 * dl.dl / s.avgdl))
        |      * 1e6 + 0.5)::BIGINT) AS wc
        |  FROM tf JOIN wq w USING (term) JOIN dfreq USING (term)
        |    JOIN dl USING (doc_id) CROSS JOIN stats s
        |), scored AS (
        |  SELECT query_id, doc_id, sum(wc)::BIGINT AS score_fx,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sum(wc) DESC, doc_id ASC)::BIGINT AS rank
        |  FROM contrib2 GROUP BY query_id, doc_id
        |)
        |SELECT query_id, rank, doc_id, score_fx / 1e12 AS score
        |FROM scored WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "bm25_filtered" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
        |), dl AS (
        |  SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT (SELECT count(*)::DOUBLE FROM documents) AS n,
        |    (SELECT sum(dl)::DOUBLE FROM dl)
        |      / (SELECT count(*)::DOUBLE FROM documents) AS avgdl
        |), qterms AS (
        |  SELECT DISTINCT doc_id AS query_id,
        |    unnest((string_split_regex(trim(lower(text)), '\s+'))[1:8])
        |      AS term
        |  FROM documents WHERE doc_id < 5
        |), contrib AS (
        |  SELECT q.query_id, tf.doc_id,
        |    floor(ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
        |      * (tf.tf * 2.5)
        |      / (tf.tf + 1.5 * (0.25 + 0.75 * dl.dl / s.avgdl))
        |      * 1e6 + 0.5)::BIGINT AS c
        |  FROM tf JOIN qterms q USING (term) JOIN dfreq USING (term)
        |    JOIN dl USING (doc_id) CROSS JOIN stats s
        |  WHERE tf.doc_id IN (SELECT doc_id FROM documents
        |                      WHERE lang = 'en')
        |), scored AS (
        |  SELECT query_id, doc_id, sum(c)::BIGINT AS score_fx,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sum(c) DESC, doc_id ASC)::BIGINT AS rank
        |  FROM contrib GROUP BY query_id, doc_id
        |)
        |SELECT query_id, rank, doc_id, score_fx / 1e6 AS score
        |FROM scored WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "hybrid_indexed" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 5)
        |    AS n_queries,
        |  TRUE AS ranks_ok, TRUE AS equals_in_memory_fusion_ok""".stripMargin,

    "hybrid_filtered" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 5)
        |    AS n_queries,
        |  TRUE AS ranks_ok, TRUE AS all_eligible_ok,
        |  TRUE AS equals_in_memory_fusion_ok""".stripMargin,

    "contrastive_triplets" ->
      """WITH scored AS (
        |  SELECT a.vec_id AS qid, c.vec_id AS nid,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[],
        |                                 c.embedding::DOUBLE[]), 6) AS cos
        |  FROM embeddings a JOIN embeddings c ON a.vec_id != c.vec_id
        |  WHERE a.vec_id < 50),
        |pos AS (
        |  SELECT qid, nid AS positive, cos AS pos_cos FROM (
        |    SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, nid) AS pr
        |    FROM scored WHERE cos >= 0.4) WHERE pr = 1),
        |neg AS (
        |  SELECT qid, nid AS negative, cos AS neg_cos,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, nid)::BIGINT AS rank
        |  FROM scored WHERE cos < 0.4)
        |SELECT p.qid AS anchor, p.positive, p.pos_cos, n.rank, n.negative,
        |  n.neg_cos
        |FROM pos p JOIN neg n USING (qid) WHERE n.rank <= 3
        |ORDER BY anchor, rank""".stripMargin,

    "retrieval_mmr" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 10)
        |    AS n_queries,
        |  TRUE AS ranks_ok, TRUE AS subset_ok,
        |  TRUE AS first_is_top_rel_ok,
        |  TRUE AS lambda_one_is_pure_relevance_ok""".stripMargin,

    "retrieval_filtered_mmr" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id < 5)
        |    AS n_queries,
        |  TRUE AS ranks_ok, TRUE AS subset_of_fused_ok,
        |  TRUE AS all_eligible_ok, TRUE AS first_is_fused_top_ok,
        |  TRUE AS lambda_one_is_fused_topk_ok""".stripMargin,

    "hybrid_rrf_topk" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
        |), dl AS (
        |  SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT (SELECT count(*)::DOUBLE FROM documents) AS n,
        |    (SELECT sum(dl)::DOUBLE FROM dl)
        |      / (SELECT count(*)::DOUBLE FROM documents) AS avgdl
        |), qterms AS (
        |  SELECT DISTINCT doc_id AS query_id,
        |    unnest((string_split_regex(trim(lower(text)), '\s+'))[1:8])
        |      AS term
        |  FROM documents WHERE doc_id < 5
        |), contrib AS (
        |  SELECT q.query_id, tf.doc_id,
        |    floor(ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
        |      * (tf.tf * 2.5)
        |      / (tf.tf + 1.5 * (0.25 + 0.75 * dl.dl / s.avgdl))
        |      * 1e6 + 0.5)::BIGINT AS c
        |  FROM tf JOIN qterms q USING (term) JOIN dfreq USING (term)
        |    JOIN dl USING (doc_id) CROSS JOIN stats s
        |), lex AS (
        |  SELECT query_id AS qid, doc_id AS id, rank FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY sum(c) DESC, doc_id ASC) AS rank
        |    FROM contrib GROUP BY query_id, doc_id)
        |  WHERE rank <= 20
        |), vec AS (
        |  SELECT qid, id, rank FROM (
        |    SELECT q.vec_id AS qid, c.vec_id AS id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[],
        |                       c.embedding::DOUBLE[]), 6) DESC,
        |          c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |    WHERE q.vec_id < 5)
        |  WHERE rank <= 20
        |), fused AS (
        |  SELECT qid, id,
        |    sum(floor(1e9 / (60 + rank))::BIGINT)::BIGINT AS score_fx,
        |    count(*)::BIGINT AS n_arms
        |  FROM (SELECT * FROM lex UNION ALL SELECT * FROM vec)
        |  GROUP BY qid, id
        |)
        |SELECT qid AS query_id, rank, id AS doc_id, score_fx, n_arms
        |FROM (
        |  SELECT qid, id, score_fx, n_arms,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY score_fx DESC, id ASC)::BIGINT AS rank
        |  FROM fused)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "curation_pipeline" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    len(string_split_regex(trim(lower(text)), '\s+'))::BIGINT AS n_tok
        |  FROM documents
        |), quality AS (SELECT * FROM base WHERE n_tok >= 30),
        |dedup AS (
        |  SELECT doc_id, n_tok FROM (
        |    SELECT doc_id, n_tok,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM quality) WHERE rn = 1
        |), sampled AS (
        |  SELECT doc_id, n_tok FROM dedup
        |  WHERE substr(md5(doc_id::VARCHAR || 'cur'), 1, 4) < '8000'
        |)
        |SELECT doc_id, n_tok AS n_tokens, doc_id % 4 AS shard,
        |  ((sum(n_tok) OVER (PARTITION BY doc_id % 4 ORDER BY doc_id
        |     ROWS UNBOUNDED PRECEDING) - n_tok) // 512)::BIGINT AS pack
        |FROM sampled ORDER BY doc_id""".stripMargin,

    "stratified_sample" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE substr(md5(c_custkey::VARCHAR || 'mix1'), 1, 4) <
        |  CASE c_mktsegment WHEN 'BUILDING' THEN 'c000'
        |                    WHEN 'AUTOMOBILE' THEN '8000'
        |                    ELSE '4000' END
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "global_shuffle_order" ->
      """SELECT c_custkey, c_mktsegment,
        |  row_number() OVER (
        |    ORDER BY md5(c_custkey::VARCHAR || 'epoch1'),
        |             c_custkey)::BIGINT AS shuffle_rank
        |FROM customer ORDER BY shuffle_rank""".stripMargin,

    "mix_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    len(string_split_regex(trim(lower(text)), '\s+'))::BIGINT
        |      AS n_tok
        |  FROM documents),
        |tgt(dom, p) AS (VALUES
        |    ('en', 0.5::DOUBLE), ('de', 0.2::DOUBLE), ('fr', 0.1::DOUBLE),
        |    ('es', 0.1::DOUBLE), ('zh', 0.1::DOUBLE)),
        |j AS (
        |  SELECT lang AS dom, sum(n_tok)::BIGINT AS tok, p
        |  FROM d JOIN tgt ON lang = dom GROUP BY lang, p),
        |tt AS (SELECT min(floor(tok / p))::BIGINT AS t FROM j),
        |k AS (SELECT dom, floor(p * t)::BIGINT AS budget
        |      FROM j CROSS JOIN tt),
        |r AS (
        |  SELECT doc_id, lang, n_tok,
        |    (sum(n_tok) OVER (PARTITION BY lang
        |       ORDER BY md5(doc_id::VARCHAR || 'tb1'), doc_id
        |       ROWS UNBOUNDED PRECEDING) - n_tok)::BIGINT AS cum
        |  FROM d)
        |SELECT r.doc_id, r.lang, r.n_tok
        |FROM r JOIN k ON r.lang = k.dom AND r.cum < k.budget
        |ORDER BY r.doc_id""".stripMargin,

    "mix_temperature" ->
      """WITH c AS (
        |  SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang),
        |w AS (
        |  SELECT lang, CAST(floor(sqrt(n)) AS BIGINT) AS w, n FROM c),
        |tw AS (SELECT sum(w)::BIGINT AS tot FROM w),
        |tt AS (SELECT min(n * tot // w)::BIGINT AS t
        |       FROM w CROSS JOIN tw),
        |k AS (SELECT w.lang, (w.w * tt.t // tw.tot)::BIGINT AS budget
        |      FROM w CROSS JOIN tw CROSS JOIN tt),
        |r AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(doc_id::VARCHAR || 'mt1'), doc_id) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.lang
        |FROM r JOIN k ON r.lang = k.lang AND r.rn <= k.budget
        |ORDER BY r.doc_id""".stripMargin,

    "pack_length_buckets" ->
      """WITH d AS (
        |  SELECT doc_id, greatest(
        |    len(string_split_regex(trim(lower(text)), '\s+'))::BIGINT,
        |    1) AS tok
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, tok,
        |    (CASE WHEN tok = 1 THEN 1::BIGINT
        |     ELSE (1::BIGINT << len(bin(tok - 1)))::BIGINT END) AS bucket
        |  FROM d),
        |r AS (
        |  SELECT bucket, tok,
        |    ROW_NUMBER() OVER (PARTITION BY bucket
        |      ORDER BY md5(doc_id::VARCHAR || 'lb1'), doc_id) AS rn
        |  FROM b),
        |g AS (
        |  SELECT bucket, ((rn - 1) // 8)::BIGINT AS batch_id,
        |    count(*)::BIGINT AS n_docs, max(tok)::BIGINT AS max_tok,
        |    sum(tok)::BIGINT AS sum_tok
        |  FROM r GROUP BY bucket, batch_id)
        |SELECT bucket, batch_id, n_docs, max_tok, sum_tok,
        |  ((bucket * n_docs - sum_tok) * 1000000
        |    // (bucket * n_docs))::BIGINT AS pad_ppm
        |FROM g ORDER BY bucket, batch_id""".stripMargin,

    "sample_pps" ->
      """WITH d AS (
        |  SELECT doc_id, greatest(
        |    len(string_split_regex(trim(lower(text)), '\s+'))::BIGINT,
        |    1) AS w
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, w,
        |    (sum(w) OVER (ORDER BY md5(doc_id::VARCHAR || 'pps1'), doc_id
        |       ROWS UNBOUNDED PRECEDING) - w)::BIGINT AS cum
        |  FROM d),
        |t AS (SELECT sum(w)::BIGINT AS tot FROM d),
        |s AS (SELECT greatest(tot // 100, 1)::BIGINT AS step,
        |             (greatest(tot // 100, 1) // 2)::BIGINT AS off FROM t)
        |SELECT doc_id, w, cum FROM o, s
        |WHERE off + ((cum - off + step - 1) // step) * step < cum + w
        |ORDER BY doc_id""".stripMargin,

    "soft_dedup_sample" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents WHERE doc_id < 300)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.3),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b AS src, id_a AS dst FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |cl AS (
        |  SELECT src AS id, least(src, min(dst))::BIGINT AS cluster
        |  FROM reach GROUP BY src),
        |csz AS (SELECT cluster, count(*)::BIGINT AS n FROM cl
        |        GROUP BY cluster),
        |d AS (
        |  SELECT doc_id, greatest(
        |    len(string_split_regex(trim(lower(text)), '\s+'))::BIGINT,
        |    1) AS tok
        |  FROM documents WHERE doc_id < 300),
        |wts AS (
        |  SELECT d.doc_id,
        |    greatest(d.tok // coalesce(csz.n, 1), 1)::BIGINT AS w
        |  FROM d LEFT JOIN cl ON cl.id = d.doc_id
        |  LEFT JOIN csz ON csz.cluster = cl.cluster),
        |o AS (
        |  SELECT doc_id, w,
        |    (sum(w) OVER (ORDER BY md5(doc_id::VARCHAR || 'sd1'), doc_id
        |       ROWS UNBOUNDED PRECEDING) - w)::BIGINT AS cum
        |  FROM wts),
        |t AS (SELECT sum(w)::BIGINT AS tot FROM o),
        |s AS (SELECT greatest(tot // 40, 1)::BIGINT AS step,
        |             (greatest(tot // 40, 1) // 2)::BIGINT AS off FROM t)
        |SELECT doc_id, w, cum FROM o, s
        |WHERE off + ((cum - off + step - 1) // step) * step < cum + w
        |ORDER BY doc_id""".stripMargin,

    "select_top_p" ->
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |    sum(greatest(n_chars, 0)::BIGINT) OVER (PARTITION BY lang)
        |      AS tot,
        |    (sum(greatest(n_chars, 0)::BIGINT) OVER (PARTITION BY lang
        |       ORDER BY greatest(n_chars, 0) DESC, doc_id
        |       ROWS UNBOUNDED PRECEDING) - greatest(n_chars, 0)) AS cum
        |  FROM documents)
        |SELECT doc_id, lang, n_chars FROM r
        |WHERE cum * 1000000 < tot * 500000
        |ORDER BY doc_id""".stripMargin,

    "pretrain_mix_pipeline" ->
      """WITH RECURSIVE d0 AS (
        |  SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents WHERE doc_id < 300),
        |q AS (
        |  SELECT doc_id, lang, ws, len(ws)::BIGINT AS n_tok
        |  FROM d0 WHERE len(ws) >= 10),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
        |  FROM q),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.3),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b AS src, id_a AS dst FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |cl AS (
        |  SELECT src AS id, least(src, min(dst))::BIGINT AS cluster
        |  FROM reach GROUP BY src),
        |r AS (
        |  SELECT q.doc_id, q.lang, q.n_tok,
        |    coalesce(cl.cluster, q.doc_id)::BIGINT AS rep
        |  FROM q LEFT JOIN cl ON cl.id = q.doc_id),
        |tr AS (
        |  SELECT doc_id, lang, n_tok FROM (
        |    SELECT doc_id, lang, n_tok,
        |      (((ascii(substr(md5(CAST(rep AS VARCHAR)), 1, 1)) * 31
        |        + ascii(substr(md5(CAST(rep AS VARCHAR)), 2, 1))) * 31
        |        + ascii(substr(md5(CAST(rep AS VARCHAR)), 3, 1))) * 31
        |        + ascii(substr(md5(CAST(rep AS VARCHAR)), 4, 1))) % 100
        |        AS fold
        |    FROM r) WHERE fold < 90),
        |tgt(dom, pr) AS (VALUES
        |    ('en', 0.5::DOUBLE), ('de', 0.2::DOUBLE), ('fr', 0.1::DOUBLE),
        |    ('es', 0.1::DOUBLE), ('zh', 0.1::DOUBLE)),
        |j AS (
        |  SELECT lang AS dom, sum(n_tok)::BIGINT AS tok, pr
        |  FROM tr JOIN tgt ON lang = dom GROUP BY lang, pr),
        |tt AS (SELECT min(floor(tok / pr))::BIGINT AS t FROM j),
        |k AS (SELECT dom, floor(pr * t)::BIGINT AS budget
        |      FROM j CROSS JOIN tt),
        |m AS (
        |  SELECT doc_id, lang, n_tok,
        |    (sum(n_tok) OVER (PARTITION BY lang
        |       ORDER BY md5(doc_id::VARCHAR || 'pm1'), doc_id
        |       ROWS UNBOUNDED PRECEDING) - n_tok)::BIGINT AS cum
        |  FROM tr),
        |mx AS (
        |  SELECT m.doc_id, greatest(m.n_tok, 1) AS tok
        |  FROM m JOIN k ON m.lang = k.dom AND m.cum < k.budget),
        |bk AS (
        |  SELECT doc_id, tok,
        |    (CASE WHEN tok = 1 THEN 1::BIGINT
        |     ELSE (1::BIGINT << len(bin(tok - 1)))::BIGINT END) AS bucket
        |  FROM mx),
        |rn AS (
        |  SELECT bucket, tok,
        |    ROW_NUMBER() OVER (PARTITION BY bucket
        |      ORDER BY md5(doc_id::VARCHAR || 'pm2'), doc_id) AS rn
        |  FROM bk),
        |g AS (
        |  SELECT bucket, ((rn - 1) // 8)::BIGINT AS batch_id,
        |    count(*)::BIGINT AS n_docs, max(tok)::BIGINT AS max_tok,
        |    sum(tok)::BIGINT AS sum_tok
        |  FROM rn GROUP BY bucket, batch_id)
        |SELECT bucket, batch_id, n_docs, max_tok, sum_tok,
        |  ((bucket * n_docs - sum_tok) * 1000000
        |    // (bucket * n_docs))::BIGINT AS pad_ppm
        |FROM g ORDER BY bucket, batch_id""".stripMargin,

    "mix_resample" ->
      """WITH tgt(dom, p) AS (VALUES
        |    ('BUILDING', 0.5::DOUBLE), ('AUTOMOBILE', 0.3::DOUBLE),
        |    ('MACHINERY', 0.2::DOUBLE)),
        |j AS (
        |  SELECT c_mktsegment AS dom, count(*) AS n, p
        |  FROM customer JOIN tgt ON c_mktsegment = dom
        |  GROUP BY c_mktsegment, p),
        |nn AS (SELECT min(floor(n / p))::BIGINT AS nt FROM j),
        |k AS (SELECT dom, floor(p * nt)::BIGINT AS kd FROM j CROSS JOIN nn),
        |r AS (
        |  SELECT c_mktsegment, c_custkey,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY md5(c_custkey::VARCHAR || 'mt1'), c_custkey)::BIGINT
        |      AS rn
        |  FROM customer)
        |SELECT r.c_mktsegment, r.rn, r.c_custkey
        |FROM r JOIN k ON r.c_mktsegment = k.dom AND r.rn <= k.kd
        |ORDER BY r.c_mktsegment, r.rn""".stripMargin,

    "sample_per_group" ->
      """SELECT c_mktsegment, rn, c_custkey FROM (
        |  SELECT c_mktsegment, c_custkey,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY md5(c_custkey::VARCHAR || 'gs'), c_custkey)::BIGINT
        |      AS rn
        |  FROM customer)
        |WHERE rn <= 10 ORDER BY c_mktsegment, rn""".stripMargin,

    "sample_exact_k" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang FROM documents
        |  ORDER BY md5(doc_id::VARCHAR || 'rs'), doc_id LIMIT 40)
        |ORDER BY doc_id""".stripMargin,

    "sample_weighted_aes" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars FROM documents
        |  WHERE doc_id IS NOT NULL AND n_chars::DOUBLE >= 1e-6
        |  ORDER BY CAST(floor(-ln((('0x' ||
        |      substr(md5(doc_id::VARCHAR || 'wrs'), 1, 13))::UBIGINT + 1)
        |      / 4503599627370496.0) / n_chars::DOUBLE * 1e9 + 0.5)
        |      AS BIGINT),
        |    doc_id
        |  LIMIT 40)
        |ORDER BY doc_id""".stripMargin,

    "seq_pack" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
        |  FROM documents
        |)
        |SELECT doc_id, shard, n_tokens,
        |  ((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens) // 2048)::BIGINT AS pack
        |FROM d ORDER BY doc_id""".stripMargin,

    "decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(1, greatest(len(t)-7, 1))) AS i
        |  FROM toks
        |), grams AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(t) < 8 THEN array_to_string(t, ' ')
        |         ELSE array_to_string(t[i:i+7], ' ') END AS g
        |  FROM idx
        |), ev AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20)
        |SELECT c.doc_id, count(DISTINCT c.g) AS n_overlap
        |FROM grams c JOIN ev ON c.g = ev.g
        |WHERE c.doc_id >= 20
        |GROUP BY c.doc_id HAVING count(DISTINCT c.g) >= 1
        |ORDER BY c.doc_id""".stripMargin,

    "decontaminate_fuzzy" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents)),
        |c AS (SELECT doc_id, len(s)::BIGINT AS n_c, unnest(s) AS g FROM sh
        |      WHERE doc_id % 13 <> 0),
        |e AS (SELECT doc_id AS eval_id, len(s)::BIGINT AS n_e,
        |        unnest(s) AS g
        |      FROM sh WHERE doc_id % 13 = 0),
        |j AS (
        |  SELECT c.doc_id, e.eval_id, count(*)::BIGINT AS shared,
        |    any_value(n_c) AS n_c, any_value(n_e) AS n_e
        |  FROM c JOIN e USING (g) GROUP BY c.doc_id, e.eval_id)
        |SELECT doc_id, eval_id,
        |  round(shared::DOUBLE / (n_c + n_e - shared), 6) AS jaccard
        |FROM j
        |WHERE round(shared::DOUBLE / (n_c + n_e - shared), 6) >= 0.3
        |ORDER BY doc_id, eval_id""".stripMargin,

    "decontaminate_bloom" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(1, greatest(len(t)-7, 1))) AS i
        |  FROM toks
        |), grams AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(t) < 8 THEN array_to_string(t, ' ')
        |         ELSE array_to_string(t[i:i+7], ' ') END AS g
        |  FROM idx
        |), ev AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20)
        |SELECT count(*)::BIGINT AS n_contaminated,
        |  TRUE AS bloom_equals_exact_ok, TRUE AS no_false_negatives_ok
        |FROM (
        |  SELECT c.doc_id FROM grams c JOIN ev ON c.g = ev.g
        |  WHERE c.doc_id >= 20
        |  GROUP BY c.doc_id HAVING count(DISTINCT c.g) >= 1)""".stripMargin,

    "token_freq_topk" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "dedup_exact" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents))
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "dedup_exact_groups" ->
      """SELECT md5(text) AS content_key, count(*) AS copies,
        |  min(doc_id) AS keep_id
        |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "dedup_minhash_incremental" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id >=
        |    (SELECT floor(max(doc_id) * 0.8) FROM documents))
        |    AS n_batch,
        |  TRUE AS ids_ordered_ok, TRUE AS matches_full_run_ok,
        |  TRUE AS nonvacuous_ok""".stripMargin,

    "dedup_incremental" ->
      """WITH b1 AS (
        |  SELECT DISTINCT md5(text) AS k FROM documents WHERE doc_id < 250),
        |b2 AS (
        |  SELECT doc_id, lang, n_chars, md5(text) AS k
        |  FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 9000000, lang, n_chars, md5(text)
        |  FROM documents WHERE doc_id < 30),
        |fresh AS (
        |  SELECT * FROM b2 WHERE k NOT IN (SELECT k FROM b1)),
        |d AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY k ORDER BY doc_id) AS rn
        |  FROM fresh)
        |SELECT doc_id, lang, n_chars FROM d WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "dedup_repeated_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |win AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS gram
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i)),
        |dup AS (
        |  SELECT gram FROM win GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2),
        |dw AS (SELECT w.doc_id, w.pos FROM win w JOIN dup USING (gram)),
        |flg AS (
        |  SELECT doc_id, pos,
        |    max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM dw),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS span_no
        |  FROM flg)
        |SELECT doc_id, min(pos)::BIGINT AS span_start,
        |  (max(pos) + 8)::BIGINT AS span_end,
        |  (max(pos) + 8 - min(pos))::BIGINT AS n_tokens,
        |  count(*)::BIGINT AS n_windows
        |FROM isl GROUP BY doc_id, span_no
        |ORDER BY doc_id, span_start""".stripMargin,

    "dedup_span_cut" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t,
        |         string_split_regex(trim(text), '\s+') AS o
        |  FROM documents),
        |win AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS gram
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i)),
        |dup AS (
        |  SELECT gram FROM win GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2),
        |dw AS (SELECT w.doc_id, w.pos FROM win w JOIN dup USING (gram)),
        |flg AS (
        |  SELECT doc_id, pos,
        |    max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM dw),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS span_no
        |  FROM flg),
        |spans AS (
        |  SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
        |  FROM isl GROUP BY doc_id, span_no),
        |pos AS (
        |  SELECT doc_id, i, o[i] AS tok
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(o))) AS i)),
        |keep AS (
        |  SELECT p.doc_id, p.i, p.tok FROM pos p
        |  WHERE NOT EXISTS (SELECT 1 FROM spans s
        |    WHERE s.doc_id = p.doc_id AND p.i - 1 >= s.s AND p.i - 1 < s.e)),
        |agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS cleaned
        |  FROM keep GROUP BY doc_id),
        |cut AS (SELECT doc_id, sum(e - s) AS c FROM spans GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.cleaned, '') AS cleaned,
        |  coalesce(c.c, 0)::BIGINT AS n_tokens_cut
        |FROM documents d
        |LEFT JOIN agg a ON d.doc_id = a.doc_id
        |LEFT JOIN cut c ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "ngram_jaccard_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents WHERE doc_id < 300))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    "jaccard_prefix_join" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents)),
        |tok AS (SELECT doc_id, len(s) AS n, unnest(s) AS tok FROM sh)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(count(*)::DOUBLE / (a.n + b.n - count(*)), 6) AS jaccard
        |FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id, a.n, b.n
        |HAVING round(count(*)::DOUBLE / (a.n + b.n - count(*)), 6) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_near_keep" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents WHERE doc_id < 300)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.3),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b AS src, id_a AS dst FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |drop_ids AS (
        |  SELECT src AS id FROM reach GROUP BY src
        |  HAVING src != least(src, min(dst)))
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 300 AND doc_id NOT IN (SELECT id FROM drop_ids)
        |ORDER BY doc_id""".stripMargin,

    "dedup_canonical" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents WHERE doc_id < 300)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.3),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b AS src, id_a AS dst FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |cl AS (
        |  SELECT src AS id, least(src, min(dst))::BIGINT AS cluster
        |  FROM reach GROUP BY src),
        |r AS (
        |  SELECT d.doc_id, d.lang, d.n_chars,
        |    coalesce(cl.cluster, d.doc_id)::BIGINT AS rep
        |  FROM (SELECT doc_id, lang, n_chars FROM documents
        |        WHERE doc_id < 300) d
        |  LEFT JOIN cl ON cl.id = d.doc_id),
        |w AS (
        |  SELECT doc_id, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY rep
        |      ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM r)
        |SELECT doc_id, lang, n_chars FROM w WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents WHERE doc_id < 300)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.3),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b AS src, id_a AS dst FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src)
        |SELECT src AS id, least(src, min(dst))::BIGINT AS cluster
        |FROM reach GROUP BY src ORDER BY id""".stripMargin,

    "dedup_clusters_star" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents WHERE doc_id < 300)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.3),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b AS src, id_a AS dst FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src)
        |SELECT src AS id, least(src, min(dst))::BIGINT AS cluster
        |FROM reach GROUP BY src ORDER BY id""".stripMargin,

    // identical full-recompute CTE: incremental must match from-scratch
    "dedup_clusters_incremental" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents WHERE doc_id < 300)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.3),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b AS src, id_a AS dst FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src)
        |SELECT src AS id, least(src, min(dst))::BIGINT AS cluster
        |FROM reach GROUP BY src ORDER BY id""".stripMargin,

    "dedup_embedding_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[],
        |                               b.embedding::DOUBLE[]), 6) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 300 AND b.vec_id < 300
        |  AND round(list_cosine_similarity(a.embedding::DOUBLE[],
        |                                   b.embedding::DOUBLE[]), 6) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "sim_bruteforce_topk" ->
      """SELECT qid, rank, nid, cos FROM (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid,
        |    round(list_cosine_similarity(q.embedding::DOUBLE[],
        |                                 c.embedding::DOUBLE[]), 6) AS cos,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[],
        |                     c.embedding::DOUBLE[]), 6) DESC, c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |  WHERE q.vec_id < 10)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "heavy_hitters" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  TRUE AS never_undercounts_ok, TRUE AS overcount_within_eps_ok,
        |  TRUE AS partition_invariant_ok""".stripMargin,

    "approx_distinct_incremental" ->
      """SELECT (SELECT count(DISTINCT event_type) FROM events) AS n_groups,
        |  TRUE AS merge_within_error_ok, TRUE AS within_error_ok,
        |  TRUE AS partition_within_error_ok""".stripMargin,

    "approx_quantile_incremental" ->
      """SELECT (SELECT count(DISTINCT event_type) FROM events) AS n_groups,
        |  TRUE AS merge_rank_envelope_ok, TRUE AS full_rank_envelope_ok,
        |  TRUE AS merged_n_exact_ok""".stripMargin,

    "approx_overlap_theta" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  TRUE AS side_estimates_ok, TRUE AS union_estimate_ok,
        |  TRUE AS intersect_estimate_ok, TRUE AS anotb_estimate_ok,
        |  TRUE AS algebra_consistent_ok""".stripMargin,

    "url_domain_stats" ->
      """SELECT 'd' || (doc_id % 7) || '.example.org' AS domain,
        |  count(*) AS n
        |FROM documents GROUP BY domain ORDER BY domain""".stripMargin,

    "doc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), nn AS (SELECT doc_id, t, len(t) AS n FROM d),
        |c AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(0,
        |      CASE WHEN n <= 64 THEN 0 ELSE (n - 64 + 47) // 48 END))
        |      AS chunk_id
        |  FROM nn)
        |SELECT doc_id, chunk_id::BIGINT AS chunk_id,
        |  len(t[chunk_id*48+1 : chunk_id*48+64])::BIGINT AS n_chunk_tokens,
        |  md5(array_to_string(t[chunk_id*48+1 : chunk_id*48+64], ' '))
        |    AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "boilerplate_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents
        |), nn AS (SELECT doc_id, t, len(t) AS n FROM d),
        |c AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(0,
        |      CASE WHEN n <= 32 THEN 0 ELSE (n - 32 + 31) // 32 END))
        |      AS chunk_id
        |  FROM nn)
        |SELECT md5(array_to_string(t[chunk_id*32+1 : chunk_id*32+32], ' '))
        |    AS chunk_md5,
        |  count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
        |FROM c
        |GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, chunk_md5""".stripMargin,

    "pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' reach user' || doc_id ||
        |    '@mail.example.com via http://example.com/d/' || doc_id ||
        |    ' from 10.0.' || (doc_id % 250) || '.7 tel 303-555-' ||
        |    lpad((doc_id % 10000)::VARCHAR, 4, '0') AS a
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(a, 'https?://[^ \t\n]+'))::BIGINT AS n_url,
        |  len(regexp_extract_all(a,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::BIGINT AS n_email,
        |  len(regexp_extract_all(a,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::BIGINT
        |    AS n_ip,
        |  len(regexp_extract_all(a,
        |    '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b'))::BIGINT AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(a,
        |    'https?://[^ \t\n]+', '[URL]', 'g'),
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g'),
        |    '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '[PHONE]', 'g')) AS redacted_md5
        |FROM aug ORDER BY doc_id""".stripMargin,

    "text_readability" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[.!?]+'))::BIGINT AS n_sent_marks,
        |  round(len(string_split_regex(trim(lower(text)), '\s+'))::DOUBLE /
        |    greatest(len(regexp_extract_all(text, '[.!?]+'))::DOUBLE, 1.0), 4)
        |    AS words_per_sent,
        |  round(length(regexp_replace(text, '\s', '', 'g'))::DOUBLE /
        |    len(string_split_regex(trim(lower(text)), '\s+')), 4)
        |    AS mean_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_analysis" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
        |    AS n_bpeish,
        |  length(text) AS n_chars_m,
        |  CASE
        |    WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
        |    WHEN en >= es AND en >= de AND en >= fr THEN 'en'
        |    WHEN es >= de AND es >= fr THEN 'es'
        |    WHEN de >= fr THEN 'de'
        |    ELSE 'fr' END AS lang_pred,
        |  floor((least(nt / 100.0, 1.0) * 0.4 + (en / nt) * 0.3 +
        |         least((ns / nt) / 8.0, 1.0) * 0.3) * 1e6 + 0.5) / 1e6
        |    AS quality
        |FROM (
        |  SELECT doc_id, text,
        |    len(string_split_regex(trim(lower(text)), '\s+'))::DOUBLE AS nt,
        |    length(regexp_replace(text, '\s', '', 'g'))::DOUBLE AS ns,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      w -> w IN ('the','and','of','to','a','in','is'))) AS en,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      w -> w IN ('el','la','de','que','y','en','un'))) AS es,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      w -> w IN ('der','die','und','das','ist','ein','zu'))) AS de,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      w -> w IN ('le','les','des','et','une','est','dans'))) AS fr
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "quality_ensemble_thin" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    floor((least(nt / 100.0, 1.0) * 0.4 + (en / nt) * 0.3 +
        |           least((ns / nt) / 8.0, 1.0) * 0.3) * 1e6 + 0.5) / 1e6
        |      AS quality
        |  FROM (
        |    SELECT doc_id,
        |      len(string_split_regex(trim(lower(text)), '\s+'))::DOUBLE
        |        AS nt,
        |      length(regexp_replace(text, '\s', '', 'g'))::DOUBLE AS ns,
        |      len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        w -> w IN ('the','and','of','to','a','in','is'))) AS en
        |    FROM documents)),
        |qp AS (
        |  SELECT doc_id, floor(quality * 1e6 + 0.5)::BIGINT AS q_ppm
        |  FROM q),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END))
        |      AS g
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents)),
        |gdf AS (SELECT g, count(*)::BIGINT AS df FROM sh GROUP BY g),
        |nv AS (
        |  SELECT s.doc_id,
        |    (sum(CASE WHEN gdf.df = 1 THEN 1 ELSE 0 END) * 1000000
        |       // count(*))::BIGINT AS novelty_ppm
        |  FROM sh s JOIN gdf USING (g) GROUP BY s.doc_id),
        |e AS (
        |  SELECT qp.doc_id, qp.q_ppm, nv.novelty_ppm,
        |    ((qp.q_ppm + nv.novelty_ppm) // 2)::BIGINT AS ens_ppm,
        |    md5(qp.doc_id::VARCHAR || 'qe1') AS h
        |  FROM qp JOIN nv USING (doc_id)),
        |b AS (
        |  SELECT doc_id, q_ppm, novelty_ppm, ens_ppm,
        |    (((((ascii(substr(h,1,1))::BIGINT * 31 + ascii(substr(h,2,1)))
        |       * 31 + ascii(substr(h,3,1))) * 31 + ascii(substr(h,4,1)))
        |       * 31 + ascii(substr(h,5,1))) * 31 + ascii(substr(h,6,1)))
        |      % 1000000 AS draw_ppm
        |  FROM e)
        |SELECT doc_id, q_ppm, novelty_ppm, ens_ppm, draw_ppm FROM b
        |WHERE draw_ppm < greatest(0, least(ens_ppm, 1000000))
        |ORDER BY doc_id""".stripMargin,

    "corpus_report" ->
      """WITH base AS (
        |  SELECT lang, text,
        |    len(string_split_regex(trim(lower(text)), '\s+'))::BIGINT
        |      AS n_tok,
        |    floor(floor((least(nt / 100.0, 1.0) * 0.4 + (en / nt) * 0.3 +
        |          least((ns / nt) / 8.0, 1.0) * 0.3) * 1e6 + 0.5) / 1e6
        |        * 1e6 + 0.5)::BIGINT AS q_ppm
        |  FROM (
        |    SELECT lang, text,
        |      len(string_split_regex(trim(lower(text)), '\s+'))::DOUBLE
        |        AS nt,
        |      length(regexp_replace(text, '\s', '', 'g'))::DOUBLE AS ns,
        |      len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        w -> w IN ('the','and','of','to','a','in','is'))) AS en
        |    FROM documents))
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_tok)::BIGINT AS n_tokens,
        |  (count(*) - count(DISTINCT md5(text)))::BIGINT AS n_dup_copies,
        |  (sum(q_ppm) // count(*))::BIGINT AS mean_q_ppm,
        |  median(n_tok::DOUBLE) AS p50_tok
        |FROM base GROUP BY lang ORDER BY lang""".stripMargin,

    "length_outliers_mad" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    len(string_split_regex(trim(lower(text)), '\s+'))::BIGINT
        |      AS n_tok
        |  FROM documents),
        |m AS (SELECT *, median(n_tok::DOUBLE) OVER (PARTITION BY lang)
        |        AS med FROM d),
        |x AS (SELECT *, median(abs(n_tok - med)) OVER (PARTITION BY lang)
        |        AS mad FROM m)
        |SELECT doc_id, lang, n_tok, med, mad,
        |  abs(n_tok - med) > 3 * mad AS is_outlier
        |FROM x ORDER BY doc_id""".stripMargin,

    "curriculum_order" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    least(len(string_split_regex(trim(lower(text)), '\s+'))::BIGINT
        |      // 25, 3) AS tier
        |  FROM documents)
        |SELECT doc_id, lang, tier,
        |  (row_number() OVER (PARTITION BY tier, lang
        |     ORDER BY md5(doc_id::VARCHAR || 'cu1'), doc_id))::BIGINT AS rn
        |FROM d ORDER BY doc_id""".stripMargin,

    "novelty_score" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END))
        |      AS g
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents)),
        |gdf AS (SELECT g, count(*)::BIGINT AS df FROM sh GROUP BY g)
        |SELECT s.doc_id,
        |  sum(CASE WHEN gdf.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel,
        |  count(*)::BIGINT AS n_grams,
        |  (sum(CASE WHEN gdf.df = 1 THEN 1 ELSE 0 END) * 1000000
        |     // count(*))::BIGINT AS novelty_ppm
        |FROM sh s JOIN gdf USING (g)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    "compact_embedding_index" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 3 = 2)
        |    AS n_batch,
        |  TRUE AS one_segment_each_ok, TRUE AS rows_preserved_ok,
        |  TRUE AS pairs_unchanged_ok, TRUE AS nonvacuous_ok""".stripMargin,

    "compact_gram_segments" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END))
        |      AS g
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents))
        |SELECT (SELECT count(DISTINCT g) FROM sh) AS n_grams,
        |  TRUE AS one_segment_ok, TRUE AS equals_scratch_ok,
        |  TRUE AS idempotent_ok, TRUE AS scores_unchanged_ok""".stripMargin,

    "sketch_frequent_items" ->
      """SELECT (SELECT count(DISTINCT lang) FROM documents) AS n_groups,
        |  TRUE AS bounds_bracket_exact_ok, TRUE AS no_false_negatives_ok,
        |  TRUE AS merge_bounds_bracket_ok,
        |  TRUE AS nonvacuous_ok""".stripMargin,

    "novelty_incremental" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END))
        |      AS g
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents)),
        |gdf AS (SELECT g, count(*)::BIGINT AS df FROM sh GROUP BY g)
        |SELECT s.doc_id,
        |  sum(CASE WHEN gdf.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel,
        |  count(*)::BIGINT AS n_grams,
        |  (sum(CASE WHEN gdf.df = 1 THEN 1 ELSE 0 END) * 1000000
        |     // count(*))::BIGINT AS novelty_ppm
        |FROM sh s JOIN gdf USING (g)
        |WHERE s.doc_id >= 400
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    "blocklist_filter" ->
      """WITH d AS (
        |  SELECT doc_id, ' ' || array_to_string(
        |    string_split_regex(trim(lower(text)), '\s+'), ' ') || ' ' AS pad
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, list_filter(
        |    ['vector table', 'slow fast', 'customer group',
        |     'big vector table'],
        |    p -> contains(pad, ' ' || p || ' ')) AS hits
        |  FROM d)
        |SELECT doc_id, len(hits)::BIGINT AS n_hits, len(hits) = 0 AS keep,
        |  hits[1] AS first_hit
        |FROM h ORDER BY doc_id""".stripMargin,

    "blocklist_scale" ->
      """WITH d AS (
        |  SELECT doc_id, ' ' || array_to_string(
        |    string_split_regex(trim(lower(text)), '\s+'), ' ') || ' ' AS pad
        |  FROM documents),
        |p AS (
        |  SELECT unnest(['vector table', 'slow fast', 'customer group',
        |    'big vector table', 'warp drive table']) AS phrase)
        |SELECT doc_id, phrase FROM d CROSS JOIN p
        |WHERE contains(pad, ' ' || phrase || ' ')
        |ORDER BY doc_id, phrase""".stripMargin,

    "sample_rejection" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    floor((least(nt / 100.0, 1.0) * 0.4 + (en / nt) * 0.3 +
        |           least((ns / nt) / 8.0, 1.0) * 0.3) * 1e6 + 0.5) / 1e6
        |      AS quality
        |  FROM (
        |    SELECT doc_id,
        |      len(string_split_regex(trim(lower(text)), '\s+'))::DOUBLE
        |        AS nt,
        |      length(regexp_replace(text, '\s', '', 'g'))::DOUBLE AS ns,
        |      len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        w -> w IN ('the','and','of','to','a','in','is'))) AS en
        |    FROM documents)),
        |s AS (
        |  SELECT doc_id,
        |    greatest(0, least(floor(quality * 1e6 + 0.5)::BIGINT, 1000000))
        |      AS score_ppm,
        |    md5(doc_id::VARCHAR || 'rj1') AS h
        |  FROM q),
        |b AS (
        |  SELECT doc_id, score_ppm,
        |    (((((ascii(substr(h,1,1))::BIGINT * 31 + ascii(substr(h,2,1)))
        |       * 31 + ascii(substr(h,3,1))) * 31 + ascii(substr(h,4,1)))
        |       * 31 + ascii(substr(h,5,1))) * 31 + ascii(substr(h,6,1)))
        |      % 1000000 AS draw_ppm
        |  FROM s)
        |SELECT doc_id, score_ppm, draw_ppm FROM b
        |WHERE draw_ppm < score_ppm ORDER BY doc_id""".stripMargin,

    "pagerank_transitions" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |edges AS (SELECT event_type AS src, nxt AS dst
        |          FROM seq WHERE nxt IS NOT NULL),
        |outd AS (SELECT src, count(*)::DOUBLE AS outdeg
        |         FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS node FROM edges
        |          UNION SELECT DISTINCT dst FROM edges),
        |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
        |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
        |r1 AS (
        |  SELECT v.node, 0.15 / (SELECT n FROM nn) + 0.85 * coalesce((
        |    SELECT sum(r.rank / o.outdeg)
        |    FROM edges e JOIN outd o USING (src) JOIN r0 r ON r.node = e.src
        |    WHERE e.dst = v.node), 0) AS rank
        |  FROM nodes v),
        |r2 AS (
        |  SELECT v.node, 0.15 / (SELECT n FROM nn) + 0.85 * coalesce((
        |    SELECT sum(r.rank / o.outdeg)
        |    FROM edges e JOIN outd o USING (src) JOIN r1 r ON r.node = e.src
        |    WHERE e.dst = v.node), 0) AS rank
        |  FROM nodes v),
        |r3 AS (
        |  SELECT v.node, 0.15 / (SELECT n FROM nn) + 0.85 * coalesce((
        |    SELECT sum(r.rank / o.outdeg)
        |    FROM edges e JOIN outd o USING (src) JOIN r2 r ON r.node = e.src
        |    WHERE e.dst = v.node), 0) AS rank
        |  FROM nodes v)
        |SELECT node, floor(rank * 1e6 + 0.5) / 1e6 AS rank
        |FROM r3 ORDER BY node""".stripMargin,

    "graph_label_prop" ->
      """WITH adj AS (
        |  SELECT user_id,
        |    lag(user_id) OVER (PARTITION BY event_type,
        |      (ts::DATE - DATE '1970-01-01')::BIGINT
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |edges AS (
        |  SELECT DISTINCT least(prev, user_id) AS src,
        |    greatest(prev, user_id) AS dst
        |  FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
        |sym AS (SELECT src AS a, dst AS b FROM edges
        |        UNION SELECT dst, src FROM edges),
        |l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
        |l1 AS (
        |  SELECT node, label FROM (
        |    SELECT s.a AS node, l.label, row_number() OVER (PARTITION BY s.a
        |      ORDER BY count(*) DESC, l.label ASC) AS r
        |    FROM sym s JOIN l0 l ON l.node = s.b GROUP BY s.a, l.label)
        |  WHERE r = 1),
        |l2 AS (
        |  SELECT node, label FROM (
        |    SELECT s.a AS node, l.label, row_number() OVER (PARTITION BY s.a
        |      ORDER BY count(*) DESC, l.label ASC) AS r
        |    FROM sym s JOIN l1 l ON l.node = s.b GROUP BY s.a, l.label)
        |  WHERE r = 1),
        |l3 AS (
        |  SELECT node, label FROM (
        |    SELECT s.a AS node, l.label, row_number() OVER (PARTITION BY s.a
        |      ORDER BY count(*) DESC, l.label ASC) AS r
        |    FROM sym s JOIN l2 l ON l.node = s.b GROUP BY s.a, l.label)
        |  WHERE r = 1)
        |SELECT node, label FROM l3 ORDER BY node""".stripMargin,

    "split_assign" ->
      """WITH b AS (
        |  SELECT *,
        |    ((ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 31
        |      + ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) * 31
        |      + ascii(substr(md5(CAST(doc_id AS VARCHAR)), 3, 1))) * 31
        |      + ascii(substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) AS fold
        |  FROM documents)
        |SELECT CASE WHEN fold % 100 < 90 THEN 'train'
        |            WHEN fold % 100 < 95 THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM b GROUP BY split ORDER BY split""".stripMargin,

    "dsir_select" ->
      """WITH tok AS (
        |  SELECT doc_id, lang = 'en' AS is_tgt,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tb AS (
        |  SELECT doc_id, is_tgt,
        |    (((ascii(substr(md5(term), 1, 1)) * 31
        |      + ascii(substr(md5(term), 2, 1))) * 31
        |      + ascii(substr(md5(term), 3, 1))) * 31
        |      + ascii(substr(md5(term), 4, 1))) % 64 AS b
        |  FROM tok
        |), bc AS (
        |  SELECT b, count(*)::BIGINT AS n_raw,
        |    sum(CASE WHEN is_tgt THEN 1 ELSE 0 END)::BIGINT AS n_tgt
        |  FROM tb GROUP BY b
        |), tots AS (
        |  SELECT sum(n_raw)::DOUBLE AS nr, sum(n_tgt)::DOUBLE AS nt FROM bc
        |), lr AS (
        |  SELECT b, floor(ln(((n_tgt + 0.5) / (nt + 32.0)) /
        |      ((n_raw + 0.5) / (nr + 32.0))) * 1e6 + 0.5)::BIGINT AS lr_fx
        |  FROM bc CROSS JOIN tots
        |), db AS (
        |  SELECT doc_id, b, count(*)::BIGINT AS n_db FROM tb GROUP BY 1, 2
        |), w AS (
        |  SELECT doc_id, sum(n_db * lr_fx)::BIGINT AS w_fx
        |  FROM db JOIN lr USING (b) GROUP BY doc_id
        |), top AS (
        |  SELECT doc_id FROM w ORDER BY w_fx DESC, doc_id LIMIT 100
        |)
        |SELECT w.doc_id, w.w_fx,
        |  w.doc_id IN (SELECT doc_id FROM top) AS selected
        |FROM w ORDER BY w.doc_id""".stripMargin,

    "split_leakage_safe" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents WHERE doc_id < 300)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.3),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b AS src, id_a AS dst FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |cl AS (
        |  SELECT src AS id, least(src, min(dst))::BIGINT AS cluster
        |  FROM reach GROUP BY src),
        |r AS (
        |  SELECT d.doc_id, coalesce(cl.cluster, d.doc_id)::BIGINT AS rep
        |  FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
        |  LEFT JOIN cl ON cl.id = d.doc_id),
        |f AS (
        |  SELECT doc_id, rep,
        |    ((ascii(substr(md5(CAST(rep AS VARCHAR)), 1, 1)) * 31
        |      + ascii(substr(md5(CAST(rep AS VARCHAR)), 2, 1))) * 31
        |      + ascii(substr(md5(CAST(rep AS VARCHAR)), 3, 1))) * 31
        |      + ascii(substr(md5(CAST(rep AS VARCHAR)), 4, 1)) AS fold
        |  FROM r)
        |SELECT doc_id, rep,
        |  CASE WHEN fold % 100 < 90 THEN 'train'
        |       WHEN fold % 100 < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM f ORDER BY doc_id""".stripMargin,

    "length_trim_stats" ->
      """WITH q AS (
        |  SELECT quantile_cont(n_chars, 0.05) AS lo,
        |         quantile_cont(n_chars, 0.95) AS hi
        |  FROM documents)
        |SELECT count(*) AS n_kept, min(n_chars) AS min_c,
        |  max(n_chars) AS max_c, round(q.lo, 2) AS lo, round(q.hi, 2) AS hi
        |FROM documents, q
        |WHERE n_chars >= q.lo AND n_chars <= q.hi
        |GROUP BY q.lo, q.hi""".stripMargin,

    "zscore_normalize" ->
      """SELECT event_id, event_type,
        |  round((value - avg(value) OVER w)
        |    / stddev_samp(value) OVER w, 4) + 0.0 AS z
        |FROM events WHERE event_id < 10000
        |WINDOW w AS (PARTITION BY event_type)
        |ORDER BY event_id""".stripMargin
  )
}
