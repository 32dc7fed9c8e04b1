package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CentroidExpressions.centroidScores
import graft.functions.HashExpressions.{pqScore, vecDot}
import graft.functions.PqExpressions.{pqEncode, pqLut}

/** Similarity search over an embedding column (array<float>).
  *
  *  - `bruteForceTopK`: exact cosine top-k — the correctness baseline and the
  *    right tool when the query set is small (broadcast the queries, stream
  *    the corpus; no corpus shuffle).
  *  - `srpTopK`: sign-random-projection LSH — each vector maps to a bucket
  *    from `nBits` hyperplane signs; search the query's bucket plus
  *    `nProbe-1` margin-guided bit-flip probes (multi-probe LSH).
  *  - `ivfTopK`: inverted-file ANN — coarse-quantizer buckets, query probes
  *    its `nProbe` closest.
  *    At 100 TB the corpus is hash/bucket-partitioned so a query touches its
  *    probe set only; see SCALE.md.
  *
  * Hot-loop arithmetic uses the native `vec_dot` expression and per-vector
  * precomputed norms: the pairwise score is then one fused array loop + one
  * divide, instead of three interpreted aggregate/zip_with lambdas per pair.
  * The HOF forms (`dot`/`norm`/`cosine`) remain as the readable reference
  * implementation and for ad-hoc column use.
  */
object Similarity {

  /** Observation names for candidate-volume telemetry (Bench's listener
    * lands these in bench_out): exact, stable operator-health counts where
    * local wall-clock is ±40% noise. `KnnGraphCandObservation` counts the
    * IVF self-join's scored pairs; the descent names count each refinement
    * round's neighbor-of-neighbor proposals.
    */
  val KnnGraphCandObservation = "knn_graph_candidates"
  def knnDescentObservation(round: Int): String = s"knn_descent_r$round"

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native-dot cosine from precomputed norms. */
  private def cosFast(va: Column, vb: Column, na: Column, nb: Column): Column =
    vecDot(va, vb) / (na * nb)

  /** (id, vec, norm) projection with the norm computed once per vector. */
  private[graft] def withNorm(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String, normAs: String): DataFrame = {
    df.select(col(idCol).as(idAs), col(vecCol).cast("array<double>").as(vecAs))
      .withColumn(normAs, sqrt(vecDot(col(vecAs), col(vecAs))))
  }

  /** Exact top-k cosine neighbors for each query vector (self excluded).
    * Output: (qid, rank, nid, cos), deterministically ordered by the rounded
    * similarity with id tie-break.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol, "nid", "v_n", "n_n")
    val q = withNorm(queries, idCol, vecCol, "qid", "v_q", "n_q")
    val scored = q.join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(cosFast(col("v_q"), col("v_n"), col("n_q"), col("n_n")), 6)
          .as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Deterministic hyperplanes for SRP-LSH, seeded. */
  private[operators] def planes(nBits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** SRP bucket id: one bit per hyperplane sign. */
  def srpBucket(vecCol: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(vecDot(vecCol, typedlit(p)) >= 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate top-k: candidates share one of the query's `nProbe` probe
    * buckets. The first probe is the query's own SRP bucket; subsequent
    * probes flip the hyperplane bits with the SMALLEST margin |v·p| —
    * margin-guided multi-probe (Lv et al., VLDB'07): a near-zero margin
    * means the true neighbors straddle that hyperplane, so those are the
    * flips most likely to recover them. Touches nProbe/2^nBits of the
    * corpus per query; only the (small) query side fans out, the corpus
    * keeps one bucket per vector — the shape that holds at 100 TB with a
    * bucket-partitioned corpus layout. Recall is measured against
    * `bruteForceTopK` in the spec suite and the driver contract row.
    */
  def srpTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nBits: Int = 8, seed: Long = 7L,
      nProbe: Int = 1): DataFrame = {
    // Perturbation sets are all 1- and 2-bit flips: nBits + C(nBits,2)
    // candidate masks — O(nBits²) regardless of 2^nBits, so the probe
    // machinery itself scales to wide codes (nBits=16 → 136 masks).
    val masks: Seq[Int] =
      (0 until nBits).map(1 << _) ++
        (for (i <- 0 until nBits; j <- i + 1 until nBits)
          yield (1 << i) | (1 << j))
    require(nProbe >= 1 && nProbe <= 1 + masks.size,
      s"nProbe must be in [1, ${1 + masks.size}] for nBits=$nBits, got $nProbe")
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    val ps = planes(nBits, dim, seed)
    val c = withNorm(corpus, idCol, vecCol, "nid", "v_n", "n_n")
      .withColumn("bucket", srpBucket(col("v_n"), ps))
    // Signed margins once per (query, plane); the base bucket and every
    // probe's cost both derive from `dv`, so each dot product is computed
    // exactly once. A mask's cost is the summed |margin| of its flipped
    // planes — the flips most likely to recover straddling neighbors sort
    // first.
    val q0 = withNorm(queries, idCol, vecCol, "qid", "v_q", "n_q")
      .withColumn("dv", array(ps.map(p =>
        vecDot(col("v_q"), typedlit(p))): _*))
    val base = (0 until nBits).map(i =>
      when(col("dv")(i) >= 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    val maskArr = array(masks.map { m =>
      val cost = (0 until nBits).filter(i => (m & (1 << i)) != 0)
        .map(i => abs(col("dv")(i))).reduce(_ + _)
      struct(cost.as("c"), lit(m.toLong).as("mask"))
    }: _*)
    val q = q0.withColumn("bkt0", base)
      .withColumn("bucket", explode(concat(array(col("bkt0")),
        transform(slice(array_sort(maskArr), 1, nProbe - 1),
          x => col("bkt0").bitwiseXOR(x.getField("mask"))))))
      .drop("dv", "bkt0")
    val scored = q.join(c, Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(cosFast(col("v_q"), col("v_n"), col("n_q"), col("n_n")), 6)
          .as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer assigns every
    * vector to its nearest of `nCentroids` centroid buckets; a query probes
    * its `nProbe` closest buckets only.
    *
    * Centroids here are a deterministic hash-ordered sample of the corpus
    * (k-means iterations would refine them, but the partitioning shape — the
    * thing that matters for scale — is identical). At 100 TB the corpus is
    * written bucket-partitioned, so a query reads `nProbe/nCentroids` of the
    * data; assignment is scan-side column arithmetic with no shuffle, and
    * only the (small) centroid table is broadcast — here as literals.
    * Recall vs `bruteForceTopK` is asserted in the spec suite.
    */
  /** `trainIters` Lloyd iterations over the corpus: assign → element-wise
    * mean per bucket. Each iteration is one scan + one small aggregate
    * (nCentroids×dim rows); the centroid table never leaves dimension size,
    * so training cost is iterations × one corpus pass — the shape that holds
    * at 100 TB (and is usually run on a sample there).
    */
  private def refineCentroids(
      c: DataFrame, init: Array[(Int, Seq[Double], Double)],
      trainIters: Int): Array[(Int, Seq[Double], Double)] = {
    var cent = init
    (0 until trainIters).foreach { _ =>
      val score = sortedBucketScores(cent)
      val means = c
        .withColumn("bucket",
          score(col("v_n"), col("n_n")).getItem(0).getField("bucket"))
        .select(col("bucket"), posexplode(col("v_n")))
        .groupBy(col("bucket"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("bucket"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("bucket"), expr("transform(pm, x -> x.m)").as("cv"))
        .collect()
      // empty buckets keep their previous centroid
      val updated = means.map { r =>
        val v = r.getSeq[Double](1)
        r.getInt(0) -> ((v, math.sqrt(v.map(x => x * x).sum)))
      }.toMap
      cent = cent.map { case (i, cv, cn) =>
        updated.get(i).map { case (v, n) => (i, v, n) }.getOrElse((i, cv, cn))
      }
    }
    cent
  }

  /** Local per-subspace Lloyd iterations over a driver-side sample — PQ
    * codebooks are trained offline on a bounded sample in every production
    * system; nothing here scales with corpus size. Returns
    * codebook(j)(k) = the k-th centroid of subspace j (`sub` doubles).
    */
  private def trainPqCodebook(sample: Array[Array[Double]], m: Int, ksub: Int,
      sub: Int, iters: Int): Array[Array[Array[Double]]] = {
    Array.tabulate(m) { j =>
      val xs = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      // deterministic init: first ksub distinct subvectors (cycled if
      // scarce). Compare by VALUE — Array equality is reference identity,
      // so a bare xs.distinct would keep duplicates and strand identical
      // centroids on a duplicate-heavy sample.
      val distinct = xs.map(_.toSeq).distinct.map(_.toArray)
      var cent = Array.tabulate(ksub)(i => distinct(i % distinct.length).clone())
      def nearest(x: Array[Double]): Int = {
        var best = 0; var bd = Double.MaxValue; var kk = 0
        while (kk < ksub) {
          var d = 0.0; var i = 0
          while (i < sub) { val t = x(i) - cent(kk)(i); d += t * t; i += 1 }
          if (d < bd) { bd = d; best = kk }
          kk += 1
        }
        best
      }
      (0 until iters).foreach { _ =>
        val sums = Array.fill(ksub)(new Array[Double](sub))
        val counts = new Array[Int](ksub)
        xs.foreach { x =>
          val a = nearest(x); counts(a) += 1
          var i = 0; while (i < sub) { sums(a)(i) += x(i); i += 1 }
        }
        cent = Array.tabulate(ksub) { kk =>
          if (counts(kk) == 0) cent(kk) // empty cluster keeps its centroid
          else { val c = sums(kk); var i = 0
            while (i < sub) { c(i) /= counts(kk); i += 1 }; c }
        }
      }
      cent
    }
  }

  /** Exact-cosine re-rank of a (qid, nid) shortlist against the normed
    * corpus (`c`: nid, v_n, n_n) and query (`q`: qid, v_q, n_q) frames —
    * the shared tail of every shortlist-based ANN path, emitting the
    * deterministic (qid, rank, nid, cos) top-k.
    */
  private def exactRerankTopK(shortlist: DataFrame, c: DataFrame,
      q: DataFrame, k: Int): DataFrame = {
    val reranked = shortlist
      .join(c.select(col("nid"), col("v_n"), col("n_n")), "nid")
      .join(q.select(col("qid"), col("v_q"), col("n_q")), "qid")
      .select(col("qid"), col("nid"),
        round(cosFast(col("v_q"), col("v_n"), col("n_q"), col("n_n")), 6)
          .as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    // no orderBy here: callers materialize this frame, and a global sort
    // under the checkpoint would re-execute the whole shortlist/rerank
    // subtree for range sampling (r14); the materialize sites re-apply
    // the (tiny, lazy) ordering on the checkpointed rows instead.
    reranked.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** ADC shortlist: top `shortlistFactor·k` candidates per query by native
    * pq_score over a (nid, codes) table (plus any extra join key already on
    * both sides, e.g. the IVF bucket).
    */
  private def adcShortlist(q: DataFrame, codes: DataFrame, joinKeys: Seq[String],
      ksub: Int, k: Int, shortlistFactor: Int): DataFrame = {
    val scored =
      (if (joinKeys.isEmpty) q.join(codes, col("qid") =!= col("nid"))
       else q.join(codes, joinKeys).filter(col("qid") =!= col("nid")))
        .select(col("qid"), col("nid"),
          pqScore(col("lut"), col("codes"), ksub).as("pq"))
    val wS = Window.partitionBy(col("qid"))
      .orderBy(col("pq").desc, col("nid"))
    scored.withColumn("srank", row_number().over(wS))
      .filter(col("srank") <= shortlistFactor * k)
      .select(col("qid"), col("nid"))
  }

  /** Product-quantization top-k (Jégou et al., PAMI 2011): each corpus
    * vector compresses to `m` byte codes (its nearest centroid per
    * subspace); a query scores candidates via a lookup table of subspace
    * dot products — the native `pq_score` expression, m table reads per
    * candidate, no vector arithmetic — then the top `shortlistFactor·k`
    * shortlist re-ranks with exact cosine.
    *
    * Scale shape: the codes table is m bytes + id per vector (vs dim·4
    * bytes raw — 32× smaller at dim=64/m=8), so the exhaustive candidate
    * scan that dominates ANN cost runs over a compressed table that fits
    * where the raw vectors do not; only the shortlist join touches raw
    * embeddings (shuffle bounded by queries·shortlist). Codebooks are
    * trained on a deterministic bounded sample driver-side and ride into
    * the plan as literals; encoding is scan-side native arithmetic.
    * Vectors are L2-normalized before encoding so the ADC score
    * approximates cosine directly. Recall vs `bruteForceTopK` is asserted
    * in the spec suite and the driver contract row.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 8, ksub: Int = 16,
      seed: Long = 23L, shortlistFactor: Int = 4,
      trainIters: Int = 4, sampleN: Int = 256): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val c = withNorm(corpus, idCol, vecCol, "nid", "v_n", "n_n")
      .persist() // feeds codebook sample, encoding, and the re-rank join
    val sample = c.orderBy(xxhash64(col("nid"), lit(seed))).limit(sampleN)
      .select(transform(col("v_n"), x => x / col("n_n")))
      .collect().map(_.getSeq[Double](0).toArray)
    val cbFlat: Array[Double] = {
      val cb = trainPqCodebook(sample, m, ksub, sub, trainIters)
      cb.flatMap(_.flatMap(_.toSeq))
    }
    // encoding + table building are the fused PqEncode/PqLut kernels (the
    // codebook rides as a referenced flat array): one loop per row inside
    // whole-stage codegen, replacing m·ksub interpreted exprs per row. The
    // codes table is intentionally NARROW (id + m codes): at scale it is
    // the only thing the exhaustive scan reads.
    val codes = c.select(col("nid"),
      pqEncode(col("v_n"), col("n_n"), cbFlat, m, ksub, sub).as("codes"))
    val q = withNorm(queries, idCol, vecCol, "qid", "v_q", "n_q")
      .withColumn("lut",
        pqLut(col("v_q"), col("n_q"), cbFlat, m, ksub, sub))
      .persist() // small; feeds the ADC scan and the re-rank join
    val shortlist = adcShortlist(q.select(col("qid"), col("lut")), codes,
      Seq.empty, ksub, k, shortlistFactor)
    val topk = exactRerankTopK(shortlist, c, q, k)
    Caching.materializeThenRelease(topk, c, q)
      .orderBy(col("qid"), col("rank"))
  }

  /** Scalar-quantization (SQ8) top-k: every corpus vector stored as `dim`
    * uint8 codes against GLOBAL per-dimension [lo, hi] ranges — 4× fewer
    * bytes scanned than float32, the serving tier below PQ's 32× for when
    * near-lossless recall is required. Decode is affine
    * (x̂_d = lo_d + c_d·Δ_d), so the approximate cosine needs NO decode:
    * dot(q̂, x̂) = Σ q̂_d·lo_d + Σ (q̂_d·Δ_d)·c_d — a per-query bias plus a
    * native `vec_dot` of the query's Δ-scaled weights against the codes.
    * Shortlist by approximate score, then the shared exact-cosine re-rank.
    *
    * Scale shape: the range model is a dim×2 driver-side table from ONE
    * distributed min/max aggregation; encoding is scan-side arithmetic;
    * the exhaustive scan reads only (id, codes); raw vectors are touched
    * by the shortlist join alone (queries·shortlist rows). Quantizing
    * normalized coordinates to 8 bits is near-lossless for cosine
    * ordering — the contract asserts a recall floor vs brute force.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, shortlistFactor: Int = 4): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol, "nid", "v_n", "n_n")
      .persist() // feeds range training, encoding, and the re-rank join
    val unit = c.select(col("nid"),
      transform(col("v_n"), x => x / col("n_n")).as("u"))
    val ranges = unit.select(posexplode(col("u")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .orderBy(col("d")).collect()
    val lo = ranges.map(_.getDouble(1)).toSeq
    val delta = ranges.map(r =>
      math.max((r.getDouble(2) - r.getDouble(1)) / 255.0, 1e-12)).toSeq
    val codes = unit.select(col("nid"),
      transform(col("u"), (x, i) =>
        least(lit(255), greatest(lit(0), round(
          (x - element_at(typedlit(lo), i + 1)) /
            element_at(typedlit(delta), i + 1)).cast("int")))).as("codes"))
    val q = withNorm(queries, idCol, vecCol, "qid", "v_q", "n_q").persist()
    val qw = q.select(col("qid"),
      zip_with(transform(col("v_q"), x => x / col("n_q")), typedlit(delta),
        (a, b) => a * b).as("w"),
      vecDot(transform(col("v_q"), x => x / col("n_q")), typedlit(lo))
        .as("bias"))
    val scored = qw.join(codes, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (col("bias") + vecDot(col("w"), col("codes").cast("array<double>")))
          .as("approx"))
    val wS = Window.partitionBy(col("qid"))
      .orderBy(col("approx").desc, col("nid"))
    val shortlist = scored.withColumn("srank", row_number().over(wS))
      .filter(col("srank") <= shortlistFactor * k)
      .select(col("qid"), col("nid"))
    val topk = exactRerankTopK(shortlist, c, q, k)
    Caching.materializeThenRelease(topk, c, q)
      .orderBy(col("qid"), col("rank"))
  }

  /** OPQ-style rotated PQ: rotate the space onto the corpus's principal
    * axes before product quantization. The rotation is pure-orthonormal
    * (NO centering, NO whitening), so cosine is preserved exactly and the
    * emitted scores are still exact re-ranked cosines of the ORIGINAL
    * vectors; what changes is codebook quality — subspace quantizers see
    * decorrelated, variance-balanced coordinates, the classic cheap
    * stand-in for the learned OPQ rotation (Ge et al., CVPR 2013). Reuses
    * the verified [[Embeddings.fitPca]] fit (one distributed pass; only
    * its components are used, its mean is ignored) and [[pqTopK]]
    * unchanged.
    *
    * When it helps, measured on the test corpora (recall@5 vs brute
    * force): at m=8 the rotation lifts recall substantially over plain PQ
    * (0.66 vs 0.44 at sf0.001, 0.58 vs 0.36 at sf0.01) — correlated
    * coordinates compress poorly unrotated. On corpora whose coordinates
    * are ALREADY axis-aligned (the sf0.1 synthetic table) the identity
    * layout is optimal and rotation is neutral-to-negative at higher m
    * (0.58 vs 0.84 at m=16) — prefer plain [[pqTopK]] there. Learned
    * embedding spaces are typically correlated, which is this operator's
    * target.
    *
    * At 100 TB the rotated corpus is written once next to the codes table
    * (rotation is d·d multiplies per vector — scan-side literals here);
    * per-query cost is one d×d rotate of the query set.
    */
  def opqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 8, ksub: Int = 16,
      seed: Long = 23L, shortlistFactor: Int = 4,
      trainIters: Int = 4, sampleN: Int = 256): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val model = Embeddings.fitPca(corpus, vecCol, k = dim)
    // Eigenvalue allocation (parametric OPQ): raw PCA ordering stuffs most
    // of the variance into the FIRST subspace, whose ksub centroids then
    // under-quantize it while trailing subspaces encode noise — measured
    // here to score WORSE than unrotated PQ on the larger corpora. Balance
    // instead with a snake deal of the descending eigenvalue order across
    // the m subspaces (groups get axes ranked i, 2m-1-i, 2m+i, ... — the
    // greedy min-log-product form degenerates when eigenvalues sit below
    // 1, where adding an axis LOWERS a group's product and the first group
    // swallows all the leading axes, i.e. the identity permutation).
    val groups = Array.fill(m)(List.empty[Int])
    model.eigenvalues.indices.foreach { rank =>
      val pos = rank % m
      val g = if ((rank / m) % 2 == 0) pos else m - 1 - pos
      groups(g) ::= rank
    }
    val order = groups.flatMap(_.reverse)
    def rotate(df: DataFrame): DataFrame = {
      val v = col(vecCol).cast("array<double>")
      df.select(col(idCol), array(order.map(a =>
        vecDot(v, typedlit(model.components(a).toSeq))): _*).as("__rotv"))
    }
    pqTopK(rotate(corpus), rotate(queries), idCol, "__rotv", k, m, ksub,
      seed, shortlistFactor, trainIters, sampleN)
  }

  /** IVF-PQ composition (the standard billion-vector ANN architecture):
    * IVF coarse buckets bound WHICH vectors a query touches
    * (`nProbe/nCentroids` of the corpus), PQ codes bound WHAT the scan
    * reads per touched vector (m bytes, native ADC scoring), and the
    * shortlist re-ranks with exact cosine. Training both quantizers and
    * the probe/score/re-rank machinery reuse [[ivfTopK]]'s centroids and
    * [[pqTopK]]'s codebook kernels.
    *
    * At 100 TB: corpus written bucket-partitioned with its codes inline —
    * a query reads nProbe partitions of an m-bytes/vector table; raw
    * embeddings are touched only for queries·shortlist rows.
    */
  /** Deterministic IVF-PQ training over a normed corpus frame `c`
    * (nid, v_n, n_n): a hash-ordered coarse-quantizer sample and a
    * sample-trained PQ codebook. Both draws are seeded and hash-ordered, so
    * identical (corpus, params) always train the identical model — the
    * property that makes the persisted-index path byte-equal to the
    * in-memory one.
    */
  private def trainIvfPq(c: DataFrame, nCentroids: Int, m: Int, ksub: Int,
      sub: Int, seed: Long, trainIters: Int, sampleN: Int)
      : (Array[(Int, Seq[Double], Double)], Array[Double]) = {
    val coarse: Array[(Int, Seq[Double], Double)] = c
      .orderBy(xxhash64(col("nid"), lit(seed)))
      .limit(nCentroids)
      .select(col("v_n")).collect().zipWithIndex
      .map { case (r, i) =>
        val v = r.getSeq[Double](0)
        (i, v, math.sqrt(v.map(x => x * x).sum))
      }
    val sample = c.orderBy(xxhash64(col("nid"), lit(seed + 1)))
      .limit(sampleN)
      .select(transform(col("v_n"), x => x / col("n_n")))
      .collect().map(_.getSeq[Double](0).toArray)
    val cbFlat = trainPqCodebook(sample, m, ksub, sub, trainIters)
      .flatMap(_.flatMap(_.toSeq))
    (coarse, cbFlat)
  }

  /** The shared IVF-PQ query tail: lut queries → nProbe bucket probes →
    * bucket-key ADC scan over the (bucket, nid, codes) table → exact
    * re-rank against the raw corpus.
    */
  private def ivfPqQuery(c: DataFrame, queries: DataFrame, codes: DataFrame,
      coarse: Array[(Int, Seq[Double], Double)], cbFlat: Array[Double],
      idCol: String, vecCol: String, k: Int, nProbe: Int, m: Int, ksub: Int,
      sub: Int, shortlistFactor: Int,
      alsoRelease: DataFrame*): DataFrame = {
    val q = withNorm(queries, idCol, vecCol, "qid", "v_q", "n_q")
      .withColumn("lut",
        pqLut(col("v_q"), col("n_q"), cbFlat, m, ksub, sub))
      .persist()
    val probes = q.select(col("qid"), col("lut"),
        explode(slice(sortedBucketScores(coarse)(col("v_q"), col("n_q")), 1,
          nProbe)).as("probe"))
      .select(col("qid"), col("lut"), col("probe.bucket").as("bucket"))
    val shortlist = adcShortlist(probes, codes, Seq("bucket"), ksub, k,
      shortlistFactor)
    val topk = exactRerankTopK(shortlist, c, q, k)
    Caching.materializeThenRelease(topk, (q +: alsoRelease): _*)
      .orderBy(col("qid"), col("rank"))
  }

  /** `allowed` mirrors [[queryIvfPqIndex]]'s filtered serving on the
    * in-memory path — same semi-join on the codes scan before the ADC
    * shortlist, so the two paths stay result-identical under a filter
    * (training is seeded and ignores the filter: the model is the full
    * corpus's, only candidacy is restricted).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int = 16, nProbe: Int = 6,
      m: Int = 16, ksub: Int = 16, seed: Long = 11L,
      shortlistFactor: Int = 8, trainIters: Int = 4,
      sampleN: Int = 256, allowed: DataFrame = null): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val c = withNorm(corpus, idCol, vecCol, "nid", "v_n", "n_n").persist()
    val (coarse, cbFlat) = trainIvfPq(c, nCentroids, m, ksub, sub, seed,
      trainIters, sampleN)
    // the scan table: (bucket, id, codes) — nCentroids-partitionable,
    // m bytes of payload per vector
    val codesAll = c.select(
      sortedBucketScores(coarse)(col("v_n"), col("n_n")).getItem(0)
        .getField("bucket").as("bucket"),
      col("nid"),
      pqEncode(col("v_n"), col("n_n"), cbFlat, m, ksub, sub).as("codes"))
    val codes =
      if (allowed == null) codesAll
      else codesAll.join(allowed.select(col(idCol).as("nid")), Seq("nid"),
        "left_semi")
    ivfPqQuery(c, queries, codes, coarse, cbFlat, idCol, vecCol,
      k, nProbe, m, ksub, sub, shortlistFactor, c)
  }

  /** Build and PERSIST the IVF-PQ serving index: the (bucket, nid, codes)
    * scan table written bucket-partitioned under `path/codes/batch=<batchId>` (so a
    * query's nProbe buckets map to partition directories and everything
    * else is never read), plus the trained model — coarse centroids under
    * `path/centroids`, PQ codebook + params under `path/model`. This is the
    * 100 TB serving shape: the index is computed once per corpus snapshot
    * and every query run reads only its probed slice of an m-bytes-per-
    * vector table. Training matches [[ivfPqTopK]] exactly (same seeded
    * hash-ordered draws), so querying the stored index returns the same
    * results as the in-memory path — the driver contract asserts equality.
    *
    * The codes table is batchId-segment-structured like its three sibling
    * stores (text index, gram-df, SRP embedding index): ingest appends
    * land as `batch=N` subdirs via [[appendToIvfPqIndex]] and
    * [[compactIvfPqIndex]] merges them back to one segment, so a
    * long-running ingest never degrades the probe scan's file fan-in and
    * never retrains/re-encodes history.
    *
    * `trainOn` (optional) trains the coarse quantizer and PQ codebook on a
    * DIFFERENT frame than the one encoded — the standard large-corpus
    * workflow (train on a bounded sample table, encode everything), and
    * what makes an incrementally-maintained index exactly comparable to a
    * one-shot rebuild over the same history. `batchId` names the one codes
    * segment the build leaves (a streaming bootstrap passes its batch id,
    * so a replayed append of that batch rewrites the same segment).
    */
  /** Declared memo (r15, inputs-only rule): the persisted index's MODEL
    * (PQ codebook + params) and coarse centroids, keyed by index path.
    * Both are the index's immutable identity — only a rebuild rewrites
    * them, and [[buildIvfPqIndex]] invalidates the entry — yet every
    * append and every serving call re-read them as two driver-side
    * parquet jobs (~0.15 s). Store PARAMETERS only, never operator
    * output; appends/queries still scan the codes segments from disk.
    */
  private val ivfPqStoreCache = new scala.collection.concurrent.TrieMap[
    String, (Array[Double], Int, Int, Int, Int,
      Array[(Int, Seq[Double], Double)])]

  private def ivfPqStore(spark: SparkSession, path: String):
      (Array[Double], Int, Int, Int, Int, Array[(Int, Seq[Double], Double)]) =
    ivfPqStoreCache.getOrElseUpdate(path, {
      val model = spark.read.parquet(s"$path/model").head()
      val cbFlat = model.getSeq[Double](model.fieldIndex("cb")).toArray
      val coarse = spark.read.parquet(s"$path/centroids").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
        .sortBy(_._1)
      (cbFlat, model.getInt(model.fieldIndex("m")),
        model.getInt(model.fieldIndex("ksub")),
        model.getInt(model.fieldIndex("sub")),
        model.getInt(model.fieldIndex("dim")), coarse)
    })

  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, nCentroids: Int = 16, m: Int = 16, ksub: Int = 16,
      seed: Long = 11L, trainIters: Int = 4, sampleN: Int = 256,
      trainOn: DataFrame = null, batchId: Long = 0L): Unit = {
    ivfPqStoreCache.remove(path) // rebuild rewrites model + centroids
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val c = withNorm(corpus, idCol, vecCol, "nid", "v_n", "n_n").persist()
    // trainIvfPq collects from its frame twice (coarse draw + PQ sample);
    // persist a distinct trainOn so the norm projection runs once
    val tr = if (trainOn == null) c
      else withNorm(trainOn, idCol, vecCol, "nid", "v_n", "n_n").persist()
    val (coarse, cbFlat) = trainIvfPq(tr, nCentroids, m, ksub, sub, seed,
      trainIters, sampleN)
    if (!(tr eq c)) tr.unpersist(blocking = false)
    // A rebuild replaces EVERY codes segment: a stale appended segment
    // surviving a retrain would be decoded with the NEW codebooks — garbage
    // ADC scores served silently.
    Segments.open(spark, s"$path/codes").replaceAll(s"batch=$batchId")(c.select(
        sortedBucketScores(coarse)(col("v_n"), col("n_n")).getItem(0)
          .getField("bucket").as("bucket"),
        col("nid"),
        pqEncode(col("v_n"), col("n_n"), cbFlat, m, ksub, sub).as("codes"))
      .write.partitionBy("bucket").parquet)
    c.unpersist()
    coarse.toSeq.map { case (b, cv, cn) => (b, cv, cn) }
      .toDF("bucket", "cv", "cn")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    Seq((cbFlat.toSeq, m, ksub, sub, dim))
      .toDF("cb", "m", "ksub", "sub", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/model")
  }

  /** Append a batch of NEW vectors to a persisted IVF-PQ index: encode
    * with the STORED codebooks (no retraining — the codebooks are the
    * index's identity; an index cannot re-quantize per ingest without a
    * rebuild) and land the codes as one `batch=N` segment under
    * `path/codes`. Parameter parity is checked like the SRP metadata
    * guard: a batch whose vector dimension disagrees with the stored
    * model fails loudly instead of writing garbage codes. Batch ids
    * default to max-existing+1; a caller-supplied id (e.g. a streaming
    * batchId) makes replay idempotent (overwrite-mode segment). Rows are
    * assumed new — the store is disjoint-row segmented, same contract as
    * the SRP embedding index.
    *
    * At 100 TB: per-append cost is O(batch) — one scan-side encode
    * projection and one bucket-partitioned write; history is never read.
    */
  def appendToIvfPqIndex(batch: DataFrame, idCol: String, vecCol: String,
      path: String, batchId: Long = -1L): Unit = {
    val spark = batch.sparkSession
    // one action answers BOTH "is the batch empty" (no-op like
    // appendToTextIndex) and the dim-parity guard — previously isEmpty
    // plus a second dim probe job
    val batchDim = batch.select(size(col(vecCol))).head(1).headOption
      .map(_.getInt(0)).getOrElse(return)
    val (cbFlat, m, ksub, sub, dim, coarse) = ivfPqStore(spark, path)
    require(batchDim == dim,
      s"index at $path was built with dim=$dim but the batch has " +
        s"dim=$batchDim")
    val bid = if (batchId >= 0) batchId else Segments.nextId(spark, s"$path/codes")
    val codes = withNorm(batch, idCol, vecCol, "nid", "v_n", "n_n")
      .select(
        sortedBucketScores(coarse)(col("v_n"), col("n_n")).getItem(0)
          .getField("bucket").as("bucket"),
        col("nid"),
        pqEncode(col("v_n"), col("n_n"), cbFlat, m, ksub, sub).as("codes"))
    Segments.put(spark, s"$path/codes", s"batch=$bid")(
      codes.write.partitionBy("bucket").parquet)
  }

  /** Merge accumulated IVF-PQ code segments into the one segment
    * `batch=-1` — the same scan-fan-in repair as
    * [[graft.operators.Dedup.compactSegmentDirs]] (rows are disjoint and
    * pass through unchanged; only the directory fan-in shrinks), through
    * the [[Segments]] compaction. Serving is identical before and after
    * (the probe scan unions segments either way).
    */
  def compactIvfPqIndex(spark: SparkSession, path: String): Unit = {
    val store = Segments.open(spark, s"$path/codes")
    if (store.ids.nonEmpty)
      store.replaceAll("batch=-1")(store.read()
        .select(col("nid"), col("codes"), col("bucket"))
        .write.partitionBy("bucket").parquet)
  }

  /** Query a [[buildIvfPqIndex]]-persisted index. `corpus` supplies the raw
    * vectors for the exact re-rank only (queries·shortlist rows touched);
    * the candidate scan runs over the STORED bucket-partitioned codes table.
    *
    * `allowed` (optional) restricts serving to a metadata-eligible id set —
    * FILTERED vector search (one id column named `idCol`). The predicate is
    * applied as a semi-join on the codes scan BEFORE the ADC shortlist, so
    * the shortlist fills with eligible candidates and every query still
    * returns k results; post-filtering a top-k AFTER ranking would starve
    * results exactly when the filter is selective. At 100 TB the eligible
    * set comes from a metadata scan with its own predicate pushdown and the
    * semi-join moves ids only (8 bytes/row), never vectors or codes —
    * serving cost stays proportional to the probed buckets' eligible rows.
    */
  def queryIvfPqIndex(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, path: String, k: Int, nProbe: Int = 6,
      shortlistFactor: Int = 8, allowed: DataFrame = null): DataFrame = {
    val spark = corpus.sparkSession
    val (cbFlat, m, ksub, sub, _, coarse) = ivfPqStore(spark, path)
    // Persist the query pipeline first: both the bucket-set collect below
    // and ivfPqQuery's probe/lut derivation read it, and without the cache
    // an expensive upstream query plan would execute twice.
    val qBase = queries.persist()
    // STATIC partition pruning: the probed bucket set is bounded by
    // nCentroids (tiny), so collect it and filter the stored table with
    // literals — the scan then carries PartitionFilters and reads ONLY the
    // probed bucket=N directories, guaranteed, instead of relying on
    // dynamic pruning through the probe join to fire.
    val probedBuckets = withNorm(qBase, idCol, vecCol, "qid", "v_q", "n_q")
      .select(explode(slice(sortedBucketScores(coarse)(col("v_q"), col("n_q")),
        1, nProbe)).as("p"))
      .select(col("p.bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val codesAll = Segments.read(spark, s"$path/codes")
      .filter(col("bucket").isin(probedBuckets: _*))
      .select(col("bucket").cast("int").as("bucket"), col("nid"),
        col("codes"))
    val codes =
      if (allowed == null) codesAll
      else codesAll.join(allowed.select(col(idCol).as("nid")), Seq("nid"),
        "left_semi")
    val c = withNorm(corpus, idCol, vecCol, "nid", "v_n", "n_n").persist()
    ivfPqQuery(c, qBase, codes, coarse, cbFlat, idCol, vecCol,
      k, nProbe, m, ksub, sub, shortlistFactor, c, qBase)
  }

  /** Defaults follow the measured sweep (Bench's `ivf_sweep` at sf0.1):
    * untrained single-probe recall is < 0.5, while trainIters=2/nProbe=6 —
    * what every internal call site uses — is the knee of the cost curve.
    * The sweep tops out around 0.66 at (nCentroids=32, nProbe=8): plain
    * IVF's recall on this corpus is capped by coarse-bucket boundary loss
    * (true neighbors landing in unprobed buckets), not by training — raise
    * nProbe toward nCentroids to buy recall linearly in scan cost, or use
    * [[ivfPqTopK]], whose compressed scan affords a wide shortlist plus
    * exact re-rank for recall at equal cost.
    */
  /** Seeded coarse-quantizer init: `nCentroids` corpus vectors picked by
    * hash order — deterministic under any partitioning (total order on
    * distinct ids). Shared by [[ivfTopK]] and [[knnGraph]] so their
    * bucketings stay identical (SimilaritySpec asserts edge-set equality).
    */
  private def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, seed: Long): Array[(Int, Seq[Double], Double)] =
    corpus
      .select(col(idCol).as("cid"), col(vecCol).cast("array<double>").as("cv"))
      .orderBy(xxhash64(col("cid"), lit(seed)))
      .limit(nCentroids)
      .collect()
      .zipWithIndex
      .map { case (r, i) =>
        val v = r.getSeq[Double](1)
        (i, v, math.sqrt(v.map(x => x * x).sum))
      }

  /** Per-vector centroid scores sorted best-first: array of (sim, bucket)
    * structs — `[0]` is the home bucket, a prefix slice is the probe set.
    * One fused [[graft.functions.CentroidScores]] kernel call per row; the
    * previous nc-wide struct/sort expression forest compiled into a giant
    * whole-stage method whose janino compile dominated the ANN family's
    * fixed cost at auto nc = sqrt(n) (results are byte-identical — see the
    * kernel's scaladoc for the float/ordering parity argument).
    */
  private def sortedBucketScores(
      cent: Array[(Int, Seq[Double], Double)]): (Column, Column) => Column = {
    val d = if (cent.isEmpty) 0 else cent(0)._2.length
    val flat = new Array[Double](cent.length * d)
    val norms = new Array[Double](cent.length)
    cent.foreach { case (i, cv, cn) =>
      var j = 0
      while (j < d) { flat(i * d + j) = cv(j); j += 1 }
      norms(i) = cn
    }
    val table = graft.functions.CentroidTable(flat, norms, d)
    (v, n) => centroidScores(v, n, table)
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int = 16, nProbe: Int = 6,
      seed: Long = 11L, trainIters: Int = 2): DataFrame = {
    val init = seedCentroids(corpus, idCol, vecCol, nCentroids, seed)
    // Persist while training: each Lloyd iteration re-reads the normed
    // corpus (assignment scan + mean aggregate), and the final bucket
    // assignment reads it once more.
    lazy val corpusNormed = {
      val c = withNorm(corpus, idCol, vecCol, "nid", "v_n", "n_n")
      if (trainIters > 0) c.persist() else c
    }
    val cent =
      if (trainIters <= 0) init
      else refineCentroids(corpusNormed, init, trainIters)
    // Per-bucket scored array → sorted desc by similarity → ranked prefix.
    val bucketScores = sortedBucketScores(cent)
    val c = corpusNormed
      .withColumn("bucket",
        bucketScores(col("v_n"), col("n_n")).getItem(0).getField("bucket"))
    val q = withNorm(queries, idCol, vecCol, "qid", "v_q", "n_q")
      .select(col("qid"), col("v_q"), col("n_q"),
        explode(slice(bucketScores(col("v_q"), col("n_q")), 1, nProbe))
          .as("probe"))
      .select(col("qid"), col("v_q"), col("n_q"),
        col("probe.bucket").as("bucket"))
    val scored = q.join(c, Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(cosFast(col("v_q"), col("v_n"), col("n_q"), col("n_n")), 6)
          .as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    val topk = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
    // sort applied OUTSIDE the materialized branch (see exactRerankTopK)
    if (trainIters > 0)
      Caching.materializeThenRelease(topk, corpusNormed)
        .orderBy(col("qid"), col("rank"))
    else topk.orderBy(col("qid"), col("rank"))
  }

  /** All-pairs kNN similarity graph — every corpus vector's top-k cosine
    * neighbors, via shared-bucket IVF blocking. This is the corpus-wide
    * construction (similarity graph for diversity sampling, SemDeDup-style
    * curation, mutual-kNN clustering), distinct from the query→corpus top-k
    * forms above: the candidate set is the self-join of bucket members, not
    * a broadcast query probe.
    *
    * One kernel pass: each vector is normed and centroid-scored exactly
    * once (the cached `assigned` frame); the member side reads its home
    * bucket (`probes[0]`), the probe side explodes the top `nProbe`
    * buckets of the SAME frame. Candidate volume is then
    * n · nProbe · (n / nCentroids) pairs flowing through ONE shuffle on the
    * bucket key — the standard IVF self-join; at 100 TB you scale
    * `nCentroids` with n to hold the per-bucket fan-in constant and the
    * per-src top-k window stays bounded by nProbe · bucketSize. Output:
    * (src, rank, dst, cos), rank 1..k by descending similarity.
    *
    * With `trainIters = 0` the whole pipeline is deterministic per-row math
    * (seeded hash-ordered init, fixed-order `vec_dot` loops), so the edge
    * set is partition-invariant — the contract asserts exactly that. Lloyd
    * refinement (`trainIters > 0`) improves bucket balance but float-sum
    * order makes centroids partitioning-sensitive, same caveat as
    * `embedding_kmeans`.
    *
    * Defaults swept via KnnSweep (removed; see
    * `git show e6d0d1b:src/main/scala/graft/tools/KnnSweep.scala`)
    * on this corpus: (16, 6, 2) gives
    * edge recall 0.69–0.73 vs the exact all-pairs graph at every sf; self-
    * join recall runs lower than the query-form sweeps because EVERY node
    * is a query, so bucket-boundary nodes are fully represented. Raising
    * nProbe buys recall linearly in candidate volume; halving nCentroids
    * (8, 3, 2) trades bigger buckets for the same effect.
    *
    * `nCentroids <= 0` means auto: nc = max(16, ceil(sqrt(n))), and nProbe
    * scales WITH nc to hold the probed corpus fraction at the calibrated
    * default (nProbe/16 — recall tracks that fraction, measured: 0.69 at
    * fraction 0.375 vs 0.47 at 0.133 on the sf0.1 corpus). What auto-nc
    * buys at scale is NOT total candidate volume (holding recall with
    * unstructured probing pins volume at fraction·n²) but bounded
    * per-bucket fan-out: bucket size n/nc ≈ sqrt(n), so the bucket-key
    * shuffle's per-key skew and the per-src top-k window's memory grow as
    * n^0.5 instead of n — the axis that actually breaks a fixed-nc run.
    * Sub-quadratic total volume at held recall needs graph refinement
    * (NN-descent family) on top of this as the initializer; the fixed
    * default exists for deterministic recall contracts.
    */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 6, seed: Long = 11L,
      trainIters: Int = 2): DataFrame = {
    val (out, toRelease) = knnGraphLazy(corpus, idCol, vecCol, k, nCentroids,
      nProbe, seed, trainIters)
    Caching.materializeThenRelease(out, toRelease: _*)
  }

  /** [[knnGraph]] without the output materialization: returns the LAZY
    * ranked-edge frame plus the internal persisted frames the caller must
    * release after its own materializing action. Lets [[knnGraphDescent]]
    * fold the seed graph into the refinement rounds' single final job
    * instead of paying a synchronous seed-materialization job first —
    * byte-identical output, one fewer action (r14 measurement: the descent
    * family's wall is job-count-bound, flat across scale decades).
    */
  private def knnGraphLazy(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nCentroids: Int, nProbe: Int, seed: Long,
      trainIters: Int): (DataFrame, Seq[DataFrame]) = {
    val nc =
      if (nCentroids > 0) nCentroids
      else math.max(16, math.ceil(math.sqrt(corpus.count().toDouble)).toInt)
    // Auto mode couples nProbe to nc: constant probed fraction nProbe/16
    // (the default calibration point), capped at nc.
    val np =
      if (nCentroids > 0) nProbe
      else math.min(nc,
        math.max(nProbe, math.ceil(nc * nProbe / 16.0).toInt))
    val init = seedCentroids(corpus, idCol, vecCol, nc, seed)
    // Persist only when Lloyd refinement re-reads it; with trainIters=0
    // the sole consumer is `assigned` (which persists itself).
    val corpusNormed = {
      val c = withNorm(corpus, idCol, vecCol, "nid", "v_n", "n_n")
      if (trainIters > 0) c.persist() else c
    }
    val cent =
      if (trainIters <= 0) init
      else refineCentroids(corpusNormed, init, trainIters)
    val bucketScores = sortedBucketScores(cent)
    val assigned = corpusNormed
      .withColumn("probes",
        transform(slice(bucketScores(col("v_n"), col("n_n")), 1, np),
          x => x.getField("bucket")))
      .persist()
    val members = assigned.select(element_at(col("probes"), 1).as("bucket"),
      col("nid"), col("v_n"), col("n_n"))
    val probes = assigned.select(col("nid").as("src"), col("v_n").as("v_s"),
        col("n_n").as("n_s"), explode(col("probes")).as("bucket"))
    val scored = probes.join(members, Seq("bucket"))
      .filter(col("src") =!= col("nid"))
      .select(col("src"), col("nid").as("dst"),
        round(cosFast(col("v_s"), col("v_n"), col("n_s"), col("n_n")), 6)
          .as("cos"))
      .observe(KnnGraphCandObservation, count(lit(1)).as("n_candidates"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst"))
    val out = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src"), col("rank"), col("dst"), col("cos"))
    (out, Seq(corpusNormed, assigned))
  }

  /** kNN graph with NN-descent refinement (Dong et al., WWW'11) — the
    * sub-quadratic-at-held-recall construction [[knnGraph]]'s auto mode
    * cannot be: unstructured IVF probing holds recall only by pinning
    * candidate volume at fraction·n², whereas descent exploits the
    * triangle-ish structure of similarity ("my neighbor's neighbor is
    * probably my neighbor") to recover recall from a CHEAP seed.
    *
    * Shape: seed = [[knnGraph]] with nc = sqrt(n) buckets but a small
    * FIXED probe count (NOT scaled with nc), so seed candidate volume is
    * seedProbe · n^1.5 — sub-quadratic. Then `rounds` refinement passes;
    * each pass:
    *   1. builds every node's general neighborhood B(v) = out-neighbors
    *      (≤ kk) ∪ in-neighbors CAPPED at kk (the cap bounds hub blow-up —
    *      a node with 10^4 in-edges would otherwise propose 10^8 pairs;
    *      classic NN-descent's reverse-sample rate ρ plays the same role),
    *   2. collects each B(v) — WITH member vectors — into a bounded list
    *      and proposes + scores all pairs within it scan-side (double
    *      explode, native vec_dot): per-pivot ≤ (2kk)(2kk-1)/2, so
    *      per-round volume ≤ 2kk²·n, LINEAR in n, and no shuffle ever
    *      carries a candidate pair,
    *   3. unions the scored pairs (both directions share the score) with
    *      the current edge set, dedups (src, dst) and re-ranks per-src
    *      top-kk on ONE src-partitioned exchange (subset clustering).
    * Total volume: seedProbe·n^1.5 + rounds·2k²·n — sub-quadratic, vs
    * fraction·n² for auto [[knnGraph]] at the same recall. Each round's
    * proposal count lands in telemetry ([[knnDescentObservation]]), so the
    * sub-quadratic claim is measured per run, not asserted.
    *
    * Determinism: with `trainIters = 0` every step is seeded/fixed-order
    * (hash-ordered in-neighbor cap, rounded scores, id tie-breaks), so the
    * refined edge set is partition-invariant like the seed — the contract
    * asserts it.
    *
    * Convergence on this corpus (sf0.01/0.1, k=5, kk=4k): seed recall
    * 0.29/0.20 at seedProbe=2 → 0.995/0.884 after 3 rounds (KnnSweep,
    * flagged form; removed, see
    * `git show e6d0d1b:src/main/scala/graft/tools/KnnSweep.scala`);
    * the fresh-pair filter makes per-round proposal counts
    * DECAY with convergence (measured sf0.1: 805k → 450k → 268k vs
    * ~805k/492k/483k when every pair was re-proposed each round). On
    * near-random data recall
    * for fixed (rounds, kk) drifts down with n — real embedding corpora
    * are clustered, which is the regime descent exploits; if recall at a
    * new scale matters, re-run that sweep and raise kk/rounds.
    */
  def knnGraphDescent(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int = 3, seedProbe: Int = 2, searchK: Int = 0,
      seed: Long = 11L, trainIters: Int = 0): DataFrame = {
    // Internal neighbor-list width: descent explores through the CURRENT
    // list, so a list wider than the requested k (kk = 4k by default)
    // converges in far fewer rounds on weakly-clustered data — the
    // standard NN-descent K-vs-k split. Volume stays linear: 2·kk²·n.
    // Defaults from KnnSweep (removed; see
    // `git show e6d0d1b:src/main/scala/graft/tools/KnnSweep.scala`)
    // on this corpus (near-random 64-d
    // vectors, the hard case for descent): (rounds=3, seedProbe=2, kk=4k)
    // measures recall 0.995/0.884 at sf0.01/sf0.1 vs the exact graph —
    // comfortably above the 0.6 contract floor — with time growth ~1.8×
    // per 10× data vs 2.81× for the fraction-held auto IVF form.
    val kk = if (searchK > 0) searchK else 4 * k
    // Partitioned by id once: every round's member-vector join reuses this
    // layout (only the neighborhood side exchanges per round).
    val normed = withNorm(corpus, idCol, vecCol, "nid", "v_n", "n_n")
      .repartition(col("nid")).persist()
    // Auto-nc ALONE (probe fixed): nc = sqrt(n) keeps buckets sqrt(n)-sized
    // while seedProbe buckets per node keep volume at seedProbe·n^1.5.
    // knnGraph's auto mode (nCentroids = 0) scales nProbe with nc to hold
    // the probed FRACTION — exactly what descent exists to avoid — so
    // compute nc here and pass the fixed probe count explicitly.
    val nc = math.max(16,
      math.ceil(math.sqrt(corpus.count().toDouble)).toInt)
    // Every seed edge starts FRESH: round 1 explores all neighborhoods
    // (restrict = false skips the then-pointless frontier semi-joins);
    // later rounds carry the NN-descent new/old split — only pairs with a
    // freshly-added member edge are proposed, so proposal volume DECAYS
    // with convergence instead of re-scoring ~all pairs every round
    // (measured sf0.1 before: 805k/492k/483k proposals for rounds 1-3 —
    // rounds 2-3 were mostly re-proposals of already-tried pairs).
    // restrict = false on EVERY full-build round: on a fresh seed the
    // affected frontier is ~the whole corpus for the first rounds
    // (measured: the frontier semi-joins filtered ~nothing and only added
    // exchanges), so the full build keeps the flat all-pivot shape and
    // takes its win from the fresh-pair FILTER alone; the incremental
    // fold, whose frontier genuinely is a small fraction, restricts.
    // Single-action fold (r14): the seed graph and every refinement round
    // are LAZY local checkpoints (plan truncated to a leaf immediately,
    // data computed on first downstream action), so the whole
    // seed → rounds → trim chain executes as ONE job instead of paying a
    // synchronous materialization job per round. Wall here is job-count-
    // bound, not data-bound (growth steps ~1.6–2.1× per 10× rows), so the
    // removed actions are the cost. Intermediate round frames are all
    // released after the final materialization — they are n·kk edge rows
    // each (KBs per million nodes), so holding `rounds` of them to the end
    // is noise next to the corpus-sized frames already managed here.
    val (seedG, seedRel) = knnGraphLazy(corpus, idCol, vecCol, kk,
      nCentroids = nc, nProbe = math.min(nc, seedProbe), seed = seed,
      trainIters = trainIters)
    var g = seedG.withColumn("fresh", lit(true)).localCheckpoint(false)
    val toRelease = scala.collection.mutable.ListBuffer[DataFrame]()
    toRelease ++= seedRel
    for (r <- 1 to rounds) {
      toRelease += g
      val (g2, rel) = descentRoundLazy(g, normed, kk, seed,
        knnDescentObservation(r), restrict = false)
      toRelease ++= rel
      g = g2
    }
    toRelease += normed
    // Trim the internal kk-wide lists to the requested k (ranks are
    // already 1..kk in final order, so a filter suffices).
    Caching.materializeThenRelease(
      g.filter(col("rank") <= k).drop("fresh"), toRelease.toSeq: _*)
  }

  /** One NN-descent refinement round over a FLAGGED edge table
    * (src, rank, dst, cos, fresh) — the shuffle-lean shape plus the
    * classic NN-descent new/old split (Dong et al., WWW'11): a candidate
    * pair is proposed only if at least one of its two member EDGES is
    * fresh (added by the previous round), because a pair whose member
    * edges both pre-date the last round was already proposed when those
    * edges first appeared — re-scoring it can only reproduce the same
    * rounded cosine. Proposal volume therefore decays with convergence.
    *
    * Per round: (1) frontier = endpoints of fresh edges (restrict mode —
    * pivots with no fresh incident edge would propose zero pairs, so
    * their B(v) collect is skipped entirely; `restrict = false` skips the
    * two semi-joins for the all-fresh first round, where they filter
    * nothing); (2) cap in-neighbors per pivot over its FULL in-edge set
    * [exchange on pivot — capping commutes with the pivot filter];
    * (3) attach vectors [one equi join against the id-partitioned cached
    * `normed`]; (4) collect each pivot's B(v) into a bounded list
    * (|B(v)| ≤ 2kk structs — KBs per pivot at any corpus size) and
    * generate + score surviving pairs SCAN-SIDE via a double explode — no
    * shuffle ever carries a candidate pair; (5) re-rank only srcs that
    * can have received a candidate (members of an affected B(v)); every
    * other row passes through byte-unchanged, RETAINING its flag — a
    * fresh edge whose pivot-side exploration was capped out stays fresh
    * and is explored next round. Next-round flags come from the re-rank
    * itself: an edge is fresh iff no pre-round edge with the same
    * (src, dst) existed — max(was_old) over the union, on the same single
    * src exchange that deduplicates and ranks.
    */
  private[graft] def descentRoundFlagged(g0: DataFrame, normed: DataFrame,
      kk: Int, seed: Long, obsName: String, restrict: Boolean): DataFrame = {
    val (out, toRelease) =
      descentRoundLazy(g0, normed, kk, seed, obsName, restrict)
    // Eager form (spec harness / standalone use): materialize the round and
    // release its internals immediately — the original per-round contract.
    val mat = out.localCheckpoint()
    toRelease.foreach(_.unpersist(blocking = false))
    mat
  }

  /** Lazy form of [[descentRoundFlagged]]: the round's output is a lazily
    * local-checkpointed frame (plan already truncated to a leaf; computed
    * by the caller's next action) plus the internal persisted frames to
    * release AFTER that action. [[knnGraphDescent]] / [[knnGraphIncremental]]
    * chain rounds through this so the whole refinement runs as one job —
    * identical arithmetic, no per-round materialization barrier.
    */
  private def descentRoundLazy(g0: DataFrame, normed: DataFrame,
      kk: Int, seed: Long, obsName: String,
      restrict: Boolean): (DataFrame, Seq[DataFrame]) = {
    val hasher = xxhash64(col("node"), lit(seed))
    // No distinct: aff is only ever the RIGHT side of semi-joins, which
    // tolerate duplicate keys — a dedup exchange would buy nothing.
    val freshE = g0.filter(col("fresh"))
    val aff = freshE.select(col("src").as("pivot"))
      .union(freshE.select(col("dst").as("pivot")))
    val gOut = if (restrict)
      g0.join(aff.select(col("pivot").as("src")), Seq("src"), "left_semi")
    else g0
    val gInn = if (restrict)
      g0.join(aff.select(col("pivot").as("dst")), Seq("dst"), "left_semi")
    else g0
    val gOutAff = gOut
      .select(col("src").as("pivot"), col("dst").as("node"), col("fresh"))
    val gInnAff = gInn
      .select(col("dst").as("pivot"), col("src").as("node"), col("fresh"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("pivot")).orderBy(hasher, col("node"))))
      .filter(col("rn") <= kk).drop("rn")
    // persist, not localCheckpoint: both consumers (the member-vector join
    // and `changed`) execute under the round's single output action, so a
    // lazy cache dedups the computation without an extra synchronous job;
    // the output's own localCheckpoint still truncates cross-round lineage.
    val nbhd = gOutAff.union(gInnAff)
    val nbhdP = if (restrict) nbhd.persist() else nbhd
    val nbhdV = nbhdP
      .join(normed.select(col("nid").as("node"), col("v_n"), col("n_n")),
        Seq("node"))
    // A member reached through both a fresh and a stale edge yields two
    // set entries (flags differ). Merge them SCAN-SIDE with an array HOF
    // (fresh = max over orientations; keep one entry per node) instead of
    // a (pivot, node) pre-aggregation — |bs| ≤ 2kk, so the O(|bs|²) exists
    // scan is a few hundred codegen'd comparisons per pivot, while the
    // pre-agg would be a second full-width exchange. Without the merge the
    // duplicate entries inflate the pair explode up to 4× (measured: round
    // 2 of the full build proposed MORE than the unflagged form).
    val lists = nbhdV.groupBy(col("pivot"))
      .agg(collect_set(struct(col("node"), col("fresh"), col("v_n"),
        col("n_n"))).as("bs0"))
      .select(col("pivot"), filter(col("bs0"), a =>
        a.getField("fresh") || !exists(col("bs0"), b =>
          b.getField("node") === a.getField("node") &&
            b.getField("fresh"))).as("bs"))
    val sym = pairScores(lists, obsName)
    // Srcs that can receive a candidate this round = members of any
    // affected B(v) (every scored pair's endpoints are members). A cheap
    // SUPERSET of the exactly-changed set: re-ranking a list that gained
    // nothing reproduces it verbatim (including clearing no flag it
    // shouldn't — see rerankFlagged), so over-covering is only wasted
    // work bounded by the frontier, never wrong output.
    val changed = nbhdP.select(col("node").as("src")).distinct()
    val existing = if (restrict)
      g0.join(changed, Seq("src"), "left_semi") else g0
    val reranked = rerankFlagged(existing, sym, kk)
    val out0 = if (restrict) {
      val keep = g0.join(changed, Seq("src"), "left_anti")
        .select(col("src"), col("rank"), col("dst"), col("cos"),
          col("fresh"))
      keep.union(reranked)
    } else reranked
    (out0.localCheckpoint(false), if (restrict) Seq(nbhdP) else Nil)
  }

  /** All pairs within each collected B(v) with at least one FRESH member
    * edge, scored scan-side and emitted in BOTH directions (shared
    * score) — the common tail of the round forms. When every member is
    * fresh (a first round over a new seed) the filter passes everything.
    */
  private def pairScores(lists: DataFrame, obsName: String): DataFrame = {
    val scoredNew = lists
      .select(explode(col("bs")).as("a"), col("bs"))
      .select(col("a"), explode(col("bs")).as("b"))
      .filter(col("a.node") < col("b.node"))
      .filter(col("a.fresh") || col("b.fresh"))
      .select(col("a.node").as("src"), col("b.node").as("dst"),
        round(cosFast(col("a.v_n"), col("b.v_n"), col("a.n_n"),
          col("b.n_n")), 6).as("cos"))
      .observe(obsName, count(lit(1)).as("n_proposed"))
    scoredNew.union(scoredNew.select(col("dst").as("src"),
      col("src").as("dst"), col("cos")))
  }

  /** Merge existing edges (src, dst, cos [, ...]) with freshly proposed
    * candidates and produce the next flagged, kk-wide ranked lists:
    * repartition by src alone — a subset of the dedup keys satisfies
    * ClusteredDistribution, so the (src, dst) dedup-with-provenance
    * (max(was_old): an edge is FRESH iff it did not exist before this
    * merge) AND the per-src top-k window all run on that single exchange.
    * Duplicate (src, dst) rows carry byte-identical rounded cosines, so
    * max(cos) is a deterministic pick, not a choice.
    */
  private[graft] def rerankFlagged(existing: DataFrame, proposals: DataFrame,
      kk: Int): DataFrame = {
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst"))
    existing.select(col("src"), col("dst"), col("cos"),
        lit(true).as("was_old"))
      .union(proposals.select(col("src"), col("dst"), col("cos"),
        lit(false).as("was_old")))
      .repartition(col("src"))
      .groupBy(col("src"), col("dst"))
      .agg(max(col("cos")).as("cos"), max(col("was_old")).as("was_old"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kk)
      .select(col("src"), col("rank"), col("dst"), col("cos"),
        (!col("was_old")).as("fresh"))
  }

  /** Observation names for [[knnGraphIncremental]]'s per-round proposal
    * counts — the incremental-locality health number: volume tracks the
    * ADOPTER frontier (endpoints of edges the previous step actually
    * added, × their kk²-bounded neighborhoods), never the corpus. On
    * weakly-clustered data adoption spreads wider than |batch| — a new
    * near-random vector displaces tail entries in many lists — so the
    * honest bound is adopters·kk², with |adopters| measured per run here
    * (sf0.1, 1% batch: 6.4k then 105k proposals vs 805k for a rebuild
    * round; clustered real embeddings localize much harder).
    */
  def knnDescentIncObservation(round: Int): String =
    s"knn_descent_inc_r$round"

  /** Incremental kNN-graph maintenance: fold a NEW batch of vectors into an
    * existing [[knnGraphDescent]]-built graph without rebuilding it — the
    * daily-embedding-drop shape, completing the incremental family
    * (minhash/LSH/components/SRP index all have persisted+batch forms).
    *
    *  1. Seed: each new vector gets a kk-wide list from a fixed-probe IVF
    *     pass against old ∪ new ([[ivfTopK]], trainIters = 0 — seed cost
    *     O(|batch| · seedProbe · (n/√n)) = O(|batch|·√n), never corpus ×
    *     corpus); the seed edges enter the graph in BOTH directions, so
    *     old nodes immediately see candidate (old, new) edges and re-rank.
    *  2. `rounds` × [[descentRoundFlagged]] restricted to the endpoints of
    *     FRESH edges — edges the previous step actually added (seed
    *     fold-in marks exactly the not-already-stored edges fresh), not
    *     every neighbor of a new node. Adoption propagates the frontier
    *     one hop per round and the frontier DECAYS as lists converge;
    *     unaffected nodes' rows pass through the re-rank untouched.
    *
    * Output: (src, rank, dst, cos) over old ∪ new, k-wide. Deterministic /
    * partition-invariant like the full build (seeded hash orders, rounded
    * scores, id tie-breaks). Old and new ids must be disjoint; lists may
    * legitimately change for old nodes (a new vector can displace an old
    * neighbor — that is the point of maintenance).
    */
  def knnGraphIncremental(graph: DataFrame, corpus: DataFrame,
      newBatch: DataFrame, idCol: String, vecCol: String, k: Int,
      rounds: Int = 2, seedProbe: Int = 2, searchK: Int = 0,
      seed: Long = 11L): DataFrame = {
    val kk = if (searchK > 0) searchK else 4 * k
    val all = corpus.select(col(idCol), col(vecCol))
      .unionByName(newBatch.select(col(idCol), col(vecCol)))
    val normed = withNorm(all, idCol, vecCol, "nid", "v_n", "n_n")
      .repartition(col("nid")).persist()
    val nc = math.max(16, math.ceil(math.sqrt(all.count().toDouble)).toInt)
    val seedNew = ivfTopK(all, newBatch, idCol, vecCol, kk,
        nCentroids = nc, nProbe = math.min(nc, seedProbe), seed = seed,
        trainIters = 0)
      .select(col("qid").as("src"), col("nid").as("dst"), col("cos"))
    // persist, not localCheckpoint: all three consumers (seedChanged, the
    // anti/semi splits, rerankFlagged's union) run under the single
    // fold-in action below — a lazy cache dedups the seed computation
    // without a synchronous materialization job.
    val seedEdges = seedNew.union(seedNew.select(col("dst").as("src"),
      col("src").as("dst"), col("cos"))).persist()
    // Seed fold-in is frontier-bounded too: only srcs receiving a seed
    // edge re-rank; every other stored row passes through unchanged with
    // fresh = false (the stored graph pre-dates this fold). rerankFlagged
    // marks exactly the edges that were NOT already stored as fresh, so
    // round 1's frontier is the true adopter set — not every neighbor of
    // a new node.
    val seedChanged = seedEdges.select(col("src")).distinct()
    val keep0 = graph.join(seedChanged, Seq("src"), "left_anti")
      .select(col("src"), col("rank"), col("dst"), col("cos"),
        lit(false).as("fresh"))
    val rerank0 = rerankFlagged(
      graph.join(seedChanged, Seq("src"), "left_semi")
        .select(col("src"), col("dst"), col("cos")),
      seedEdges, kk)
    // Single-action fold (r14, same shape as knnGraphDescent): seed fold-in
    // and every restricted round are LAZY local checkpoints, so the whole
    // maintenance pass runs as one job; internals released after the final
    // materialization. The incremental wall was measured flat across scale
    // decades (growth steps 1.04/1.2) — pure job-count overhead.
    var g = keep0.union(rerank0).localCheckpoint(false)
    val toRelease = scala.collection.mutable.ListBuffer[DataFrame](seedEdges)
    for (r <- 1 to rounds) {
      toRelease += g
      val (g2, rel) = descentRoundLazy(g, normed, kk, seed,
        knnDescentIncObservation(r), restrict = true)
      toRelease ++= rel
      g = g2
    }
    toRelease += normed
    Caching.materializeThenRelease(
      g.filter(col("rank") <= k).drop("fresh"), toRelease.toSeq: _*)
  }

  /** Mutual-kNN edge set of a [[knnGraph]] result: (a, b) with a < b kept
    * iff each is in the other's top-k. The mutuality requirement is the
    * classic density filter — hub nodes collect many one-directional
    * in-edges but only reciprocated ones survive, so chaining through hubs
    * is cut before clustering. One semi-join on the (src, dst) key.
    */
  def mutualKnnEdges(knn: DataFrame): DataFrame =
    knn.select(col("src"), col("dst"), col("cos"))
      .filter(col("src") < col("dst"))
      .join(knn.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")

  /** Density clusters = connected components of the mutual-kNN graph,
    * resolved with the O(log² n) alternating-star algorithm (not min-label
    * propagation — see [[graft.operators.Dedup.clustersStar]]). Output:
    * (id, cluster) for every node with at least one mutual edge; cluster =
    * min member id.
    */
  def knnClusters(knn: DataFrame): DataFrame =
    Dedup.clustersStar(mutualKnnEdges(knn)
      .select(col("src").as("id_a"), col("dst").as("id_b")))

  /** Contrastive-training triplet mining: for each anchor that HAS a
    * positive (most-similar non-self neighbor with cos ≥ `posThreshold`),
    * emit its top-`k` HARD negatives — the highest-cosine neighbors BELOW
    * the positive band. Hard negatives are what make a contrastive
    * embedding objective informative (random negatives are trivially
    * separable and the gradient dies); the band boundary keeps true
    * positives from being mislabeled as negatives.
    *
    * Output: (anchor, positive, pos_cos, rank, negative, neg_cos) — one row
    * per (anchor, negative), rank 1-based by descending neg_cos with id
    * tie-break on the 6-decimal-rounded cosine, so the mined set is
    * deterministic and engine-exact. Anchors with no in-band positive emit
    * nothing (inner join): no positive means no triplet.
    *
    * Shape at scale: this exact form scores anchors × corpus through the
    * same bounded broadcast join as [[bruteForceTopK]] — the ANCHOR side is
    * the small one (a sampled training batch), the corpus side streams
    * through one scan, and the single quadratic product is checkpointed
    * once and shared by the positive and negative windows. At 100 TB swap
    * candidate generation for the ANN ladder (IVF/PQ top-(k·overfetch) per
    * anchor, identical (qid, nid, cos) shape) and keep the banding/window
    * tail unchanged.
    */
  def hardNegativeTriplets(corpus: DataFrame, anchors: DataFrame,
      idCol: String, vecCol: String, k: Int,
      posThreshold: Double): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol, "nid", "v_n", "n_n")
    val a = withNorm(anchors, idCol, vecCol, "qid", "v_q", "n_q")
    val scored = a.join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(cosFast(col("v_q"), col("v_n"), col("n_q"), col("n_n")), 6)
          .as("cos"))
      .localCheckpoint()
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    val positives = scored.filter(col("cos") >= posThreshold)
      .withColumn("pr", row_number().over(w))
      .filter(col("pr") === 1)
      .select(col("qid"), col("nid").as("positive"),
        col("cos").as("pos_cos"))
    val negatives = scored.filter(col("cos") < posThreshold)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid").as("negative"),
        col("cos").as("neg_cos"))
    positives.join(negatives, "qid")
      .select(col("qid").as("anchor"), col("positive"), col("pos_cos"),
        col("rank"), col("negative"), col("neg_cos"))
  }
}
