package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed UNIGRAM-LM tokenizer training (Kudo, ACL 2018 — the
  * SentencePiece unigram model), completing the learned-tokenizer family
  * beside [[Bpe]]: where BPE greedily merges pairs, the unigram model
  * fits piece probabilities by EM over each word's segmentation lattice
  * and encodes with Viterbi — the formulation subword-regularization and
  * n-best sampling come from.
  *
  * The Spark-first shape mirrors [[Bpe]]: the corpus is touched exactly
  * once to build the (word, cnt) table — vocabulary-bounded, distributed,
  * never driver-resident. Each EM iteration is then ONE typed
  * mapPartitions over that table (the per-word forward–backward lattice
  * DP has no Catalyst expression form — the same justification as the
  * multimodal decoders) followed by one vocab-bounded aggregation; the
  * model itself (≤ seedSize pieces) is the bounded driver/broadcast state,
  * the codebook posture of [[Similarity]].
  *
  * Determinism (the oracle-contract discipline): each word's expected
  * piece counts come out of a SERIAL per-word DP (deterministic doubles),
  * are snapped to ×1e4 fixed-point longs, and weighted by the word's
  * integer frequency BEFORE the cross-word sum — long addition is
  * associative, so the M-step sees identical totals under any
  * partitioning. Probabilities are then re-snapped to parts-per-billion
  * longs. Training is therefore a pure function of the word table.
  * (Fixed-point bound: expected counts ≤ word length ≤ ~64, so a word
  * frequency up to ~2·10¹² fits in the long product — beyond any real
  * distinct-word frequency.)
  */
object Unigram {

  /** piece → probability in parts-per-billion (fixed-point long). */
  final case class Model(probPpb: Map[String, Long], maxPieceLen: Int) {
    require(probPpb.nonEmpty, "empty unigram model")
    def logProb: Map[String, Double] =
      probPpb.map { case (p, ppb) => p -> math.log(ppb.max(1L) / 1e9) }
  }

  /** (w, cnt) — lowercased whitespace words with corpus frequencies. */
  def wordTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Seed vocabulary: EVERY single character (the coverage guarantee — a
    * lattice can always fall back to characters) plus the highest-
    * weighted-count substrings of length 2..maxPieceLen, capped at
    * `seedSize` total. Deterministic tie-break (count desc, piece asc).
    * One generate + one aggregate over the word table; substring
    * cardinality is bounded by vocab · maxPieceLen · avg-len, never
    * corpus-sized.
    */
  def seedCounts(words: DataFrame, seedSize: Int,
      maxPieceLen: Int): Seq[(String, Long)] = {
    val subs = words.select(col("cnt"), explode(expr(
      s"""flatten(transform(sequence(1, length(w)),
         |  i -> transform(sequence(i, least(length(w), i + $maxPieceLen - 1)),
         |    j -> substring(w, i, j - i + 1))))""".stripMargin)).as("p"))
      .groupBy(col("p")).agg(sum(col("cnt")).as("c"))
      .localCheckpoint()
    val chars = subs.filter(length(col("p")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val multi = subs.filter(length(col("p")) > 1)
      .orderBy(col("c").desc, col("p").asc)
      .limit(math.max(0, seedSize - chars.length))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    (chars ++ multi).toSeq
  }

  private def toPpb(counts: Seq[(String, Long)]): Map[String, Long] = {
    val total = counts.map(_._2).sum.toDouble
    counts.map { case (p, c) =>
      p -> math.max(1L, math.floor(c * 1e9 / total + 0.5).toLong)
    }.toMap
  }

  /** Forward–backward expected piece counts + log-likelihood of ONE word
    * under `logp`. Serial, allocation-light, deterministic.
    */
  private def eStepWord(w: String, logp: Map[String, Double],
      maxLen: Int): (collection.mutable.Map[String, Double], Double) = {
    val n = w.length
    val NEG = Double.NegativeInfinity
    def lse(a: Double, b: Double): Double =
      if (a == NEG) b else if (b == NEG) a
      else { val m = math.max(a, b); m + math.log1p(math.exp(-(a - b).abs)) }
    val alpha = Array.fill(n + 1)(NEG); alpha(0) = 0.0
    var j = 1
    while (j <= n) {
      var l = 1
      while (l <= math.min(maxLen, j)) {
        val lp = logp.getOrElse(w.substring(j - l, j), NEG)
        if (lp != NEG && alpha(j - l) != NEG)
          alpha(j) = lse(alpha(j), alpha(j - l) + lp)
        l += 1
      }
      j += 1
    }
    val beta = Array.fill(n + 1)(NEG); beta(n) = 0.0
    var i = n - 1
    while (i >= 0) {
      var l = 1
      while (l <= math.min(maxLen, n - i)) {
        val lp = logp.getOrElse(w.substring(i, i + l), NEG)
        if (lp != NEG && beta(i + l) != NEG)
          beta(i) = lse(beta(i), lp + beta(i + l))
        l += 1
      }
      i -= 1
    }
    val z = alpha(n)
    val exp = collection.mutable.Map.empty[String, Double]
    if (z != NEG) {
      var s = 0
      while (s < n) {
        if (alpha(s) != NEG) {
          var l = 1
          while (l <= math.min(maxLen, n - s)) {
            val piece = w.substring(s, s + l)
            val lp = logp.getOrElse(piece, NEG)
            if (lp != NEG && beta(s + l) != NEG) {
              val e = math.exp(alpha(s) + lp + beta(s + l) - z)
              if (e > 0.0) exp.update(piece, exp.getOrElse(piece, 0.0) + e)
            }
            l += 1
          }
        }
        s += 1
      }
    }
    (exp, z)
  }

  /** EM training over the distributed word table: `iters` iterations of
    * (broadcast log-probs → per-word lattice E-step → fixed-point long
    * reduce → re-normalized fixed-point M-step). Returns the model and
    * the per-iteration corpus log-likelihood (×1e4 fixed-point longs —
    * computed BEFORE each update from the model that produced it, so the
    * sequence is the EM objective trace and must be non-decreasing up to
    * the documented 1e-9-relative fixed-point perturbation).
    *
    * GRAIN-INDUCED PRUNING (deliberate): a multi-char piece whose snapped
    * expected count floor(e·1e4 + 0.5)·cnt sums to 0 across the corpus
    * drops from the vocabulary that iteration — the ×1e4 fixed-point grain
    * doubles as SentencePiece's explicit low-expectation pruning threshold
    * (pieces expected < 0.5/1e4 times per occurrence-weighted word carry
    * no usable probability mass). Only single chars keep the 1-ppb floor,
    * preserving character coverage; the LL-monotonicity contract's slack
    * term absorbs the resulting sub-grain objective perturbation.
    */
  def train(words: DataFrame, seedSize: Int = 512, maxPieceLen: Int = 8,
      iters: Int = 3): (Model, Seq[Long]) = {
    val spark = words.sparkSession
    import spark.implicits._
    val wt = words.select(col("w"), col("cnt")).as[(String, Long)]
      .localCheckpoint()
    var probs = toPpb(seedCounts(words, seedSize, maxPieceLen))
    val lls = Seq.newBuilder[Long]
    (1 to iters).foreach { _ =>
      val logp = Model(probs, maxPieceLen).logProb
      val bc = spark.sparkContext.broadcast(logp)
      val agg = wt.mapPartitions { it =>
        val lp = bc.value
        it.flatMap { case (w, cnt) =>
          val (exp, z) = eStepWord(w, lp, maxPieceLen)
          val rows = exp.iterator.map { case (p, e) =>
            (p, math.floor(e * 1e4 + 0.5).toLong * cnt)
          }
          val ll =
            if (z == Double.NegativeInfinity) 0L
            else math.floor(z * 1e4 + 0.5).toLong * cnt
          // the space-prefixed sentinel can never collide with a piece:
          // pieces are substrings of whitespace-SPLIT words
          rows ++ Iterator((" __ll__", ll))
        }
      }.toDF("p", "c").groupBy(col("p")).agg(sum(col("c")).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      lls += agg.find(_._1 == " __ll__").map(_._2).getOrElse(0L)
      val counts = agg.filter(_._1 != " __ll__")
      // M-step: renormalize; single chars keep a 1-ppb floor so the
      // lattice never loses character coverage
      val charFloor = probs.keys.filter(_.length == 1)
        .map(c => c -> counts.find(_._1 == c).map(_._2).getOrElse(0L))
      val merged = (counts.toMap ++ charFloor.filter(_._2 == 0L)
        .map { case (c, _) => c -> 1L }).toSeq
      probs = toPpb(merged.sortBy(_._1))
    }
    (Model(probs, maxPieceLen), lls.result())
  }

  /** Viterbi encode every word of the (distributed) word table under the
    * model: the max-probability segmentation, ties broken by FEWER pieces
    * and then by the shorter final piece at every DP cell — a total,
    * input-only rule, so the encoding is a pure function of (word, model)
    * and partition-invariant. Unknown characters fall back to 1-ppb
    * singletons (encoding never fails). Returns (w, cnt, pieces).
    */
  def encode(words: DataFrame, model: Model): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.logProb)
    val maxLen = model.maxPieceLen
    words.select(col("w"), col("cnt")).as[(String, Long)]
      .mapPartitions { it =>
        val lp = bc.value
        val unk = math.log(1L / 1e9)
        it.map { case (w, cnt) =>
          val n = w.length
          // best(j) = (score, nPieces, backPointer length)
          val score = Array.fill(n + 1)(Double.NegativeInfinity)
          val pieces = Array.fill(n + 1)(Int.MaxValue)
          val back = Array.fill(n + 1)(0)
          score(0) = 0.0; pieces(0) = 0
          var j = 1
          while (j <= n) {
            var l = 1
            while (l <= math.min(maxLen, j)) {
              val p = w.substring(j - l, j)
              val lpv =
                if (lp.contains(p)) lp(p)
                else if (l == 1) unk
                else Double.NegativeInfinity
              if (lpv != Double.NegativeInfinity &&
                  score(j - l) != Double.NegativeInfinity) {
                val s = score(j - l) + lpv
                val np = pieces(j - l) + 1
                val better = s > score(j) ||
                  (s == score(j) && (np < pieces(j) ||
                    (np == pieces(j) && l < back(j))))
                if (better) { score(j) = s; pieces(j) = np; back(j) = l }
              }
              l += 1
            }
            j += 1
          }
          val out = List.newBuilder[String]
          var pos = n
          val rev = List.newBuilder[String]
          while (pos > 0) { rev += w.substring(pos - back(pos), pos)
            pos -= back(pos) }
          out ++= rev.result().reverse
          (w, cnt, out.result())
        }
      }.toDF("w", "cnt", "pieces")
  }

  /** Deterministic k-best segmentations per word — the enumeration that
    * backs subword-regularization sampling (Kudo 2018: training on
    * sampled alternative segmentations regularizes the downstream model;
    * the SAMPLING step is a weighted draw over exactly this list, so a
    * deterministic k-best is the engine primitive and the draw stays a
    * caller-side choice). Same lattice as [[encode]], DP cells carry the
    * TOP-K candidate paths instead of one; candidate order is the total
    * rule (score desc, fewer pieces, then piece-sequence lexicographic),
    * so the output is a pure function of (word, model, k) and
    * partition-invariant — no randomness in the engine, the repo-wide
    * determinism posture. Scores land as ×1e4 fixed-point longs (the
    * [[train]] LL grain) so downstream comparisons are engine-exact.
    * Per-word cost is O(n · maxPieceLen · k log k) in the same typed
    * mapPartitions as encode (no expression form exists — the multimodal
    * justification). Returns (w, cnt, rank, pieces, score_fx).
    */
  def nBest(words: DataFrame, model: Model, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.logProb)
    val maxLen = model.maxPieceLen
    words.select(col("w"), col("cnt")).as[(String, Long)]
      .mapPartitions { it =>
        val lp = bc.value
        val unk = math.log(1L / 1e9)
        // Total candidate order: score desc, fewer pieces, then the
        // REVERSED sequence (final piece first — paths are stored
        // reversed) by piece length then string. The third key is chosen
        // to REPRODUCE [[encode]]'s greedy backtrack on exact-score ties
        // (shorter final piece at every cell, applied from the end), so
        // rank 1 ≡ Viterbi even on permuted-multiset ties like
        // "333" → [33,3] vs [3,33], whose float scores are identical.
        val ord = new Ordering[(Double, List[String])] {
          def compare(a: (Double, List[String]),
              b: (Double, List[String])): Int = {
            val c1 = java.lang.Double.compare(b._1, a._1)
            if (c1 != 0) return c1
            val c2 = Integer.compare(a._2.length, b._2.length)
            if (c2 != 0) return c2
            var (pa, pb) = (a._2, b._2)
            while (pa.nonEmpty) {
              val c3 = Integer.compare(pa.head.length, pb.head.length)
              if (c3 != 0) return c3
              val c4 = pa.head.compareTo(pb.head)
              if (c4 != 0) return c4
              pa = pa.tail; pb = pb.tail
            }
            0
          }
        }
        it.flatMap { case (w, cnt) =>
          val n = w.length
          val best = Array.fill(n + 1)(List.empty[(Double, List[String])])
          best(0) = List((0.0, Nil))
          var j = 1
          while (j <= n) {
            val cands = List.newBuilder[(Double, List[String])]
            var l = 1
            while (l <= math.min(maxLen, j)) {
              val p = w.substring(j - l, j)
              val lpv =
                if (lp.contains(p)) lp(p)
                else if (l == 1) unk
                else Double.NegativeInfinity
              if (lpv != Double.NegativeInfinity)
                best(j - l).foreach { case (s, path) =>
                  cands += ((s + lpv, p :: path))
                }
              l += 1
            }
            best(j) = cands.result().sorted(ord).take(k)
            j += 1
          }
          best(n).iterator.zipWithIndex.map { case ((s, path), i) =>
            (w, cnt, i + 1, path.reverse,
              math.floor(s * 1e4 + 0.5).toLong)
          }
        }
      }.toDF("w", "cnt", "rank", "pieces", "score_fx")
  }

  /** Deterministic subword-regularization SAMPLING over [[nBest]] — Kudo
    * 2018's training-time draw as an engine primitive. Each occurrence
    * (an `occIdCol`-identified word instance) draws ONE segmentation
    * from the k-best posterior p_r ∝ exp(α·(score_r − score_1)) using
    * the md5-uniform idiom (the [[Sampling.weightedExactK]] posture) in
    * place of an RNG: u is a pure function of (occurrence id, word,
    * salt), so the draw is reproducible, partition-invariant and
    * replayable — at-least-once reprocessing of a corpus shard re-draws
    * identically, where SentencePiece's RNG would shred determinism.
    *
    * Mechanics: posterior mass is accumulated in RANK order (a window
    * sum over the ≤ k rows of one word) and the occurrence takes the
    * FIRST rank whose cumulative share reaches u; the word's last rank
    * is the float-edge fallback (cum_last/Z is 1 only up to rounding,
    * and u can be exactly 1.0 on the 52-bit grid). Cost at 100 TB: the
    * lattice runs once per DISTINCT word ([[nBest]]); sampling is one
    * vocabulary-keyed join fanning each occurrence to ≤ k posterior
    * rows plus a per-occurrence top-1 — no per-occurrence lattice work,
    * no RNG state, no shuffle beyond the one key join.
    *
    * Returns (occIdCol, w, rank, pieces, score_fx, p_ppm) — one row per
    * occurrence; `p_ppm` is the drawn rank's posterior share snapped to
    * ppm for inspection.
    */
  def sampleEncode(occs: DataFrame, occIdCol: String, wordCol: String,
      model: Model, k: Int, alpha: Double = 1.0,
      salt: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = occs.select(col(wordCol).as("w")).distinct()
      .withColumn("cnt", lit(1L))
    val byW = Window.partitionBy(col("w"))
    val byWRank = Window.partitionBy(col("w")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val post = nBest(words, model, k)
      .withColumn("wt", exp(lit(alpha) *
        (col("score_fx") - max(col("score_fx")).over(byW)) / lit(1e4)))
      .withColumn("z", sum(col("wt")).over(byW))
      .withColumn("cum", sum(col("wt")).over(byWRank))
      .withColumn("rmax", max(col("rank")).over(byW))
    val u = (conv(substring(md5(concat(col(occIdCol).cast("string"),
        lit(":"), col("w"), lit(salt))), 1, 13), 16, 10).cast("long") + 1)
      .cast("double") / lit(4503599627370496.0)
    val wOcc = Window.partitionBy(col(occIdCol), col("w"))
      .orderBy(col("rank"))
    occs.select(col(occIdCol), col(wordCol).as("w"))
      .join(post.drop("cnt"), Seq("w"))
      .withColumn("u", u)
      .filter(col("cum") / col("z") >= col("u") || col("rank") === col("rmax"))
      .withColumn("rn", row_number().over(wOcc))
      .filter(col("rn") === 1)
      .select(col(occIdCol), col("w"), col("rank"), col("pieces"),
        col("score_fx"),
        floor(col("wt") / col("z") * 1e6 + 0.5).cast("long").as("p_ppm"))
  }
}
