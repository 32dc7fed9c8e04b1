package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables.t

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps the lowest id per distinct content") {
    val df = Seq(
      (1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma"),
      (4L, "gamma"), (5L, "delta")
    ).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 3L, 5L))
  }

  test("jaccard pairs finds constructed near-duplicates, not unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = base.replace("lazy", "sleepy")
    val far = "completely different words that share nothing with that text"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("prefix-filtered join equals the quadratic all-pairs exactly") {
    // Seeded corpus with an exact-dup cluster (prefix keys would fan out
    // quadratically without the pre-collapse), near-dups at several
    // distances straddling the threshold, and unrelated noise docs.
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 120).map(i => s"w$i")
    def doc(): String =
      (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = doc()
    val docs =
      (1L to 5L).map(i => (i, base)) ++ // exact cluster
        Seq(
          (6L, base.replace("w", "x")), // unrelated twin
          (7L, base + " tail1 tail2"), // high-jaccard near-dup
          (8L, base.split(" ").drop(8).mkString(" ")), // mid-jaccard
          (9L, base.split(" ").take(10).mkString(" "))) ++ // low-jaccard
        (10L until 60L).map(i => (i, doc()))
    val df = docs.toDF("doc_id", "text")
    val quad = Dedup.jaccardPairs(df, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val pref = Dedup.prefixJaccardPairs(df, "doc_id", "text",
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(pref === quad)
    // the planted structure actually exercises both branches
    assert(quad.contains((1L, 2L, 1.0))) // intra-group
    assert(quad.exists { case (a, b, j) => a == 1L && b == 7L && j < 1.0 })
  }

  test("prefix join is exact at float-hostile thresholds too") {
    // n·t, max·t and t/(1+t)·(na+nb) all sit ON integer boundaries for
    // rational thresholds like 0.4 and 0.8 (0.4·5 = 2.0000000000000004 in
    // binary); a ceil/compare without the EPS loosening silently drops
    // true boundary pairs. Regression for exactly that class: random
    // corpus, every threshold checked pair-for-pair against the quadratic.
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 60).map(i => s"w$i")
    val docs = (0L until 80L).map { i =>
      (i, (0 until (5 + rnd.nextInt(20)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    for (t <- Seq(0.2, 0.4, 0.8, 0.9)) {
      val quad = Dedup.jaccardPairs(df, "doc_id", "text", threshold = t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val pref = Dedup.prefixJaccardPairs(df, "doc_id", "text",
          threshold = t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pref === quad, s"threshold $t: prefix join must stay exact")
    }
  }

  test("repeated spans recover a planted cross-document verbatim repeat") {
    // 12 shared tokens planted mid-document in docs 1 and 2; doc 3 clean.
    val repeat = (1 to 12).map(i => s"rep$i").mkString(" ")
    val filler = (n: Int, tag: String) =>
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val df = Seq(
      (1L, s"${filler(10, "a")} $repeat ${filler(10, "b")}"),
      (2L, s"${filler(7, "c")} $repeat ${filler(15, "d")}"),
      (3L, filler(40, "e"))
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(df, "doc_id", "text", k = 8, minDocs = 2)
      .select("doc_id", "span_start", "span_end", "n_tokens", "n_windows")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // the merged span covers exactly the 12 planted tokens: 5 dup windows
    // (12 - 8 + 1) starting at the plant offset in each doc
    assert(spans === Set(
      (1L, 10L, 22L, 12L, 5L),
      (2L, 7L, 19L, 12L, 5L)))
  }

  test("repeated spans merge overlapping and keep disjoint repeats separate") {
    val r1 = (1 to 9).map(i => s"x$i").mkString(" ")
    val r2 = (1 to 8).map(i => s"y$i").mkString(" ")
    val mid = (1 to 6).map(i => s"m$i").mkString(" ")
    val df = Seq(
      (1L, s"$r1 $mid $r2"),
      (2L, s"$r1 ${(1 to 20).map(i => s"z$i").mkString(" ")} $r2")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(df, "doc_id", "text", k = 8, minDocs = 2)
      .select("doc_id", "span_start", "span_end").as[(Long, Long, Long)]
      .collect().toSet
    // doc 1: [0,9) and [15,23); doc 2: [0,9) and [29,37) — two islands each
    assert(spans === Set(
      (1L, 0L, 9L), (1L, 15L, 23L),
      (2L, 0L, 9L), (2L, 29L, 37L)))
  }

  test("incremental minhash equals a full run's batch-touching pairs") {
    val docs = t(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val idx = Dedup.bandIndex(corpus, "doc_id", "text")
    val inc = Dedup.minhashPairsIncremental(batch, corpus, idx,
        "doc_id", "text", threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = full.filter(_._2 >= 400L)
    assert(inc == expected,
      s"missed=${expected -- inc} spurious=${inc -- expected}")
  }

  test("incremental dedup drops seen content, keeps fresh, dedups in-batch") {
    val seen = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta"),   // seen in the prior snapshot → dropped
      (11L, "epsilon zeta"), // fresh → kept
      (12L, "epsilon zeta"), // in-batch duplicate → collapsed to id 11
      (13L, "eta theta")     // fresh → kept
    ).toDF("doc_id", "text")
    val out = Dedup.exactIncremental(batch, "text", "doc_id",
        Dedup.contentKeys(seen, "text"))
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(11L, 13L))
  }

  test("cutSpans removes exactly the flagged tokens and accounts the cut") {
    val repeat = (1 to 12).map(i => s"rep$i").mkString(" ")
    val df = Seq(
      (1L, s"a1 a2 $repeat b1 b2"),
      (2L, s"c1 $repeat d1"),
      (3L, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(df, "doc_id", "text", k = 8, minDocs = 2)
    val out = Dedup.cutSpans(df, "doc_id", "text", spans)
      .select("doc_id", "cleaned", "n_tokens_cut")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out(1L) == (("a1 a2 b1 b2", 12L)))
    assert(out(2L) == (("c1 d1", 12L)))
    assert(out(3L) == (("e1 e2 e3 e4 e5 e6 e7 e8 e9 e10", 0L)))
  }

  test("minhash LSH recovers every exact-jaccard pair on real documents") {
    val docs = t(spark, sfDir, "documents")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "test data should contain near-dups")
    assert(lsh === exact,
      s"missed=${exact -- lsh} spurious=${lsh -- exact}")
  }

  test("simhash pairs have small hamming distance for near-identical docs") {
    val base = "spark query engine with columnar scans and hash joins for analytics"
    val near = base + " extra"
    val df = Seq((1L, base), (2L, near), (3L, "totally unrelated content here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("identical texts get identical simhash (hamming 0)") {
    val df = Seq((1L, "same words here"), (2L, "same words here"))
      .toDF("doc_id", "text")
    val out = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 0)
    assert(out.count() === 1L)
    assert(out.select("hamming").as[Int].head() === 0)
  }

  test("incremental embedding LSH equals a full run's batch-touching pairs") {
    val emb = t(spark, sfDir, "embeddings")
    val corpus = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400)
    val idx = Dedup.srpIndex(corpus, "vec_id", "embedding", nBits = 3,
      nTables = 8).localCheckpoint()
    val inc = Dedup.embeddingPairsLshIncremental(batch, corpus, idx,
        "vec_id", "embedding", threshold = 0.4, nBits = 3, nTables = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val full = Dedup.embeddingPairsLsh(emb, "vec_id", "embedding",
        threshold = 0.4, nBits = 3, nTables = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = full.filter(_._2 >= 400L)
    assert(expected.nonEmpty, "test split should produce cross pairs")
    assert(inc == expected,
      s"missed=${expected -- inc} spurious=${inc -- expected}")
    // mismatched build parameters must be refused, not silently empty
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingPairsLshIncremental(batch, corpus, idx, "vec_id",
        "embedding", threshold = 0.4, nBits = 4, nTables = 8)
    }
    assert(e.getMessage.contains("nBits"))
  }

  test("exact-dup-heavy corpus: banding candidates stay O(near-collisions)") {
    // 500 exact copies + 2 near-dups of a second text + 3 unrelated docs.
    // Without fingerprint pre-collapse the 500-copy cluster alone would put
    // 4·500²/2 = 500,000 rows through the band self-join; with it, the
    // banding layer sees ONE representative per distinct fingerprint and the
    // candidate set is just the near-collision pairs between distinct fps.
    val copyText = "identical boilerplate document repeated verbatim " +
      "across the crawl shard many times over"
    val base = "spark query engine with columnar scans and hash joins " +
      "for large scale analytics"
    val docs = (1L to 500L).map(i => (i, copyText)) ++
      Seq(901L -> base, 902L -> (base + " extra"),
        910L -> "totally unrelated content about rivers",
        911L -> "another unrelated document about mountains",
        912L -> "gardens at dawn with quiet light")
    val df = docs.toSeq.toDF("doc_id", "text")
    graft.functions.HashExpressions.register(spark)
    val fps = df.select(col("doc_id").as("id"),
        expr("simhash64(split(trim(lower(text)), '\\\\s+'))").as("fp"))
      .groupBy(col("fp")).agg(min(col("id")).as("rep"))
      .select(col("rep"), col("fp"))
    assert(fps.count() <= 6L) // the 500 copies collapse to one fingerprint
    val cand = Dedup.simhashRepCandidates(fps, maxHamming = 3).collect()
    // candidate volume is near-collisions between DISTINCT fingerprints
    // only — the dup cluster contributes zero banding candidates
    assert(cand.length <= 4,
      s"candidate volume should be O(near-pairs), got ${cand.length}")
    // ...while the full operator still expands every member pair
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
    val intraDup = pairs.filter(col("id_a") <= 500 && col("id_b") <= 500)
    assert(intraDup.count() === 500L * 499L / 2)
  }

  test("embedding near-dup pairs are symmetric-free and thresholded") {
    val emb = t(spark, sfDir, "embeddings").filter(col("vec_id") < 100)
    val pairs = Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.3).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(r => r.getDouble(2) >= 0.3))
  }

  test("containment: wrapped copies are found; unrelated docs are not") {
    val base = "the quick brown fox jumps over the lazy dog while " +
      "seventeen wizards brew quartz potions under a crimson sky"
    val docs = Seq(
      (1L, base),
      (2L, "PREFIX PREFIX " + base + " SUFFIX SUFFIX"),     // contains doc 1
      (3L, "completely different words about gardens and rivers and " +
        "mountains flowing through quiet valleys at dawn light")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.6)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    assert(pairs.head._3 >= 0.9)
  }

  test("clusters: chain components collapse to the min id") {
    // components: {1,2,3,4} (a chain, converges over >1 round), {10,11}
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("clustersStar: giant path component converges (label prop would need " +
      "diameter rounds) and matches on mixed shapes") {
    // A 500-node path is the adversarial case for min-label propagation
    // (diameter 499); the alternating algorithm's O(log² n) bound means the
    // internal 64-round guard alone proves fast convergence.
    val path = (0L until 499L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val gotPath = Dedup.clustersStar(path).as[(Long, Long)].collect()
    assert(gotPath.length === 500)
    assert(gotPath.forall(_._2 === 0L))

    // star with a high-id hub + chain + isolated pair, reversed id order
    val mixed = Seq(
      (900L, 1L), (900L, 2L), (900L, 3L),          // star, hub above leaves
      (2L, 1L),                                     // ties star into {1,2,3,900}
      (50L, 40L), (40L, 30L),                       // chain
      (7L, 8L)                                      // pair
    ).toDF("id_a", "id_b")
    val got = Dedup.clustersStar(mixed).as[(Long, Long)].collect().toMap
    val viaPropagation = Dedup.clusters(mixed).as[(Long, Long)].collect().toMap
    assert(got === viaPropagation)
    assert(got(900L) === 1L && got(30L) === 30L && got(50L) === 30L &&
      got(8L) === 7L)
  }

  test("clustersStar: empty and self-loop-only inputs yield empty output") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.clustersStar(empty).isEmpty)
    val selfOnly = Seq((5L, 5L)).toDF("id_a", "id_b")
    assert(Dedup.clustersStar(selfOnly).isEmpty)
  }

  test("incremental components equal full recompute; bridges relabel globally") {
    // random graph split into two batches — forest(first) ∪ second must
    // resolve identically to from-scratch on the whole edge set
    val rnd = new scala.util.Random(11)
    val all = (0 until 220).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(p => p._1 != p._2)
    val (first, second) = all.splitAt(all.size / 2)
    val labels0 = Dedup.clustersStar(first.toDF("id_a", "id_b"))
      .localCheckpoint()
    val inc = Dedup.clustersStarIncremental(labels0,
        second.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toSet
    val full = Dedup.clustersStar(all.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toSet
    assert(inc === full)
    // explicit bridge: two resolved clusters {1,2} and {10,11} joined by a
    // batch edge must merge under the GLOBAL min label, relabeling the
    // old {10,11} members
    val base = Dedup.clustersStar(Seq((1L, 2L), (10L, 11L))
      .toDF("id_a", "id_b")).localCheckpoint()
    val bridged = Dedup.clustersStarIncremental(base,
        Seq((2L, 10L)).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(bridged == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L))
    // empty batch is a no-op
    val noop = Dedup.clustersStarIncremental(base,
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toSet
    assert(noop == Set((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("keepCanonical keeps the highest-score member per component " +
      "(ties → lowest id), singletons untouched") {
    // components: {1,2,3} (via 1-2, 2-3), {10,11}; 20 and 21 are singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val docs = Seq(
      (1L, 5L), (2L, 9L), (3L, 9L),   // 2 and 3 tie on score → keep 2
      (10L, 1L), (11L, 7L),           // 11 wins outright
      (20L, 0L), (21L, 100L)          // unpaired → both survive
    ).toDF("id", "score")
    val kept = Dedup.keepCanonical(docs, pairs, "id", "score")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 11L, 20L, 21L))
    // contrast with keepRepresentatives: min-id keeps 1 and 10 instead
    val reps = Dedup.keepRepresentatives(docs, pairs, "id")
      .collect().map(_.getLong(0)).toSet
    assert(reps == Set(1L, 10L, 20L, 21L))
  }

  test("keepCanonical is partition-invariant") {
    val rnd = new scala.util.Random(7)
    val pairs = (0 until 150).map(_ =>
        (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val docs = (0L until 100L).map(i => (i, (i * 37) % 13)).toDF("id", "s")
    val a = Dedup.keepCanonical(docs, pairs, "id", "s")
      .collect().map(_.getLong(0)).toSet
    val b = Dedup.keepCanonical(docs.repartition(9), pairs.repartition(5),
        "id", "s")
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  // clusters (ckptWithSum) and clustersStar (checkpointTracked) read their
  // convergence witness from an Observation right after an eager
  // localCheckpoint; this pins that the checkpoint alone fires observe(), so
  // roundWitness's scalar fallback stays off the normal path.
  test("eager localCheckpoint fires observe() metrics before any other " +
      "action") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val obs = org.apache.spark.sql.Observation("ckpt_fires_observe")
    spark.range(1000)
      .observe(obs, count(lit(1)).as("n"), sum(col("id")).as("s"))
      .localCheckpoint()
    val m = Await.result(Future(obs.get)(ExecutionContext.global), 10.seconds)
    assert(m("n") == 1000L)
    assert(m("s") == 499500L)
  }

  test("roundWitness returns the observed row when the observation fires") {
    import scala.concurrent.duration._
    val obs = org.apache.spark.sql.Observation("witness_fires")
    val s = sum(col("id")).as("s")
    spark.range(1000).observe(obs, s).localCheckpoint()
    // a different frame: the fallback would read 45 from it, not 499500
    val row = Dedup.roundWitness(obs, spark.range(10).toDF(), Seq(s), 60.seconds)
    assert(row.getAs[Long]("s") === 499500L)
  }

  test("roundWitness falls back to a scalar aggregate over the checkpoint " +
      "when the observation never fires") {
    import scala.concurrent.duration._
    val never = org.apache.spark.sql.Observation("witness_never_fires")
    val out = spark.range(10).toDF().localCheckpoint()
    val n = count(lit(1)).as("n")
    val s = sum(col("id")).as("s")
    val row = Dedup.roundWitness(never, out, Seq(n, s), 50.millis)
    assert(row.getAs[Long]("n") === 10L)
    assert(row.getAs[Long]("s") === 45L)
    assert(!never.future.isCompleted)
  }
}
