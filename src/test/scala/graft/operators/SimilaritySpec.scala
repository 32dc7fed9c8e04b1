package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables.t

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Seq(1.0, 0.0, 2.0), Seq(1.0, 0.0, 2.0)),
      (Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))
    ).toDF("a", "b")
    val cos = df.select(round(Similarity.cosine(col("a"), col("b")), 6))
      .as[Double].collect()
    assert(cos(0) === 1.0)
    assert(cos(1) === 0.0)
  }

  test("brute-force top-k is self-excluding, ranked, and k-bounded") {
    val emb = t(spark, sfDir, "embeddings")
    val out = Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3)
      .collect()
    assert(out.length === 15)
    assert(out.forall(r => r.getLong(0) != r.getLong(2))) // qid != nid
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq === Seq(1, 2, 3))
      // similarity non-increasing with rank
      assert(byRank.sliding(2).forall(p =>
        p(0).getDouble(3) >= p(1).getDouble(3)))
    }
  }

  test("SRP top-k candidates score identically to brute force (subset property)") {
    val emb = t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 50)
      .select("qid", "nid", "cos").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val srp = Similarity.srpTopK(emb, queries, "vec_id", "embedding", 5, nBits = 4)
      .select("qid", "nid", "cos").as[(Long, Long, Double)].collect()
    // every SRP result's cosine matches the exact computation when present
    srp.foreach { case (q, n, c) =>
      brute.get((q, n)).foreach(exact => assert(math.abs(exact - c) < 1e-9))
    }
    assert(srp.nonEmpty)
  }

  test("IVF top-k: exact scores on probed buckets; recall beats single-probe") {
    val emb = t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid", "cos").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
      nCentroids = 8, nProbe = 4)
      .select("qid", "nid", "cos").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, n, c) =>
      brute.get((q, n)).foreach(exact => assert(math.abs(exact - c) < 1e-9))
    }
    val recallWide = (brute.keySet & ivf.map(r => (r._1, r._2)).toSet).size
      .toDouble / brute.size
    val narrow = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
      nCentroids = 8, nProbe = 1)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recallNarrow = (brute.keySet & narrow).size.toDouble / brute.size
    assert(recallWide >= recallNarrow)
    assert(recallWide >= 0.4, s"recall=$recallWide")
  }

  test("IVF with Lloyd-refined centroids keeps exact scores and sane recall") {
    val emb = t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val trained = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
      nCentroids = 8, nProbe = 4, trainIters = 2)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (brute & trained).size.toDouble / brute.size
    assert(recall >= 0.4, s"trained recall=$recall")
  }

  test("SRP recall against brute force is reasonable on real data") {
    val emb = t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val srp = Similarity.srpTopK(emb, queries, "vec_id", "embedding", 5, nBits = 2)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (brute & srp).size.toDouble / brute.size
    // random 64-d gaussian-ish vectors are a worst case for SRP; with 4
    // buckets we still expect to recover a solid fraction of true neighbors
    assert(recall >= 0.3, s"recall=$recall")
  }

  test("multi-probe SRP: recall is monotone in nProbe and beats single-probe") {
    val emb = t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    def recallAt(nProbe: Int): Double = {
      val srp = Similarity
        .srpTopK(emb, queries, "vec_id", "embedding", 5, nBits = 4,
          nProbe = nProbe)
        .select("qid", "nid").as[(Long, Long)].collect().toSet
      (brute & srp).size.toDouble / brute.size
    }
    val r = Seq(1, 4, 8).map(recallAt)
    // margin-guided bit flips only ADD probe buckets, so recall can only grow
    assert(r(0) <= r(1) && r(1) <= r(2), s"recalls=$r")
    assert(r(2) > r(0), s"multi-probe added nothing: recalls=$r")
    assert(r(2) >= 0.5, s"recall@nProbe=8 too low: ${r(2)}")
  }

  test("PQ top-k: re-ranked scores are exact; recall clears the swept floor") {
    val emb = t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    val bruteMap = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 100)
      .select("qid", "nid", "cos").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding", k = 5,
      m = 16, shortlistFactor = 8)
    val rows = pq.select("qid", "nid", "cos").as[(Long, Long, Double)]
      .collect()
    // after the exact re-rank, every emitted score IS the exact cosine
    rows.foreach { case (q, n, c) =>
      bruteMap.get((q, n)).foreach(e => assert(math.abs(e - c) < 1e-9))
    }
    val recall = graft.queries.Contracts.recall(pq, brute)
    assert(recall >= 0.6, s"recall=$recall under the swept floor")
  }

  test("SQ8 top-k: exact re-ranked scores; near-lossless recall") {
    val emb = t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    val bruteMap = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 100)
      .select("qid", "nid", "cos").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val sq = Similarity.sq8TopK(emb, queries, "vec_id", "embedding", k = 5)
    val rows = sq.select("qid", "nid", "cos").as[(Long, Long, Double)]
      .collect()
    rows.foreach { case (q, n, c) =>
      bruteMap.get((q, n)).foreach(e => assert(math.abs(e - c) < 1e-9))
    }
    // 8 bits per normalized coordinate ≈ lossless for cosine ordering
    val recall = graft.queries.Contracts.recall(sq, brute)
    assert(recall >= 0.9, s"recall=$recall under the SQ8 floor")
  }

  test("IVF-PQ: exact re-ranked scores; recall clears the compounded floor") {
    val emb = t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", 5)
    val bruteMap = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 100)
      .select("qid", "nid", "cos").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val ivfpq = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 8, m = 16, shortlistFactor = 8)
    val rows = ivfpq.select("qid", "nid", "cos").as[(Long, Long, Double)]
      .collect()
    rows.foreach { case (q, n, c) =>
      bruteMap.get((q, n)).foreach(e => assert(math.abs(e - c) < 1e-9))
    }
    val recall = graft.queries.Contracts.recall(ivfpq, brute)
    assert(recall >= 0.4, s"recall=$recall under the swept floor")
  }

  test("persisted IVF-PQ index equals the in-memory path, bucket-partitioned") {
    val emb = t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val path = tmpDir("ivfpq-idx")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", path,
      nCentroids = 16, m = 16)
    val stored = Similarity.queryIvfPqIndex(emb, queries, "vec_id",
        "embedding", path, k = 5, nProbe = 8, shortlistFactor = 8)
      .select("qid", "rank", "nid", "cos").as[(Long, Int, Long, Double)]
      .collect().toSeq
    val mem = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 8, m = 16, shortlistFactor = 8)
      .select("qid", "rank", "nid", "cos").as[(Long, Int, Long, Double)]
      .collect().toSeq
    assert(stored == mem)
    // the stored layout is batch=N segments of bucket=N partition dirs
    val dirs = new java.io.File(s"$path/codes/batch=0").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(dirs.length > 1)
    // the query-path read shape (literal isin over the partition column)
    // must become PARTITION filters on the scan node — not a post-scan
    // row filter (which would read every directory and drop rows late).
    // Assert on the scan's actual partitionFilters, non-vacuously: the
    // plan STRING prints "PartitionFilters: []" even when pruning never
    // fires, and input_file_name can't tell pruning from row-filtering.
    val pruned = spark.read.parquet(s"$path/codes")
      .filter(col("bucket").isin(0, 1))
    pruned.collect()
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.nonEmpty),
      s"bucket isin must prune partitions, got:\n${scans.head}")
  }

  test("filtered serving returns only eligible ids; all-ids filter is the " +
      "identity") {
    val emb = t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val path = tmpDir("ivfpq-flt")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", path,
      nCentroids = 16, m = 16)
    def serve(allowed: org.apache.spark.sql.DataFrame) =
      Similarity.queryIvfPqIndex(emb, queries, "vec_id", "embedding", path,
          k = 5, nProbe = 8, shortlistFactor = 8, allowed = allowed)
        .select("qid", "rank", "nid", "cos").as[(Long, Int, Long, Double)]
        .collect().toSeq
    // predicate-restricted serving: every hit satisfies the predicate and
    // each query still fills k slots (the filter is applied BEFORE the
    // shortlist, so eligible candidates take the starved ranks)
    val eligible = emb.filter(col("label") < 5)
      .select(col("vec_id")).as[Long].collect().toSet
    val filtered = serve(emb.filter(col("label") < 5).select(col("vec_id")))
    assert(filtered.nonEmpty)
    assert(filtered.forall { case (_, _, nid, _) => eligible.contains(nid) })
    assert(filtered.groupBy(_._1).forall(_._2.size == 5))
    // an all-ids filter changes nothing vs unfiltered serving
    val all = serve(emb.select(col("vec_id")))
    val unfiltered = Similarity.queryIvfPqIndex(emb, queries, "vec_id",
        "embedding", path, k = 5, nProbe = 8, shortlistFactor = 8)
      .select("qid", "rank", "nid", "cos").as[(Long, Int, Long, Double)]
      .collect().toSeq
    assert(all == unfiltered)
  }

  test("IVF-PQ append guards dim parity; compaction leaves one segment " +
      "and identical serving") {
    val emb = t(spark, sfDir, "embeddings")
    val path = tmpDir("graft-ivfpq-apnd-")
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, nCentroids = 8, m = 8)
    // a batch of the wrong dimension must fail loudly, not write garbage
    val wrongDim = emb.select(col("vec_id"),
      slice(col("embedding"), 1, 8).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(wrongDim, "vec_id", "embedding", path)
    }
    assert(e.getMessage.contains("dim"))
    Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path)
    def segs() = new java.io.File(s"$path/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(segs().length == 2) // build's batch=0 + one append
    def serve() = Similarity.queryIvfPqIndex(emb,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", path,
        k = 3, nProbe = 4)
      .select("qid", "rank", "nid", "cos").as[(Long, Int, Long, Double)]
      .collect().toSeq
    val before = serve()
    Similarity.compactIvfPqIndex(spark, path)
    assert(segs().length == 1)
    // the merged segment sits OUTSIDE the batchId keyspace, so no append
    // (auto-id or replayed) can ever overwrite it
    assert(segs().head.getName == "batch=-1")
    assert(serve() == before)
    // the store stays appendable after compaction: auto batchId resolves
    // to max(-1)+1 = 0 and merged history survives — the clone's nearest
    // neighbor (its source, cos 1.0) is served THROUGH the merged segment
    val extra = emb.orderBy(col("vec_id")).limit(1)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfPqIndex(extra, "vec_id", "embedding", path)
    assert(segs().map(_.getName).sorted.toSeq ==
      Seq("batch=-1", "batch=0"))
    val srcId = emb.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id")).as[Long].head()
    val nn = Similarity.queryIvfPqIndex(
        emb.select(col("vec_id"), col("embedding")).unionByName(extra),
        extra, "vec_id", "embedding", path, k = 1, nProbe = 4)
      .select(col("nid")).as[Long].collect()
    assert(nn.toSeq == Seq(srcId))
  }

  test("OPQ rotation preserves cosine: re-ranked scores are exact originals") {
    val emb = t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val bruteMap = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 100)
      .select("qid", "nid", "cos").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    def run() = Similarity.opqTopK(emb, queries, "vec_id", "embedding",
      k = 5, m = 8, shortlistFactor = 4)
    val rows = run().select("qid", "nid", "cos").as[(Long, Long, Double)]
      .collect()
    assert(rows.nonEmpty)
    // scores computed in ROTATED space equal exact cosines of the ORIGINAL
    // vectors (2e-6: independent 6-dp roundings can straddle a boundary)
    rows.foreach { case (q, n, c) =>
      bruteMap.get((q, n)).foreach(e => assert(math.abs(e - c) <= 2e-6))
    }
    // seeded PCA fit + seeded codebooks → re-run deterministic
    assert(run().select("qid", "rank", "nid").as[(Long, Int, Long)]
      .collect().toSeq ==
      run().select("qid", "rank", "nid").as[(Long, Int, Long)]
        .collect().toSeq)
  }

  test("PQ codes table is narrow and the codebook is deterministic") {
    val emb = t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    def run() = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        k = 3, m = 8, shortlistFactor = 4)
      .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSeq
    assert(run() == run(), "PQ pipeline must be re-run deterministic")
  }

  test("kNN graph equals ivfTopK with queries = corpus (same parameters)") {
    val emb = t(spark, sfDir, "embeddings")
    val graph = Similarity.knnGraph(emb, "vec_id", "embedding", k = 4,
        nCentroids = 8, nProbe = 3, trainIters = 1)
      .select("src", "rank", "dst").as[(Long, Int, Long)].collect().toSet
    val viaIvf = Similarity.ivfTopK(emb, emb, "vec_id", "embedding", k = 4,
        nCentroids = 8, nProbe = 3, trainIters = 1)
      .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
    assert(graph === viaIvf,
      "single-pass self-join must reproduce the query-form edge set")
  }

  test("NN-descent refinement beats its own seed and clears the recall " +
    "floor with well-formed ranks") {
    val emb = t(spark, sfDir, "embeddings").localCheckpoint()
    val exact = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      .select(col("qid").as("src"), col("nid").as("dst")).localCheckpoint()
    val seedOnly = Similarity.knnGraphDescent(emb, "vec_id", "embedding",
      k = 5, rounds = 0)
    val refined = Similarity.knnGraphDescent(emb, "vec_id", "embedding",
      k = 5).localCheckpoint()
    val seedRecall = graft.queries.Contracts.recall(seedOnly, exact,
      "src", "dst")
    val recall = graft.queries.Contracts.recall(refined, exact, "src", "dst")
    assert(recall >= 0.6, s"descent recall $recall below contract floor")
    assert(recall > seedRecall,
      s"refinement must improve on the seed ($seedRecall -> $recall)")
    assert(graft.queries.Contracts.ranksWellFormed(refined, "src", "rank", 5))
    // every edge's cos must be the true cosine (descent re-scores, never
    // carries a stale/approximate score): spot-check against brute-force
    // scores for the overlapping edges
    val bruteScored = Similarity.bruteForceTopK(emb, emb, "vec_id",
        "embedding", k = 5)
      .select(col("qid").as("src"), col("nid").as("dst"),
        col("cos").as("cos_exact"))
    val mismatched = refined.join(bruteScored, Seq("src", "dst"))
      .filter(abs(col("cos") - col("cos_exact")) > 1e-5).count()
    assert(mismatched == 0, "descent edge scores must be exact cosines")
  }

  test("NN-descent graph is partition-invariant (trainIters = 0 path)") {
    val emb = t(spark, sfDir, "embeddings")
    val a = Similarity.knnGraphDescent(emb, "vec_id", "embedding", k = 4,
        rounds = 2)
      .select("src", "rank", "dst").as[(Long, Int, Long)].collect().toSet
    val b = Similarity.knnGraphDescent(emb.repartition(13), "vec_id",
        "embedding", k = 4, rounds = 2)
      .select("src", "rank", "dst").as[(Long, Int, Long)].collect().toSet
    assert(a === b, "descent edge set must not depend on partitioning")
  }

  test("incremental kNN maintenance: new nodes integrated, recall held, " +
    "old nodes adopt new neighbors, partition-invariant") {
    val emb = t(spark, sfDir, "embeddings").localCheckpoint()
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val cut = (maxId * 9) / 10
    val base = emb.filter(col("vec_id") <= cut)
    val batch = emb.filter(col("vec_id") > cut)
    assert(batch.count() > 0)
    val baseGraph = Similarity.knnGraphDescent(base, "vec_id", "embedding",
      k = 5).localCheckpoint()
    val updated = Similarity.knnGraphIncremental(baseGraph, base, batch,
      "vec_id", "embedding", k = 5).localCheckpoint()
    val exact = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding",
        k = 5)
      .select(col("qid").as("src"), col("nid").as("dst")).localCheckpoint()
    val recall = graft.queries.Contracts.recall(updated, exact, "src", "dst")
    assert(recall >= 0.6, s"incremental recall $recall below floor")
    assert(graft.queries.Contracts.ranksWellFormed(updated, "src", "rank", 5))
    // every new node has a list
    val missing = batch.select(col("vec_id").as("src"))
      .join(updated.select("src").distinct(), Seq("src"), "left_anti")
      .count()
    assert(missing == 0, s"$missing new nodes have no neighbor list")
    // maintenance is real: some old node adopted a new neighbor
    assert(updated.filter(col("src") <= cut && col("dst") > cut)
      .count() > 0, "no old node adopted a new neighbor")
    // partition-invariance of the whole maintenance pass
    val updated7 = Similarity.knnGraphIncremental(baseGraph,
        base.repartition(7), batch.repartition(3), "vec_id", "embedding",
        k = 5)
      .select("src", "rank", "dst").as[(Long, Int, Long)].collect().toSet
    val u1 = updated.select("src", "rank", "dst")
      .as[(Long, Int, Long)].collect().toSet
    assert(u1 === updated7, "incremental result depends on partitioning")
  }

  test("flagged descent converges: the edge set reaches a fixpoint and " +
    "fresh-edge volume collapses to at most a capped-out residue") {
    val emb = t(spark, sfDir, "embeddings").localCheckpoint()
    val kk = 12
    val normed = Similarity.withNorm(emb, "vec_id", "embedding",
      "nid", "v_n", "n_n").repartition(col("nid")).persist()
    var g = Similarity.knnGraph(emb, "vec_id", "embedding", kk,
        nCentroids = 8, nProbe = 2, trainIters = 0)
      .withColumn("fresh", lit(true)).localCheckpoint()
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "rank", "dst", "cos")
        .as[(Long, Int, Long, Double)].collect().toSet
    // Iterate until the EDGE SET stabilizes. A fresh count of exactly 0
    // is not guaranteed: an edge whose src was hash-capped out of every
    // affected B(v) legitimately keeps its flag and re-proposes its
    // (already-tried) pairs next round — bounded lingering work, never a
    // growing edge set. What must hold: the edge set reaches a fixpoint
    // within a few rounds, and once there, further rounds leave it
    // unchanged while the fresh count never grows.
    var prev = edges(g)
    var stable = false
    var i = 0
    var lastFresh = g.filter(col("fresh")).count()
    while (!stable && i < 10) {
      g = Similarity.descentRoundFlagged(g, normed, kk, 11L,
        s"fixpoint_r$i", restrict = true)
      val cur = edges(g)
      stable = cur == prev
      prev = cur
      lastFresh = g.filter(col("fresh")).count()
      i += 1
    }
    assert(stable, s"edge set still changing after $i rounds")
    // One more round over the converged graph must not change the edges,
    // and may only SHED flags: with an unchanged edge set every re-ranked
    // row merges as was_old (fresh cleared), while capped-out rows at
    // worst keep theirs — so the lingering-fresh residue never grows.
    val again = Similarity.descentRoundFlagged(g, normed, kk, 11L,
      "fixpoint_extra", restrict = true)
    assert(edges(again) === prev, "converged edge set changed again")
    assert(again.filter(col("fresh")).count() <= lastFresh,
      "fresh residue grew on a converged graph")
    normed.unpersist(blocking = false)
  }

  test("incremental kNN fold of an EMPTY batch returns the stored graph " +
    "unchanged") {
    val emb = t(spark, sfDir, "embeddings").localCheckpoint()
    val graph = Similarity.knnGraphDescent(emb, "vec_id", "embedding",
      k = 4, rounds = 1).localCheckpoint()
    val folded = Similarity.knnGraphIncremental(graph, emb,
      emb.filter(lit(false)), "vec_id", "embedding", k = 4)
    val a = graph.select("src", "rank", "dst", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    val b = folded.select("src", "rank", "dst", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(a === b, "empty-batch fold must be an identity")
  }

  test("mutual-kNN edges are reciprocated and clusters carry min-id labels") {
    val emb = t(spark, sfDir, "embeddings")
    val knn = Similarity.knnGraph(emb, "vec_id", "embedding", k = 5,
      nCentroids = 8, nProbe = 3).localCheckpoint()
    val edges = knn.select("src", "dst").as[(Long, Long)].collect().toSet
    val mutual = Similarity.mutualKnnEdges(knn)
      .select("src", "dst").as[(Long, Long)].collect()
    assert(mutual.nonEmpty)
    mutual.foreach { case (a, b) =>
      assert(a < b)
      assert(edges((a, b)) && edges((b, a)),
        s"mutual edge ($a,$b) must appear in the kNN set both ways")
    }
    // one-directional edges (hub in-links) must NOT survive
    val oneWay = edges.filter { case (a, b) => a < b && !edges((b, a)) }
    oneWay.foreach(e => assert(!mutual.contains(e)))
    val clusters = Similarity.knnClusters(knn)
      .as[(Long, Long)].collect()
    val byCluster = clusters.groupBy(_._2)
    byCluster.foreach { case (label, members) =>
      assert(label === members.map(_._1).min,
        "cluster label must be the min member id")
    }
    val mutualNodes = mutual.flatMap(e => Seq(e._1, e._2)).toSet
    assert(clusters.map(_._1).toSet === mutualNodes,
      "clusters must cover exactly the mutual-edge node set")
  }

  test("triplet mining: banded positive, hard negatives, no-positive drop") {
    // anchor 0 at e1. cos vs: id 10 (e1, cos 1.0 — the only in-band
    // positive at 0.9), id 11 (cos 0.8 — hardest negative), id 12
    // (cos 0.6 — next negative), id 13 (orthogonal, 0.0), id 14 (-1.0).
    // anchor 1 at (-0.6,-0.8): best cos anywhere is 0.6 → no triplets.
    val corpus = Seq(
      (10L, Seq(1.0f, 0.0f)), (11L, Seq(0.8f, 0.6f)),
      (12L, Seq(0.6f, 0.8f)), (13L, Seq(0.0f, 1.0f)),
      (14L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val anchors = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(-0.6f, -0.8f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.hardNegativeTriplets(corpus, anchors,
        "vec_id", "embedding", k = 2, posThreshold = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .sortBy(t => (t._1, t._4))
    // anchor 1's best cos vs corpus is < 0.9 → dropped entirely
    assert(out.forall(_._1 == 0L))
    // anchor 0: positive = 10 (cos 1.0); negatives ranked by descending
    // cos below the band: 11 (0.8) then 12 (0.6)
    assert(out.map(t => (t._2, t._3)).distinct.toSeq == Seq((10L, 1.0)))
    assert(out.map(t => (t._4, t._5, t._6)) ===
      Seq((1L, 11L, 0.8), (2L, 12L, 0.6)))
  }

  test("triplet mining scores the quadratic pass once (checkpoint shared)") {
    val emb = t(spark, sfDir, "embeddings")
    val out = Similarity.hardNegativeTriplets(emb,
      emb.filter(col("vec_id") < 20), "vec_id", "embedding",
      k = 3, posThreshold = 0.4)
    // every anchor in the output has a positive by construction, ranks are
    // dense from 1, and negatives never enter the positive band
    val rows = out.collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(3)).sorted.toSeq ==
        (1L to rs.length.toLong).toSeq)
      assert(rs.forall(r => r.getDouble(5) < 0.4 && r.getDouble(2) >= 0.4))
      assert(rs.map(_.getLong(1)).distinct.length == 1)
    }
  }
}
