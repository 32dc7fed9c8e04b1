package graft.operators

import graft.SparkSpec

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  // 4 docs, N=4, total tokens 10 → avgdl = 2.5 (exact in binary)
  private lazy val docs = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "cherry date date"),
    (4L, "apple cherry")).toDF("doc_id", "text")

  private def run(q: Seq[(Long, String)], k: Int = 5) =
    TextAnalysis.bm25TopK(docs, q.toDF("query_id", "text"),
        "doc_id", "text", "query_id", "text", k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))

  // the operator's exact formula, recomputed independently on the driver
  private def score(tf: Double, dl: Double, df: Double, n: Double,
      avgdl: Double): Double = {
    val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    math.floor(idf * (tf * 2.5) / (tf + 1.5 * (0.25 + 0.75 * dl / avgdl)) *
      1e6 + 0.5) / 1e6
  }

  test("single-term query matches hand computation, higher-tf doc first") {
    val out = run(Seq((100L, "apple")))
    // postings of "apple": doc 1 (tf=2, dl=3) and doc 4 (tf=1, dl=2); df=2
    assert(out.toSeq == Seq(
      (100L, 1L, 1L, score(2, 3, 2, 4, 2.5)),
      (100L, 2L, 4L, score(1, 2, 2, 4, 2.5))))
  }

  test("docs sharing no query term are never candidates") {
    val out = run(Seq((7L, "date")))
    assert(out.map(_._3).toSet == Set(3L))
  }

  test("a document used verbatim as the query retrieves itself first") {
    val out = run(Seq((1L, "apple banana apple")))
    assert(out.head._2 == 1L && out.head._3 == 1L)
  }

  test("multi-term scores are the sum of fixed-point term contributions") {
    val out = run(Seq((5L, "banana cherry")))
    // doc 2 contains both terms (tf=1 each, dl=2, df(banana)=2,
    // df(cherry)=3): its score is the SUM of the two snapped contributions
    val d2 = out.find(_._3 == 2L).get
    val want = score(1, 2, 2, 4, 2.5) + score(1, 2, 3, 4, 2.5)
    assert(math.abs(d2._4 - want) < 1e-9)
    assert(d2._2 == 1L, "the only both-terms doc must rank first")
  }

  test("fixed-point scoring is partition-invariant") {
    val q = Seq((100L, "apple cherry")).toDF("query_id", "text")
    val a = TextAnalysis.bm25TopK(docs, q,
      "doc_id", "text", "query_id", "text", 5).collect().toSeq
    val b = TextAnalysis.bm25TopK(docs.repartition(7), q,
      "doc_id", "text", "query_id", "text", 5).collect().toSeq
    assert(a.sortBy(_.getLong(1)) == b.sortBy(_.getLong(1)))
  }

  test("k bounds the result and ranks are dense from 1") {
    val out = run(Seq((9L, "apple banana cherry date")), k = 2)
    assert(out.length == 2 && out.map(_._2).toSeq == Seq(1L, 2L))
  }

  test("duplicate query terms weigh once (DISTINCT semantics)") {
    val once = run(Seq((1L, "apple")))
    val twice = run(Seq((1L, "apple apple")))
    assert(once.toSeq == twice.toSeq)
  }

  test("segmented index reproduces the from-scratch ranking exactly") {
    import org.apache.spark.sql.functions.col
    val path = tmpDir("bm25-idx")
    TextAnalysis.buildTextIndex(docs.filter(col("doc_id") <= 2),
      "doc_id", "text", path, nBuckets = 8, batchId = 0L)
    TextAnalysis.appendToTextIndex(docs.filter(col("doc_id") > 2),
      "doc_id", "text", path, batchId = 1L)
    val q = Seq((100L, "apple cherry date")).toDF("query_id", "text")
    val stored = TextAnalysis.queryTextIndex(q, "query_id", "text", path,
      "doc_id", k = 5).collect().toSeq.sortBy(_.getLong(1))
    val scratch = TextAnalysis.bm25TopK(docs, q, "doc_id", "text",
      "query_id", "text", k = 5).collect().toSeq.sortBy(_.getLong(1))
    assert(stored == scratch)
  }

  test("replayed append is idempotent (overwrite-mode segment)") {
    import org.apache.spark.sql.functions.col
    val path = tmpDir("bm25-idx-replay")
    TextAnalysis.buildTextIndex(docs.filter(col("doc_id") <= 2),
      "doc_id", "text", path, nBuckets = 8, batchId = 0L)
    TextAnalysis.appendToTextIndex(docs.filter(col("doc_id") > 2),
      "doc_id", "text", path, batchId = 1L)
    // crash-replay: the same batch lands again under the same batchId
    TextAnalysis.appendToTextIndex(docs.filter(col("doc_id") > 2),
      "doc_id", "text", path, batchId = 1L)
    val q = Seq((100L, "banana")).toDF("query_id", "text")
    val stored = TextAnalysis.queryTextIndex(q, "query_id", "text", path,
      "doc_id", k = 5).collect().toSeq.sortBy(_.getLong(1))
    val scratch = TextAnalysis.bm25TopK(docs, q, "doc_id", "text",
      "query_id", "text", k = 5).collect().toSeq.sortBy(_.getLong(1))
    assert(stored == scratch)
  }

  test("compaction merges segments without changing any served ranking") {
    import org.apache.spark.sql.functions.col
    val path = tmpDir("bm25-idx-compact")
    TextAnalysis.buildTextIndex(docs.filter(col("doc_id") <= 2),
      "doc_id", "text", path, nBuckets = 8, batchId = 0L)
    TextAnalysis.appendToTextIndex(docs.filter(col("doc_id") > 2),
      "doc_id", "text", path, batchId = 1L)
    val q = Seq((100L, "apple cherry date")).toDF("query_id", "text")
    val before = TextAnalysis.queryTextIndex(q, "query_id", "text", path,
      "doc_id", k = 5).collect().toSeq.sortBy(_.getLong(1))
    TextAnalysis.compactTextIndex(spark, path)
    val after = TextAnalysis.queryTextIndex(q, "query_id", "text", path,
      "doc_id", k = 5).collect().toSeq.sortBy(_.getLong(1))
    assert(after == before)
    val segs = new java.io.File(s"$path/seg").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(segs == 1, "compaction must leave exactly one segment")
    // the index stays appendable after a compaction
    TextAnalysis.appendToTextIndex(
      Seq((9L, "apple fig")).toDF("doc_id", "text"),
      "doc_id", "text", path, batchId = 7L)
    val grown = TextAnalysis.queryTextIndex(
      Seq((100L, "fig")).toDF("query_id", "text"),
      "query_id", "text", path, "doc_id", k = 5).collect()
    assert(grown.map(_.getLong(2)).toSet == Set(9L))
  }

  test("compacting a path with no index meta fails instead of no-op") {
    val e = intercept[IllegalArgumentException](
      TextAnalysis.compactTextIndex(spark, s"${tmpDir("bm25-none")}/idx"))
    assert(e.getMessage.contains("no meta directory"))
  }

  test("compacting the legacy four-store layout fails naming it") {
    val path = tmpDir("bm25-legacy")
    TextAnalysis.initTextIndex(spark, path, nBuckets = 8)
    Seq("postings", "df", "norms", "stats")
      .foreach(d => new java.io.File(s"$path/$d").mkdirs())
    val e = intercept[IllegalStateException](
      TextAnalysis.compactTextIndex(spark, path))
    assert(e.getMessage.contains("legacy four-store"))
  }

  test("compacting a freshly initialized index is a no-op") {
    val path = tmpDir("bm25-fresh")
    TextAnalysis.initTextIndex(spark, path, nBuckets = 8)
    TextAnalysis.compactTextIndex(spark, path)
    assert(new java.io.File(path).list().toSet === Set("meta"))
  }

  test("filtered serving equals the in-memory filtered form and only " +
      "eligible docs are returned; all-ids filter is the identity") {
    import org.apache.spark.sql.functions.col
    val path = tmpDir("bm25-idx-flt")
    TextAnalysis.buildTextIndex(docs, "doc_id", "text", path,
      nBuckets = 8, batchId = 0L)
    val q = Seq((100L, "apple cherry date")).toDF("query_id", "text")
    // predicate: odd doc ids only
    val allowed = docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"))
    val stored = TextAnalysis.queryTextIndex(q, "query_id", "text", path,
        "doc_id", k = 5, allowed = allowed)
      .collect().toSeq.sortBy(_.getLong(1))
    val mem = TextAnalysis.bm25TopK(docs, q, "doc_id", "text",
        "query_id", "text", k = 5, allowed = allowed)
      .collect().toSeq.sortBy(_.getLong(1))
    assert(stored == mem)
    assert(stored.nonEmpty)
    assert(stored.forall(_.getLong(2) % 2 == 1))
    // scores are the FULL-corpus model's scores (stats are the index's
    // identity): each filtered hit scores identically in the unfiltered run
    val unfiltered = TextAnalysis.queryTextIndex(q, "query_id", "text", path,
        "doc_id", k = 5)
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toMap
    assert(stored.forall(r => unfiltered(r.getLong(2)) == r.getDouble(3)))
    val all = TextAnalysis.queryTextIndex(q, "query_id", "text", path,
        "doc_id", k = 5, allowed = docs.select(col("doc_id")))
      .collect().toSeq.sortBy(_.getLong(1))
    val none = TextAnalysis.queryTextIndex(q, "query_id", "text", path,
      "doc_id", k = 5).collect().toSeq.sortBy(_.getLong(1))
    assert(all == none)
  }

  test("query-time scans are bucket-pruned to the query terms' buckets") {
    import org.apache.spark.sql.functions.col
    val path = tmpDir("bm25-idx-prune")
    TextAnalysis.buildTextIndex(docs, "doc_id", "text", path,
      nBuckets = 8, batchId = 0L)
    val q = Seq((100L, "apple")).toDF("query_id", "text")
    val plan = TextAnalysis.queryTextIndex(q, "query_id", "text", path,
      "doc_id", k = 5).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(1500))
    // one query term → exactly one bucket literal in the partition filter
    assert(plan.contains("bucket"), plan.take(1500))
  }

  private def runRm3(corpus: org.apache.spark.sql.DataFrame,
      q: Seq[(Long, String)], lambda: Double, k: Int = 5) =
    TextAnalysis.rm3TopK(corpus, q.toDF("query_id", "text"),
        "doc_id", "text", "query_id", "text", k, fbDocs = 2, fbTerms = 4,
        origWeight = lambda)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("RM3 at origWeight=1 degenerates to the plain BM25 ranking") {
    // every expansion weight snaps to zero and is dropped, so the candidate
    // set AND the ranking must equal plain BM25's (scores scale by the
    // constant uniform weight — monotone, rank-preserving)
    val q = Seq((100L, "apple cherry"))
    val plain = run(q).map(t => (t._1, t._2, t._3)).toSeq
    assert(runRm3(docs, q, lambda = 1.0) == plain)
  }

  test("RM3 expansion retrieves a vocabulary-mismatched doc BM25 cannot") {
    // d2 shares no term with the query, but shares "speed" with the
    // feedback doc d1 — the relevance model carries it into round 2
    val corpus = Seq(
      (1L, "jaguar speed speed"),
      (2L, "speed cat"),
      (3L, "banana banana fruit"),
      (4L, "fruit cat")).toDF("doc_id", "text")
    val q = Seq((100L, "jaguar"))
    val plain = TextAnalysis.bm25TopK(corpus, q.toDF("query_id", "text"),
        "doc_id", "text", "query_id", "text", k = 5)
      .collect().map(_.getLong(2)).toSet
    assert(plain == Set(1L), "BM25 can only see the literal term match")
    val expanded = runRm3(corpus, q, lambda = 0.5).map(_._3).toSet
    assert(expanded.contains(1L) && expanded.contains(2L),
      s"expansion must surface doc 2 via 'speed'; got $expanded")
    assert(!expanded.contains(3L),
      "a doc sharing nothing with the feedback set stays invisible")
  }

  test("RM3 ranking is partition-invariant (fixed-point all the way down)") {
    val q = Seq((100L, "apple banana"), (200L, "cherry"))
    val base = runRm3(docs, q, lambda = 0.5)
    val shuffled = TextAnalysis.rm3TopK(docs.repartition(7),
        q.toDF("query_id", "text"), "doc_id", "text", "query_id", "text",
        k = 5, fbDocs = 2, fbTerms = 4, origWeight = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(base == shuffled)
  }
}
