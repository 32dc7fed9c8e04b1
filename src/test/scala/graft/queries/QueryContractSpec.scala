package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Contract + physical-plan audits for the registered query inventory. */
class QueryContractSpec extends SparkSpec {

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every registered query is documented in SURVEY.md §8") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")))
    val undocumented = SparkEntry.queries.keySet
      .filterNot(name => survey.contains(s"`$name`"))
    assert(undocumented.isEmpty,
      s"queries missing from the SURVEY.md coverage matrix: $undocumented")
  }

  test("every §8-documented query name is registered (the r10 verdict's " +
      "phantom-row gap: a coverage matrix the driver grades against must " +
      "not contain unfalsifiable rows)") {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("SURVEY.md")).asScala.toSeq
    val start = lines.indexWhere(_.startsWith("## 8."))
    assert(start >= 0, "SURVEY.md §8 header not found")
    val sect = lines.drop(start + 1).takeWhile(!_.startsWith("## "))
    val tick = "`([a-z0-9_]+)`".r
    // the Queries column is the 3rd data cell of each §8 table row; every
    // backticked lowercase identifier there claims a registry entry
    val documented = sect.filter(_.startsWith("|")).flatMap { row =>
      row.split("\\|").lift(3).toSeq
        .flatMap(c => tick.findAllMatchIn(c).map(_.group(1)))
    }.toSet
    val phantom = documented -- SparkEntry.queries.keySet
    assert(phantom.isEmpty,
      s"SURVEY.md §8 cites queries that do not exist: $phantom")
    // sanity: the parse actually saw the matrix, not an empty section
    assert(documented.size > 100, s"parsed only ${documented.size} names")
  }

  // Queries whose plan INTENTIONALLY contains a broadcast nested-loop join:
  // the bounded quadratic oracle baselines (non-equi all-pairs with one tiny
  // broadcast side IS the right physical plan there), the broadcast interval
  // join, and the generated hours×types fill grid. Anything else acquiring
  // one is a plan regression.
  // (length_trim_stats: its BNLJ broadcasts a ONE-row percentile-bounds
  // frame onto the corpus scan — the non-equi filter against a scalar pair
  // has no equi-join form.)
  // (hybrid_rrf_topk: its vector arm IS sim_bruteforce_topk's bounded
  // quadratic — 5 query rows broadcast onto the corpus scan.
  // contrastive_triplets: same anchor-bounded broadcast candidate pass.)
  // (distribution_drift: Drift.proportions broadcasts a ONE-row total
  // onto ≤ nBuckets histogram rows — the length_trim_stats shape twice.)
  // (embedding_jl_project: its CONTRACT verifies the JL lemma on all
  // pairs of 40 vectors — a bounded broadcast quadratic by design.)
  // (bm25_filtered: queryTextIndex broadcasts the ONE-row corpus-stats
  // aggregate onto the candidate postings — r15, replacing a separate
  // driver head() action per serving call; the length_trim_stats shape.)
  private val bnljByDesign = Set("dedup_embedding_pairs", "range_join_bucket",
    "resample_fill", "sim_bruteforce_topk", "length_trim_stats",
    "hybrid_rrf_topk", "contrastive_triplets", "distribution_drift",
    "embedding_jl_project", "bm25_filtered")

  test("every query runs at sf0.001 with no rogue join in its plan") {
    SparkEntry.queries.foreach { case (name, fn) =>
      withClue(name) {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"),
          "unbroadcast cross product — would shuffle-explode at scale")
        if (!bnljByDesign(name))
          assert(!plan.contains("BroadcastNestedLoopJoin"),
            "nested-loop join outside the audited whitelist")
        assert(df.count() >= 0L)
      }
    }
  }

  test("manifest contracts see zero data-file opens under a short plan-metadata limit") {
    // Spark cuts a scan's Location in the plan string to this many
    // characters, so the check must not read the directory names there
    val key = "spark.sql.maxMetadataStringLength"
    spark.conf.set(key, "20")
    try Seq("manifest_count_only", "manifest_ndv", "manifest_quantile").foreach { q =>
      withClue(q) {
        val row = SparkEntry.queries(q)(spark, sfDir).head()
        assert(row.getAs[Boolean]("zero_data_file_opens_ok"))
      }
    } finally spark.conf.unset(key)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0L)
  }

  test("q6 filter is pushed down to the parquet scan") {
    val plan = SparkEntry.queries("q6_filter_agg")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:"), plan.take(2000))
    assert(plan.contains("l_shipdate"), plan.take(2000))
    // column pruning: the scan must not read all 11 lineitem columns
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("l_returnflag"), "scan reads unneeded column")
  }

  test("q5 dimension joins broadcast (no shuffle join on small dims)") {
    val plan = SparkEntry.queries("q5_join_agg")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("bucketed join: sort-merge with no shuffle under the join") {
    // Tree text prints children below their parent, so any exchange feeding
    // the join would appear after the SortMergeJoin line. (AQE wraps the
    // plan in an adaptive node whose subtree collect() can't traverse, so
    // the audit reads the rendered plan.)
    val text = SparkEntry.queries("bucketed_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val idx = text.indexOf("SortMergeJoin")
    assert(idx >= 0, text.take(2000))
    val below = text.substring(idx)
    assert(!below.contains("Exchange"),
      "bucketed SMJ should read pre-bucketed files without shuffling:\n" +
        below.take(2000))
    assert(below.contains("Bucketed: true"))
  }

  test("bucketed as-of join: native exec with no shuffle under it") {
    val text = SparkEntry.queries("asof_join_bucketed")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val idx = text.indexOf("AsOfJoin")
    assert(idx >= 0, text.take(2000))
    assert(!text.substring(idx).contains("Exchange"),
      "bucketed as-of should read pre-bucketed files without shuffling:\n" +
        text.substring(idx).take(2000))
    assert(text.substring(idx).contains("Bucketed: true"))
  }

  test("count_star answers from metadata (no full column scan)") {
    val plan = SparkEntry.queries("count_star")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    // Parquet count(*) keeps an empty read schema — no data columns scanned
    val exec = SparkEntry.queries("count_star")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(exec.contains("ReadSchema: struct<>") || exec.contains("struct<>"),
      exec.take(2000))
  }

  test("curation pipeline runs in two shuffles (dedup + packing), no sort") {
    // quality filter and sample predicate must pipeline into the shuffles'
    // map sides, not stage extra exchanges; and nothing may plan a global
    // (range-partitioned) sort except the final oracle-dump orderBy
    val plan = SparkEntry.queries("curation_pipeline")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 2, s"expected 2 hash exchanges:\n${plan.take(3000)}")
    val rangeExchanges = "Exchange rangepartitioning".r.findAllIn(plan).size
    assert(rangeExchanges <= 1, "only the dump orderBy may range-partition")
  }

  test("mutual-kNN reciprocity is an equi-semi-join: no cross product, bounded exchanges") {
    // knnGraph localCheckpoints its own result (plan no longer inspectable),
    // so guard the graph-consuming tier: the reciprocity semi-join on
    // (src, dst) must plan as an equi-join — a cross product here would be
    // the classic silent quadratic regression — and must not range-sort.
    import graft.Tables.t
    import graft.operators.Similarity
    val emb = t(spark, sfDir, "embeddings")
    val knn = Similarity.knnGraph(emb, "vec_id", "embedding", k = 3,
      nCentroids = 8, nProbe = 2, trainIters = 0)
    val mutualPlan = Similarity.mutualKnnEdges(knn)
      .queryExecution.executedPlan.toString
    val ex = "Exchange hashpartitioning".r.findAllIn(mutualPlan).size
    assert(ex <= 2, s"mutual-kNN semi-join over-shuffles ($ex):\n" +
      mutualPlan.take(2000))
    assert(!mutualPlan.contains("Exchange rangepartitioning"),
      "no global sort belongs in the mutual-edge path")
    assert(!mutualPlan.contains("CartesianProduct"),
      "reciprocity must be an equi-semi-join, never a cross product")
  }
}
