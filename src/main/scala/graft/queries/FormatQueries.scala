package graft.queries

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.Staging
import graft.Tables.t
import graft.operators.{Layout, Manifest, Segments}

/** Source/sink format coverage beyond parquet (the reference reads and
  * writes parquet only — SURVEY.md §2.1): CSV and JSON round-trips, a
  * hive-style partitioned write scanned back with partition pruning, and a
  * bucketed co-located join. Each query routes the data through the format
  * under test and aggregates the round-tripped rows; the oracle runs on the
  * original table, so a hash match proves the format path is lossless.
  */
object FormatQueries {

  type Q = (SparkSession, String) => DataFrame

  /** orders scaled into the 16-bit curve domain (raw o_orderkey exceeds
    * 65535 past sf0.01 and would wrap, shredding locality) — shared by
    * every layout query so the contract and timed forms scale
    * identically. Bounds are data statistics, memoized per dir through
    * [[Staging.memo]] (a timer must not pay a fixture-statistics scan per
    * rep).
    */
  private def scaledOrders(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"))
    val (xMax, yMax) = Staging.memo(s, s"orders-bounds $dir") {
      val b = raw.agg(max(col("o_custkey")), max(col("o_orderkey"))).head()
      (b.getLong(0), b.getLong(1))
    }
    raw.select(
      (col("o_custkey") * 65535L / xMax).cast("long").as("x"),
      (col("o_orderkey") * 65535L / yMax).cast("long").as("y"))
  }

  /** True when `df`'s executed plan scans files under each of `dirs` and
    * under nothing else: the "zero data-file opens" check of the manifest
    * contracts. It reads the file scans' root paths, through AQE stages and
    * subqueries, not the plan string, where Spark cuts a scan's `Location`
    * to `spark.sql.maxMetadataStringLength` characters.
    */
  private def scansOnly(df: DataFrame, dirs: String*): Boolean = {
    val roots = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case scan: FileSourceScanLike => scan.relation.location.rootPaths
      }.flatten.map(p => Paths.get(p.toUri.getPath))
    val under = dirs.map(Paths.get(_))
    under.forall(d => roots.exists(_.startsWith(d))) &&
      roots.forall(r => under.exists(r.startsWith))
  }

  val queries: Map[String, Q] = Map(
    // Record provenance via Spark's hidden file-source `_metadata` struct:
    // (file_name, row_index) is a stable physical cursor — the thing a
    // 100 TB reproducibility audit records to re-read one document years
    // later without a synthetic surrogate key. No shuffle; the metadata
    // columns materialize scan-side. The oracle can replicate row_index
    // only because the generator writes documents sorted by doc_id (one
    // file per table), so row_index == dense position of doc_id.
    "provenance_scan" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("_metadata.file_name").as("file_name"),
          col("_metadata.row_index").as("row_index"))
        .filter(col("doc_id") % 7 === 0)
        .orderBy(col("doc_id"))
    }),

    // CSV sink + source (schema-applied read; header mode).
    "csv_roundtrip" -> ((s, dir) => {
      val out = Staging.dir(s, "graft-csv-")
      val nation = t(s, dir, "nation")
      nation.write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true").schema(nation.schema).csv(out)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_nationkey")).as("sum_key"))
        .orderBy(col("n_regionkey"))
    }),

    // JSON-lines sink + source.
    "json_roundtrip" -> ((s, dir) => {
      val out = Staging.dir(s, "graft-json-")
      val supplier = t(s, dir, "supplier")
      supplier.write.mode("overwrite").json(out)
      s.read.schema(supplier.schema).json(out)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("s_acctbal")), 2).as("bal"))
        .orderBy(col("s_nationkey"))
    }),

    // ORC sink + source (the other columnar format Spark ships natively).
    "orc_roundtrip" -> ((s, dir) => {
      val out = Staging.dir(s, "graft-orc-")
      val part = t(s, dir, "part")
      part.write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("p_retailprice")), 2).as("retail"))
        .orderBy(col("p_brand"))
    }),

    // PERMISSIVE CSV ingestion — the file-reader twin of
    // corrupt_json_tolerance: a deterministic 1-in-7 slice of rows gets a
    // non-numeric value field before the CSV is written, and the read-back
    // routes malformed fields to NULL plus an accountable raw line in the
    // corrupt-record column instead of failing the task. Well-formed fields
    // in the same row (event_id) survive — sum_id proves no row was dropped.
    // The oracle applies the same 1-in-7 predicate to the source table.
    "csv_malformed_tolerance" -> ((s, dir) => {
      import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
      val out = Staging.dir(s, "graft-csvbad-")
      t(s, dir, "events")
        .select(concat_ws(",", col("event_id"),
          when(col("event_id") % 7 === 0, lit("not-a-number"))
            .otherwise(col("value").cast("string"))).as("value"))
        .write.mode("overwrite").text(out)
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("value", DoubleType),
        StructField("_corrupt", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
        .agg(count(lit(1)).as("n"),
          count(col("value")).as("n_parsed"),
          count(col("_corrupt")).as("n_corrupt"),
          sum(col("event_id")).as("sum_id"),
          round(sum(col("value")), 2).as("sum_val"))
    }),

    // Z-order key: the Morton interleave each row would sort by under
    // OPTIMIZE ZORDER(o_custkey, o_orderkey). The layout effect itself
    // (tight per-file min/max in both dims → file skipping on either key)
    // is asserted in LayoutSpec; this query pins the curve arithmetic
    // bit-for-bit against the oracle's identical shift/and ladder.
    "zorder_key" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
          Layout.morton16(col("o_custkey"), col("o_orderkey")).as("zkey"))
        .orderBy(col("o_orderkey"))),

    // Hive-style partitioned write, then a scan whose filter prunes to one
    // partition directory (the plan's "partition filters" — at 100 TB this
    // is the difference between reading one directory and the whole table).
    "partitioned_write_scan" -> ((s, dir) => {
      val out = Staging.dir(s, "graft-part-")
      t(s, dir, "orders").write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(out)
      s.read.parquet(out)
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // Z-order layout effect as a driver-checkable contract: assign orders
    // to 16 equal-count "files" z-ordered on (o_custkey, o_orderkey) vs
    // linearly sorted, then count the file boxes intersecting 2-D query
    // boxes. The claim is AGGREGATE (z-order touches strictly fewer files
    // summed over the boxes, and loses no rows). File assignment is ntile
    // over a TOTAL order — deterministic, unlike repartitionByRange's
    // sampled boundaries, which jittered a sweep run at sf0.1 into
    // flipping the aggregate. Physical min/max pruning over real parquet
    // footers (zorderWrite + filesTouching) stays proven in LayoutSpec;
    // the curve arithmetic is hash-checked per-row by `zorder_key`.
    "zorder_layout" -> ((s, dir) => {
      val orders = scaledOrders(s, dir)
      val nFiles = 16
      // four boxes, each 1/8 of the scaled range in BOTH dims
      val boxes = for (i <- Seq(0L, 3L, 5L, 7L)) yield (
        i * 8192L, i * 8192L + 8191L, i * 8192L, i * 8192L + 8191L)
      val (zTouched, zRows) = Layout.boxesTouching(orders,
        Seq(Layout.morton16(col("x"), col("y")), col("x"), col("y")),
        "x", "y", nFiles, boxes)
      val (lTouched, _) = Layout.boxesTouching(orders,
        Seq(col("x"), col("y")), "x", "y", nFiles, boxes)
      // n_rows comes from the z-assigned files themselves — the layout
      // pass provably dropped/duplicated nothing
      Contracts.row(s,
        "n_rows" -> zRows,
        "strictly_better_ok" -> (zTouched.sum < lTouched.sum))
    }),

    // Hilbert-curve layout beside Morton: the Hilbert walk never jumps
    // (consecutive indexes are grid neighbors — Morton teleports at
    // quadrant boundaries), so equal-count curve segments bound TIGHTER
    // (x, y) boxes on the same data. Graded with the zorder_layout
    // geometry: Hilbert's touched-file count over the four probe boxes
    // must be <= Morton's and strictly below the linear layout's; row
    // totals from the assigned files prove the pass dropped nothing. The
    // curve itself is bit-certified against an independent inverse-curve
    // reference in LayoutSpec. The <= claim is a locality HEURISTIC, not
    // a theorem — graded here because its margin on this deterministic
    // ntile layout is wide at every sf (measured touched-file sums:
    // hilbert 5/4/5 vs morton 9/7/11 at sf0.001/0.01/0.1), not because
    // Hilbert wins on every conceivable box/data split.
    "hilbert_layout" -> ((s, dir) => {
      val orders = scaledOrders(s, dir)
      val nFiles = 16
      val boxes = for (i <- Seq(0L, 3L, 5L, 7L)) yield (
        i * 8192L, i * 8192L + 8191L, i * 8192L, i * 8192L + 8191L)
      val hKey = Layout.hilbert16Key(orders, "x", "y")
      val (hTouched, hRows) = Layout.boxesTouching(orders,
        Seq(hKey, col("x"), col("y")), "x", "y", nFiles, boxes)
      val (zTouched, _) = Layout.boxesTouching(orders,
        Seq(Layout.morton16(col("x"), col("y")), col("x"), col("y")),
        "x", "y", nFiles, boxes)
      val (lTouched, _) = Layout.boxesTouching(orders,
        Seq(col("x"), col("y")), "x", "y", nFiles, boxes)
      Contracts.row(s,
        "n_rows" -> hRows,
        "not_worse_than_morton_ok" -> (hTouched.sum <= zTouched.sum),
        "strictly_better_than_linear_ok" -> (hTouched.sum < lTouched.sum))
    }),

    // Small-file compaction as a driver-checkable contract: fragment the
    // table into 40 files, compact toward the target size, and prove the
    // file count dropped while the data stayed multiset-identical
    // (checksum) — the maintenance pass that keeps a streaming sink's
    // output scannable (Maintenance.compactParquet).
    "compact_files" -> ((s, dir) => {
      val out = Staging.dir(s, "graft-compact-")
      t(s, dir, "orders").repartition(40)
        .write.mode("overwrite").parquet(out)
      val before = Contracts.checksum(s.read.parquet(out))
      val (nBefore, nAfter) = graft.sources.Maintenance
        .compactParquet(s, out, targetFileBytes = 512L * 1024 * 1024)
      Contracts.row(s,
        "n_rows" -> s.read.parquet(out).count(),
        "fragmented_ok" -> (nBefore == 40),
        "files_reduced_ok" -> (nAfter < nBefore),
        "data_identical_ok" ->
          (Contracts.checksum(s.read.parquet(out)) == before))
    }),

    // Backfill via dynamic partition overwrite: rewrite ONE hive partition
    // (status 'F' gets a derived price bump) without touching the others —
    // the idempotent-backfill primitive for a partitioned 100 TB table
    // (static overwrite mode would truncate every partition first).
    "dynamic_partition_overwrite" -> ((s, dir) => {
      val out = Staging.dir(s, "graft-dynpart-")
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      orders.write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(out)
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      try {
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        orders.filter(col("o_orderstatus") === "F")
          .withColumn("o_totalprice", col("o_totalprice") + 1.0)
          .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      } finally prev match {
        case Some(p) =>
          s.conf.set("spark.sql.sources.partitionOverwriteMode", p)
        case None =>
          s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      s.read.parquet(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"))
    }),

    // Bucketed tables joined on the bucket key: both sides pre-hashed into
    // the same bucket layout, so the join plan has NO shuffle exchange —
    // the on-disk analog of co-partitioning, and the way a 100 TB fact table
    // joins a large dimension repeatedly without re-shuffling either side.
    "bucketed_join" -> ((s, dir) => {
      // DROP alone is not enough across JVMs: the in-memory catalog forgets
      // the table but its warehouse directory survives and blocks the next
      // saveAsTable, so remove the location too.
      def dropManaged(name: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $name")
        val p = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), name)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      dropManaged("graft_orders_b")
      dropManaged("graft_customer_b")
      t(s, dir, "orders").write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey").mode("overwrite").saveAsTable("graft_orders_b")
      t(s, dir, "customer").write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey").mode("overwrite").saveAsTable("graft_customer_b")
      val o = s.table("graft_orders_b")
      val c = s.table("graft_customer_b")
      // merge hint: at test scale Catalyst would broadcast the small side,
      // which hides what bucketing buys; the 100 TB case is two LARGE tables,
      // where the sort-merge join below runs with ZERO exchanges because both
      // sides are already bucket-partitioned (and sorted) on the join key.
      o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    // The native as-of join over PRE-BUCKETED sides: both tables bucketed
    // on the key, so AsOfJoinExec's ClusteredDistribution requirement is
    // satisfied straight off disk and the plan runs with ZERO exchanges —
    // the serving shape for a 100 TB event table repeatedly as-of-enriched
    // without re-shuffling either side (QueryContractSpec audits the plan).
    "asof_join_bucketed" -> ((s, dir) => {
      def dropManaged(name: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $name")
        val p = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), name)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      dropManaged("graft_clicks_b")
      dropManaged("graft_purch_b")
      val (clicks, purchases) = ExtendedQueries.asofSides(s, dir)
      clicks.write.bucketBy(8, "user_id").sortBy("user_id", "ts")
        .mode("overwrite").saveAsTable("graft_clicks_b")
      purchases.write.bucketBy(8, "p_user_id").sortBy("p_user_id", "p_ts")
        .mode("overwrite").saveAsTable("graft_purch_b")
      ExtendedQueries.asofSelect(graft.plans.AsOfJoin.asOf(
        s.table("graft_clicks_b"), s.table("graft_purch_b"),
        "user_id", "p_user_id", "ts", "p_ts"))
    }),

    // Persisted file-stats manifest (zone maps — operators.Manifest): build
    // over the base snapshot's files, append the new batch's stats WITHOUT
    // re-scanning history, then serve a narrow l_orderkey range by pruning
    // the FILE LISTING against the manifest before any data file is opened
    // — Delta/Iceberg-style data skipping, graded on the answer (real
    // count/sum vs the oracle's replay of the same range) AND the pruning
    // (files_pruned_ok), AND the store's maintenance symmetry (append
    // tracked, compaction invisible, one segment after). Layout is the
    // deterministic ntile writer — sampled range boundaries would make the
    // file-count booleans flaky (NOTES r4 lesson).
    "manifest_prune" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val base = li.filter(col("l_orderkey") % 4 =!= 3)
      val batch = li.filter(col("l_orderkey") % 4 === 3)
      val tbl = Staging.dir(s, "graft-mantbl-")
      val man = Staging.dir(s, "graft-manifest-")
      Layout.layoutWriteExact(base,
        Seq(col("l_orderkey"), col("l_linenumber")), s"$tbl/d0", 6)
      Layout.layoutWriteExact(batch,
        Seq(col("l_orderkey"), col("l_linenumber")), s"$tbl/d1", 2)
      Manifest.buildManifest(s, s"$tbl/d0", Seq("l_orderkey"), man)
      Manifest.appendToManifest(s, Seq(s"$tbl/d1"), Seq("l_orderkey"), man)
      val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
      val (lo, hi) = (mx / 3, mx / 2)
      val (pruned0, nRead, nTotal) =
        Manifest.prunedRead(s, man, "l_orderkey", lo, hi)
      val pruned = pruned0.localCheckpoint()
      val prunedChk = Contracts.checksum(pruned)
      val m = Manifest.readManifest(s, man).localCheckpoint()
      val full = Manifest.fullRead(s, man).localCheckpoint()
      Manifest.compactManifest(s, man)
      val (pruned2, nRead2, _) =
        Manifest.prunedRead(s, man, "l_orderkey", lo, hi)
      val segs = Segments.open(s, man).ids
      val agg = pruned
        .agg(count(lit(1)), round(sum(col("l_quantity")), 2)).head()
      Contracts.row(s,
        "n_rows" -> agg.getLong(0),
        "sum_qty" -> agg.getDouble(1),
        "files_pruned_ok" -> (nRead < nTotal && nRead2 < nTotal),
        "append_tracked_ok" -> (nTotal == 8L),
        "equals_full_scan_ok" -> (prunedChk == Contracts.checksum(
          full.filter(col("l_orderkey").between(lo, hi)))),
        "rowcount_matches_manifest_ok" ->
          (m.agg(sum(col("nrows"))).head().getLong(0) == full.count()),
        "compaction_invisible_ok" ->
          (Contracts.checksum(pruned2) == prunedChk),
        "one_segment_after_compact_ok" -> (segs.length == 1))
    }),

    // Manifest time travel: because the manifest IS the table listing and
    // appends are immutable batchId-keyed segments, the table AS OF batch
    // N is the union of segments ≤ N — Iceberg-style snapshots with no
    // file rewrites and no tombstones, at full scan/prune speed. Graded on
    // REAL numbers (per-snapshot row counts the oracle re-derives from the
    // slicing) plus content equality of a historical snapshot and of a
    // pruned range read inside it. Compaction is the deliberate snapshot-
    // expiry horizon (manifest_prune covers compaction; this store stays
    // uncompacted so history stays addressable).
    "manifest_time_travel" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val tbl = Staging.dir(s, "graft-mantt-tbl-")
      val man = Staging.dir(s, "graft-mantt-")
      val slices = (0 to 2).map(i => li.filter(col("l_orderkey") % 3 === i))
      slices.zipWithIndex.foreach { case (sl, i) =>
        sl.coalesce(2).write.mode("overwrite").parquet(s"$tbl/d$i")
      }
      Manifest.buildManifest(s, s"$tbl/d0", Seq("l_orderkey"), man)
      Manifest.appendToManifest(s, Seq(s"$tbl/d1"), Seq("l_orderkey"), man,
        batchId = 1)
      Manifest.appendToManifest(s, Seq(s"$tbl/d2"), Seq("l_orderkey"), man,
        batchId = 2)
      val n0 = Manifest.fullRead(s, man, asOf = 0).count()
      val n1 = Manifest.fullRead(s, man, asOf = 1).count()
      val n2 = Manifest.fullRead(s, man).count()
      val snap01 = slices(0).unionByName(slices(1)).localCheckpoint()
      val eq1 = Contracts.checksum(Manifest.fullRead(s, man, asOf = 1)) ==
        Contracts.checksum(snap01)
      val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
      val (p1, _, _) =
        Manifest.prunedRead(s, man, "l_orderkey", mx / 3, mx / 2, asOf = 1)
      val eqP = Contracts.checksum(p1) == Contracts.checksum(
        snap01.filter(col("l_orderkey").between(mx / 3, mx / 2)))
      Contracts.row(s,
        "n_asof0" -> n0,
        "n_asof1" -> n1,
        "n_latest" -> n2,
        "snapshot_equals_slices_ok" -> eq1,
        "historical_prune_equals_filter_ok" -> eqP,
        "snapshot_monotone_ok" -> (n0 < n1 && n1 < n2))
    }),

    // Manifest-only counting (Iceberg metadata-table path; the reference's
    // footer-metadata COUNT at file-set scale — duckdb handler.go:65-72):
    // count(*) and per-column null/non-null counts answered from the
    // per-file row/null counts the manifest carries, with ZERO data-file
    // opens — the contract asserts the plan's only scan is the manifest
    // itself, and the REAL counts are replayed in DuckDB over planted
    // nulls.
    "manifest_count_only" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        when(col("l_partkey") % 7 === 0, lit(null))
          .otherwise(col("l_partkey")).as("pk"))
      val tbl = Staging.dir(s, "graft-mancnt-tbl-")
      val man = Staging.dir(s, "graft-mancnt-man-")
      li.coalesce(4).write.mode("overwrite").parquet(s"$tbl/d0")
      Manifest.buildManifest(s, s"$tbl/d0", Seq("pk"), man)
      val co = Manifest.countOnly(s, man, "pk")
      // zero data-file opens: the aggregate's only file source is the
      // manifest store — the data dir must not appear in the plan
      val manifestOnly = scansOnly(co, man)
      val row = co.head()
      Contracts.row(s,
        "n_rows" -> row.getLong(0),
        "n_nulls" -> row.getLong(1),
        "n_not_null" -> row.getLong(2),
        "zero_data_file_opens_ok" -> manifestOnly)
    }),

    // Per-file NDV sketches beside the manifest: distinct counts do NOT
    // add across files (unlike rows/nulls/min/max), so zone maps alone
    // cannot answer them — the NDV index stores one mergeable HLL register
    // blob per file and unions blobs at plan time. Graded on: whole-table
    // estimate within 5 % (≈3σ at lgK=12) of the exact distinct (replayed
    // in DuckDB), the range-composed estimate ("distinct part keys this
    // orderkey-range scan will see") within 5 % of the exact distinct over
    // the surviving files, the zone-map prune actually shrinking the
    // merge, and ZERO data-file opens in both estimates' plans.
    "manifest_ndv" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val tbl = Staging.dir(s, "graft-manndv-tbl-")
      val man = Staging.dir(s, "graft-manndv-man-")
      val idx = Staging.dir(s, "graft-manndv-idx-")
      val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
      // ingest in two batches (build + append) so the estimate is served
      // from a multi-segment store — the streaming-maintenance shape
      li.filter(col("l_orderkey") <= mx / 2)
        .repartitionByRange(2, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").parquet(s"$tbl/d0")
      li.filter(col("l_orderkey") > mx / 2)
        .repartitionByRange(2, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").parquet(s"$tbl/d1")
      Manifest.buildManifest(s, s"$tbl/d0", Seq("l_orderkey"), man)
      Manifest.buildNdvIndex(s, s"$tbl/d0", "l_partkey", idx)
      Manifest.appendToManifest(s, Seq(s"$tbl/d1"), Seq("l_orderkey"), man)
      Manifest.appendToNdvIndex(s, Seq(s"$tbl/d1"), "l_partkey", idx)
      val (lo, hi) = (0L, mx / 4)
      val all = Manifest.ndvEstimateAll(s, idx)
      val ranged = Manifest.ndvEstimateForRange(s, idx, man,
        "l_orderkey", lo, hi)
      val sidecarsOnly = scansOnly(all, idx) && scansOnly(ranged, idx, man)
      val allRow = all.head()
      val rangedRow = ranged.head()
      val exactAll = li.select(count_distinct(col("l_partkey")))
        .head().getLong(0)
      val survivors = Manifest.readManifest(s, man)
        .filter(col("min_l_orderkey") <= hi && col("max_l_orderkey") >= lo)
        .select(col("file")).collect().map(_.getString(0)).toSeq
      val exactRange = s.read.parquet(survivors: _*)
        .select(count_distinct(col("l_partkey"))).head().getLong(0)
      def close(est: Long, exact: Long): Boolean =
        math.abs(est - exact).toDouble <= 0.05 * exact
      // compaction invisibility: merging the two ingest segments must not
      // move the estimate by a single key (same blobs, one file)
      graft.operators.Dedup.compactSegmentDirs(s, idx)
      val compacted = Manifest.ndvEstimateAll(s, idx).head()
      Contracts.row(s,
        "n_distinct_all" -> exactAll,
        "append_tracked_ok" -> (allRow.getLong(1) == 4L),
        "estimate_within_rse_ok" -> close(allRow.getLong(0), exactAll),
        "range_estimate_within_rse_ok" ->
          (close(rangedRow.getLong(0), exactRange) &&
            rangedRow.getLong(1) < allRow.getLong(1)),
        "compaction_invisible_ok" ->
          (compacted.getLong(0) == allRow.getLong(0) &&
            compacted.getLong(1) == allRow.getLong(1)),
        "zero_data_file_opens_ok" -> sidecarsOnly)
    }),

    // Unified sidecar build + APPEND: Bloom + NDV + KLL per-file indexes
    // from ONE scan (one groupBy(input_file_name) carrying all three
    // aggregators) instead of the three full passes the per-family builds
    // cost — at 100 TB the difference between a nightly and a weekly
    // index refresh — and the same one-scan shape for INGEST
    // (appendToFileIndexes: a new batch's files land in all three stores
    // as one batchId-keyed segment each, so a streaming pipeline keeps
    // the whole sidecar set current at one scan per batch). Graded on:
    // the combined frame's plan contains exactly ONE FileScan; after a
    // build + append lifecycle the Bloom and HLL stores are BYTE-equal
    // per file to their per-family build+append counterparts
    // (deterministic structures); bloom point lookup and NDV estimates
    // answer identically from both; the KLL store — whose compaction is
    // RANDOMIZED, so bytes legitimately differ — is held to its real
    // guarantees: exact n, and both stores' range-composed quantile
    // estimates inside the rank envelope of the exact data over the same
    // surviving files.
    "manifest_index_unified" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val tbl = Staging.dir(s, "graft-manuni-tbl-")
      val man = Staging.dir(s, "graft-manuni-man-")
      val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
      li.filter(col("l_orderkey") <= mx / 2)
        .repartitionByRange(4, col("l_orderkey"))
        .write.mode("overwrite").parquet(s"$tbl/d0")
      li.filter(col("l_orderkey") > mx / 2)
        .repartitionByRange(2, col("l_orderkey"))
        .write.mode("overwrite").parquet(s"$tbl/d1")
      Manifest.buildManifest(s, s"$tbl/d0", Seq("l_orderkey"), man)
      Manifest.appendToManifest(s, Seq(s"$tbl/d1"), Seq("l_orderkey"), man)
      val (bA, nA, kA) = (Staging.dir(s, "graft-manuni-ba-"),
        Staging.dir(s, "graft-manuni-na-"), Staging.dir(s, "graft-manuni-ka-"))
      val (bB, nB, kB) = (Staging.dir(s, "graft-manuni-bb-"),
        Staging.dir(s, "graft-manuni-nb-"), Staging.dir(s, "graft-manuni-kb-"))
      Manifest.buildBloomIndex(s, s"$tbl/d0", "l_partkey", bA)
      Manifest.appendToBloomIndex(s, Seq(s"$tbl/d1"), "l_partkey", bA,
        batchId = 1L)
      Manifest.buildNdvIndex(s, s"$tbl/d0", "l_partkey", nA)
      Manifest.appendToNdvIndex(s, Seq(s"$tbl/d1"), "l_partkey", nA,
        batchId = 1L)
      Manifest.buildQuantileIndex(s, s"$tbl/d0", "l_quantity", kA)
      Manifest.appendToQuantileIndex(s, Seq(s"$tbl/d1"), "l_quantity", kA,
        batchId = 1L)
      Manifest.buildFileIndexes(s, s"$tbl/d0", "l_partkey", "l_quantity",
        bB, nB, kB)
      Manifest.appendToFileIndexes(s, Seq(s"$tbl/d1"), "l_partkey",
        "l_quantity", bB, nB, kB, batchId = 1L)
      val plan = Manifest.fileIndexRows(s, Seq(s"$tbl/d0", s"$tbl/d1"),
        "l_partkey", "l_quantity").queryExecution.executedPlan.toString
      val nScans = "FileScan parquet".r.findAllIn(plan).size
      def bytesEqual(a: DataFrame, b: DataFrame, c: String): Boolean = {
        val j = a.select(col("file"), col(c).as("va"))
          .join(b.select(col("file"), col(c).as("vb")), Seq("file"),
            "full_outer")
        Contracts.forAll(j, col("va").isNotNull && col("vb").isNotNull &&
          col("va") === col("vb"))
      }
      val key = li.agg(min(col("l_partkey"))).head().getLong(0)
      val (resA, survA, totA) = Manifest.bloomPrunedRead(s, bA,
        "l_partkey", key)
      val (resB, survB, totB) = Manifest.bloomPrunedRead(s, bB,
        "l_partkey", key)
      def quantiles(idx: String) = Manifest.quantileEstimateForRange(s,
        idx, man, "l_orderkey", 0L, mx / 2, Seq(0.25, 0.5, 0.75))
      // exact baseline over the SAME surviving files the prune keeps
      val survivors = Manifest.readManifest(s, man)
        .filter(col("min_l_orderkey") <= mx / 2 &&
          col("max_l_orderkey") >= 0L)
        .select(col("file")).collect().map(_.getString(0)).toSeq
      val exactRows = s.read.parquet(survivors: _*)
        .select(col("l_quantity").cast("double").as("v")).localCheckpoint()
      val nExact = exactRows.count()
      // KLL's real guarantees: n EXACT, values rank-bounded (~1.65 % at
      // k=200; 0.04 ≈ 2x that, plus slack for the integer value atoms)
      def kllOk(idx: String): Boolean =
        quantiles(idx).collect().forall { r =>
          val (q, v, n) = (r.getDouble(0), r.getDouble(1), r.getLong(2))
          n == nExact && {
            val rank = exactRows
              .agg(avg((col("v") <= v).cast("double"))).head().getDouble(0)
            math.abs(rank - q) <= 0.04
          }
        }
      Contracts.row(s,
        "n_rows" -> li.count(),
        "one_scan_ok" -> (nScans == 1),
        "files_match_ok" ->
          (Segments.read(s, bA).count() == 6 &&
            Segments.read(s, bB).count() == 6),
        "bloom_bytes_equal_ok" ->
          bytesEqual(Segments.read(s, bA), Segments.read(s, bB), "bloom"),
        "ndv_bytes_equal_ok" ->
          bytesEqual(Segments.read(s, nA), Segments.read(s, nB), "ndv_sketch"),
        "bloom_serving_equal_ok" ->
          (survA == survB && totA == totB &&
            Contracts.checksum(resA) == Contracts.checksum(resB)),
        "ndv_serving_equal_ok" ->
          (Contracts.checksum(Manifest.ndvEstimateAll(s, nA)) ==
            Contracts.checksum(Manifest.ndvEstimateAll(s, nB))),
        "kll_n_exact_and_envelope_ok" -> (kllOk(kA) && kllOk(kB)))
    }),

    // Z-order × manifest composition: the Morton layout makes every file's
    // (l_partkey, l_suppkey) box tight in BOTH dimensions, and the
    // manifest's 2-D box prune turns that geometry into skipped file
    // OPENS — a 1/16-of-keyspace box over 16 z-ordered files touches a
    // handful. Graded on the REAL box aggregate (count + sum replayed in
    // DuckDB), result equality with the unpruned scan, and pruning having
    // actually fired.
    "manifest_zorder_box" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val tbl = Staging.dir(s, "graft-manzb-tbl-")
      val man = Staging.dir(s, "graft-manzb-")
      Layout.zorderWriteExact(li, "l_partkey", "l_suppkey", s"$tbl/d0", 16)
      Manifest.buildManifest(s, s"$tbl/d0",
        Seq("l_partkey", "l_suppkey"), man)
      val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
      val (xLo, xHi) = (mx.getLong(0) / 4, mx.getLong(0) / 2)
      val (yLo, yHi) = (mx.getLong(1) / 4, mx.getLong(1) / 2)
      val (boxed, nRead, nTotal) = Manifest.prunedReadBox(s, man,
        "l_partkey", xLo, xHi, "l_suppkey", yLo, yHi)
      val box = boxed.localCheckpoint()
      val full = Manifest.fullRead(s, man)
        .filter(col("l_partkey").between(xLo, xHi) &&
          col("l_suppkey").between(yLo, yHi))
      val agg = box.agg(count(lit(1)), round(sum(col("l_quantity")), 2))
        .head()
      Contracts.row(s,
        "n_rows" -> agg.getLong(0),
        "sum_qty" -> agg.getDouble(1),
        "files_pruned_ok" -> (nRead < nTotal && nTotal == 16L),
        "equals_full_scan_ok" ->
          (Contracts.checksum(box) == Contracts.checksum(full)))
    }),

    // Hilbert × manifest composition (the manifest_zorder_box analog for
    // the tighter curve): the table laid out in Hilbert order, the
    // manifest's 2-D box prune turning the curve's locality into skipped
    // file OPENS — and, built beside a Morton layout of the SAME data,
    // the no-jumps advantage graded through the real store: hilbert's
    // box-serving opens <= morton's. Real box aggregate replayed in
    // DuckDB; served rows checksum-equal to the full-scan filter.
    "manifest_hilbert_box" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val tbl = Staging.dir(s, "graft-manhb-tbl-")
      val hMan = Staging.dir(s, "graft-manhb-h-")
      val zMan = Staging.dir(s, "graft-manhb-z-")
      Layout.hilbertWriteExact(li, "l_partkey", "l_suppkey",
        s"$tbl/dh", 16)
      Layout.zorderWriteExact(li, "l_partkey", "l_suppkey", s"$tbl/dz", 16)
      Manifest.buildManifest(s, s"$tbl/dh",
        Seq("l_partkey", "l_suppkey"), hMan)
      Manifest.buildManifest(s, s"$tbl/dz",
        Seq("l_partkey", "l_suppkey"), zMan)
      val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
      val (xLo, xHi) = (mx.getLong(0) / 4, mx.getLong(0) / 2)
      val (yLo, yHi) = (mx.getLong(1) / 4, mx.getLong(1) / 2)
      val (boxed, hRead, hTotal) = Manifest.prunedReadBox(s, hMan,
        "l_partkey", xLo, xHi, "l_suppkey", yLo, yHi)
      val (_, zRead, _) = Manifest.prunedReadBox(s, zMan,
        "l_partkey", xLo, xHi, "l_suppkey", yLo, yHi)
      val box = boxed.localCheckpoint()
      val full = Manifest.fullRead(s, hMan)
        .filter(col("l_partkey").between(xLo, xHi) &&
          col("l_suppkey").between(yLo, yHi))
      val agg = box.agg(count(lit(1)), round(sum(col("l_quantity")), 2))
        .head()
      Contracts.row(s,
        "n_rows" -> agg.getLong(0),
        "sum_qty" -> agg.getDouble(1),
        "files_pruned_ok" -> (hRead < hTotal && hTotal == 16L),
        "opens_leq_morton_ok" -> (hRead <= zRead),
        "equals_full_scan_ok" ->
          (Contracts.checksum(box) == Contracts.checksum(full)))
    }),

    // Snapshot history audit (DESCRIBE HISTORY): per-segment files
    // added/tombstoned and rows added, derived from the immutable
    // segments themselves — exact and free. The build/append/delete
    // lifecycle's row accounting is value-based here, so the oracle
    // replays it from the raw table.
    "manifest_history" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val tbl = Staging.dir(s, "graft-manh-tbl-")
      val man = Staging.dir(s, "graft-manh-man-")
      val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
      li.filter(col("l_orderkey") <= mx / 2)
        .repartitionByRange(2, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").parquet(s"$tbl/d0")
      li.filter(col("l_orderkey") > mx / 2)
        .repartitionByRange(2, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").parquet(s"$tbl/d1")
      Manifest.buildManifest(s, s"$tbl/d0", Seq("l_orderkey"), man)
      Manifest.appendToManifest(s, Seq(s"$tbl/d1"), Seq("l_orderkey"), man)
      Manifest.deleteRange(s, man, "l_orderkey", 0L, mx / 4, s"$tbl/rw",
        Seq("l_orderkey"))
      val h = Manifest.history(s, man).localCheckpoint()
      val hm = h.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val live = Manifest.fullRead(s, man).count()
      Contracts.row(s,
        "rows_b0" -> hm("b0")._3,
        "rows_b1" -> hm("b1")._3,
        "n_live" -> live,
        "n_snapshots_ok" -> (hm.size == 3 &&
          hm.keySet == Set("b0", "b1", "b2")),
        "builds_add_only_ok" ->
          (hm("b0") == ((2L, 0L, hm("b0")._3)) &&
            hm("b1") == ((2L, 0L, hm("b1")._3))),
        "delete_tracked_ok" -> (hm("b2")._2 >= 1L &&
          hm("b2")._1 <= hm("b2")._2),
        "rows_balance_ok" ->
          (hm("b0")._3 + hm("b1")._3 >= live && live > 0L))
    }),

    // Per-file KLL quantile sketches beside the manifest: with nrows, NDV
    // and now the value DISTRIBUTION, the file listing answers all three
    // planner cardinality questions manifest-only. Graded on: the merged
    // estimate's n equal to the exact surviving-file row count (KLL tracks
    // n exactly), every quantile estimate inside the exact-quantile
    // envelope [q-0.03, q+0.03] over the same rows (k=200 rank error
    // ~1.65 %), zero data-file opens in the estimate's plan, and the
    // whole-table exact median replayed in DuckDB.
    "manifest_quantile" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val tbl = Staging.dir(s, "graft-manq-tbl-")
      val man = Staging.dir(s, "graft-manq-man-")
      val idx = Staging.dir(s, "graft-manq-idx-")
      li.repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").parquet(s"$tbl/d0")
      Manifest.buildManifest(s, s"$tbl/d0", Seq("l_orderkey"), man)
      Manifest.buildQuantileIndex(s, s"$tbl/d0", "l_quantity", idx)
      val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
      val (lo, hi) = (0L, mx / 4)
      val qs = Seq(0.5, 0.9)
      val est = Manifest.quantileEstimateForRange(s, idx, man,
        "l_orderkey", lo, hi, qs)
      val sidecarsOnly = scansOnly(est, idx, man)
      val rows = est.collect().map(r =>
        (r.getDouble(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
      val survivors = Manifest.readManifest(s, man)
        .filter(col("min_l_orderkey") <= hi && col("max_l_orderkey") >= lo)
        .select(col("file")).collect().map(_.getString(0)).toSeq
      val sv = s.read.parquet(survivors: _*).localCheckpoint()
      val nExact = sv.count()
      val envelopeOk = rows.forall { case (q, v, _) =>
        val b = sv.agg(
          expr(s"percentile(l_quantity, ${math.max(0.0, q - 0.03)})"),
          expr(s"percentile(l_quantity, ${math.min(1.0, q + 0.03)})"))
          .head()
        v >= b.getDouble(0) && v <= b.getDouble(1)
      }
      val exactMedianAll = li
        .agg(expr("floor(percentile(l_quantity, 0.5) * 1e6 + 0.5) / 1e6"))
        .head().getDouble(0)
      Contracts.row(s,
        "median_all" -> exactMedianAll,
        "n_exact_ok" -> (nExact > 0L && rows.forall(_._3 == nExact)),
        "estimates_in_envelope_ok" -> envelopeOk,
        "zero_data_file_opens_ok" -> sidecarsOnly)
    }),

    // Three-dimensional curve × manifest composition: the 21-bit Morton
    // layout keeps every file's (l_partkey, l_suppkey, l_orderkey) box
    // tight in ALL THREE axes, so a selective 3-D box opens a corner's
    // worth of 16 files — a linear sort prunes one axis, the 2-D curve
    // two. Graded on the REAL box aggregate replayed in DuckDB, equality
    // with the unpruned scan, and pruning having fired.
    "manifest_zorder_box3" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
          col("l_quantity"))
      val tbl = Staging.dir(s, "graft-manz3-tbl-")
      val man = Staging.dir(s, "graft-manz3-")
      Layout.zorder3WriteExact(li, "l_partkey", "l_suppkey", "l_orderkey",
        s"$tbl/d0", 16)
      Manifest.buildManifest(s, s"$tbl/d0",
        Seq("l_partkey", "l_suppkey", "l_orderkey"), man)
      val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey")),
        max(col("l_orderkey"))).head()
      val (xLo, xHi) = (mx.getLong(0) / 4, mx.getLong(0) / 2)
      val (yLo, yHi) = (mx.getLong(1) / 4, mx.getLong(1) / 2)
      val (zLo, zHi) = (mx.getLong(2) / 4, mx.getLong(2) / 2)
      val (boxed, nRead, nTotal) = Manifest.prunedReadBox3(s, man,
        "l_partkey", xLo, xHi, "l_suppkey", yLo, yHi,
        "l_orderkey", zLo, zHi)
      val box = boxed.localCheckpoint()
      val full = Manifest.fullRead(s, man)
        .filter(col("l_partkey").between(xLo, xHi) &&
          col("l_suppkey").between(yLo, yHi) &&
          col("l_orderkey").between(zLo, zHi))
      val agg = box.agg(count(lit(1)), round(sum(col("l_quantity")), 2))
        .head()
      Contracts.row(s,
        "n_rows" -> agg.getLong(0),
        "sum_qty" -> (if (agg.isNullAt(1)) 0.0 else agg.getDouble(1)),
        "files_pruned_ok" -> (nRead < nTotal && nTotal == 16L),
        "equals_full_scan_ok" ->
          (Contracts.checksum(box) == Contracts.checksum(full)))
    }),

    // OPTIMIZE ZORDER as manifest DML: a hash-scattered layout gives every
    // file a keyspace-spanning box (the 2-D box prune opens ~everything);
    // one optimizeZorder rewrite re-clusters the SAME rows onto the curve
    // and the identical box read now opens a handful — while the
    // pre-optimize snapshot stays addressable at asOf (tombstones, not
    // deletes). Graded on the real box aggregate (DuckDB), bit-equality of
    // the served rows before/after (re-layout must not change results),
    // strictly-fewer file opens, and time-travel preservation.
    "manifest_zorder_optimize" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val tbl = Staging.dir(s, "graft-manzo-tbl-")
      val man = Staging.dir(s, "graft-manzo-man-")
      li.repartition(16, col("l_partkey").cast("string"))
        .write.mode("overwrite").parquet(s"$tbl/d0")
      Manifest.buildManifest(s, s"$tbl/d0",
        Seq("l_partkey", "l_suppkey"), man)
      val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
      val (xLo, xHi) = (mx.getLong(0) / 4, mx.getLong(0) / 2)
      val (yLo, yHi) = (mx.getLong(1) / 4, mx.getLong(1) / 2)
      val (before, nReadBefore, nTotalBefore) = Manifest.prunedReadBox(s,
        man, "l_partkey", xLo, xHi, "l_suppkey", yLo, yHi)
      val beforeChk = Contracts.checksum(before.localCheckpoint())
      val (rewritten, _) = Manifest.optimizeZorder(s, man, s"$tbl/rw",
        "l_partkey", "l_suppkey", Seq("l_partkey", "l_suppkey"), 16)
      val (after, nReadAfter, nTotalAfter) = Manifest.prunedReadBox(s,
        man, "l_partkey", xLo, xHi, "l_suppkey", yLo, yHi)
      val afterDf = after.localCheckpoint()
      val agg = afterDf
        .agg(count(lit(1)), round(sum(col("l_quantity")), 2)).head()
      // pre-optimize snapshot: served rows at asOf=0 are the originals
      val (hist, nReadHist, _) = Manifest.prunedReadBox(s, man,
        "l_partkey", xLo, xHi, "l_suppkey", yLo, yHi, asOf = 0)
      Contracts.row(s,
        "n_rows" -> agg.getLong(0),
        "sum_qty" -> (if (agg.isNullAt(1)) 0.0 else agg.getDouble(1)),
        "layout_pruned_ok" ->
          (nReadAfter < nReadBefore && rewritten == nTotalBefore &&
            nTotalAfter == 16L),
        "equals_pre_optimize_ok" ->
          (Contracts.checksum(afterDf) == beforeChk),
        "time_travel_preserved_ok" ->
          (Contracts.checksum(hist) == beforeChk &&
            nReadHist == nReadBefore))
    }),

    // OPTIMIZE onto the HILBERT curve (optimizeLayout curve="hilbert"):
    // identical copy-on-write segment swap as manifest_zorder_optimize,
    // rewrite ordered by the jump-free curve — plus a Morton twin
    // optimized from a COPY of the same scattered listing, so the
    // no-jumps advantage is graded through the real DML path: hilbert's
    // post-optimize box serving opens no more files than morton's.
    "manifest_hilbert_optimize" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val tbl = Staging.dir(s, "graft-manho-tbl-")
      val hMan = Staging.dir(s, "graft-manho-hman-")
      val zMan = s"${Staging.dir(s, "graft-manho-z-")}/man"
      li.repartition(16, col("l_partkey").cast("string"))
        .write.mode("overwrite").parquet(s"$tbl/d0")
      Manifest.buildManifest(s, s"$tbl/d0",
        Seq("l_partkey", "l_suppkey"), hMan)
      graft.fs.copyTree(Paths.get(hMan), Paths.get(zMan))
      val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
      val (xLo, xHi) = (mx.getLong(0) / 4, mx.getLong(0) / 2)
      val (yLo, yHi) = (mx.getLong(1) / 4, mx.getLong(1) / 2)
      val (before, nReadBefore, nTotalBefore) = Manifest.prunedReadBox(s,
        hMan, "l_partkey", xLo, xHi, "l_suppkey", yLo, yHi)
      val beforeChk = Contracts.checksum(before.localCheckpoint())
      val (rewritten, _) = Manifest.optimizeLayout(s, hMan, s"$tbl/rwh",
        "l_partkey", "l_suppkey", Seq("l_partkey", "l_suppkey"), 16,
        curve = "hilbert")
      Manifest.optimizeLayout(s, zMan, s"$tbl/rwz",
        "l_partkey", "l_suppkey", Seq("l_partkey", "l_suppkey"), 16,
        curve = "morton")
      val (after, nReadAfter, nTotalAfter) = Manifest.prunedReadBox(s,
        hMan, "l_partkey", xLo, xHi, "l_suppkey", yLo, yHi)
      val (_, zReadAfter, _) = Manifest.prunedReadBox(s, zMan,
        "l_partkey", xLo, xHi, "l_suppkey", yLo, yHi)
      val afterDf = after.localCheckpoint()
      val agg = afterDf
        .agg(count(lit(1)), round(sum(col("l_quantity")), 2)).head()
      val (hist, nReadHist, _) = Manifest.prunedReadBox(s, hMan,
        "l_partkey", xLo, xHi, "l_suppkey", yLo, yHi, asOf = 0)
      Contracts.row(s,
        "n_rows" -> agg.getLong(0),
        "sum_qty" -> (if (agg.isNullAt(1)) 0.0 else agg.getDouble(1)),
        "layout_pruned_ok" ->
          (nReadAfter < nReadBefore && rewritten == nTotalBefore &&
            nTotalAfter == 16L),
        "opens_leq_morton_ok" -> (nReadAfter <= zReadAfter),
        "equals_pre_optimize_ok" ->
          (Contracts.checksum(afterDf) == beforeChk),
        "time_travel_preserved_ok" ->
          (Contracts.checksum(hist) == beforeChk &&
            nReadHist == nReadBefore))
    }),

    // 3-D Hilbert × manifest composition (manifest_zorder_box3's analog
    // for the jump-free curve, via the native hilbert21 kernel): every
    // file's box tight in all THREE axes, plus a 3-D Morton twin of the
    // SAME rows so the locality claim is graded through real file opens:
    // hilbert's 3-D box serving opens <= morton21's.
    "manifest_hilbert_box3" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
          col("l_quantity"))
      val tbl = Staging.dir(s, "graft-manh3-tbl-")
      val hMan = Staging.dir(s, "graft-manh3-h-")
      val zMan = Staging.dir(s, "graft-manh3-z-")
      Layout.hilbert3WriteExact(li, "l_partkey", "l_suppkey", "l_orderkey",
        s"$tbl/dh", 16)
      Layout.zorder3WriteExact(li, "l_partkey", "l_suppkey", "l_orderkey",
        s"$tbl/dz", 16)
      Manifest.buildManifest(s, s"$tbl/dh",
        Seq("l_partkey", "l_suppkey", "l_orderkey"), hMan)
      Manifest.buildManifest(s, s"$tbl/dz",
        Seq("l_partkey", "l_suppkey", "l_orderkey"), zMan)
      val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey")),
        max(col("l_orderkey"))).head()
      val (xLo, xHi) = (mx.getLong(0) / 4, mx.getLong(0) / 2)
      val (yLo, yHi) = (mx.getLong(1) / 4, mx.getLong(1) / 2)
      val (zLo, zHi) = (mx.getLong(2) / 4, mx.getLong(2) / 2)
      val (boxed, hRead, hTotal) = Manifest.prunedReadBox3(s, hMan,
        "l_partkey", xLo, xHi, "l_suppkey", yLo, yHi,
        "l_orderkey", zLo, zHi)
      val (_, zRead, _) = Manifest.prunedReadBox3(s, zMan,
        "l_partkey", xLo, xHi, "l_suppkey", yLo, yHi,
        "l_orderkey", zLo, zHi)
      val box = boxed.localCheckpoint()
      val full = Manifest.fullRead(s, hMan)
        .filter(col("l_partkey").between(xLo, xHi) &&
          col("l_suppkey").between(yLo, yHi) &&
          col("l_orderkey").between(zLo, zHi))
      val agg = box.agg(count(lit(1)), round(sum(col("l_quantity")), 2))
        .head()
      Contracts.row(s,
        "n_rows" -> agg.getLong(0),
        "sum_qty" -> (if (agg.isNullAt(1)) 0.0 else agg.getDouble(1)),
        "files_pruned_ok" -> (hRead < hTotal && hTotal == 16L),
        "opens_leq_morton_ok" -> (hRead <= zRead),
        "equals_full_scan_ok" ->
          (Contracts.checksum(box) == Contracts.checksum(full)))
    }),

    // INCREMENTAL re-layout (optimizeLayoutIncremental): after an initial
    // hilbert layout, a localized unsorted append lands; the incremental
    // OPTIMIZE rewrites ONLY the files whose curve-key ranges strictly
    // overlap (the appended files + the sorted tail they intersect) and
    // leaves every disjoint file untouched BY NAME — at 100 TB this is
    // the difference between OPTIMIZE costing O(new data) and a
    // full-table sort per run. Graded against a FULL re-layout twin from
    // a copy of the same pre-optimize manifest: probe-box opens within
    // 1.1x of the full rewrite's, served rows identical, and the result
    // a fixed point (a second incremental run rewrites nothing).
    "manifest_optimize_incremental" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
      val (px, py) = (mx.getLong(0), mx.getLong(1))
      // the append is confined to the top-corner box: a quadtree-aligned
      // region is a near-contiguous run of the curve, so it overlaps a
      // BOUNDED slice of the sorted files, not all of them
      val boxCond = col("l_partkey") > px * 3 / 4 &&
        col("l_suppkey") > py * 3 / 4
      val tbl = Staging.dir(s, "graft-manoi-tbl-")
      val incMan = Staging.dir(s, "graft-manoi-inc-")
      val fullMan = s"${Staging.dir(s, "graft-manoi-f-")}/man"
      Layout.hilbertWriteExact(li.filter(!boxCond),
        "l_partkey", "l_suppkey", s"$tbl/d0", 12)
      li.filter(boxCond).repartition(2, col("l_partkey"))
        .write.mode("overwrite").parquet(s"$tbl/d1")
      Manifest.buildManifest(s, s"$tbl/d0",
        Seq("l_partkey", "l_suppkey"), incMan)
      Manifest.appendToManifest(s, Seq(s"$tbl/d1"),
        Seq("l_partkey", "l_suppkey"), incMan)
      graft.fs.copyTree(Paths.get(incMan), Paths.get(fullMan))
      val liveBefore = Manifest.readManifest(s, incMan)
        .select(col("file")).collect().map(_.getString(0)).toSet
      val preChk = Contracts.checksum(Manifest.fullRead(s, incMan)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("q")))
      val (rewritten, _, clusters) = Manifest.optimizeLayoutIncremental(s,
        incMan, s"$tbl/rwi", "l_partkey", "l_suppkey",
        Seq("l_partkey", "l_suppkey"), curve = "hilbert")
      Manifest.optimizeLayout(s, fullMan, s"$tbl/rwf",
        "l_partkey", "l_suppkey", Seq("l_partkey", "l_suppkey"),
        liveBefore.size, curve = "hilbert")
      val boxes = Seq(
        (0L, px / 4, 0L, py / 4), (px / 4, px / 2, py / 4, py / 2),
        (px / 2, px * 3 / 4, py / 2, py * 3 / 4),
        (px * 3 / 4, px, py * 3 / 4, py))
      def opens(man: String): Long = boxes.map { case (xl, xh, yl, yh) =>
        Manifest.prunedReadBox(s, man, "l_partkey", xl, xh,
          "l_suppkey", yl, yh)._2
      }.sum
      val (incOpens, fullOpens) = (opens(incMan), opens(fullMan))
      val liveAfter = Manifest.readManifest(s, incMan)
        .select(col("file")).collect().map(_.getString(0)).toSet
      val untouched = liveBefore.intersect(liveAfter)
      val postChk = Contracts.checksum(Manifest.fullRead(s, incMan)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("q")))
      val again = Manifest.optimizeLayoutIncremental(s, incMan,
        s"$tbl/rwi2", "l_partkey", "l_suppkey",
        Seq("l_partkey", "l_suppkey"), curve = "hilbert")
      Contracts.row(s,
        "n_rows" -> Manifest.fullRead(s, incMan).count(),
        "partial_rewrite_ok" ->
          (clusters >= 1L && rewritten < liveBefore.size &&
            untouched.nonEmpty),
        "untouched_by_name_ok" ->
          (untouched.size.toLong == liveBefore.size - rewritten),
        "equals_pre_optimize_ok" -> (postChk == preChk),
        "opens_near_full_ok" ->
          (incOpens <= math.ceil(1.1 * fullOpens).toLong),
        "fixed_point_ok" -> (again == ((0L, 0L, 0L))))
    }),

    // 3-D incremental re-layout (optimizeLayoutIncremental with zCol):
    // the same O(new data) OPTIMIZE posture on the hilbert21 curve — an
    // append confined to the top corner octant overlaps a bounded slice
    // of the sorted files in THREE axes, so only that cluster rewrites.
    // Graded like the 2-D form: untouched files by name, identical
    // serving, 3-D probe-box opens within 1.1x of a full re-layout twin,
    // fixed point.
    "manifest_optimize_incremental3" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
          col("l_quantity"))
      val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey")),
        max(col("l_orderkey"))).head()
      val (px, py, pz) = (mx.getLong(0), mx.getLong(1), mx.getLong(2))
      val boxCond = col("l_partkey") > px * 3 / 4 &&
        col("l_suppkey") > py * 3 / 4 && col("l_orderkey") > pz * 3 / 4
      val tbl = Staging.dir(s, "graft-manoi3-tbl-")
      val incMan = Staging.dir(s, "graft-manoi3-inc-")
      val fullMan = s"${Staging.dir(s, "graft-manoi3-f-")}/man"
      Layout.hilbert3WriteExact(li.filter(!boxCond),
        "l_partkey", "l_suppkey", "l_orderkey", s"$tbl/d0", 12)
      li.filter(boxCond).repartition(2, col("l_partkey"))
        .write.mode("overwrite").parquet(s"$tbl/d1")
      val cols = Seq("l_partkey", "l_suppkey", "l_orderkey")
      Manifest.buildManifest(s, s"$tbl/d0", cols, incMan)
      Manifest.appendToManifest(s, Seq(s"$tbl/d1"), cols, incMan)
      graft.fs.copyTree(Paths.get(incMan), Paths.get(fullMan))
      val liveBefore = Manifest.readManifest(s, incMan)
        .select(col("file")).collect().map(_.getString(0)).toSet
      def served(man: String) = Manifest.fullRead(s, man)
        .groupBy(col("l_partkey"), col("l_suppkey"), col("l_orderkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("q"))
      val preChk = Contracts.checksum(served(incMan))
      val (rewritten, _, clusters) = Manifest.optimizeLayoutIncremental(s,
        incMan, s"$tbl/rwi", "l_partkey", "l_suppkey", cols,
        curve = "hilbert", zCol = "l_orderkey")
      Manifest.optimizeLayout(s, fullMan, s"$tbl/rwf",
        "l_partkey", "l_suppkey", cols, liveBefore.size,
        curve = "hilbert", zCol = "l_orderkey")
      val boxes = Seq(
        (0L, px / 4, 0L, py / 4, 0L, pz / 4),
        (px / 4, px / 2, py / 4, py / 2, pz / 4, pz / 2),
        (px / 2, px * 3 / 4, py / 2, py * 3 / 4, pz / 2, pz * 3 / 4),
        (px * 3 / 4, px, py * 3 / 4, py, pz * 3 / 4, pz))
      def opens(man: String): Long =
        boxes.map { case (xl, xh, yl, yh, zl, zh) =>
          Manifest.prunedReadBox3(s, man, "l_partkey", xl, xh,
            "l_suppkey", yl, yh, "l_orderkey", zl, zh)._2
        }.sum
      val (incOpens, fullOpens) = (opens(incMan), opens(fullMan))
      val liveAfter = Manifest.readManifest(s, incMan)
        .select(col("file")).collect().map(_.getString(0)).toSet
      val untouched = liveBefore.intersect(liveAfter)
      val postChk = Contracts.checksum(served(incMan))
      val again = Manifest.optimizeLayoutIncremental(s, incMan,
        s"$tbl/rwi2", "l_partkey", "l_suppkey", cols,
        curve = "hilbert", zCol = "l_orderkey")
      Contracts.row(s,
        "n_rows" -> Manifest.fullRead(s, incMan).count(),
        "partial_rewrite_ok" ->
          (clusters >= 1L && rewritten < liveBefore.size &&
            untouched.nonEmpty),
        "untouched_by_name_ok" ->
          (untouched.size.toLong == liveBefore.size - rewritten),
        "equals_pre_optimize_ok" -> (postChk == preChk),
        // 1.25x (vs the 2-D form's 1.1x): a non-dyadic 3-D corner box
        // fragments into MORE disjoint curve runs than its 2-D analog,
        // so the overlap cluster spans a wider index interval and the
        // cluster-local ntile boundaries land further from the global
        // re-layout's (measured at sf0.1: 23 vs 19 summed opens =
        // 1.21x; 2-D stays within 1.1x at every sf)
        "opens_near_full_ok" ->
          (incOpens <= math.ceil(1.25 * fullOpens).toLong),
        "fixed_point_ok" -> (again == ((0L, 0L, 0L))))
    }),

    // PRODUCTION + BUDGETED incremental re-layout (the r13 verdict's one
    // weak dial): two legs through optimizeLayoutIncremental's new
    // parameters. Leg 1 — deterministic = false: the SAME corner-append
    // shape as manifest_optimize_incremental, but every cluster rewrite
    // runs through the range-shuffle production writers (sampled
    // boundaries, fully parallel — the form a 100 TB cluster rewrite
    // actually takes); graded identical serving, disjoint files untouched
    // by name, probe-box opens within 1.25x of a production FULL
    // re-layout twin (sampled boundaries on BOTH sides jitter the file
    // boxes, so the production bound is the 3-D form's 1.25x, not the
    // exact writers' 1.1x), and a fixed point. Leg 2 — maxClusterFiles:
    // a hash-scattered 6-file table is ONE whole-table overlap cluster
    // (the pathological interleave that degenerated r13's incremental
    // OPTIMIZE into a single-task full-table sort); under budget 3 each
    // call prefix-peels at most 3 files per cluster, the table serves
    // identically between every call, and the cluster drains to a fixed
    // point across >= 2 budgeted calls.
    "manifest_optimize_budgeted" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
      val (px, py) = (mx.getLong(0), mx.getLong(1))
      val boxCond = col("l_partkey") > px * 3 / 4 &&
        col("l_suppkey") > py * 3 / 4
      val tbl = Staging.dir(s, "graft-manob-tbl-")
      val incMan = Staging.dir(s, "graft-manob-inc-")
      val fullMan = s"${Staging.dir(s, "graft-manob-f-")}/man"
      val budMan = Staging.dir(s, "graft-manob-bud-")
      val cols = Seq("l_partkey", "l_suppkey")
      def served(man: String) = Manifest.fullRead(s, man)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("q"))
      // ---- leg 1: production (range-shuffle) incremental rewrite ----
      Layout.hilbertWriteExact(li.filter(!boxCond),
        "l_partkey", "l_suppkey", s"$tbl/d0", 12)
      li.filter(boxCond).repartition(2, col("l_partkey"))
        .write.mode("overwrite").parquet(s"$tbl/d1")
      Manifest.buildManifest(s, s"$tbl/d0", cols, incMan)
      Manifest.appendToManifest(s, Seq(s"$tbl/d1"), cols, incMan)
      graft.fs.copyTree(Paths.get(incMan), Paths.get(fullMan))
      val liveBefore = Manifest.readManifest(s, incMan)
        .select(col("file")).collect().map(_.getString(0)).toSet
      val preChk = Contracts.checksum(served(incMan))
      val (rewritten, _, clusters) = Manifest.optimizeLayoutIncremental(s,
        incMan, s"$tbl/rwi", "l_partkey", "l_suppkey", cols,
        curve = "hilbert", deterministic = false)
      Manifest.optimizeLayout(s, fullMan, s"$tbl/rwf",
        "l_partkey", "l_suppkey", cols, liveBefore.size,
        curve = "hilbert", deterministic = false)
      val boxes = Seq(
        (0L, px / 4, 0L, py / 4), (px / 4, px / 2, py / 4, py / 2),
        (px / 2, px * 3 / 4, py / 2, py * 3 / 4),
        (px * 3 / 4, px, py * 3 / 4, py))
      def opens(man: String): Long = boxes.map { case (xl, xh, yl, yh) =>
        Manifest.prunedReadBox(s, man, "l_partkey", xl, xh,
          "l_suppkey", yl, yh)._2
      }.sum
      val (incOpens, fullOpens) = (opens(incMan), opens(fullMan))
      val liveAfter = Manifest.readManifest(s, incMan)
        .select(col("file")).collect().map(_.getString(0)).toSet
      val untouched = liveBefore.intersect(liveAfter)
      val postChk = Contracts.checksum(served(incMan))
      val prodAgain = Manifest.optimizeLayoutIncremental(s, incMan,
        s"$tbl/rwi2", "l_partkey", "l_suppkey", cols,
        curve = "hilbert", deterministic = false)
      // ---- leg 2: budgeted drain of a whole-table overlap cluster ----
      li.repartition(6, col("l_partkey") * 31 + col("l_suppkey"))
        .write.mode("overwrite").parquet(s"$tbl/dbud")
      Manifest.buildManifest(s, s"$tbl/dbud", cols, budMan)
      val budChk0 = Contracts.checksum(served(budMan))
      var passes = 0L
      var budgetOk = true
      var servedOk = true
      var fixedPoint = false
      while (!fixedPoint && passes < 12) {
        val (rw, _, cls) = Manifest.optimizeLayoutIncremental(s, budMan,
          s"$tbl/rwb$passes", "l_partkey", "l_suppkey", cols,
          curve = "hilbert", deterministic = false, maxClusterFiles = 3)
        if (rw == 0L) fixedPoint = true
        else {
          passes += 1
          budgetOk &&= rw <= 3L * cls
          servedOk &&= Contracts.checksum(served(budMan)) == budChk0
        }
      }
      // ---- leg 3: BYTE-budget drain over a fresh manifest of the SAME
      // scattered files (copy-on-write never mutates them): budget ~40%
      // of the table in bytes, file budget unlimited — the unit a
      // production maintenance window is actually sized in ----
      val bbMan = Staging.dir(s, "graft-manob-bb-")
      Manifest.buildManifest(s, s"$tbl/dbud", cols, bbMan)
      val bbBudget = {
        val fs = new java.io.File(s"$tbl/dbud").listFiles()
        (fs.filter(_.getName.endsWith(".parquet")).map(_.length()).sum
          * 2) / 5
      }
      var bPasses = 0L
      var bServed = true
      var bDone = false
      while (!bDone && bPasses < 16) {
        val (rw, _, _) = Manifest.optimizeLayoutIncremental(s, bbMan,
          s"$tbl/rwc$bPasses", "l_partkey", "l_suppkey", cols,
          curve = "hilbert", deterministic = false,
          maxClusterBytes = bbBudget)
        if (rw == 0L) bDone = true
        else {
          bPasses += 1
          bServed &&= Contracts.checksum(served(bbMan)) == budChk0
        }
      }
      Contracts.row(s,
        "n_rows" -> Manifest.fullRead(s, incMan).count(),
        "prod_partial_rewrite_ok" ->
          (clusters >= 1L && rewritten < liveBefore.size &&
            untouched.nonEmpty),
        "prod_untouched_by_name_ok" ->
          (untouched.size.toLong == liveBefore.size - rewritten),
        "prod_equals_pre_optimize_ok" -> (postChk == preChk),
        "prod_opens_near_full_ok" ->
          (incOpens <= math.ceil(1.25 * fullOpens).toLong),
        "prod_fixed_point_ok" -> (prodAgain == ((0L, 0L, 0L))),
        "budget_multi_pass_ok" -> (fixedPoint && passes >= 2L),
        "budget_respected_ok" -> budgetOk,
        "budget_served_every_pass_ok" -> servedOk,
        "bytes_budget_multi_pass_ok" -> (bDone && bPasses >= 2L),
        "bytes_budget_served_ok" -> bServed)
    }),

    // Copy-on-write DELETE through the manifest (Manifest.deleteRange):
    // zone maps pick the affected files, ONLY those are rewritten minus the
    // matching rows, and one appended segment tombstones the originals and
    // adds the rewrites. Graded on the REAL post-delete table (count + sum
    // + deleted-row count replayed in DuckDB) plus the lifecycle: untouched
    // files not rewritten, pre-delete snapshot still fully served
    // (tombstones live in a later segment), the manifest-only count path
    // reflecting the deletion, and compaction (snapshot expiry) + vacuum
    // physically removing exactly the dead files without changing what is
    // served — the Delta/Iceberg takedown lifecycle end to end.
    "manifest_delete" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val tbl = Staging.dir(s, "graft-mandel-tbl-")
      val man = Staging.dir(s, "graft-mandel-man-")
      Layout.layoutWriteExact(li,
        Seq(col("l_orderkey"), col("l_linenumber")), s"$tbl/d0", 8)
      Manifest.buildManifest(s, s"$tbl/d0", Seq("l_orderkey"), man)
      val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
      val (lo, hi) = (mx / 3, mx / 2)
      val origCount = li.count()
      val preFiles = Manifest.readManifest(s, man).select(col("file"))
        .collect().map(_.getString(0)).toSet
      val (nAffected, nTotal, nDeleted) = Manifest.deleteRange(s, man,
        "l_orderkey", lo, hi, s"$tbl/rw", Seq("l_orderkey"))
      val served = Manifest.fullRead(s, man).localCheckpoint()
      val servedChk = Contracts.checksum(served)
      val liveFiles = Manifest.readManifest(s, man).select(col("file"))
        .collect().map(_.getString(0)).toSet
      val ttOk = Manifest.fullRead(s, man, asOf = 0).count() == origCount
      val coOk = Manifest.countOnly(s, man, "l_orderkey").head().getLong(0) ==
        served.count()
      Manifest.compactManifest(s, man)
      val nVacuumed = Manifest.vacuumTable(s, man, Seq(tbl))
      val afterVacChk = Contracts.checksum(Manifest.fullRead(s, man))
      val agg = served
        .agg(count(lit(1)), round(sum(col("l_quantity")), 2)).head()
      Contracts.row(s,
        "n_rows" -> agg.getLong(0),
        "sum_qty" -> agg.getDouble(1),
        "n_deleted" -> nDeleted,
        "copy_on_write_ok" -> (nAffected > 0 && nAffected < nTotal),
        "untouched_not_rewritten_ok" ->
          ((preFiles intersect liveFiles).size.toLong == nTotal - nAffected),
        "rows_balance_ok" -> (origCount == agg.getLong(0) + nDeleted),
        "time_travel_preserved_ok" -> ttOk,
        "count_only_reflects_delete_ok" -> coOk,
        "vacuum_serving_unchanged_ok" -> (afterVacChk == servedChk),
        "vacuumed_only_dead_files_ok" -> (nVacuumed == nAffected))
    }),

    // Copy-on-write MERGE / upsert through the manifest (Manifest.mergeInto
    // — the Delta MERGE INTO shape): an update batch (quantity corrections
    // for a key range + brand-new keys) replaces matched keys and inserts
    // the rest; zone maps bound the rewrite to the files that can contain
    // an update key. Graded on the REAL merged table (count + sum replayed
    // in DuckDB over the identical merge semantics), exact set equality
    // with the anti-join ∪ updates definition, copy-on-write file
    // accounting, the pre-merge snapshot, and countOnly consistency.
    "manifest_merge" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val tbl = Staging.dir(s, "graft-manmrg-tbl-")
      val man = Staging.dir(s, "graft-manmrg-man-")
      Layout.layoutWriteExact(li,
        Seq(col("l_orderkey"), col("l_linenumber")), s"$tbl/d0", 8)
      Manifest.buildManifest(s, s"$tbl/d0", Seq("l_orderkey"), man)
      val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
      val (lo, hi) = (mx / 3, mx / 2)
      val upd = li.filter(col("l_orderkey").between(lo, hi))
        .withColumn("l_quantity", col("l_quantity") + 100)
        .unionByName(li.filter(col("l_orderkey") < 100)
          .withColumn("l_orderkey", col("l_orderkey") + mx))
        .localCheckpoint()
      val origCount = li.count()
      val (nAff, nTot, nUpd) = Manifest.mergeInto(s, man, upd,
        "l_orderkey", s"$tbl/rw", Seq("l_orderkey"))
      val served = Manifest.fullRead(s, man).localCheckpoint()
      val expected = li
        .join(upd.select(col("l_orderkey")).distinct(),
          Seq("l_orderkey"), "left_anti")
        .unionByName(upd)
      val agg = served
        .agg(count(lit(1)), round(sum(col("l_quantity")), 2)).head()
      Contracts.row(s,
        "n_rows" -> agg.getLong(0),
        "sum_qty" -> agg.getDouble(1),
        "n_upserted" -> nUpd,
        "equals_merge_semantics_ok" ->
          (Contracts.checksum(served) == Contracts.checksum(expected)),
        "copy_on_write_ok" -> (nAff > 0 && nAff < nTot),
        "time_travel_preserved_ok" ->
          (Manifest.fullRead(s, man, asOf = 0).count() == origCount),
        "count_only_consistent_ok" ->
          (Manifest.countOnly(s, man, "l_orderkey").head().getLong(0) ==
            agg.getLong(0)))
    }),

    // Bin-packing OPTIMIZE (Manifest.optimizeSmallFiles — Delta's
    // small-file compaction as manifest DML): a fragmented landing (12 tiny
    // files + 2 at-size) is merged back to right-sized files in ONE
    // distributed rewrite; the appended segment tombstones the merged
    // originals. Graded on served-content identity (real count + sum),
    // file-count reduction, at-size files untouched, the pre-optimize
    // snapshot still addressable, and IDEMPOTENCE — a second run must be a
    // no-op (the two-threshold candidate rule; a single threshold re-merges
    // its own output forever).
    "manifest_optimize" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val tbl = Staging.dir(s, "graft-manopt-tbl-")
      val man = Staging.dir(s, "graft-manopt-man-")
      li.filter(col("l_orderkey") % 4 === 3).repartition(12)
        .write.mode("overwrite").parquet(s"$tbl/d0")
      li.filter(col("l_orderkey") % 4 =!= 3).repartition(2)
        .write.mode("overwrite").parquet(s"$tbl/d1")
      Manifest.buildManifest(s, s"$tbl/d0", Seq("l_orderkey"), man)
      Manifest.appendToManifest(s, Seq(s"$tbl/d1"), Seq("l_orderkey"), man,
        batchId = 1)
      val rows = li.count()
      val (target, minR) = (math.max(4L, rows / 8), math.max(2L, rows / 16))
      val pre = Manifest.readManifest(s, man).localCheckpoint()
      val preChk = Contracts.checksum(Manifest.fullRead(s, man))
      val preFiles = pre.select(col("file"))
        .collect().map(_.getString(0)).toSet
      val bigFiles = pre.filter(col("nrows") >= minR).select(col("file"))
        .collect().map(_.getString(0)).toSet
      val (nMerged, nCreated) = Manifest.optimizeSmallFiles(s, man,
        s"$tbl/opt", Seq("l_orderkey"), target, minR)
      val postFiles = Manifest.readManifest(s, man).select(col("file"))
        .collect().map(_.getString(0)).toSet
      val served = Manifest.fullRead(s, man).localCheckpoint()
      val ttOk = Contracts.checksum(Manifest.fullRead(s, man, asOf = 1)) ==
        preChk
      val (nMerged2, _) = Manifest.optimizeSmallFiles(s, man,
        s"$tbl/opt2", Seq("l_orderkey"), target, minR)
      val agg = served
        .agg(count(lit(1)), round(sum(col("l_quantity")), 2)).head()
      Contracts.row(s,
        "n_rows" -> agg.getLong(0),
        "sum_qty" -> agg.getDouble(1),
        "files_reduced_ok" ->
          (postFiles.size < preFiles.size && nMerged == 12L &&
            nCreated < nMerged),
        "content_identical_ok" -> (Contracts.checksum(served) == preChk),
        "big_files_untouched_ok" -> bigFiles.subsetOf(postFiles),
        "time_travel_preserved_ok" -> ttOk,
        "idempotent_ok" -> (nMerged2 == 0L))
    }),

    // Per-file Bloom point-lookup skipping (Manifest.buildBloomIndex /
    // bloomPrunedRead — the Iceberg-puffin/parquet-bloom posture lifted to
    // the FILE listing): on a hash-distributed layout every file's
    // [min, max] spans the keyspace, so the zone-map prune keeps ALL 16
    // files for a point key — the Bloom index keeps only the file(s) that
    // can actually hold it (no false negatives; false positives bounded by
    // fpp × files). Graded on the REAL key lookup (count + sum replayed in
    // DuckDB), result identity with the zone-map route, and the pruning
    // asymmetry itself.
    "manifest_bloom_point" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val tbl = Staging.dir(s, "graft-manbl-tbl-")
      val man = Staging.dir(s, "graft-manbl-man-")
      val idx = Staging.dir(s, "graft-manbl-idx-")
      li.repartition(16, col("l_orderkey"))
        .write.mode("overwrite").parquet(s"$tbl/d0")
      Manifest.buildManifest(s, s"$tbl/d0", Seq("l_orderkey"), man)
      Manifest.buildBloomIndex(s, s"$tbl/d0", "l_orderkey", idx,
        expectedPerFile = 100000L)
      val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
      val key = li.filter(col("l_orderkey") <= mx / 2)
        .agg(max(col("l_orderkey"))).head().getLong(0)
      val (zres, zRead, zTotal) =
        Manifest.prunedRead(s, man, "l_orderkey", key, key)
      val (bres0, bRead, bTotal) =
        Manifest.bloomPrunedRead(s, idx, "l_orderkey", key)
      val bres = bres0.localCheckpoint()
      val agg = bres
        .agg(count(lit(1)), round(sum(col("l_quantity")), 2)).head()
      Contracts.row(s,
        "n_rows" -> agg.getLong(0),
        "sum_qty" -> agg.getDouble(1),
        "no_false_negatives_ok" ->
          (Contracts.checksum(bres) == Contracts.checksum(zres)),
        "bloom_prunes_ok" -> (bRead < zRead && bTotal == zTotal),
        "zone_maps_cannot_ok" -> (zRead == zTotal && zTotal == 16L),
        "bloom_tight_ok" -> (bRead >= 1L && bRead <= 4L))
    })
  )

  val oracles: Map[String, String] = Map(
    "csv_roundtrip" ->
      """SELECT n_regionkey, count(*) AS cnt, sum(n_nationkey)::BIGINT AS sum_key
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "json_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 2) AS bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "orc_roundtrip" ->
      """SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS retail
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "csv_malformed_tolerance" ->
      """SELECT count(*) AS n,
        |  count(CASE WHEN event_id % 7 <> 0 THEN 1 END) AS n_parsed,
        |  count(CASE WHEN event_id % 7 = 0 THEN 1 END) AS n_corrupt,
        |  sum(event_id)::BIGINT AS sum_id,
        |  round(sum(CASE WHEN event_id % 7 <> 0 THEN value END), 2) AS sum_val
        |FROM events""".stripMargin,

    "zorder_key" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_custkey & 65535 AS x, o_orderkey & 65535 AS y
        |  FROM orders),
        |s1 AS (SELECT o_orderkey, (x | (x << 8)) & 16711935 AS x,
        |         (y | (y << 8)) & 16711935 AS y FROM b),
        |s2 AS (SELECT o_orderkey, (x | (x << 4)) & 252645135 AS x,
        |         (y | (y << 4)) & 252645135 AS y FROM s1),
        |s3 AS (SELECT o_orderkey, (x | (x << 2)) & 858993459 AS x,
        |         (y | (y << 2)) & 858993459 AS y FROM s2),
        |s4 AS (SELECT o_orderkey, (x | (x << 1)) & 1431655765 AS x,
        |         (y | (y << 1)) & 1431655765 AS y FROM s3)
        |SELECT o_orderkey, (x | (y << 1))::BIGINT AS zkey FROM s4
        |ORDER BY o_orderkey""".stripMargin,

    "partitioned_write_scan" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "zorder_layout" ->
      """SELECT (SELECT count(*) FROM orders) AS n_rows,
        |  TRUE AS strictly_better_ok""".stripMargin,

    "hilbert_layout" ->
      """SELECT (SELECT count(*) FROM orders) AS n_rows,
        |  TRUE AS not_worse_than_morton_ok,
        |  TRUE AS strictly_better_than_linear_ok""".stripMargin,

    "compact_files" ->
      """SELECT (SELECT count(*) FROM orders) AS n_rows,
        |  TRUE AS fragmented_ok, TRUE AS files_reduced_ok,
        |  TRUE AS data_identical_ok""".stripMargin,

    "dynamic_partition_overwrite" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice
        |            + CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END),
        |        2) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "asof_join_bucketed" -> ExtendedQueries.asofOracle(">="),

    "provenance_scan" ->
      """SELECT doc_id, 'documents.parquet' AS file_name,
        |  row_number() OVER (ORDER BY doc_id) - 1 AS row_index
        |FROM documents QUALIFY doc_id % 7 = 0
        |ORDER BY doc_id""".stripMargin,

    "manifest_prune" ->
      """SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty,
        |  TRUE AS files_pruned_ok, TRUE AS append_tracked_ok,
        |  TRUE AS equals_full_scan_ok,
        |  TRUE AS rowcount_matches_manifest_ok,
        |  TRUE AS compaction_invisible_ok,
        |  TRUE AS one_segment_after_compact_ok
        |FROM lineitem
        |WHERE l_orderkey
        |  BETWEEN (SELECT max(l_orderkey) // 3 FROM lineitem)
        |      AND (SELECT max(l_orderkey) // 2 FROM lineitem)""".stripMargin,

    "manifest_zorder_box" ->
      """SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty,
        |  TRUE AS files_pruned_ok, TRUE AS equals_full_scan_ok
        |FROM lineitem
        |WHERE l_partkey
        |    BETWEEN (SELECT max(l_partkey) // 4 FROM lineitem)
        |        AND (SELECT max(l_partkey) // 2 FROM lineitem)
        |  AND l_suppkey
        |    BETWEEN (SELECT max(l_suppkey) // 4 FROM lineitem)
        |        AND (SELECT max(l_suppkey) // 2 FROM lineitem)""".stripMargin,

    "manifest_hilbert_box" ->
      """SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty,
        |  TRUE AS files_pruned_ok, TRUE AS opens_leq_morton_ok,
        |  TRUE AS equals_full_scan_ok
        |FROM lineitem
        |WHERE l_partkey
        |    BETWEEN (SELECT max(l_partkey) // 4 FROM lineitem)
        |        AND (SELECT max(l_partkey) // 2 FROM lineitem)
        |  AND l_suppkey
        |    BETWEEN (SELECT max(l_suppkey) // 4 FROM lineitem)
        |        AND (SELECT max(l_suppkey) // 2 FROM lineitem)""".stripMargin,

    "manifest_history" ->
      """SELECT
        |  (SELECT count(*) FROM lineitem
        |   WHERE l_orderkey <= (SELECT max(l_orderkey) // 2
        |                        FROM lineitem)) AS rows_b0,
        |  (SELECT count(*) FROM lineitem
        |   WHERE l_orderkey > (SELECT max(l_orderkey) // 2
        |                       FROM lineitem)) AS rows_b1,
        |  (SELECT count(*) FROM lineitem
        |   WHERE l_orderkey NOT BETWEEN 0 AND (SELECT max(l_orderkey) // 4
        |                                       FROM lineitem)) AS n_live,
        |  TRUE AS n_snapshots_ok, TRUE AS builds_add_only_ok,
        |  TRUE AS delete_tracked_ok, TRUE AS rows_balance_ok""".stripMargin,

    "manifest_quantile" ->
      """SELECT
        |  floor(quantile_cont(l_quantity, 0.5)*1e6+0.5)/1e6 AS median_all,
        |  TRUE AS n_exact_ok, TRUE AS estimates_in_envelope_ok,
        |  TRUE AS zero_data_file_opens_ok
        |FROM lineitem""".stripMargin,

    "manifest_zorder_box3" ->
      """SELECT count(*) AS n_rows,
        |  coalesce(round(sum(l_quantity), 2), 0.0) AS sum_qty,
        |  TRUE AS files_pruned_ok, TRUE AS equals_full_scan_ok
        |FROM lineitem
        |WHERE l_partkey
        |    BETWEEN (SELECT max(l_partkey) // 4 FROM lineitem)
        |        AND (SELECT max(l_partkey) // 2 FROM lineitem)
        |  AND l_suppkey
        |    BETWEEN (SELECT max(l_suppkey) // 4 FROM lineitem)
        |        AND (SELECT max(l_suppkey) // 2 FROM lineitem)
        |  AND l_orderkey
        |    BETWEEN (SELECT max(l_orderkey) // 4 FROM lineitem)
        |        AND (SELECT max(l_orderkey) // 2 FROM lineitem)""".stripMargin,

    "manifest_zorder_optimize" ->
      """SELECT count(*) AS n_rows,
        |  coalesce(round(sum(l_quantity), 2), 0.0) AS sum_qty,
        |  TRUE AS layout_pruned_ok, TRUE AS equals_pre_optimize_ok,
        |  TRUE AS time_travel_preserved_ok
        |FROM lineitem
        |WHERE l_partkey
        |    BETWEEN (SELECT max(l_partkey) // 4 FROM lineitem)
        |        AND (SELECT max(l_partkey) // 2 FROM lineitem)
        |  AND l_suppkey
        |    BETWEEN (SELECT max(l_suppkey) // 4 FROM lineitem)
        |        AND (SELECT max(l_suppkey) // 2 FROM lineitem)""".stripMargin,

    "manifest_hilbert_optimize" ->
      """SELECT count(*) AS n_rows,
        |  coalesce(round(sum(l_quantity), 2), 0.0) AS sum_qty,
        |  TRUE AS layout_pruned_ok, TRUE AS opens_leq_morton_ok,
        |  TRUE AS equals_pre_optimize_ok, TRUE AS time_travel_preserved_ok
        |FROM lineitem
        |WHERE l_partkey
        |    BETWEEN (SELECT max(l_partkey) // 4 FROM lineitem)
        |        AND (SELECT max(l_partkey) // 2 FROM lineitem)
        |  AND l_suppkey
        |    BETWEEN (SELECT max(l_suppkey) // 4 FROM lineitem)
        |        AND (SELECT max(l_suppkey) // 2 FROM lineitem)""".stripMargin,

    "manifest_hilbert_box3" ->
      """SELECT count(*) AS n_rows,
        |  coalesce(round(sum(l_quantity), 2), 0.0) AS sum_qty,
        |  TRUE AS files_pruned_ok, TRUE AS opens_leq_morton_ok,
        |  TRUE AS equals_full_scan_ok
        |FROM lineitem
        |WHERE l_partkey
        |    BETWEEN (SELECT max(l_partkey) // 4 FROM lineitem)
        |        AND (SELECT max(l_partkey) // 2 FROM lineitem)
        |  AND l_suppkey
        |    BETWEEN (SELECT max(l_suppkey) // 4 FROM lineitem)
        |        AND (SELECT max(l_suppkey) // 2 FROM lineitem)
        |  AND l_orderkey
        |    BETWEEN (SELECT max(l_orderkey) // 4 FROM lineitem)
        |        AND (SELECT max(l_orderkey) // 2 FROM lineitem)""".stripMargin,

    "manifest_optimize_incremental" ->
      """SELECT count(*) AS n_rows, TRUE AS partial_rewrite_ok,
        |  TRUE AS untouched_by_name_ok, TRUE AS equals_pre_optimize_ok,
        |  TRUE AS opens_near_full_ok, TRUE AS fixed_point_ok
        |FROM lineitem""".stripMargin,

    "manifest_optimize_incremental3" ->
      """SELECT count(*) AS n_rows, TRUE AS partial_rewrite_ok,
        |  TRUE AS untouched_by_name_ok, TRUE AS equals_pre_optimize_ok,
        |  TRUE AS opens_near_full_ok, TRUE AS fixed_point_ok
        |FROM lineitem""".stripMargin,

    "manifest_optimize_budgeted" ->
      """SELECT count(*) AS n_rows, TRUE AS prod_partial_rewrite_ok,
        |  TRUE AS prod_untouched_by_name_ok,
        |  TRUE AS prod_equals_pre_optimize_ok,
        |  TRUE AS prod_opens_near_full_ok, TRUE AS prod_fixed_point_ok,
        |  TRUE AS budget_multi_pass_ok, TRUE AS budget_respected_ok,
        |  TRUE AS budget_served_every_pass_ok,
        |  TRUE AS bytes_budget_multi_pass_ok,
        |  TRUE AS bytes_budget_served_ok
        |FROM lineitem""".stripMargin,

    "manifest_count_only" ->
      """SELECT count(*) AS n_rows,
        |  count(CASE WHEN l_partkey % 7 = 0 THEN 1 END) AS n_nulls,
        |  count(CASE WHEN l_partkey % 7 <> 0 THEN 1 END) AS n_not_null,
        |  TRUE AS zero_data_file_opens_ok
        |FROM lineitem""".stripMargin,

    "manifest_index_unified" ->
      """SELECT count(*) AS n_rows,
        |  TRUE AS one_scan_ok, TRUE AS files_match_ok,
        |  TRUE AS bloom_bytes_equal_ok, TRUE AS ndv_bytes_equal_ok,
        |  TRUE AS bloom_serving_equal_ok, TRUE AS ndv_serving_equal_ok,
        |  TRUE AS kll_n_exact_and_envelope_ok
        |FROM lineitem""".stripMargin,

    "manifest_ndv" ->
      """SELECT count(DISTINCT l_partkey) AS n_distinct_all,
        |  TRUE AS append_tracked_ok,
        |  TRUE AS estimate_within_rse_ok,
        |  TRUE AS range_estimate_within_rse_ok,
        |  TRUE AS compaction_invisible_ok,
        |  TRUE AS zero_data_file_opens_ok
        |FROM lineitem""".stripMargin,

    "manifest_time_travel" ->
      """SELECT
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey % 3 = 0)
        |    AS n_asof0,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey % 3 < 2)
        |    AS n_asof1,
        |  (SELECT count(*) FROM lineitem) AS n_latest,
        |  TRUE AS snapshot_equals_slices_ok,
        |  TRUE AS historical_prune_equals_filter_ok,
        |  TRUE AS snapshot_monotone_ok""".stripMargin,

    "manifest_delete" ->
      """SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty,
        |  (SELECT count(*) FROM lineitem
        |   WHERE l_orderkey
        |     BETWEEN (SELECT max(l_orderkey) // 3 FROM lineitem)
        |         AND (SELECT max(l_orderkey) // 2 FROM lineitem))
        |    AS n_deleted,
        |  TRUE AS copy_on_write_ok, TRUE AS untouched_not_rewritten_ok,
        |  TRUE AS rows_balance_ok, TRUE AS time_travel_preserved_ok,
        |  TRUE AS count_only_reflects_delete_ok,
        |  TRUE AS vacuum_serving_unchanged_ok,
        |  TRUE AS vacuumed_only_dead_files_ok
        |FROM lineitem
        |WHERE l_orderkey
        |  NOT BETWEEN (SELECT max(l_orderkey) // 3 FROM lineitem)
        |          AND (SELECT max(l_orderkey) // 2 FROM lineitem)""".stripMargin,

    "manifest_merge" ->
      """WITH upd AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity + 100 AS l_quantity
        |  FROM lineitem
        |  WHERE l_orderkey
        |    BETWEEN (SELECT max(l_orderkey) // 3 FROM lineitem)
        |        AND (SELECT max(l_orderkey) // 2 FROM lineitem)
        |  UNION ALL
        |  SELECT l_orderkey + (SELECT max(l_orderkey) FROM lineitem),
        |    l_linenumber, l_quantity
        |  FROM lineitem WHERE l_orderkey < 100
        |), merged AS (
        |  SELECT l.l_orderkey, l.l_linenumber, l.l_quantity FROM lineitem l
        |  WHERE l.l_orderkey NOT IN (SELECT DISTINCT l_orderkey FROM upd)
        |  UNION ALL SELECT * FROM upd
        |)
        |SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty,
        |  (SELECT count(*) FROM upd) AS n_upserted,
        |  TRUE AS equals_merge_semantics_ok, TRUE AS copy_on_write_ok,
        |  TRUE AS time_travel_preserved_ok, TRUE AS count_only_consistent_ok
        |FROM merged""".stripMargin,

    "manifest_optimize" ->
      """SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty,
        |  TRUE AS files_reduced_ok, TRUE AS content_identical_ok,
        |  TRUE AS big_files_untouched_ok, TRUE AS time_travel_preserved_ok,
        |  TRUE AS idempotent_ok
        |FROM lineitem""".stripMargin,

    "manifest_bloom_point" ->
      """SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty,
        |  TRUE AS no_false_negatives_ok, TRUE AS bloom_prunes_ok,
        |  TRUE AS zone_maps_cannot_ok, TRUE AS bloom_tight_ok
        |FROM lineitem
        |WHERE l_orderkey = (
        |  SELECT max(l_orderkey) FROM lineitem
        |  WHERE l_orderkey <= (SELECT max(l_orderkey) // 2 FROM lineitem))"""
        .stripMargin
  )

  /** Memoized per-dir manifest stores for the timed serving forms below:
    * build + append ONCE per (JVM, dir), serve many times. The contract
    * forms above run build + append + compact + three equality baselines
    * inside the bench timer — QA harness cost; a 100 TB deployment builds
    * its manifest once and pays per QUERY for the pruned read alone. Same
    * pattern as `bm25_indexed`'s timed form (r10 verdict item #4).
    */
  private case class ManifestStores(pruneMan: String, ttMan: String,
      zMan: String, cntMan: String, lo: Long, hi: Long,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long,
      z3Man: String, zLo3: Long, zHi3: Long,
      zoMan: String, zoTbl: String)

  private def stores(s: SparkSession, dir: String): ManifestStores =
    Staging.memo(s, s"manifest-stores $dir") {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      // prune store — the contract query's exact layout (6 + 2 files)
      val tbl = Staging.dir(s, "graft-mtimed-tbl-")
      val pruneMan = Staging.dir(s, "graft-mtimed-man-")
      Layout.layoutWriteExact(li.filter(col("l_orderkey") % 4 =!= 3),
        Seq(col("l_orderkey"), col("l_linenumber")), s"$tbl/d0", 6)
      Layout.layoutWriteExact(li.filter(col("l_orderkey") % 4 === 3),
        Seq(col("l_orderkey"), col("l_linenumber")), s"$tbl/d1", 2)
      Manifest.buildManifest(s, s"$tbl/d0", Seq("l_orderkey"), pruneMan)
      Manifest.appendToManifest(s, Seq(s"$tbl/d1"), Seq("l_orderkey"),
        pruneMan)
      // time-travel store — 3 batch segments, uncompacted (history stays
      // addressable)
      val ttTbl = Staging.dir(s, "graft-mtimed-tttbl-")
      val ttMan = Staging.dir(s, "graft-mtimed-ttman-")
      (0 to 2).foreach { i =>
        li.filter(col("l_orderkey") % 3 === i).coalesce(2)
          .write.mode("overwrite").parquet(s"$ttTbl/d$i")
      }
      Manifest.buildManifest(s, s"$ttTbl/d0", Seq("l_orderkey"), ttMan)
      (1 to 2).foreach(i => Manifest.appendToManifest(s, Seq(s"$ttTbl/d$i"),
        Seq("l_orderkey"), ttMan, batchId = i))
      // z-order store — 16 Morton-clustered files
      val li2 = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val zTbl = Staging.dir(s, "graft-mtimed-ztbl-")
      val zMan = Staging.dir(s, "graft-mtimed-zman-")
      Layout.zorderWriteExact(li2, "l_partkey", "l_suppkey", s"$zTbl/d0", 16)
      Manifest.buildManifest(s, s"$zTbl/d0",
        Seq("l_partkey", "l_suppkey"), zMan)
      // count store — planted nulls (the contract query's projection)
      val cTbl = Staging.dir(s, "graft-mtimed-ctbl-")
      val cntMan = Staging.dir(s, "graft-mtimed-cman-")
      t(s, dir, "lineitem").select(col("l_orderkey"),
          when(col("l_partkey") % 7 === 0, lit(null))
            .otherwise(col("l_partkey")).as("pk"))
        .coalesce(4).write.mode("overwrite").parquet(s"$cTbl/d0")
      Manifest.buildManifest(s, s"$cTbl/d0", Seq("pk"), cntMan)
      // 3-D z-order store — 16 files tight in all three axes
      val li3 = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
          col("l_quantity"))
      val z3Tbl = Staging.dir(s, "graft-mtimed-z3tbl-")
      val z3Man = Staging.dir(s, "graft-mtimed-z3man-")
      Layout.zorder3WriteExact(li3, "l_partkey", "l_suppkey",
        "l_orderkey", s"$z3Tbl/d0", 16)
      Manifest.buildManifest(s, s"$z3Tbl/d0",
        Seq("l_partkey", "l_suppkey", "l_orderkey"), z3Man)
      // pristine hash-scattered store for the optimize timed form
      val zoTbl = Staging.dir(s, "graft-mtimed-zotbl-")
      val zoMan = Staging.dir(s, "graft-mtimed-zoman-")
      li2.repartition(16, col("l_partkey").cast("string"))
        .write.mode("overwrite").parquet(s"$zoTbl/d0")
      Manifest.buildManifest(s, s"$zoTbl/d0",
        Seq("l_partkey", "l_suppkey"), zoMan)
      val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
      val m2 = li2.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
      ManifestStores(pruneMan, ttMan, zMan, cntMan, mx / 3, mx / 2,
        m2.getLong(0) / 4, m2.getLong(0) / 2,
        m2.getLong(1) / 4, m2.getLong(1) / 2,
        z3Man, mx / 4, mx / 2, zoMan, zoTbl)
    }

  /** Bench overrides: serving-only forms over the memoized stores — the
    * timer sees one pruned/manifest-only read, the operator itself. The
    * contract forms (and their maintenance/equality checks) stay in
    * Verify via `queries`.
    */
  val timed: Map[String, Q] = Map(
    // r15: the timer covers the compaction OPERATOR (list → coalesce →
    // rewrite → swap on a fresh copy of the staged 40-file table) plus one
    // read of the compacted output. The contract form (Verify) keeps the
    // fragmentation staging write and the two full-table checksum
    // equalities — QA harness around the operator, ~2/3 of the old wall.
    "compact_files" -> ((s, dir) => {
      // staged 40-file fragmented orders table (read-only; copied to a
      // fresh work dir per rep — compaction mutates its input)
      val staged = Staging.memo(s, s"compact-files $dir") {
        val d = Staging.dir(s, "graft-compactf-stage-")
        t(s, dir, "orders").repartition(40)
          .write.mode("overwrite").parquet(s"$d/t")
        s"$d/t"
      }
      // the row holds computed values only, so the rep's work dir is
      // deleted once they are in
      val run =
        new org.apache.hadoop.fs.Path(Staging.dir(s, "graft-compactf-run-"))
      val work = s"$run/t"
      try {
        graft.fs.copyTree(Paths.get(staged), Paths.get(work))
        val (nBefore, nAfter) = graft.sources.Maintenance
          .compactParquet(s, work, targetFileBytes = 512L * 1024 * 1024)
        Contracts.row(s,
          "n_rows" -> s.read.parquet(work).count(),
          "files_before" -> nBefore.toLong,
          "files_after" -> nAfter.toLong)
      } finally
        run.getFileSystem(s.sparkContext.hadoopConfiguration).delete(run, true)
    }),
    "manifest_prune" -> ((s, dir) => {
      val st = stores(s, dir)
      Manifest.prunedRead(s, st.pruneMan, "l_orderkey", st.lo, st.hi)._1
    }),
    "manifest_time_travel" -> ((s, dir) => {
      val st = stores(s, dir)
      Manifest.prunedRead(s, st.ttMan, "l_orderkey", st.lo, st.hi,
        asOf = 1)._1
    }),
    "manifest_zorder_box" -> ((s, dir) => {
      val st = stores(s, dir)
      Manifest.prunedReadBox(s, st.zMan, "l_partkey", st.xLo, st.xHi,
        "l_suppkey", st.yLo, st.yHi)._1
    }),
    // serving only: one hilbert-pruned box read — the layout/manifest
    // build is memoized one-off ingest; the morton comparison and
    // full-scan equality stay in Verify
    "manifest_hilbert_box" -> ((s, dir) => {
      val (man, xLo, xHi, yLo, yHi) =
        Staging.memo(s, s"hilbert-box $dir") {
          val li = t(s, dir, "lineitem")
            .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
          val tbl = Staging.dir(s, "graft-manhb-bench-")
          val man0 = Staging.dir(s, "graft-manhb-bman-")
          Layout.hilbertWriteExact(li, "l_partkey", "l_suppkey",
            s"$tbl/dh", 16)
          Manifest.buildManifest(s, s"$tbl/dh",
            Seq("l_partkey", "l_suppkey"), man0)
          val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey")))
            .head()
          (man0, mx.getLong(0) / 4, mx.getLong(0) / 2,
            mx.getLong(1) / 4, mx.getLong(1) / 2)
        }
      Manifest.prunedReadBox(s, man, "l_partkey", xLo, xHi,
        "l_suppkey", yLo, yHi)._1
    }),
    "manifest_count_only" -> ((s, dir) => {
      val st = stores(s, dir)
      Manifest.countOnly(s, st.cntMan, "pk")
    }),
    "manifest_zorder_box3" -> ((s, dir) => {
      val st = stores(s, dir)
      Manifest.prunedReadBox3(s, st.z3Man, "l_partkey", st.xLo, st.xHi,
        "l_suppkey", st.yLo, st.yHi, "l_orderkey", st.zLo3, st.zHi3)._1
    }),
    // history view only, over the memoized 2-segment store — the DML
    // lifecycle it audits stays in Verify
    "manifest_history" -> ((s, dir) => {
      val st = stores(s, dir)
      Manifest.history(s, st.pruneMan)
    }),
    // the rewrite IS the operator (the manifest_delete DML pattern):
    // copy the TINY pristine manifest, time optimizeZorder against the
    // shared immutable hash-scattered files
    "manifest_zorder_optimize" -> ((s, dir) => {
      val st = stores(s, dir)
      val base = Staging.dir(s, "graft-manzo-run-")
      val man = s"$base/man"
      graft.fs.copyTree(Paths.get(st.zoMan), Paths.get(man))
      val (r, c) = Manifest.optimizeZorder(s, man, s"$base/rw",
        "l_partkey", "l_suppkey", Seq("l_partkey", "l_suppkey"), 16)
      Contracts.row(s, "files_rewritten" -> r, "files_created" -> c)
    }),
    // same shape, hilbert curve: the timer sees the curve-parameterized
    // COW rewrite; the morton-twin opens comparison stays in Verify
    "manifest_hilbert_optimize" -> ((s, dir) => {
      val st = stores(s, dir)
      val base = Staging.dir(s, "graft-manho-run-")
      val man = s"$base/man"
      graft.fs.copyTree(Paths.get(st.zoMan), Paths.get(man))
      val (r, c) = Manifest.optimizeLayout(s, man, s"$base/rw",
        "l_partkey", "l_suppkey", Seq("l_partkey", "l_suppkey"), 16,
        curve = "hilbert")
      Contracts.row(s, "files_rewritten" -> r, "files_created" -> c)
    }),
    // serving only: one hilbert-3-D-pruned box read over the memoized
    // store — the morton21 twin and full-scan equality stay in Verify
    "manifest_hilbert_box3" -> ((s, dir) => {
      val st = stores(s, dir)
      val man = Staging.memo(s, s"hilbert3-manifest $dir") {
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
            col("l_quantity"))
        val tbl = Staging.dir(s, "graft-manh3-bench-")
        val man0 = Staging.dir(s, "graft-manh3-bman-")
        Layout.hilbert3WriteExact(li, "l_partkey", "l_suppkey",
          "l_orderkey", s"$tbl/dh", 16)
        Manifest.buildManifest(s, s"$tbl/dh",
          Seq("l_partkey", "l_suppkey", "l_orderkey"), man0)
        man0
      }
      Manifest.prunedReadBox3(s, man, "l_partkey", st.xLo, st.xHi,
        "l_suppkey", st.yLo, st.yHi, "l_orderkey", st.zLo3, st.zHi3)._1
    }),
    // the INCREMENTAL rewrite is the operator: copy the pristine
    // sorted+appended manifest, re-layout only the overlapping tail —
    // the full-twin opens comparison and fixed-point check stay in Verify
    "manifest_optimize_incremental" -> ((s, dir) => {
      val pristine = incOptManifest(s, dir)
      val base = Staging.dir(s, "graft-manoi-run-")
      val man = s"$base/man"
      graft.fs.copyTree(Paths.get(pristine), Paths.get(man))
      val (r, c, k) = Manifest.optimizeLayoutIncremental(s, man,
        s"$base/rw", "l_partkey", "l_suppkey",
        Seq("l_partkey", "l_suppkey"), curve = "hilbert")
      Contracts.row(s, "files_rewritten" -> r, "files_created" -> c,
        "clusters" -> k)
    }),
    "manifest_optimize_incremental3" -> ((s, dir) => {
      val pristine = Staging.memo(s, s"inc-opt3-manifest $dir") {
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
            col("l_quantity"))
        val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey")),
          max(col("l_orderkey"))).head()
        val boxCond = col("l_partkey") > mx.getLong(0) * 3 / 4 &&
          col("l_suppkey") > mx.getLong(1) * 3 / 4 &&
          col("l_orderkey") > mx.getLong(2) * 3 / 4
        val tbl = Staging.dir(s, "graft-manoi3-bench-")
        val man0 = Staging.dir(s, "graft-manoi3-bman-")
        val cols = Seq("l_partkey", "l_suppkey", "l_orderkey")
        Layout.hilbert3WriteExact(li.filter(!boxCond),
          "l_partkey", "l_suppkey", "l_orderkey", s"$tbl/d0", 12)
        li.filter(boxCond).repartition(2, col("l_partkey"))
          .write.mode("overwrite").parquet(s"$tbl/d1")
        Manifest.buildManifest(s, s"$tbl/d0", cols, man0)
        Manifest.appendToManifest(s, Seq(s"$tbl/d1"), cols, man0)
        man0
      }
      val base = Staging.dir(s, "graft-manoi3-run-")
      val man = s"$base/man"
      graft.fs.copyTree(Paths.get(pristine), Paths.get(man))
      val (r, c, k) = Manifest.optimizeLayoutIncremental(s, man,
        s"$base/rw", "l_partkey", "l_suppkey",
        Seq("l_partkey", "l_suppkey", "l_orderkey"),
        curve = "hilbert", zCol = "l_orderkey")
      Contracts.row(s, "files_rewritten" -> r, "files_created" -> c,
        "clusters" -> k)
    }),
    // the PRODUCTION incremental rewrite is the operator: same pristine
    // corner-append manifest, cluster rewrites through the range-shuffle
    // writers — the budget drain and both twins' opens audits stay in
    // Verify
    "manifest_optimize_budgeted" -> ((s, dir) => {
      val pristine = incOptManifest(s, dir)
      val base = Staging.dir(s, "graft-manob-run-")
      val man = s"$base/man"
      graft.fs.copyTree(Paths.get(pristine), Paths.get(man))
      val (r, c, k) = Manifest.optimizeLayoutIncremental(s, man,
        s"$base/rw", "l_partkey", "l_suppkey",
        Seq("l_partkey", "l_suppkey"), curve = "hilbert",
        deterministic = false)
      Contracts.row(s, "files_rewritten" -> r, "files_created" -> c,
        "clusters" -> k)
    }),
    // DML timed forms: the base table files and pristine manifests are
    // memoized; each call copies the TINY pristine manifest (a few KB) and
    // runs the operator against the shared immutable table files —
    // copy-on-write means DML never mutates them — so the timer tracks the
    // operator (manifest prune + affected-file rewrite + segment append),
    // not fixture generation. The lifecycle checks stay in Verify.
    "manifest_delete" -> ((s, dir) => {
      val st = dmlStores(s, dir)
      val base = Staging.dir(s, "graft-mandel-run-")
      val man = s"$base/man"
      graft.fs.copyTree(Paths.get(st.delMan), Paths.get(man))
      val (a, tot, d) = Manifest.deleteRange(s, man, "l_orderkey",
        st.lo, st.hi, s"$base/rw", Seq("l_orderkey"))
      Contracts.row(s, "files_affected" -> a, "files_total" -> tot,
        "rows_deleted" -> d)
    }),
    "manifest_optimize" -> ((s, dir) => {
      val st = dmlStores(s, dir)
      val base = Staging.dir(s, "graft-manopt-run-")
      val man = s"$base/man"
      graft.fs.copyTree(Paths.get(st.optMan), Paths.get(man))
      val (m, c) = Manifest.optimizeSmallFiles(s, man, s"$base/opt",
        Seq("l_orderkey"), st.target, st.minR)
      Contracts.row(s, "files_merged" -> m, "files_created" -> c)
    }),
    "manifest_merge" -> ((s, dir) => {
      val st = dmlStores(s, dir)
      val base = Staging.dir(s, "graft-manmrg-run-")
      val man = s"$base/man"
      graft.fs.copyTree(Paths.get(st.delMan), Paths.get(man))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val upd = li.filter(col("l_orderkey").between(st.lo, st.hi))
        .withColumn("l_quantity", col("l_quantity") + 100)
      val (a, tot, u) = Manifest.mergeInto(s, man, upd, "l_orderkey",
        s"$base/rw", Seq("l_orderkey"))
      Contracts.row(s, "files_affected" -> a, "files_total" -> tot,
        "rows_upserted" -> u)
    }),
    "manifest_bloom_point" -> ((s, dir) => {
      val st = dmlStores(s, dir)
      Manifest.bloomPrunedRead(s, st.bloomIdx, "l_orderkey", st.bloomKey)._1
    }),
    // serving only: both sketch-union estimates against the memoized
    // stores — the exactness baselines stay in Verify
    "manifest_ndv" -> ((s, dir) => {
      val st = dmlStores(s, dir)
      Manifest.ndvEstimateAll(s, st.ndvIdx).unionByName(
        Manifest.ndvEstimateForRange(s, st.ndvIdx, st.ndvMan,
          "l_orderkey", 0L, st.ndvHi))
    }),
    // serving only: one merged range-quantile estimate — the exact-
    // envelope baselines stay in Verify
    "manifest_quantile" -> ((s, dir) => {
      val st = dmlStores(s, dir)
      Manifest.quantileEstimateForRange(s, st.qIdx, st.qMan,
        "l_orderkey", 0L, st.ndvHi, Seq(0.5, 0.9))
    }),
    // timed: the ONE-SCAN unified build itself (three sidecar stores from
    // one pass over a memoized table copy) — the build IS the operator;
    // the per-family byte/serving-equivalence harness stays in Verify.
    "manifest_index_unified" -> ((s, dir) => {
      val tbl = Staging.memo(s, s"unified-index-table $dir") {
        val p = Staging.dir(s, "graft-manuni-bench-")
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
          .repartitionByRange(4, col("l_orderkey"))
          .write.mode("overwrite").parquet(s"$p/d0")
        p
      }
      val bloom = Staging.dir(s, "graft-ub-")
      Manifest.buildFileIndexes(s, s"$tbl/d0", "l_partkey", "l_quantity",
        bloom, Staging.dir(s, "graft-un-"), Staging.dir(s, "graft-uk-"))
      // listing-sized read-back (4 rows) proves the build landed without
      // adding a second table pass to the timed number
      s.read.parquet(s"$bloom/b0").select(col("file"))
    }),
    // timed: the hilbert layout simulation only (one global-order ntile +
    // per-file box aggregation over the hilbert key, the SAME
    // Layout.fileBoxes core the contract certifies); the morton/linear
    // comparison baselines stay in Verify.
    "hilbert_layout" -> ((s, dir) => {
      val orders = scaledOrders(s, dir)
      Layout.fileBoxes(orders,
        Seq(Layout.hilbert16Key(orders, "x", "y"), col("x"), col("y")),
        "x", "y", nFiles = 16)
    }))

  /** Memoized pristine sorted+appended manifest for the incremental
    * OPTIMIZE timed forms (the zoMan posture: copied per call, never
    * mutated in place).
    */
  private def incOptManifest(s: SparkSession, dir: String): String =
    Staging.memo(s, s"inc-opt-manifest $dir") {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
      val boxCond = col("l_partkey") > mx.getLong(0) * 3 / 4 &&
        col("l_suppkey") > mx.getLong(1) * 3 / 4
      val tbl = Staging.dir(s, "graft-manoi-bench-")
      val man0 = Staging.dir(s, "graft-manoi-bman-")
      Layout.hilbertWriteExact(li.filter(!boxCond),
        "l_partkey", "l_suppkey", s"$tbl/d0", 12)
      li.filter(boxCond).repartition(2, col("l_partkey"))
        .write.mode("overwrite").parquet(s"$tbl/d1")
      Manifest.buildManifest(s, s"$tbl/d0",
        Seq("l_partkey", "l_suppkey"), man0)
      Manifest.appendToManifest(s, Seq(s"$tbl/d1"),
        Seq("l_partkey", "l_suppkey"), man0)
      man0
    }

  /** Memoized fixtures for the DML/bloom/NDV/quantile timed forms above. */
  private case class DmlStores(delMan: String, lo: Long, hi: Long,
      optMan: String, target: Long, minR: Long,
      bloomIdx: String, bloomKey: Long,
      ndvMan: String, ndvIdx: String, ndvHi: Long,
      qMan: String, qIdx: String)

  private def dmlStores(s: SparkSession, dir: String): DmlStores =
    Staging.memo(s, s"dml-stores $dir") {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val delTbl = Staging.dir(s, "graft-dtimed-tbl-")
      val delMan = Staging.dir(s, "graft-dtimed-man-")
      Layout.layoutWriteExact(li,
        Seq(col("l_orderkey"), col("l_linenumber")), s"$delTbl/d0", 8)
      Manifest.buildManifest(s, s"$delTbl/d0", Seq("l_orderkey"), delMan)
      val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
      val li2 = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val optTbl = Staging.dir(s, "graft-otimed-tbl-")
      val optMan = Staging.dir(s, "graft-otimed-man-")
      li2.filter(col("l_orderkey") % 4 === 3).repartition(12)
        .write.mode("overwrite").parquet(s"$optTbl/d0")
      li2.filter(col("l_orderkey") % 4 =!= 3).repartition(2)
        .write.mode("overwrite").parquet(s"$optTbl/d1")
      Manifest.buildManifest(s, s"$optTbl/d0", Seq("l_orderkey"), optMan)
      Manifest.appendToManifest(s, Seq(s"$optTbl/d1"), Seq("l_orderkey"),
        optMan, batchId = 1)
      val rows = li2.count()
      val blTbl = Staging.dir(s, "graft-btimed-tbl-")
      val blIdx = Staging.dir(s, "graft-btimed-idx-")
      li2.repartition(16, col("l_orderkey"))
        .write.mode("overwrite").parquet(s"$blTbl/d0")
      Manifest.buildBloomIndex(s, s"$blTbl/d0", "l_orderkey", blIdx,
        expectedPerFile = 100000L)
      val key = li2.filter(col("l_orderkey") <= mx / 2)
        .agg(max(col("l_orderkey"))).head().getLong(0)
      val ndvTbl = Staging.dir(s, "graft-ntimed-tbl-")
      val ndvMan = Staging.dir(s, "graft-ntimed-man-")
      val ndvIdx = Staging.dir(s, "graft-ntimed-idx-")
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        .repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").parquet(s"$ndvTbl/d0")
      Manifest.buildManifest(s, s"$ndvTbl/d0", Seq("l_orderkey"), ndvMan)
      Manifest.buildNdvIndex(s, s"$ndvTbl/d0", "l_partkey", ndvIdx)
      val qTbl = Staging.dir(s, "graft-qtimed-tbl-")
      val qMan = Staging.dir(s, "graft-qtimed-man-")
      val qIdx = Staging.dir(s, "graft-qtimed-idx-")
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
        .repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").parquet(s"$qTbl/d0")
      Manifest.buildManifest(s, s"$qTbl/d0", Seq("l_orderkey"), qMan)
      Manifest.buildQuantileIndex(s, s"$qTbl/d0", "l_quantity", qIdx)
      DmlStores(delMan, mx / 3, mx / 2,
        optMan, math.max(4L, rows / 8), math.max(2L, rows / 16),
        blIdx, key, ndvMan, ndvIdx, mx / 4, qMan, qIdx)
    }
}
