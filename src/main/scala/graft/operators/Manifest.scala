package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Persisted file-level zone-map manifest — Delta/Iceberg-style data
  * skipping built from plain parquet. One row per data file carries the
  * file's row count and per-column [min, max]; a range query consults the
  * manifest FIRST and reads only the files whose interval intersects the
  * predicate. This is the scan-planning move the reference's
  * one-file-at-a-time handler never needs (it is handed its input key,
  * `cmd/parquetgo-record-processor/handler.go:104`) but a 100 TB table
  * cannot live without: footer min/max stats prune ROW GROUPS only after
  * every file is opened and listed — the manifest prunes the LISTING, so
  * planning cost is O(surviving files), not O(all files), and a narrow
  * range over a clustered layout (see [[Layout]]) opens a handful of files
  * out of hundreds of thousands.
  *
  * Store shape matches the repo's other persisted stores (text index,
  * gram-df, SRP, IVF-PQ): batchId-keyed `b<N>` segments — the initial
  * build is `b0`, each append lands stats for ONLY the new files as an
  * overwrite-mode `b<id>` segment (history is never re-scanned; replayed
  * appends rewrite their own rows), and [[Dedup.compactSegmentDirs]]
  * merges segments back to one (rows are disjoint: a data file's stats
  * row lives in exactly one segment). The manifest IS the table listing:
  * a file is part of the table iff a manifest row names it, so
  * build+append defines the snapshot the same way an Iceberg manifest
  * list does.
  *
  * Scale notes: stats are computed by one distributed scan that projects
  * ONLY the stats columns (parquet columnar reads keep the pass cheap) and
  * groups by `input_file_name()` — per-file state, so shuffle volume is
  * one row per file. At 100 TB / 512 MB files the manifest is ~200k rows —
  * the pruned file list collects to the driver exactly like every file
  * listing Spark's own FileIndex already does.
  */
object Manifest {

  /** Per-file stats of the parquet files under `paths`: one row per file
    * with `nrows` and `min_<c>` / `max_<c>` / `nulls_<c>` for each of
    * `statsCols` (Iceberg manifests carry per-file row and null counts
    * alongside the zone maps — they answer `count(*)` and IS NULL-heavy
    * predicates with ZERO file opens, see [[countOnly]]). The scan
    * projects only `statsCols`.
    */
  private def fileStats(spark: SparkSession, paths: Seq[String],
      statsCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("nrows") +:
      statsCols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
          count(when(col(c).isNull, lit(1))).as(s"nulls_$c")))
    // recursiveFileLookup: stats must cover every file under the path,
    // including plain (non key=value) nested batch dirs like d0/d1/… —
    // partition-discovery listing alone does not promise that. Stats
    // columns are data columns, so losing partition-column inference here
    // costs nothing.
    spark.read.option("recursiveFileLookup", "true").parquet(paths: _*)
      .select(input_file_name().as("file") +: statsCols.map(col): _*)
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Build the manifest over every parquet file currently under
    * `tablePath` (recursive) and persist it as segment `b0` of
    * `manifestPath`. A rebuild replaces every existing segment — it
    * defines a fresh snapshot, and a stale append segment surviving it
    * would resurrect files the rebuild chose to drop.
    */
  def buildManifest(spark: SparkSession, tablePath: String,
      statsCols: Seq[String], manifestPath: String): Unit =
    Segments.open(spark, manifestPath).replaceAll("b0")(
      fileStats(spark, Seq(tablePath), statsCols).coalesce(1).write.parquet)

  /** `batchId`, or the store's next id when it is negative. */
  private def idOr(spark: SparkSession, path: String, batchId: Long): Long =
    if (batchId >= 0) batchId else Segments.nextId(spark, path)

  /** Append stats for NEWLY LANDED data files — exactly the given paths —
    * as one `b<batchId>` overwrite segment. O(new files): history is never
    * re-scanned. A caller-supplied `batchId` (e.g. a streaming batch id)
    * makes at-least-once replay idempotent; the default takes
    * max-existing+1.
    */
  def appendToManifest(spark: SparkSession, newPaths: Seq[String],
      statsCols: Seq[String], manifestPath: String,
      batchId: Long = -1L): Unit =
    if (newPaths.nonEmpty)
      Segments.put(spark, manifestPath, s"b${idOr(spark, manifestPath, batchId)}")(
        fileStats(spark, newPaths, statsCols).coalesce(1).write.parquet)

  /** Segment merge — the [[Segments]] compaction, as in
    * [[Dedup.compactSegmentDirs]], but manifest-aware: the merged `b-1`
    * segment is the RESOLVED live listing (tombstones applied and dropped),
    * so compaction doubles as Iceberg's expire-snapshots for DML history —
    * removed files stop being addressable at any `asOf`, which is exactly
    * the precondition [[vacuumTable]] requires before it may physically
    * delete them. A generic row-union merge would be WRONG here: the plain
    * (no mergeSchema) union could drop the `removed` column and resurrect
    * every deleted file.
    */
  def compactManifest(spark: SparkSession, manifestPath: String): Unit = {
    val store = Segments.open(spark, manifestPath)
    if (store.ids.nonEmpty)
      store.replaceAll("b-1")(resolved(spark, store.paths()).coalesce(1).write.parquet)
  }

  /** The current manifest: union of all segments, one row per data file. */
  def readManifest(spark: SparkSession, manifestPath: String): DataFrame =
    readManifestAsOf(spark, manifestPath, Long.MaxValue)

  /** The manifest AS OF batch `asOf` — time travel, the way Iceberg's
    * snapshot list gets it: because the manifest IS the table listing and
    * appends are immutable batchId-keyed segments, the table at batch N is
    * simply the union of segments with id ≤ N. No data file is rewritten
    * or tombstoned, so every historical snapshot reads at full scan speed
    * and prunes like the current one. Compaction is the snapshot-expiry
    * horizon: it collapses segments into `b-1` (always included here), so
    * snapshots older than the last compaction are no longer addressable —
    * run compaction at the cadence your audit window allows, exactly like
    * Iceberg's expire-snapshots.
    */
  private def segmentPathsAsOf(spark: SparkSession, manifestPath: String,
      asOf: Long): Seq[String] = {
    val store = Segments.open(spark, manifestPath)
    // a compacted store has collapsed its history into b-1: serving a
    // finite asOf from it would silently return the MERGED listing (too
    // many files) instead of the snapshot — fail loudly, like reading an
    // expired Iceberg snapshot
    require(asOf == Long.MaxValue || !store.ids.contains(-1L),
      s"snapshot asOf=$asOf expired: compaction collapsed $manifestPath's " +
        "history into b-1; only the current listing is addressable")
    val segs = store.paths(_ <= asOf)
    require(segs.nonEmpty,
      s"no manifest segment at or below batch $asOf under $manifestPath")
    segs
  }

  /** Segments → the LIVE file listing: union the segment rows (mergeSchema,
    * because pre-DML segments predate the `removed` column), then apply
    * tombstones — a file is live iff it has an add row and no remove row in
    * the segment set. [[deleteRange]] / [[optimizeSmallFiles]] never rewrite
    * history; they append a segment whose remove rows hide the rewritten
    * files, so resolution is a tiny anti-join on the manifest itself (one
    * row per file / per removed file — broadcast-sized by construction).
    * Removed files are never re-added under the same name (rewrites land as
    * fresh part files), so set-subtraction is the whole merge rule — no
    * per-file latest-wins ordering needed.
    */
  private def resolved(spark: SparkSession, segs: Seq[String]): DataFrame = {
    val raw = spark.read.option("mergeSchema", "true").parquet(segs: _*)
    if (!raw.columns.contains("removed")) raw
    else {
      val rm = coalesce(col("removed"), lit(false))
      raw.filter(!rm).drop("removed")
        .join(broadcast(raw.filter(rm).select(col("file"))),
          Seq("file"), "left_anti")
    }
  }

  def readManifestAsOf(spark: SparkSession, manifestPath: String,
      asOf: Long): DataFrame =
    resolved(spark, segmentPathsAsOf(spark, manifestPath, asOf))

  /** File identity is `input_file_name()`'s PERCENT-ENCODED URI string,
    * and serving feeds paths back to `spark.read.parquet`, which applies
    * Hadoop GLOB expansion to every path. Two traps compose: (1) the raw
    * URI form points at a file that does not exist under its literal name
    * (`part-[0].parquet` comes back as `part-%5B0%5D.parquet`), and
    * (2) after decoding, glob metacharacters `* ? [ ] { } \` in the real
    * name would expand to the wrong file set (or none). So: decode the
    * URI (scheme + authority preserved, path percent-decoded), then
    * backslash-escape the metacharacters so Hadoop's glob matcher reads
    * the path literally.
    */
  private def globEscape(uriStr: String): String = {
    val u = new java.net.URI(uriStr)
    val sb = new StringBuilder
    if (u.getScheme != null) sb.append(u.getScheme).append(':')
    if (u.getAuthority != null) sb.append("//").append(u.getAuthority)
    sb.append(u.getPath) // getPath DECODES the percent escapes
    sb.toString.replaceAll("([*?\\[\\]{}\\\\])", "\\\\$1")
  }

  /** Shared prune tail: select the per-file stats columns, keep files
    * passing `keep`, read exactly those, apply the residual row filter.
    * An empty prune window still returns a schema-stable empty frame (read
    * one manifest'd file, keep no rows); a manifest that names NO files at
    * all is unservable — there is no schema to stabilize on — and fails
    * loudly instead of with a bare head() NoSuchElementException.
    */
  private def prunedBy(spark: SparkSession, manifestPath: String, asOf: Long,
      statCols: Seq[String], keep: DataFrame => DataFrame,
      residual: Column): (DataFrame, Long, Long) = {
    val m = readManifestAsOf(spark, manifestPath, asOf)
      .select(col("file") +: statCols.map(col): _*)
      .localCheckpoint() // tiny (one row/file); probed twice below
    val total = m.count()
    require(total > 0,
      s"manifest at $manifestPath names no files — nothing to serve")
    val surviving = keep(m)
      .select(col("file")).collect().map(r => globEscape(r.getString(0)))
      .toSeq
    val df =
      if (surviving.isEmpty)
        spark.read
          .parquet(globEscape(m.select(col("file")).head().getString(0)))
          .filter(lit(false))
      else spark.read.parquet(surviving: _*)
    (df.filter(residual), surviving.size.toLong, total)
  }

  /** Serve `statsCol BETWEEN lo AND hi` from the manifest: prune the file
    * list to files whose [min, max] intersects [lo, hi], read only those,
    * and apply the residual row filter (zone maps prune files, not rows).
    * Returns the result plus (files read, files total) so callers — and
    * the driver contract — can grade the pruning, not just the answer.
    */
  def prunedRead(spark: SparkSession, manifestPath: String, statsCol: String,
      lo: Any, hi: Any, asOf: Long = Long.MaxValue): (DataFrame, Long, Long) =
    prunedBy(spark, manifestPath, asOf,
      Seq(s"min_$statsCol", s"max_$statsCol"),
      _.filter(col(s"min_$statsCol") <= lit(hi) &&
        col(s"max_$statsCol") >= lit(lo)),
      col(statsCol).between(lit(lo), lit(hi)))

  /** Two-dimensional box prune: files whose [min, max] interval intersects
    * the query range in BOTH stats columns. This is where the manifest
    * composes with [[Layout]]'s z-ordering: a Morton-clustered layout makes
    * every file's box tight in both dimensions at once, so a 2-D selective
    * box opens a handful of files where a linear sort only prunes its
    * leading column — the manifest turns that geometric property into
    * skipped file OPENS, not just skipped row groups.
    */
  def prunedReadBox(spark: SparkSession, manifestPath: String,
      xCol: String, xLo: Any, xHi: Any, yCol: String, yLo: Any, yHi: Any,
      asOf: Long = Long.MaxValue): (DataFrame, Long, Long) =
    prunedBy(spark, manifestPath, asOf,
      Seq(s"min_$xCol", s"max_$xCol", s"min_$yCol", s"max_$yCol"),
      _.filter(col(s"min_$xCol") <= lit(xHi) &&
        col(s"max_$xCol") >= lit(xLo) &&
        col(s"min_$yCol") <= lit(yHi) && col(s"max_$yCol") >= lit(yLo)),
      col(xCol).between(lit(xLo), lit(xHi)) &&
        col(yCol).between(lit(yLo), lit(yHi)))

  /** Three-dimensional box prune: the [[prunedReadBox]] geometry in all
    * three axes at once — the payoff of a 3-D Morton layout
    * ([[Layout.zorder3WriteExact]]): every file's box is tight in x, y AND
    * z, so a selective 3-D box opens a corner's worth of files where a
    * linear sort prunes one axis and a 2-D curve two.
    */
  def prunedReadBox3(spark: SparkSession, manifestPath: String,
      xCol: String, xLo: Any, xHi: Any, yCol: String, yLo: Any, yHi: Any,
      zCol: String, zLo: Any, zHi: Any,
      asOf: Long = Long.MaxValue): (DataFrame, Long, Long) =
    prunedBy(spark, manifestPath, asOf,
      Seq(s"min_$xCol", s"max_$xCol", s"min_$yCol", s"max_$yCol",
        s"min_$zCol", s"max_$zCol"),
      _.filter(col(s"min_$xCol") <= lit(xHi) &&
        col(s"max_$xCol") >= lit(xLo) &&
        col(s"min_$yCol") <= lit(yHi) && col(s"max_$yCol") >= lit(yLo) &&
        col(s"min_$zCol") <= lit(zHi) && col(s"max_$zCol") >= lit(zLo)),
      col(xCol).between(lit(xLo), lit(xHi)) &&
        col(yCol).between(lit(yLo), lit(yHi)) &&
        col(zCol).between(lit(zLo), lit(zHi)))

  /** Manifest-ONLY aggregates: `count(*)` plus `statsCol`'s null and
    * non-null counts, answered entirely from the stats table — zero data
    * files are opened (the plan's only scan is the manifest itself). This
    * is the Iceberg metadata-table count path at file-set scale, and the
    * file-set generalization of the reference's own footer-metadata count
    * (`cmd/duckdb-record-processor/handler.go:65-72` answers COUNT(*)
    * from one file's parquet footer without decoding rows). At 100 TB a
    * `count(*)` or `count(c IS NOT NULL)` over 200k files costs one scan
    * of a 200k-row manifest instead of 200k file opens.
    */
  def countOnly(spark: SparkSession, manifestPath: String, statsCol: String,
      asOf: Long = Long.MaxValue): DataFrame = {
    // resolved(): mergeSchema (a long-lived store whose older segments
    // predate the null-count columns must not pick one footer's schema at
    // random) + tombstone application (a DML'd store's removed files must
    // not count) — then a loud completeness check refusing to sum through
    // any LIVE file-stats row that lacks the counts this aggregate needs.
    val m = resolved(spark, segmentPathsAsOf(spark, manifestPath, asOf))
    val nc = s"nulls_$statsCol"
    require(m.columns.contains(nc),
      s"manifest at $manifestPath carries no null-count stats for " +
        s"'$statsCol' — rebuild it with statsCols including the column")
    val incomplete =
      m.filter(col(nc).isNull || col("nrows").isNull).count()
    require(incomplete == 0,
      s"$incomplete file-stats rows in $manifestPath predate the " +
        s"null-count stats for '$statsCol' — rebuild the manifest; " +
        "summing through them would silently undercount")
    m.agg(
      sum(col("nrows")).as("n_rows"),
      sum(col(nc)).as("n_nulls"),
      (sum(col("nrows")) - sum(col(nc))).as("n_not_null"))
  }

  /** Full-listing read of every file the manifest names (as of `asOf`) —
    * the unpruned baseline [[prunedRead]] is graded against, and the
    * time-travel read when `asOf` pins a historical snapshot.
    */
  def fullRead(spark: SparkSession, manifestPath: String,
      asOf: Long = Long.MaxValue): DataFrame = {
    val files = readManifestAsOf(spark, manifestPath, asOf)
      .select(col("file")).collect().map(r => globEscape(r.getString(0)))
      .toSeq
    require(files.nonEmpty,
      s"manifest at $manifestPath names no files — nothing to serve")
    spark.read.parquet(files: _*)
  }

  // ------------------------------------------------------------------
  // Copy-on-write DML — the manifest as a transaction log.
  //
  // The reference mutates nothing (its handlers are read-transform-publish,
  // `cmd/parquetgo-record-processor/handler.go:104`), but a 100 TB curated
  // corpus needs takedowns and small-file hygiene, and parquet files are
  // immutable — so deletion is Delta/Iceberg copy-on-write: rewrite ONLY
  // the files the zone maps say intersect the predicate, then append one
  // segment that tombstones the rewritten files and adds the rewrites.
  // History is never touched: a pre-delete `asOf` still serves the
  // original files (the tombstones live in a later segment), compaction is
  // the snapshot-expiry horizon, and only a compacted (= expired) store
  // may be vacuumed.
  // ------------------------------------------------------------------

  /** True iff `dir` contains at least one parquet part file — an empty
    * rewrite (every row of every affected file deleted) legitimately
    * writes none.
    */
  private def hasParquetFiles(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
  }

  /** Append the DML segment: tombstone rows for `removedFiles` plus fresh
    * stats rows (`removed = false`) for the files under `addedDir`.
    * Returns the add rows' total row count. An EMPTY rewrite (every row of
    * every affected file deleted — possibly as zero-row part files Spark
    * wrote for the empty frame) gets no add rows AND its directory removed:
    * leaving it would plant unreferenced `.parquet` orphans for vacuum to
    * count as dead files.
    */
  private def rewriteSegment(spark: SparkSession, manifestPath: String,
      bid: Long, removedFiles: Seq[String], addedDir: Option[String],
      statsCols: Seq[String]): Long = {
    import spark.implicits._
    val tomb = removedFiles.toDF("file").withColumn("removed", lit(true))
    val addStats = addedDir.filter(d => hasParquetFiles(spark, d))
      .map(d => fileStats(spark, Seq(d), statsCols)
        .withColumn("removed", lit(false)).localCheckpoint())
      .filter(_.count() > 0)
    if (addStats.isEmpty) addedDir.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val seg = addStats match {
      case Some(a) => a.unionByName(tomb, allowMissingColumns = true)
      case None    => tomb
    }
    Segments.put(spark, manifestPath, s"b$bid")(seg.coalesce(1).write.parquet)
    if (addStats.isEmpty) 0L
    else Segments.open(spark, manifestPath).read(_ == bid)
      .filter(!coalesce(col("removed"), lit(false)))
      .agg(coalesce(sum(col("nrows")), lit(0L))).head().getLong(0)
  }

  /** Copy-on-write `DELETE WHERE statsCol BETWEEN lo AND hi`: the zone maps
    * pick the affected files (files whose [min, max] misses the range are
    * NOT rewritten — at 100 TB on a clustered layout that is almost all of
    * them), the affected files are re-read minus the matching rows and land
    * as fresh part files under `rewriteDir/b<batchId>`, and one appended
    * segment tombstones the originals and adds the rewrites. Time travel is
    * free: a pre-delete `asOf` excludes the tombstone segment and serves
    * the original files untouched. Returns (files affected, files total,
    * rows deleted).
    */
  def deleteRange(spark: SparkSession, manifestPath: String, statsCol: String,
      lo: Any, hi: Any, rewriteDir: String, statsCols: Seq[String],
      batchId: Long = -1L): (Long, Long, Long) = {
    val m = readManifest(spark, manifestPath)
      .select(col("file"), col("nrows"),
        col(s"min_$statsCol"), col(s"max_$statsCol"))
      .localCheckpoint() // tiny (one row/file); probed twice below
    val total = m.count()
    val affected = m.filter(col(s"min_$statsCol") <= lit(hi) &&
        col(s"max_$statsCol") >= lit(lo))
      .select(col("file"), col("nrows")).collect()
    if (affected.isEmpty) return (0L, total, 0L)
    val bid = idOr(spark, manifestPath, batchId)
    val out = s"$rewriteDir/b$bid"
    spark.read.parquet(affected.map(r => globEscape(r.getString(0))).toSeq: _*)
      .filter(!col(statsCol).between(lit(lo), lit(hi)))
      .coalesce(math.max(1, affected.length / 2))
      .write.mode("overwrite").parquet(out)
    val kept = rewriteSegment(spark, manifestPath, bid,
      affected.map(_.getString(0)).toSeq, Some(out), statsCols)
    (affected.length.toLong, total, affected.map(_.getLong(1)).sum - kept)
  }

  /** Copy-on-write MERGE (upsert) — the Delta `MERGE INTO` shape: rows of
    * `updates` whose `keyCol` matches existing rows REPLACE them (all rows
    * under a matched key — the key need not be unique); unmatched update
    * rows are inserts. Zone maps bound the rewrite: only files whose
    * [min, max] can contain an update key are re-read (matched keys are
    * anti-joined out) and rewritten together with the full update batch;
    * every other file is untouched. The update batch is assumed
    * serving-batch-sized and broadcasts onto the affected-file scan — the
    * corrections-into-a-100 TB-fact-table posture; a fact-sized update set
    * is a rewrite, not a merge. Returns (files affected, files total,
    * update rows).
    */
  def mergeInto(spark: SparkSession, manifestPath: String,
      updates: DataFrame, keyCol: String, rewriteDir: String,
      statsCols: Seq[String], batchId: Long = -1L): (Long, Long, Long) = {
    val m = readManifest(spark, manifestPath)
      .select(col("file"), col(s"min_$keyCol"), col(s"max_$keyCol"))
      .localCheckpoint()
    val total = m.count()
    val keys = updates.select(col(keyCol)).distinct().localCheckpoint()
    val affected = m.join(broadcast(keys),
        col(s"min_$keyCol") <= col(keyCol) &&
          col(s"max_$keyCol") >= col(keyCol), "left_semi")
      .select(col("file")).collect().map(_.getString(0))
    val bid = idOr(spark, manifestPath, batchId)
    val out = s"$rewriteDir/b$bid"
    val rewritten =
      if (affected.isEmpty) updates // pure insert: no file can match
      else spark.read.parquet(affected.map(globEscape).toSeq: _*)
        .join(broadcast(keys), Seq(keyCol), "left_anti")
        .unionByName(updates)
    rewritten.coalesce(math.max(1, affected.length))
      .write.mode("overwrite").parquet(out)
    rewriteSegment(spark, manifestPath, bid, affected.toSeq, Some(out),
      statsCols)
    (affected.length.toLong, total, updates.count())
  }

  /** Bin-packing OPTIMIZE (Delta's small-file compaction as manifest DML):
    * every live file under `minRows` is merged into
    * ceil(total small rows / targetRows) right-sized files; files already
    * at size are untouched. One appended segment tombstones the merged
    * originals and adds the rewrites — served content is identical by
    * construction, and pre-optimize snapshots still list the small files.
    * Returns (files merged, files created). Two thresholds on purpose
    * (Delta's minFileSize/maxFileSize split): candidates are files under
    * `minRows` (default targetRows/2) but output is sized to `targetRows`,
    * so a merged file — which lands in (targetRows/2, targetRows] — can
    * never be re-picked by the next run; a single threshold would re-merge
    * its own output forever. The rewrite is ONE distributed scan +
    * repartition write, not a per-bin loop — at 100 TB the small-file tail
    * is millions of files and per-bin jobs would serialize on the driver.
    */
  def optimizeSmallFiles(spark: SparkSession, manifestPath: String,
      rewriteDir: String, statsCols: Seq[String], targetRows: Long,
      minRows: Long = -1L, batchId: Long = -1L): (Long, Long) = {
    val mp = new org.apache.hadoop.fs.Path(manifestPath)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val minR = if (minRows > 0) minRows else math.max(1L, targetRows / 2)
    require(minR <= targetRows,
      s"minRows $minR must not exceed targetRows $targetRows")
    val small = readManifest(spark, manifestPath)
      .filter(col("nrows") < lit(minR))
      .select(col("file"), col("nrows")).collect().sortBy(_.getString(0))
    if (small.length < 2) return (0L, 0L)
    val bid = idOr(spark, manifestPath, batchId)
    val out = s"$rewriteDir/b$bid"
    val nOut = math.max(1,
      math.ceil(small.map(_.getLong(1)).sum.toDouble / targetRows).toInt)
    spark.read.parquet(small.map(r => globEscape(r.getString(0))).toSeq: _*)
      .repartition(nOut)
      .write.mode("overwrite").parquet(out)
    rewriteSegment(spark, manifestPath, bid,
      small.map(_.getString(0)).toSeq, Some(out), statsCols)
    val created = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(out), true)
      var n = 0L
      while (it.hasNext)
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    (small.length.toLong, created)
  }

  /** OPTIMIZE ZORDER as a manifest DML: rewrite EVERY live file into
    * `nFiles` z-ordered files under `rewriteDir/b<id>` and swap the
    * listing in one tombstone-plus-stats segment — the Delta/Iceberg
    * re-clustering move, here composed from the same copy-on-write
    * machinery as [[deleteRange]]/[[mergeInto]]: pre-optimize snapshots
    * stay addressable at their `asOf` (the old files are tombstoned, not
    * deleted — [[vacuumTable]] reclaims them after compaction expires the
    * history), and replay with the same batchId rewrites its own segment.
    *
    * The rewrite uses the DETERMINISTIC curve writer
    * ([[Layout.zorderWriteExact]]) so pruning contracts are stable run to
    * run; a production deployment swaps in [[Layout.zorderWrite]]'s
    * range-shuffle form (sampled boundaries, fully parallel) — the
    * manifest bookkeeping is identical. Returns
    * (files rewritten, files created).
    */
  def optimizeZorder(spark: SparkSession, manifestPath: String,
      rewriteDir: String, xCol: String, yCol: String,
      statsCols: Seq[String], nFiles: Int,
      batchId: Long = -1L): (Long, Long) =
    optimizeLayout(spark, manifestPath, rewriteDir, xCol, yCol, statsCols,
      nFiles, curve = "morton", batchId = batchId)

  /** The writer matrix behind [[optimizeLayout]] — ONE registry (curve ×
    * dimensionality × exact/production) so the full and incremental
    * OPTIMIZE forms can never disagree on what a curve name means.
    * `zCol` empty = 2-D; `deterministic = false` = the range-shuffle
    * production writers (sampled boundaries, fully parallel — the form a
    * 100 TB re-layout runs), `true` = the global-ntile exact writers
    * whose file boxes are identical run to run (the pruning-contract
    * form for bounded tables).
    */
  private def layoutWriter(curve: String, xCol: String, yCol: String,
      zCol: String, nFiles: Int,
      deterministic: Boolean): (DataFrame, String) => Unit =
    (df: DataFrame, path: String) =>
      (curve, zCol.isEmpty, deterministic) match {
        case ("morton", true, true) =>
          Layout.zorderWriteExact(df, xCol, yCol, path, nFiles)
        case ("morton", true, false) =>
          Layout.zorderWrite(df, xCol, yCol, path, nFiles)
        case ("hilbert", true, true) =>
          Layout.hilbertWriteExact(df, xCol, yCol, path, nFiles)
        case ("hilbert", true, false) =>
          Layout.hilbertWrite(df, xCol, yCol, path, nFiles)
        case ("morton", false, true) =>
          Layout.zorder3WriteExact(df, xCol, yCol, zCol, path, nFiles)
        case ("morton", false, false) =>
          Layout.zorder3Write(df, xCol, yCol, zCol, path, nFiles)
        case ("hilbert", false, true) =>
          Layout.hilbert3WriteExact(df, xCol, yCol, zCol, path, nFiles)
        case ("hilbert", false, false) =>
          Layout.hilbert3Write(df, xCol, yCol, zCol, path, nFiles)
        case (other, _, _) => throw new IllegalArgumentException(
          s"unknown layout curve '$other' — expected 'morton' or 'hilbert'")
      }

  /** The curve key column for `curve` over (xCol, yCol(, zCol)) — shared
    * by [[optimizeLayoutIncremental]]'s per-file range scan and any
    * caller that needs the key the writers sort by.
    */
  private def curveKey(curve: String, xCol: String, yCol: String,
      zCol: String): Column = (curve, zCol.isEmpty) match {
    case ("morton", true)   => Layout.morton16(col(xCol), col(yCol))
    case ("hilbert", true)  => Layout.hilbert16Key(xCol, yCol)
    case ("morton", false)  =>
      Layout.morton21(col(xCol), col(yCol), col(zCol))
    case ("hilbert", false) => Layout.hilbert21Key(xCol, yCol, zCol)
    case (other, _) => throw new IllegalArgumentException(
      s"unknown layout curve '$other' — expected 'morton' or 'hilbert'")
  }

  /** [[optimizeZorder]] parameterized by curve (`"morton"` or
    * `"hilbert"`): the identical copy-on-write segment swap, with the
    * rewrite ordered by the chosen space-filling key — so OPTIMIZE can
    * re-layout a table onto the jump-free Hilbert order through the same
    * manifest bookkeeping, snapshots and vacuum rules as the Morton form.
    * `deterministic = true` (default) uses the exact ntile writers whose
    * file boxes are identical run to run — the pruning-contract form for
    * bounded tables; `deterministic = false` uses the PRODUCTION
    * range-shuffle writers ([[Layout.zorderWrite]]/[[Layout.hilbertWrite]]
    * — sampled boundaries, fully parallel, the form a 100 TB re-layout
    * actually runs). The manifest bookkeeping is identical either way.
    */
  def optimizeLayout(spark: SparkSession, manifestPath: String,
      rewriteDir: String, xCol: String, yCol: String,
      statsCols: Seq[String], nFiles: Int, curve: String = "morton",
      batchId: Long = -1L, deterministic: Boolean = true,
      zCol: String = ""): (Long, Long) = {
    val mp = new org.apache.hadoop.fs.Path(manifestPath)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = readManifest(spark, manifestPath)
      .select(col("file")).collect().map(_.getString(0)).sorted
    require(files.nonEmpty,
      s"manifest at $manifestPath names no files — nothing to optimize")
    val bid = idOr(spark, manifestPath, batchId)
    val out = s"$rewriteDir/b$bid"
    layoutWriter(curve, xCol, yCol, zCol, nFiles, deterministic)(
      spark.read.parquet(files.map(globEscape).toSeq: _*), out)
    rewriteSegment(spark, manifestPath, bid, files.toSeq, Some(out),
      statsCols)
    // report the files the rewrite ACTUALLY produced (ntile writes fewer
    // than nFiles on a small table) — echoing the parameter would be
    // metadata that lies to accounting callers
    val created = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(out), true)
      var n = 0L
      while (it.hasNext)
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    (files.length.toLong, created)
  }

  /** INCREMENTAL re-layout: rewrite ONLY the live files whose curve-key
    * ranges strictly overlap another file's — the Delta-style incremental
    * clustering posture. [[optimizeLayout]] rewrites every live file per
    * call, which at 100 TB makes OPTIMIZE a full-table sort every run;
    * after an initial full layout, new data arrives as appended files
    * whose key ranges overlap each other and a bounded slice of the
    * sorted tail, so re-layouting just the overlapping cluster(s)
    * restores pruning at O(new data), not O(table).
    *
    * Mechanics: one x/y-only scan over the live files computes each
    * file's [min, max] on the curve key; the driver sweeps the
    * listing-sized interval set into overlap clusters (files touching at
    * a single key value count as disjoint — a point-touch cannot loosen
    * a box); every cluster of ≥ 2 files is rewritten with the
    * deterministic curve writer into its own `c<i>` subdir of one
    * `b<id>` rewrite batch, and ONE appended segment tombstones the
    * originals and adds the rewrites. Because an overlap cluster's
    * interval union is contiguous, rewritten files stay inside the
    * cluster's span and can never come to overlap a file that was
    * disjoint before — the disjoint set is a fixed point. Returns
    * (files rewritten, files created, clusters rewritten).
    *
    * `deterministic = false` routes every cluster rewrite through the
    * PRODUCTION range-shuffle writers ([[layoutWriter]]'s sampled-
    * boundary, fully-parallel forms — the form a 100 TB cluster actually
    * rewrites with); `true` keeps the exact ntile writers for bounded
    * pruning contracts. Either form keeps the fixed point: both write
    * key-disjoint files inside the cluster's span (the range partitioner
    * routes equal keys to one partition, ntile splits a total order).
    *
    * `maxClusterFiles` bounds the rewrite work PER CLUSTER PER CALL — the
    * guard against the pathological interleave where one overlap cluster
    * covers the whole table and "incremental" OPTIMIZE degenerates into a
    * full-table sort in one call. An oversized cluster is PREFIX-PEELED:
    * the `maxClusterFiles` lowest-kmin files are read, rows below the
    * cutoff (the kmin of the first unselected file) are laid out as FINAL
    * files — nothing else in the table can reach below the cutoff, so
    * they can never be rewritten again — and rows at/above it land in one
    * spill file that rejoins the residual cluster next call. Each call
    * removes `maxClusterFiles` files and adds at most one still-
    * overlapping spill, so the cluster's live file count strictly shrinks
    * by `maxClusterFiles - 1` per call and a giant cluster drains in
    * ⌈(n-1)/(maxClusterFiles-1)⌉ budgeted calls, the table serving
    * correctly between them (every pass is one COW tombstone+add
    * segment).
    *
    * `maxClusterBytes` is the same dial in BYTES — the unit a production
    * maintenance window is actually budgeted in, and the guard against
    * file-count budgets meaning nothing once spill files grow: a cluster
    * whose file sizes sum past it is peeled at the longest kmin-prefix
    * under BOTH budgets. The peel unit floor is 2 files (a 1-file
    * rewrite is a no-op), so when even two files exceed the byte budget
    * the call still makes progress and the byte bound is best-effort for
    * exactly that pass; a 2-file cluster over the byte budget rewrites
    * whole (there is no smaller rewrite). File sizes come from one
    * `getFileStatus` per cluster member — listing-sized metadata, no
    * data read.
    *
    * Null handling (both forms): a live file whose curve-key min/max are
    * null (every row null on a layout column) has no range — it cannot
    * strictly overlap anything, so it is left in place like any disjoint
    * file. Rows with null keys inside a ranged file rewrite with their
    * cluster (the writers order nulls first); during a peel they follow
    * the spill side until the residual cluster rewrites whole.
    */
  def optimizeLayoutIncremental(spark: SparkSession, manifestPath: String,
      rewriteDir: String, xCol: String, yCol: String,
      statsCols: Seq[String], curve: String = "morton",
      batchId: Long = -1L, zCol: String = "",
      deterministic: Boolean = true,
      maxClusterFiles: Int = Int.MaxValue,
      maxClusterBytes: Long = Long.MaxValue): (Long, Long, Long) = {
    require(maxClusterFiles >= 2,
      s"maxClusterFiles must be >= 2 (a cluster is >= 2 files), " +
        s"got $maxClusterFiles")
    require(maxClusterBytes > 0,
      s"maxClusterBytes must be positive, got $maxClusterBytes")
    val mp = new org.apache.hadoop.fs.Path(manifestPath)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = readManifest(spark, manifestPath)
      .select(col("file")).collect().map(_.getString(0)).sorted
    require(live.nonEmpty,
      s"manifest at $manifestPath names no files — nothing to optimize")
    val scan = spark.read.parquet(live.map(globEscape).toSeq: _*)
    val ranges = scan
      .select(input_file_name().as("file"),
        curveKey(curve, xCol, yCol, zCol).as("k"))
      .groupBy(col("file"))
      .agg(min(col("k")).as("kmin"), max(col("k")).as("kmax"))
      .collect()
      // min/max ignore nulls, so null kmin/kmax = every row null on a
      // layout column: rangeless, treated as disjoint (see scaladoc)
      .collect { case r if !r.isNullAt(1) && !r.isNullAt(2) =>
        (r.getString(0), r.getLong(1), r.getLong(2))
      }
      .sortBy(r => (r._2, r._3, r._1))
    if (ranges.isEmpty) return (0L, 0L, 0L)
    // sweep into strict-overlap clusters: extend the open cluster while
    // the next interval starts BEFORE the running max end (equality =
    // point-touch = disjoint for pruning purposes)
    val clusters = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer(ranges.head))
    var end = ranges.head._3
    ranges.tail.foreach { r =>
      if (r._2 < end) { clusters.last += r; end = math.max(end, r._3) }
      else { clusters += scala.collection.mutable.ArrayBuffer(r); end = r._3 }
    }
    val rewrite = clusters.filter(_.length >= 2)
    if (rewrite.isEmpty) return (0L, 0L, 0L)
    val bid = idOr(spark, manifestPath, batchId)
    val out = s"$rewriteDir/b$bid"
    val removed = scala.collection.mutable.ArrayBuffer[String]()
    // one getFileStatus per cluster member, only when a byte budget is
    // set — listing-sized metadata (decode: the manifest stores
    // input_file_name()'s percent-encoded URI, the fs wants a raw path)
    def memberSizes(cl: Seq[(String, Long, Long)]): Array[Long] =
      if (maxClusterBytes == Long.MaxValue) null
      else cl.map { r =>
        val p = new org.apache.hadoop.fs.Path(
          new java.net.URI(r._1).getPath)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getLen
      }.toArray
    rewrite.zipWithIndex.foreach { case (cl, i) =>
      val sz = memberSizes(cl.toSeq)
      val overBytes = sz != null && sz.sum > maxClusterBytes
      // peel length: the longest kmin-prefix under BOTH budgets, floored
      // at the 2-file peel unit and capped so >= 1 file stays unselected
      // (the cutoff source); k == cl.length means "rewrite whole" — which
      // a 2-file over-bytes cluster does, there being no smaller rewrite
      val k =
        if (cl.length <= maxClusterFiles && !overBytes) cl.length
        else {
          var n = 2
          var acc = if (sz == null) 0L else sz(0) + sz(1)
          while (n < cl.length - 1 && n < maxClusterFiles &&
              (sz == null || acc + sz(n) <= maxClusterBytes)) {
            if (sz != null) acc += sz(n)
            n += 1
          }
          math.min(n, cl.length)
        }
      if (k >= cl.length) {
        layoutWriter(curve, xCol, yCol, zCol, cl.length, deterministic)(
          spark.read.parquet(cl.map(r => globEscape(r._1)).toSeq: _*),
          s"$out/c$i")
        removed ++= cl.map(_._1)
      } else {
        // budgeted prefix-peel (see scaladoc): finalize [., cutoff),
        // spill [cutoff, .] back into the residual cluster
        val sel = cl.take(k)
        val cutoff = cl(k)._2
        val df = spark.read
          .parquet(sel.map(r => globEscape(r._1)).toSeq: _*)
        val key = curveKey(curve, xCol, yCol, zCol)
        val cnt = df.agg(
          sum(when(key < cutoff, 1L).otherwise(0L)),
          count(lit(1))).head()
        val nFinal = if (cnt.isNullAt(0)) 0L else cnt.getLong(0)
        val nSpill = cnt.getLong(1) - nFinal
        if (nFinal > 0)
          layoutWriter(curve, xCol, yCol, zCol, sel.length, deterministic)(
            df.filter(key < cutoff), s"$out/c$i")
        if (nSpill > 0)
          // coalesce: a null key makes `key < cutoff` null, and a bare
          // negation would drop the row from BOTH sides — null-key rows
          // follow the spill (see scaladoc)
          layoutWriter(curve, xCol, yCol, zCol, 1, deterministic)(
            df.filter(!coalesce(key < cutoff, lit(false))), s"$out/c${i}s")
        removed ++= sel.map(_._1)
      }
    }
    rewriteSegment(spark, manifestPath, bid, removed.toSeq, Some(out),
      statsCols)
    val created = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(out), true)
      var n = 0L
      while (it.hasNext)
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    (removed.length.toLong, created, rewrite.length.toLong)
  }

  /** Physically delete data files under `dataRoots` that the manifest no
    * longer serves. Legal ONLY on a compacted store (single `b-1` segment):
    * compaction is the snapshot-expiry horizon, so before it runs a
    * historical `asOf` may still reference a tombstoned file and vacuuming
    * it would corrupt time travel — exactly Iceberg's
    * expire-snapshots-before-remove-orphans ordering. Returns the number of
    * files deleted. Paths are compared DECODED (the manifest stores
    * `input_file_name()`'s percent-encoded URI; the filesystem listing
    * yields raw paths).
    */
  def vacuumTable(spark: SparkSession, manifestPath: String,
      dataRoots: Seq[String]): Long = {
    val segIds = Segments.open(spark, manifestPath).ids
    require(segIds.nonEmpty && segIds.forall(_ == -1L),
      s"vacuum requires a compacted manifest at $manifestPath (single b-1 " +
        "segment): un-expired snapshots may still reference removed files")
    val live = readManifest(spark, manifestPath).select(col("file"))
      .collect().map(r => new java.net.URI(r.getString(0)).getPath).toSet
    var n = 0L
    dataRoots.foreach { root =>
      val rp = new org.apache.hadoop.fs.Path(root)
      val rfs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (rfs.exists(rp)) {
        val it = rfs.listFiles(rp, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet") &&
              !live.contains(st.getPath.toUri.getPath)) {
            rfs.delete(st.getPath, false)
            n += 1
          }
        }
      }
    }
    n
  }

  // ------------------------------------------------------------------
  // Per-file Bloom index — point-lookup skipping where zone maps can't.
  //
  // Zone maps prune RANGES on clustered layouts; on a hash-distributed
  // layout every file's [min, max] spans ~the whole keyspace and a point
  // predicate prunes nothing. A per-file Bloom filter (Iceberg puffin /
  // parquet bloom_filter posture, lifted to the file listing) answers
  // "might this FILE contain key k" with no false negatives, so an
  // equality lookup opens only the file(s) that actually hold the key
  // plus an fpp-bounded handful of false positives.
  // ------------------------------------------------------------------

  /** Typed merge-friendly Bloom aggregator: one filter per group (file).
    * Spark's own `util.sketch.BloomFilter` — mergeable, java-serializable
    * buffer (the [[graft.operators.Sketches]] aggregator posture).
    */
  private case class BloomBuild(expectedItems: Long, fpp: Double)
      extends Aggregator[java.lang.Long, BloomFilter, Array[Byte]] {
    def zero: BloomFilter = BloomFilter.create(expectedItems, fpp)
    def reduce(b: BloomFilter, a: java.lang.Long): BloomFilter = {
      if (a != null) b.putLong(a)
      b
    }
    def merge(x: BloomFilter, y: BloomFilter): BloomFilter = {
      x.mergeInPlace(y)
      x
    }
    def finish(b: BloomFilter): Array[Byte] = {
      val os = new java.io.ByteArrayOutputStream()
      b.writeTo(os)
      os.toByteArray
    }
    def bufferEncoder: Encoder[BloomFilter] =
      Encoders.javaSerialization(classOf[BloomFilter])
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Build the per-file Bloom index over `keyCol` (cast to long): one
    * distributed scan projecting only the key column, one serialized filter
    * per data file. At 100 TB / 200k files the index is a few hundred MB of
    * parquet — file-listing-scale, like the manifest itself. Segment
    * layout (`b0` + batchId-keyed appends) like the NDV/KLL stores —
    * each row is one file's independent filter, so the store compacts
    * with the generic [[Dedup.compactSegmentDirs]] too.
    */
  def buildBloomIndex(spark: SparkSession, tablePath: String, keyCol: String,
      indexPath: String, expectedPerFile: Long = 1000000L,
      fpp: Double = 0.01): Unit = {
    Segments.open(spark, indexPath).replaceAll("b0")( // rebuild = fresh snapshot
      fileBloom(spark, Seq(tablePath), keyCol, expectedPerFile, fpp).coalesce(1).write.parquet)
  }

  /** The [[appendToNdvIndex]] ingest shape for the Bloom index: filters
    * for exactly the new files as one batchId-keyed overwrite segment.
    */
  def appendToBloomIndex(spark: SparkSession, newPaths: Seq[String],
      keyCol: String, indexPath: String, expectedPerFile: Long = 1000000L,
      fpp: Double = 0.01, batchId: Long = -1L): Unit = {
    if (newPaths.isEmpty) return
    Segments.put(spark, indexPath, s"b${idOr(spark, indexPath, batchId)}")(
      fileBloom(spark, newPaths, keyCol, expectedPerFile, fpp).coalesce(1).write.parquet)
  }

  private def fileBloom(spark: SparkSession, paths: Seq[String],
      keyCol: String, expectedPerFile: Long, fpp: Double): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(paths: _*)
      .select(input_file_name().as("file"), col(keyCol).cast("long").as("k"))
      .groupBy(col("file"))
      .agg(udaf(BloomBuild(expectedPerFile, fpp)).apply(col("k")).as("bloom"))

  /** Serve `keyCol = value` through the Bloom index: probe every file's
    * filter DISTRIBUTED (the driver receives only surviving names — the
    * usual listing-sized collect), open only the surviving files, apply the
    * exact residual equality. No false negatives by the filter's guarantee;
    * false positives only cost extra file opens, bounded by fpp × files.
    * Returns (result, files read, files total).
    */
  def bloomPrunedRead(spark: SparkSession, indexPath: String, keyCol: String,
      value: Long): (DataFrame, Long, Long) = {
    import spark.implicits._
    val probed = readSegmentStore(spark, indexPath, "bloom index")
      .select(col("file"), col("bloom")).as[(String, Array[Byte])]
      .map { case (f, b) =>
        (f, BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(b)).mightContain(value))
      }.collect()
    require(probed.nonEmpty, s"bloom index at $indexPath names no files")
    val survivors = probed.filter(_._2).map(p => globEscape(p._1)).toSeq
    val df =
      if (survivors.isEmpty)
        spark.read.parquet(globEscape(probed.head._1)).filter(lit(false))
      else spark.read.parquet(survivors: _*)
    (df.filter(col(keyCol) === lit(value)),
      survivors.size.toLong, probed.length.toLong)
  }

  /** Per-file NDV (distinct-count) sketch index — the Iceberg-puffin
    * `apache-datasketches-hll` posture at the file listing: ONE scan
    * projecting only `keyCol` builds a native `hll_sketch_agg` per file
    * (mergeable binary registers, ~`2^lgConfigK` bytes each). Planning
    * questions that need distinct counts — join-side choice, selectivity,
    * "how many dictionary entries will this range scan see" — are then
    * answered by MERGING sketches over any file subset with ZERO data-file
    * opens, where the exact answer would re-scan the data (distinct counts,
    * unlike min/max/nulls, do not add across files). lgConfigK = 12 →
    * ~1.6 % relative standard error at ~4 KB per file.
    */
  def buildNdvIndex(spark: SparkSession, tablePath: String, keyCol: String,
      indexPath: String, lgConfigK: Int = 12): Unit = {
    Segments.open(spark, indexPath).replaceAll("b0")( // rebuild = fresh snapshot
      fileNdv(spark, Seq(tablePath), keyCol, lgConfigK).coalesce(1).write.parquet)
  }

  /** Append sketches for NEWLY LANDED data files — exactly the given
    * paths — as one `b<batchId>` overwrite segment: the same O(new files)
    * ingest shape as [[appendToManifest]], so a streaming pipeline keeps
    * NDV stats current per batch without rescanning history; a
    * caller-supplied batchId makes at-least-once replay idempotent.
    * Segments need no merge semantics (each row is one file's independent
    * sketch), so [[Dedup.compactSegmentDirs]] compacts this store too.
    */
  def appendToNdvIndex(spark: SparkSession, newPaths: Seq[String],
      keyCol: String, indexPath: String, lgConfigK: Int = 12,
      batchId: Long = -1L): Unit = {
    if (newPaths.isEmpty) return
    Segments.put(spark, indexPath, s"b${idOr(spark, indexPath, batchId)}")(
      fileNdv(spark, newPaths, keyCol, lgConfigK).coalesce(1).write.parquet)
  }

  private def fileNdv(spark: SparkSession, paths: Seq[String],
      keyCol: String, lgConfigK: Int): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(paths: _*)
      .select(input_file_name().as("file"), col(keyCol))
      .groupBy(col("file"))
      .agg(hll_sketch_agg(col(keyCol), lgConfigK).as("ndv_sketch"))

  /** All live segments of a per-file sketch store. */
  private def readSegmentStore(spark: SparkSession, indexPath: String,
      what: String): DataFrame = {
    val store = Segments.open(spark, indexPath)
    require(store.ids.nonEmpty, s"$what at $indexPath has no segments")
    store.read()
  }

  /** Snapshot history audit — the DESCRIBE HISTORY of this store: one row
    * per segment with files added, files tombstoned, and rows added,
    * derived from the segments themselves (each is immutable, so the
    * history is exact and free). One read of the files×segments manifest
    * rows; segment identity recovered from the path. Post-compaction the
    * history collapses to the single `b-1` row — compaction IS the
    * snapshot-expiry horizon, and this view makes that visible.
    */
  def history(spark: SparkSession, manifestPath: String): DataFrame = {
    val segs = Segments.open(spark, manifestPath).paths()
    require(segs.nonEmpty, s"manifest at $manifestPath has no segments")
    val m = spark.read.option("mergeSchema", "true")
      .parquet(segs: _*)
      .withColumn("batch_id",
        // anchored to the LEAF file's parent: an ancestor directory that
        // happens to match /b<digits>/ must not hijack every row's id
        regexp_extract(input_file_name(), "/(b-?\\d+)/[^/]*$", 1))
    // a never-DML'd store has no `removed` column at any footer
    val withRem =
      if (m.columns.contains("removed"))
        m.withColumn("is_removed", coalesce(col("removed"), lit(false)))
      else m.withColumn("is_removed", lit(false))
    withRem
      .groupBy(col("batch_id"))
      .agg(
        count(when(!col("is_removed"), lit(1))).as("n_files_added"),
        count(when(col("is_removed"), lit(1))).as("n_files_removed"),
        coalesce(sum(when(!col("is_removed"), col("nrows"))), lit(0L))
          .as("rows_added"))
  }

  /** Per-file QUANTILE sketch index (datasketches KLL, the
    * [[Sketches]] kernel): one valueCol-only scan builds a mergeable
    * ~KB sketch per file. Together with the NDV index this completes the
    * manifest's answer to the planner's three cardinality questions —
    * how many rows (nrows), how many distinct (HLL), how are values
    * DISTRIBUTED (KLL: medians, tail percentiles, histogram bounds for a
    * range scan) — all served by merging blobs over the (optionally
    * zone-map-pruned) file listing with zero data-file opens. Like
    * min/max/NDV, quantiles do not add across files; unlike them the KLL
    * merge is rank-error-bounded (~1.65 % at k=200), which the contract
    * asserts as an exact-quantile envelope, never equality.
    */
  def buildQuantileIndex(spark: SparkSession, tablePath: String,
      valueCol: String, indexPath: String, k: Int = 200): Unit = {
    Segments.open(spark, indexPath).replaceAll("b0")( // rebuild = fresh snapshot
      fileKll(spark, Seq(tablePath), valueCol, k).coalesce(1).write.parquet)
  }

  /** The [[appendToNdvIndex]] ingest shape for the quantile index:
    * sketches for exactly the new files as one batchId-keyed overwrite
    * segment; compacts with the generic segment compactor.
    */
  def appendToQuantileIndex(spark: SparkSession, newPaths: Seq[String],
      valueCol: String, indexPath: String, k: Int = 200,
      batchId: Long = -1L): Unit = {
    if (newPaths.isEmpty) return
    Segments.put(spark, indexPath, s"b${idOr(spark, indexPath, batchId)}")(
      fileKll(spark, newPaths, valueCol, k).coalesce(1).write.parquet)
  }

  private def fileKll(spark: SparkSession, paths: Seq[String],
      valueCol: String, k: Int): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(paths: _*)
      .select(input_file_name().as("file"),
        col(valueCol).cast("double").as("v"))
      .groupBy(col("file"))
      .agg(udaf(Sketches.KllBuild(k)).apply(col("v")).as("kll"))

  /** Quantile estimates over the files whose zone maps in the companion
    * manifest intersect `statsCol BETWEEN lo AND hi` — "what does the
    * value distribution of this range scan look like", answered
    * manifest-only. Returns one row per q: (q, value, n) with n the EXACT
    * row count the merged sketches saw (KLL tracks n exactly; only the
    * quantile VALUES carry rank error).
    */
  def quantileEstimateForRange(spark: SparkSession, indexPath: String,
      manifestPath: String, statsCol: String, lo: Any, hi: Any,
      qs: Seq[Double], asOf: Long = Long.MaxValue): DataFrame = {
    val surviving = readManifestAsOf(spark, manifestPath, asOf)
      .filter(col(s"min_$statsCol") <= lit(hi) &&
        col(s"max_$statsCol") >= lit(lo))
      .select(col("file"))
    val merged = readSegmentStore(spark, indexPath, "quantile index")
      .join(surviving, Seq("file"), "left_semi")
      .withColumn("g", lit("range"))
      .groupBy(col("g"))
      .agg(udaf(Sketches.KllUnion).apply(col("kll")).as("kll"))
    Sketches.kllQuantiles(merged, "g", qs)
      .select(col("q"), col("value"), col("n"))
  }

  /** Whole-table NDV estimate: union every per-file sketch. One scan of
    * the files×KB index, zero data-file opens. Returns (ndv, n_files).
    */
  def ndvEstimateAll(spark: SparkSession, indexPath: String): DataFrame =
    readSegmentStore(spark, indexPath, "NDV index")
      .agg(hll_sketch_estimate(hll_union_agg(col("ndv_sketch"))).as("ndv"),
        count(lit(1)).as("n_files"))

  /** NDV estimate restricted to the files whose zone maps in the COMPANION
    * manifest intersect `statsCol BETWEEN lo AND hi` — the composed
    * planning query ("distinct keys this range scan will see"): the
    * manifest prunes the listing, the sketch union answers the estimate,
    * and no data file opens on either step. The semi-join runs
    * DISTRIBUTED on the shared `input_file_name()` identity both stores
    * record. Returns (ndv, n_files) with n_files = files merged.
    */
  def ndvEstimateForRange(spark: SparkSession, indexPath: String,
      manifestPath: String, statsCol: String, lo: Any, hi: Any,
      asOf: Long = Long.MaxValue): DataFrame = {
    val surviving = readManifestAsOf(spark, manifestPath, asOf)
      .filter(col(s"min_$statsCol") <= lit(hi) &&
        col(s"max_$statsCol") >= lit(lo))
      .select(col("file"))
    readSegmentStore(spark, indexPath, "NDV index")
      .join(surviving, Seq("file"), "left_semi")
      .agg(hll_sketch_estimate(hll_union_agg(col("ndv_sketch"))).as("ndv"),
        count(lit(1)).as("n_files"))
  }

  // ------------------------------------------------------------------
  // Unified sidecar build — Bloom + NDV + KLL from ONE scan.
  //
  // Each per-family build above scans the table once; building all three
  // sidecars for a table therefore costs three full passes over the same
  // data. At 100 TB that is the difference between a nightly and a
  // weekly index refresh. The per-file grouping is identical across the
  // three (one row per `input_file_name`), so all three aggregators run
  // in the SAME groupBy — one scan, one shuffle of (key, value) pairs,
  // three listing-sized writes off a checkpointed files×sketches frame.
  // ------------------------------------------------------------------

  /** The combined per-file sketch rows:
    * (file, bloom, ndv_sketch, kll) — built with the IDENTICAL per-family
    * expressions ([[buildBloomIndex]]'s long cast, [[fileNdv]]'s raw key,
    * [[fileKll]]'s double cast). The Bloom and HLL stores come out
    * BYTE-equal to their per-family builds (both structures are
    * deterministic functions of the per-file value set); the KLL store is
    * equivalent only up to the sketch's documented rank envelope — KLL
    * compaction is RANDOMIZED (unseeded coin flips choose compaction
    * survivors once a file exceeds k items), so two builds over identical
    * data legitimately differ in bytes; n stays exact. Exposed for the
    * plan contract: this frame's physical plan must contain exactly ONE
    * FileScan.
    */
  def fileIndexRows(spark: SparkSession, paths: Seq[String], keyCol: String,
      valueCol: String, expectedPerFile: Long = 1000000L,
      fpp: Double = 0.01, lgConfigK: Int = 12, kllK: Int = 200): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(paths: _*)
      .select(input_file_name().as("file"),
        col(keyCol).cast("long").as("k_long"), col(keyCol).as("k"),
        col(valueCol).cast("double").as("v"))
      .groupBy(col("file"))
      .agg(
        udaf(BloomBuild(expectedPerFile, fpp)).apply(col("k_long"))
          .as("bloom"),
        hll_sketch_agg(col("k"), lgConfigK).as("ndv_sketch"),
        udaf(Sketches.KllBuild(kllK)).apply(col("v")).as("kll"))

  /** Build all three per-file sidecar indexes in ONE scan: each store
    * lands as a fresh `b0` segment in its per-family layout
    * ([[buildBloomIndex]]/[[buildNdvIndex]]/[[buildQuantileIndex]]), so
    * every existing serve/append/compact path works unchanged on the
    * unified build's output.
    */
  def buildFileIndexes(spark: SparkSession, tablePath: String,
      keyCol: String, valueCol: String, bloomPath: String, ndvPath: String,
      kllPath: String, expectedPerFile: Long = 1000000L, fpp: Double = 0.01,
      lgConfigK: Int = 12, kllK: Int = 200): Unit =
    writeIndexSegments(spark, Seq(tablePath), keyCol, valueCol, bloomPath,
      ndvPath, kllPath, expectedPerFile, fpp, lgConfigK, kllK,
      batchId = 0L, fresh = true)

  /** The unified APPEND: sketches for exactly the newly landed files —
    * ONE scan of the new batch feeding all three stores as batchId-keyed
    * overwrite segments (idempotent under at-least-once replay), the
    * [[appendToManifest]] O(new files) ingest shape. A streaming pipeline
    * keeps the whole planner-cardinality sidecar set current at one scan
    * per batch instead of three.
    */
  def appendToFileIndexes(spark: SparkSession, newPaths: Seq[String],
      keyCol: String, valueCol: String, bloomPath: String, ndvPath: String,
      kllPath: String, expectedPerFile: Long = 1000000L, fpp: Double = 0.01,
      lgConfigK: Int = 12, kllK: Int = 200, batchId: Long = -1L): Unit = {
    if (newPaths.isEmpty) return
    // auto batchId = max of nextId across ALL THREE stores: deriving
    // it from the bloom store alone would, after any per-family append
    // that touched only the NDV or KLL store, silently overwrite that
    // store's existing b<id> segment with unrelated rows
    val bid =
      if (batchId >= 0) batchId
      else Seq(bloomPath, ndvPath, kllPath).map(Segments.nextId(spark, _)).max
    writeIndexSegments(spark, newPaths, keyCol, valueCol, bloomPath,
      ndvPath, kllPath, expectedPerFile, fpp, lgConfigK, kllK,
      batchId = bid, fresh = false)
  }

  private def writeIndexSegments(spark: SparkSession, paths: Seq[String],
      keyCol: String, valueCol: String, bloomPath: String, ndvPath: String,
      kllPath: String, expectedPerFile: Long, fpp: Double, lgConfigK: Int,
      kllK: Int, batchId: Long, fresh: Boolean): Unit =
    // withReleased, not Dataset.unpersist: local-checkpoint blocks live in
    // the block manager until RDD GC and unpersist() cannot reach them
    // (the Layout.boxesTouching lesson) — a nightly-refresh caller must
    // not leak one checkpoint per run. All three writes complete inside
    // the scope; nothing downstream re-reads the checkpoint.
    Caching.withReleased(spark) {
      val combined = fileIndexRows(spark, paths, keyCol, valueCol,
        expectedPerFile, fpp, lgConfigK, kllK).localCheckpoint()
      def segment(path: String, rows: DataFrame): Unit = {
        val write: String => Unit = rows.coalesce(1).write.parquet
        if (fresh) Segments.open(spark, path).replaceAll(s"b$batchId")(write) // rebuild = fresh
        else Segments.put(spark, path, s"b$batchId")(write)
      }
      segment(bloomPath, combined.select(col("file"), col("bloom")))
      segment(ndvPath, combined.select(col("file"), col("ndv_sketch")))
      segment(kllPath, combined.select(col("file"), col("kll")))
    }
}
