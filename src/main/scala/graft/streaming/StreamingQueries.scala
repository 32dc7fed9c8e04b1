package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, TTLConfig, Trigger, ValueState}

import graft.{Staging, Tables}
import graft.operators.Segments

/** Structured-Streaming operators run to completion over a bounded file
  * source (`Trigger.AvailableNow`) so their final result is a plain
  * DataFrame the driver can oracle-check: the same code shape runs unbounded
  * in production — only the trigger and source change.
  *
  *  - event-time tumbling-window aggregation with a watermark;
  *  - arbitrary stateful processing via `mapGroupsWithState` (per-key
  *    running counts — state lives in the state store, partitioned by key,
  *    which is what scales it: each executor holds only its keys' state).
  */
object StreamingQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Streaming scan of the events table. The raw schema (and any legacy
    * nanos conf the file needs) comes from the same batch probe the loader
    * uses; `ts` normalization is the SHARED [[Tables.normalizeEventTs]] type
    * branch — duplicating it here unbranched is exactly how round 7 broke
    * every file-stream query when the testdata switched NANOS→MICROS.
    */
  private def rawEvents(s: SparkSession, dir: String, stage: Path): DataFrame = {
    val schema = Tables.eventsRaw(s, dir).schema
    // FileStreamSource wants a directory it can watch for arriving files;
    // stage the bounded input into a fresh one under `stage` (in production
    // this IS the landing directory and the stream just keeps running). The
    // caller owns `stage` and deletes it once the query reading it has ended.
    val in = Files.createTempDirectory(stage, "events-")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      in.resolve("events.parquet"))
    Tables.normalizeEventTs(s.readStream.schema(schema).parquet(in.toString))
  }

  /** Streaming scan of the documents table (the staging pattern of
    * [[rawEvents]], into the caller's `stage` itself). `nCopies` stages
    * that many copies of the file;
    * combined with `maxFilesPerTrigger = Some(1)` each copy lands in its
    * OWN micro-batch — the harness for proving state crosses real batch
    * boundaries.
    */
  private def rawDocs(s: SparkSession, dir: String, stage: Path, nCopies: Int,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    (1 to nCopies).foreach(i =>
      Files.copy(java.nio.file.Paths.get(s"$dir/documents.parquet"),
        stage.resolve(s"copy${i}_documents.parquet")))
    val reader = s.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    reader.parquet(stage.toString)
  }

  /** Staged n-file split input per (source dir, family), memoized through
    * [[Staging.memo]] — scaffolding, not operator: deterministic
    * `sliceKey % n` slices of the same table, written once and read-only
    * afterwards, shared by the contract and timed forms and across bench
    * reps; each RUN still gets its own fresh checkpoint/snapshot/work dirs.
    * One family per distinct frame: folds that stream the same columns
    * share one staged split.
    */
  private def stagedSplit(s: SparkSession, dir: String, fam: String,
      df: => DataFrame, sliceKey: org.apache.spark.sql.Column,
      n: Int = 3): String =
    Staging.memo(s, s"split $fam $dir") {
      val d = Staging.dir(s, s"graft-$fam-in-")
      val frame = df
      (0 until n).foreach { i =>
        frame.filter(sliceKey % n === i).coalesce(1)
          .write.parquet(s"$d/f$i.parquet")
      }
      d
    }

  /** Run `f` with `spark.sql.shuffle.partitions` set to `n`, restoring the
    * session value after; `None` leaves the session conf untouched.
    */
  private def withShufflePartitions[T](s: SparkSession, n: Option[Int])(
      f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = n.map { p =>
      val v = s.conf.get(key)
      s.conf.set(key, p.toString)
      v
    }
    try f finally prev.foreach(s.conf.set(key, _))
  }

  /** How long a bounded stream may run before [[awaitBounded]] gives up. */
  private[streaming] val AwaitBoundMs: Long = 30L * 60 * 1000

  /** Waits for `q` to end, at most `boundMs`; past it stops `q` and throws a
    * TimeoutException naming it. A failed query throws its
    * StreamingQueryException, as `awaitTermination` does.
    */
  private[streaming] def awaitBounded(q: StreamingQuery,
      boundMs: Long = AwaitBoundMs): Unit =
    if (!q.awaitTermination(boundMs)) {
      q.stop()
      throw new java.util.concurrent.TimeoutException(
        s"streaming query ${Option(q.name).getOrElse("(unnamed)")} (id ${q.id}) " +
          s"did not end within $boundMs ms and was stopped")
    }

  /** Runs `body` on a fresh [[Staging.dir]] named `prefix*`, then deletes
    * the dir and everything under it ([[graft.fs.deleteTree]]), whether
    * `body` ended or threw.
    */
  private def withTempDir[T](s: SparkSession, prefix: String)(
      body: Path => T): T = {
    val dir = Paths.get(Staging.dir(s, prefix))
    try body(dir) finally graft.fs.deleteTree(dir)
  }

  /** Runs `df` to completion into a memory table and returns the table. The
    * checkpoint lives only for the run: the rows are in the table once the
    * query ends.
    */
  private def runToTable(df: DataFrame, mode: String,
      s: SparkSession): DataFrame = {
    val qn = s"graft_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // Stateful operators pay per state-store-partition commit overhead every
    // micro-batch; at local bench scale 8 partitions beats 32 (a cluster
    // deployment sizes this to keyspace × executor count instead). The
    // partition count is baked into the query's checkpoint at first start,
    // so set it only for this launch and restore after.
    withTempDir(s, "graft-ckpt-") { cp =>
      withShufflePartitions(s, Some(8)) {
        awaitBounded(df.writeStream.format("memory").queryName(qn)
          .outputMode(mode)
          .option("checkpointLocation", cp.toString)
          .trigger(Trigger.AvailableNow())
          .start())
      }
    }
    s.table(qn)
  }

  /** One bounded fold run: the number of non-empty micro-batches it
    * applied, and each one's wall seconds keyed by batch id.
    */
  private case class FoldRun(batches: Long,
      walls: scala.collection.Map[Long, Double])

  /** The stream harness shared by every `run*Stream` fold: stream the
    * staged split under `inDir` one file per micro-batch
    * (`maxFilesPerTrigger` 1, `Trigger.AvailableNow`, checkpoint at
    * `<stage>/ckpt`), hand each NON-EMPTY batch and its id to `body`, and
    * wait for the run to end. An empty batch is skipped: it neither counts
    * as a batch nor lands a segment.
    *
    * `shufflePartitions`: a fold's per-batch work is joins and
    * aggregations over batch-sized frames, so at the session's partition
    * count it is task-scheduling overhead, not data (the [[runToTable]]
    * lesson). The index and segment folds run at `Some(8)` — sized per
    * batch, not per corpus; a cluster deployment raises it with the ingest
    * rate — and the session conf is restored after the run. The three
    * sketch-snapshot folds pass `None` and keep the session value.
    */
  private def runFold(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType, inDir: String,
      stage: String, shufflePartitions: Option[Int])(
      body: (DataFrame, Long) => Unit): FoldRun = {
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val walls = new scala.collection.concurrent.TrieMap[Long, Double]
    withShufflePartitions(s, shufflePartitions) {
      awaitBounded(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*.parquet")
        .writeStream
        .option("checkpointLocation", s"$stage/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          if (!b.isEmpty) {
            val bt0 = System.nanoTime()
            batches.incrementAndGet()
            body(b, id)
            walls(id) = (System.nanoTime() - bt0) / 1e9
          }
          ()
        }.start())
    }
    FoldRun(batches.get(), walls)
  }

  /** Result of one bounded [[runEmbeddingIndexStream]] run: the
    * accumulated per-batch pair files, the final persisted index, and the
    * parameters the fold fixed for the corpus (so the contract's
    * from-scratch comparison uses identical ones).
    */
  private[streaming] case class EmbeddingIndexRun(accumulated: DataFrame,
    finalIndex: DataFrame, nVecs: Long, nBits: Int, nTables: Int,
    threshold: Double, batches: Long)

  /** The streaming SRP-index maintenance fold shared by the contract query
    * (which adds the from-scratch equality baselines) and the timed bench
    * form (which runs ONLY this — the operator, not the QA harness): stage
    * the corpus as 3 files, stream them one per micro-batch, and per batch
    * (1) near-dup-pair the batch against the index of every PRIOR batch
    * via [[graft.operators.Dedup.embeddingPairsLshIncremental]] (batch
    * hashed once; corpus candidates re-read via the semi-join prune), then
    * (2) write the batch's corpus rows and band rows. All writes are
    * overwrite-mode batchId-keyed subdirectories, so a replayed batch —
    * including one resumed after a mid-batch crash — rewrites its own
    * directories instead of double-appending, and the anti-join below
    * keeps its recomputation byte-identical.
    */
  private def runEmbeddingIndexStream(s: SparkSession,
      dir: String): EmbeddingIndexRun = {
    val stage = Staging.dir(s, "graft-semb-")
    val emb = Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val inDir = stagedSplit(s, dir, "semb", emb, col("vec_id"))
    // Fixed across the run AND the from-scratch comparison: bucket count
    // sized to the full corpus (the production choice — an index cannot
    // re-bit per ingest without a rebuild).
    val nVecs = emb.count()
    val nBits = math.max(3, math.ceil(math.log(
      math.max(1L, nVecs / 100L).toDouble) / math.log(2)).toInt)
    val nTables = 8
    val threshold = 0.4
    val idxPath = s"$stage/idx"
    val pairsPath = s"$stage/pairs"
    val run = runFold(s, emb.schema, inDir, stage, Some(8)) { (b, id) =>
      val idx = Segments.open(s, idxPath)
      val pairs =
        if (idx.ids.nonEmpty) {
          // Anti-join out this batch's OWN ids: a batch replayed
          // after a mid-batch crash has already written its corpus
          // and index subdirs, and pairing it against its own rows
          // would duplicate the within-batch pairs through the
          // vector re-read.
          val own = b.select(col("vec_id"))
          // cacheCand/cacheVecs ON here, unlike the operator default:
          // in this fold the corpus/index sides are parquet re-reads
          // behind anti-joins, so recomputing the candidate subtree
          // per reference re-scans files — EmbIncAbProbe's (removed;
          // see
          // `git show e6d0d1b:src/main/scala/graft/tools/EmbIncAbProbe.scala`)
          // streaming-
          // shaped arm measured both-persists fastest (1.13 s/batch
          // vs 1.44 with the standalone-optimal vecs-only setting)
          graft.operators.Dedup.embeddingPairsLshIncremental(
            b,
            Segments.read(s, s"$stage/corpus")
              .join(own, Seq("vec_id"), "left_anti"),
            idx.read()
              .join(own.select(col("vec_id").as("id")), Seq("id"),
                "left_anti"),
            "vec_id", "embedding", threshold, nBits, nTables,
            cacheCand = true, cacheVecs = true)
        } else
          graft.operators.Dedup.embeddingPairsLsh(
            b, "vec_id", "embedding", threshold, nBits, nTables)
      // coalesce(1): batch-sized outputs — one file per batch per
      // table keeps the per-ingest file count (and the next
      // batch's read fan-in) proportional to batches, not tasks
      Segments.put(s, pairsPath, s"b$id")(
        pairs.select(col("id_a"), col("id_b"), col("cos")).coalesce(1).write.parquet)
      Segments.put(s, s"$stage/corpus", s"b$id")(b.coalesce(1).write.parquet)
      Segments.put(s, idxPath, s"b$id")(graft.operators.Dedup.srpIndex(b, "vec_id", "embedding",
        nBits, nTables).coalesce(1).write.parquet)
    }
    observeBatchWall(s, "streaming_embedding_index_batch_wall", run.walls)
    EmbeddingIndexRun(Segments.read(s, pairsPath),
      Segments.read(s, idxPath), nVecs, nBits, nTables, threshold,
      run.batches)
  }

  /** Land per-batch foreachBatch wall times as an observe() row (count /
    * avg / max seconds per batch) — a tiny driver-built frame executed
    * once so Bench's QueryExecutionListener records it as telemetry. An
    * index fold's cost is dominated by fixed micro-batch trigger machinery
    * at 3 batches, and this row is what makes a real per-batch regression
    * distinguishable from that overhead — sec_per_batch should stay
    * roughly flat as the batch count grows, while total query wall grows
    * with it.
    */
  private def observeBatchWall(s: SparkSession, name: String,
      wall: scala.collection.Map[Long, Double]): Unit =
    if (wall.nonEmpty) {
      import s.implicits._
      wall.toSeq.toDF("batch", "sec")
        .observe(name,
          count(lit(1)).as("n_batches"),
          round(avg(col("sec")), 6).as("sec_per_batch_avg"),
          round(max(col("sec")), 6).as("sec_per_batch_max"))
        .count()
      ()
    }

  /** Streaming maintenance of the persisted BM25 inverted index
    * ([[graft.operators.TextAnalysis.buildTextIndex]]'s segment model,
    * continuously ingested): meta is written once before the stream starts
    * (create-before-ingest), then each micro-batch lands as one additive
    * segment via `appendToTextIndex` — postings, df and corpus stats are
    * all per-batch aggregates, so NO history is re-read on any batch and a
    * replayed batch (overwrite-mode batchId subdirs) is idempotent. At
    * 100 TB this is the ingest path of a live retrieval index: per-batch
    * cost is O(batch), the query path merges per-segment df/stats by sum.
    */
  private def runTextIndexStream(s: SparkSession,
      dir: String): (String, Long) = {
    val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    val inDir = stagedSplit(s, dir, "sdoc", docs, col("doc_id"))
    val stage = Staging.dir(s, "graft-stxt-")
    val idxPath = s"$stage/idx"
    graft.operators.TextAnalysis.initTextIndex(s, idxPath, nBuckets = 16)
    val run = runFold(s, docs.schema, inDir, stage, Some(8)) { (b, id) =>
      graft.operators.TextAnalysis.appendToTextIndex(b, "doc_id",
        "text", idxPath, id)
    }
    observeBatchWall(s, "streaming_text_index_batch_wall", run.walls)
    (idxPath, run.batches)
  }

  /** Streaming maintenance of the persisted IVF-PQ vector index — the
    * fourth and last persisted store to get the streaming ingest form
    * (after the text index, gram-df, and SRP embedding index): the FIRST
    * non-empty micro-batch bootstraps the store (trains codebooks on
    * itself via `buildIvfPqIndex` and records that batch under `train/`
    * so a rebuild comparison can pin training to it); every later batch
    * appends one `batch=N` code segment encoded with the STORED codebooks
    * (`appendToIvfPqIndex` — O(batch) per append, history never re-read,
    * never re-quantized). Replay is idempotent end to end, with `train/`
    * as the bootstrap COMMIT MARKER written last: a replay after a
    * mid-bootstrap crash (marker absent) re-runs the build, which replaces
    * model/centroids/codes byte-identically (training draws
    * are seeded and hash-ordered); a replay after a completed bootstrap
    * (marker present) takes the append path and overwrites its own
    * batchId-keyed segment with identical codes (stored-codebook encode
    * is deterministic) — the build writes its segment under the bootstrap
    * batch's real id so that rewrite hits the same directory.
    *
    * Returns (index path, stage path, batch count); the contract query
    * compares serving against a one-shot rebuild trained on the recorded
    * bootstrap batch and checks compaction invisibility.
    */
  private def runIvfPqIndexStream(s: SparkSession,
      dir: String): (String, String, Long) = {
    val emb = Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val inDir = stagedSplit(s, dir, "semb", emb, col("vec_id"))
    val stage = Staging.dir(s, "graft-sivfpq-")
    val idxPath = s"$stage/idx"
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val run = runFold(s, emb.schema, inDir, stage, Some(8)) { (b, id) =>
      // bootstrap-complete marker = train/, written LAST (see
      // scaladoc: makes every crash-replay interleaving idempotent)
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/train"))) {
        graft.operators.Similarity.buildIvfPqIndex(b, "vec_id",
          "embedding", idxPath, nCentroids = 8, m = 16, batchId = id)
        Segments.put(s, stage, "train")(b.coalesce(1).write.parquet)
      } else
        graft.operators.Similarity.appendToIvfPqIndex(b, "vec_id",
          "embedding", idxPath, batchId = id)
    }
    (idxPath, stage, run.batches)
  }

  /** Streaming novelty maintenance: the continuously-ingesting form of
    * [[graft.operators.TextAnalysis.noveltyIncremental]]. Each micro-batch
    * (1) scores its documents against the union of all PRIOR batches'
    * gram-df segments (score-on-arrival: a gram the corpus has already
    * seen is not novel; history is never revised), then (2) appends its
    * OWN gram-df as one additive segment. Document frequencies add
    * exactly, so the segment model needs no read-merge-swap: the snapshot
    * at any moment is a sum over segments, and a replayed batch
    * (overwrite-mode batchId subdirs, prior = segments with id strictly
    * below its own) recomputes byte-identical output — exactly-once
    * under mid-batch crash. At 100 TB per-batch cost is O(batch +
    * vocabulary); corpus text is read exactly once, the batch it arrived
    * in.
    */
  private def runNoveltyStream(s: SparkSession,
      dir: String): (String, String, Long) = {
    val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    val inDir = stagedSplit(s, dir, "sdoc", docs, col("doc_id"))
    val stage = Staging.dir(s, "graft-snov-")
    val segDir = s"$stage/segments"
    val outDir = s"$stage/scores"
    val run = runFold(s, docs.schema, inDir, stage, Some(8)) { (b, id) =>
      val prior = priorSegments(s, segDir, id)
      // shared gram pass (r15): one tokenize/shingle of the batch
      // feeds both writes — see TextAnalysis.noveltyBatchFold
      val (bg, scores, base) = graft.operators.TextAnalysis
        .noveltyBatchFold(b, prior, "doc_id", "text")
      try {
        Segments.put(s, outDir, s"b$id")(scores.coalesce(1).write.parquet)
        Segments.put(s, segDir, s"b$id")(bg.coalesce(1).write.parquet)
      } finally base.unpersist(blocking = false)
    }
    (segDir, outDir, run.batches)
  }

  private val reservoirK = 40

  /** Streaming deterministic reservoir: exact-k maintenance of
    * [[graft.operators.Sampling.exactK]] across micro-batches. Each batch
    * writes snapshot `b<id>` = [[graft.operators.Sampling.reservoirMerge]]
    * (latest prior snapshot, batch) — the prior is ONE k-row segment (each
    * snapshot already folds its whole history), so per-batch cost is
    * O(batch + k) regardless of corpus size, and state is k rows forever.
    * Correctness is algebraic, the strongest replay story in the
    * streaming family: min-k under union with SET semantics (the merge
    * dedups on id — min-k over the raw row multiset is NOT idempotent; a
    * redelivered row would occupy two of the k slots) is commutative,
    * associative and idempotent, so any arrival order, any batching, and
    * any at-least-once replay (strictly-prior reads + overwrite-mode
    * segment, belt to the algebra's suspenders) produces the identical
    * sample — the contract pins bit-equality with a from-scratch batch
    * run, not an error envelope.
    */
  private def runReservoirStream(s: SparkSession,
      dir: String): (String, Long) = {
    val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    val inDir = stagedSplit(s, dir, "sdoc", docs, col("doc_id"))
    val stage = Staging.dir(s, "graft-sres-")
    val segDir = s"$stage/snap"
    val run = runFold(s, docs.schema, inDir, stage, Some(8)) { (b, id) =>
      val store = Segments.open(s, segDir)
      val prior = store.ids.filter(_ < id)
      val snap =
        if (prior.isEmpty) b.select(col("doc_id")).limit(0)
        else store.read(_ == prior.max)
      Segments.put(s, segDir, s"b$id")(graft.operators.Sampling.reservoirMerge(snap,
          b.select(col("doc_id")), "doc_id", reservoirK, "rs")
        .coalesce(1).write.parquet)
    }
    (segDir, run.batches)
  }

  /** Streaming quality-filter serving: the classifier's weights are
    * batch-fit ONCE and FROZEN (the model is an artifact; serving never
    * refits), then every micro-batch of documents is scored scan-side —
    * [[graft.operators.QualityModel.score]] is a sigmoid over literal
    * weights, zero shuffle — and landed as a batchId-keyed overwrite
    * segment, so at-least-once replay rewrites its own rows instead of
    * double-scoring. This is the serving half of `quality_classifier`:
    * the filter stage an ingest pipeline runs on documents as they
    * arrive, with scores bit-equal to scoring the same corpus in batch
    * (a per-row projection with literal weights cannot depend on
    * batching — the contract pins EXACT equality, no tolerance).
    */
  private def runQualityScoreStream(s: SparkSession, dir: String,
      weights: Array[Double]): (String, Long) = {
    val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    val inDir = stagedSplit(s, dir, "sdoc", docs, col("doc_id"))
    val stage = Staging.dir(s, "graft-sqsc-")
    val outDir = s"$stage/scores"
    val run = runFold(s, docs.schema, inDir, stage, Some(8)) { (b, id) =>
      Segments.put(s, outDir, s"b$id")(graft.operators.QualityModel
        .score(b, "doc_id", "text", weights).coalesce(1).write.parquet)
    }
    (outDir, run.batches)
  }

  /** Streaming maintenance of the file-stats manifest
    * ([[graft.operators.Manifest]]): each micro-batch lands its rows as
    * data files under its OWN `d<id>` directory (overwrite mode) and then
    * appends stats for exactly those files as manifest segment `b<id>` —
    * the ingest pattern where the manifest, not a directory listing, IS
    * the table: a file becomes part of the table the moment its stats row
    * commits. Per-batch cost is O(batch): history files are never
    * re-scanned, and replay is idempotent twice over (both the data dir
    * and the manifest segment are keyed by batchId and overwrite-mode).
    * This closes the build/append/compact/STREAMING symmetry with the
    * four other persisted stores.
    */
  private def runManifestStream(s: SparkSession,
      dir: String): (String, String, Long) = {
    val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    val inDir = stagedSplit(s, dir, "sdoc", docs, col("doc_id"))
    val stage = Staging.dir(s, "graft-sman-")
    val tbl = s"$stage/table"
    val man = s"$stage/manifest"
    val run = runFold(s, docs.schema, inDir, stage, Some(8)) { (b, id) =>
      b.select(col("doc_id")).coalesce(1)
        .write.mode("overwrite").parquet(s"$tbl/d$id")
      graft.operators.Manifest.appendToManifest(s, Seq(s"$tbl/d$id"),
        Seq("doc_id"), man, batchId = id)
    }
    (man, tbl, run.batches)
  }

  /** Streaming drift-monitor fold: frozen reference decile `edges`, ONE
    * bucket-count aggregation per micro-batch, landed as an idempotent
    * batchId-keyed segment `b<id>` of (bucket, n) integer counts. Counts
    * are ADDITIVE, so the cumulative current-window histogram is a plain
    * sum over segments — an at-least-once replay rewrites its own segment
    * (overwrite mode) instead of double-counting, and streamed-vs-batch
    * equality is exact integer equality, not a tolerance. Per-batch cost
    * is O(batch): the reference is never rescanned (its edges are frozen
    * literals inside the bucket expression). Returns (segDir, nBatches).
    */
  private def runDriftStream(s: SparkSession, dir: String,
      edges: Array[Double]): (String, Long) = {
    val ev = Tables.t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("value"))
    val inDir = stagedSplit(s, dir, "sdrift", ev, col("event_id"))
    val stage = Staging.dir(s, "graft-sdrift-")
    val segDir = s"$stage/segments"
    val run = runFold(s, ev.schema, inDir, stage, Some(8)) { (b, id) =>
      Segments.put(s, segDir, s"b$id")(b.filter(col("value").isNotNull)
        .groupBy(graft.operators.Drift
          .bucketOf(col("value"), edges).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .coalesce(1).write.parquet)
    }
    (segDir, run.batches)
  }

  /** Streaming data-quality gate fold: each micro-batch lands ONE row of
    * SUFFICIENT STATISTICS (row/satisfied counts, sum/min/max) as an
    * idempotent batchId-keyed segment — every statistic in the suite is
    * chosen additive (counts and sums of ≤2^53-bounded integers, min/max),
    * so the cumulative metrics from summed segments are BIT-EQUAL to the
    * batch [[graft.operators.Expectations]] pass over the same rows: the
    * gate a 100 TB ingest actually runs (verdicts continuously current at
    * O(batch) per batch) with no drift between the streaming and batch
    * answers. Exact-distinct uniqueness is deliberately NOT in the
    * streaming suite — it is not additive; the mergeable-sketch route is
    * [[graft.operators.Sketches.hllIncremental]]'s family. Returns
    * (segDir, nBatches).
    */
  private def runExpectationsStream(s: SparkSession,
      dir: String): (String, Long) = {
    val docs = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val inDir = stagedSplit(s, dir, "sexp", docs, col("doc_id"))
    val stage = Staging.dir(s, "graft-sexp-")
    val segDir = s"$stage/segments"
    val run = runFold(s, docs.schema, inDir, stage, Some(8)) { (b, id) =>
      Segments.put(s, segDir, s"b$id")(b.agg(
        count(lit(1)).as("n"),
        count(when(col("text").isNotNull, lit(1)))
          .as("n_text_nonnull"),
        count(when(col("lang").isin("de", "en", "es", "fr", "zh"),
          lit(1))).as("n_lang_conform"),
        sum(col("n_chars")).as("sum_n_chars"),
        min(col("n_chars")).as("min_n_chars"),
        max(col("n_chars")).as("max_n_chars"))
        .coalesce(1).write.parquet)
    }
    (segDir, run.batches)
  }

  /** Streaming APPROXIMATE-uniqueness fold (r11 verdict item #5 — the
    * member [[runExpectationsStream]] deliberately excludes): exact
    * distinct is not additive across batches, but an HLL sketch IS
    * mergeable, so each micro-batch lands (n, hll(doc_id)) as an
    * idempotent batchId-keyed segment and the serve unions register blobs
    * — O(batch) per batch, KB state per segment, the same replay-proof
    * segment discipline. The uniqueness verdict it serves is honest about
    * the estimator: the band is the lgK=12 3σ envelope around 1.0
    * (~±4.9 %), never exact equality (the [[graft.operators.Sketches]]
    * posture — HLL estimates are not even merge-tree-invariant).
    * Returns (segDir, nBatches).
    */
  private def runExpectationsHllStream(s: SparkSession,
      dir: String): (String, Long) = {
    val docs = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val inDir = stagedSplit(s, dir, "sexp", docs, col("doc_id"))
    val stage = Staging.dir(s, "graft-sexphll-")
    val segDir = s"$stage/segments"
    val run = runFold(s, docs.schema, inDir, stage, Some(8)) { (b, id) =>
      Segments.put(s, segDir, s"b$id")(b.agg(count(lit(1)).as("n"),
          hll_sketch_agg(col("doc_id"), lit(12)).as("hll"))
        .coalesce(1).write.parquet)
    }
    (segDir, run.batches)
  }

  /** ppm scores + weak labels of a documents frame under the FROZEN
    * serving weights — the exact quality_calibration / quality_platt
    * formulas (QualityModel featurize → fixed design → literal weights →
    * floor-rounded ppm sigmoid), with doc_id retained so the drift-gate
    * plant can be keyed on DATA rather than batch position.
    */
  private def plattScored(docs: DataFrame): DataFrame = {
    val Q = graft.operators.QualityModel
    val w = Array(-0.5, 2.0, 1.5, -0.3, 0.4, 1.0)
    val d = Q.design(Q.featurize(docs, "doc_id", "text"))
    val z = (0 until Q.nFeatures).map(j => col(s"x$j") * lit(w(j)))
      .reduce(_ + _)
    d.select(col("doc_id"), Q.weakLabel.cast("long").as("y"),
      floor((lit(1.0) / (lit(1.0) + exp(-z))) * 1e6 + 0.5)
        .cast("long").as("score_ppm"))
  }

  /** Drift envelope on the snapped Platt coefficients, in 1e-6 fx
    * units: a cumulative re-fit whose |ΔA| OR |ΔB| vs the frozen serving
    * fit exceeds this trips the gate. Width MEASURED at
    * sf0.001/0.01/0.1: undrifted prefix fits (the 1/3- and 2/3-corpus
    * cumulative bins) deviate at most ΔA = 668,178 from the full-corpus
    * fit (sf0.1 batch 0; 655,210 at sf0.001, 446,718 at sf0.01), while
    * the planted inversion of the doc_id%3==2 third moves A by at least
    * 6,579,043 (and B by ≥ 2,780,119) at every sf — 1.5M sits between
    * with ≥ 2.2x margin below and ≥ 4.3x above.
    */
  private val PlattDriftEnvelopeFx = 1500000L

  /** Per-dir memo ([[Staging.memo]]) of the frozen serving fit (a_fx,
    * b_fx) the drift gate compares against — a deterministic pure function
    * of the corpus (additive ppm bins + fixed-25-Newton plattFit), so the
    * contract and timed forms share one computation per scale dir. The
    * gate's operator cost is the STREAM fold; deriving the frozen fit is
    * quality_platt's number.
    */
  private def plattFrozenFit(s: SparkSession, dir: String): (Long, Long) =
    Staging.memo(s, s"platt-frozen-fit $dir") {
      val docs = Tables.t(s, dir, "documents")
      val fullBins = plattScored(docs)
        .withColumn("bin",
          least(floor(col("score_ppm") / 100000.0).cast("long"), lit(9L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("n_pos"),
          expr("sum(score_ppm) div count(1)").cast("long").as("ms"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      val (a0, b0) = graft.operators.QualityModel.plattFit(
        fullBins.map { case (_, n, np, ms) =>
          (ms.toDouble / 1e6, n, np)
        }.toSeq)
      (math.floor(a0 * 1e6 + 0.5).toLong,
        math.floor(b0 * 1e6 + 0.5).toLong)
    }

  /** Streaming Platt drift gate (the r13 verdict's model-layer ST3
    * posture — "detect the poison data" at the calibration level): each
    * micro-batch lands ONE segment of additive reliability-bin
    * statistics (bin, n, n_pos, sum_ppm) — for the served scores AND for
    * a planted-drift variant that inverts the doc_id%3==2 third — then
    * re-fits Platt (A, B) driver-side on the CUMULATIVE bins (prior
    * segments strictly below the batch id + this batch's stats, the
    * replay-safe read) and verdicts each variant against the frozen
    * serving fit under [[PlattDriftEnvelopeFx]]. The fit is the same
    * fixed-25-Newton [[graft.operators.QualityModel.plattFit]] pure
    * function of the bins, so the final cumulative fit is BIT-EQUAL to
    * the batch quality_platt fit (bins are additive longs) and DuckDB
    * replays it on the summed bins. At 100 TB: O(batch) per batch for
    * the bins, a ≤ 20-row driver microsolve per trigger, KB segments.
    * Returns (stageDir, nBatches); verdicts land under
    * `<stage>/verdicts/b<id>` keyed by batchId (idempotent replay).
    */
  private def runPlattDriftStream(s: SparkSession, dir: String,
      aFrozenFx: Long, bFrozenFx: Long): (String, Long) = {
    val docs = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val inDir = stagedSplit(s, dir, "sexp", docs, col("doc_id"))
    val stage = Staging.dir(s, "graft-splatt-")
    val segDir = s"$stage/segments"
    val verDir = s"$stage/verdicts"
    val run = runFold(s, docs.schema, inDir, stage, Some(8)) { (b, id) =>
      val scored = plattScored(b)
      // both variants in one pass; the drift plant re-bins on the
      // perturbed score, exactly what a poisoned scorer would emit
      val both = scored.select(col("y"), explode(array(
          struct(lit("base").as("variant"),
            col("score_ppm").as("sp")),
          struct(lit("drift").as("variant"),
            when(col("doc_id") % 3 === 2,
              lit(1000000L) - col("score_ppm"))
              .otherwise(col("score_ppm")).as("sp")))).as("e"))
        .select(col("y"), col("e.variant").as("variant"),
          col("e.sp").as("score_ppm"))
      val seg = both.withColumn("bin",
          least(floor(col("score_ppm") / 100000.0).cast("long"),
            lit(9L)))
        .groupBy(col("variant"), col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("y")).cast("long").as("n_pos"),
          sum(col("score_ppm")).cast("long").as("sum_ppm"))
        .localCheckpoint()
      Segments.put(s, segDir, s"b$id")(seg.coalesce(1).write.parquet)
      // cumulative bins: prior segments STRICTLY below id + this
      // batch's stats from memory — a replayed batch never reads
      // its own segment as prior
      val store = Segments.open(s, segDir)
      val cum = (if (!store.ids.exists(_ < id)) seg
        else seg.unionByName(store.read(_ < id)))
        .groupBy(col("variant"), col("bin"))
        .agg(sum(col("n")).as("n"),
          sum(col("n_pos")).as("n_pos"),
          sum(col("sum_ppm")).as("sum_ppm"))
        .collect()
      val verdicts = Seq("base", "drift").map { variant =>
        val bins = cum.filter(_.getString(0) == variant)
          .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4)))
          .sortBy(_._1) // summation order is part of the contract
        val (a, bb) = graft.operators.QualityModel.plattFit(
          bins.map { case (_, n, np, sp2) =>
            ((sp2 / n).toDouble / 1e6, n, np)
          }.toSeq)
        val aFx = math.floor(a * 1e6 + 0.5).toLong
        val bFx = math.floor(bb * 1e6 + 0.5).toLong
        (variant, id, aFx, bFx,
          math.abs(aFx - aFrozenFx) > PlattDriftEnvelopeFx ||
            math.abs(bFx - bFrozenFx) > PlattDriftEnvelopeFx)
      }
      import s.implicits._
      Segments.put(s, verDir, s"b$id")(verdicts.toDF("variant", "batch_id", "a_fx", "b_fx",
          "tripped")
        .coalesce(1).write.parquet)
    }
    (stage, run.batches)
  }

  /** 3σ relative envelope of an lgK=12 HLL estimate (RSE ≈ 1.04/√2^12). */
  private val HllEnvelope = 3.0 * 1.04 / math.sqrt(4096.0)

  /** The served approximate-uniqueness verdict row from the HLL segment
    * store: (check_name, metric, lo, hi, passed) in the
    * [[servedExpectations]] shape — metric = merged-HLL distinct estimate
    * over the ADDITIVE exact row count, band = 1 ± the lgK envelope.
    */
  private def servedUniquenessHll(s: SparkSession,
      segDir: String): DataFrame =
    Segments.read(s, segDir)
      .agg(sum(col("n")).as("n"),
        hll_sketch_estimate(hll_union_agg(col("hll"))).as("dhat"))
      .select(lit("uniqueness_doc_id_approx").as("check_name"),
        (floor(col("dhat").cast("double") / col("n").cast("double")
          * 1e6 + 0.5) / 1e6).as("metric"),
        lit(1.0 - HllEnvelope).as("lo"), lit(1.0 + HllEnvelope).as("hi"))
      .withColumn("passed",
        coalesce(col("metric") >= col("lo") && col("metric") <= col("hi"),
          lit(false)))

  /** The streaming-expectations suite's served metric rows from summed
    * segments: (check_name, metric, lo, hi, passed) — the identical
    * formulas, rounding, and verdict rule as the batch
    * [[graft.operators.Expectations.run]] over [[servedChecks]].
    */
  private def servedExpectations(s: SparkSession,
      segDir: String): DataFrame = {
    val agg = Segments.read(s, segDir).agg(
      sum(col("n")).as("n"),
      sum(col("n_text_nonnull")).as("nt"),
      sum(col("n_lang_conform")).as("nl"),
      sum(col("sum_n_chars")).as("sc"),
      min(col("min_n_chars")).as("mn"),
      max(col("max_n_chars")).as("mx"))
    agg.selectExpr(
      """stack(6,
        |'completeness_text', floor(nt / CAST(n AS DOUBLE) * 1e6 + 0.5)
        |  / 1e6, CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
        |'lang_in_domain', floor(nl / CAST(n AS DOUBLE) * 1e6 + 0.5)
        |  / 1e6, CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
        |'mean_n_chars', floor(sc / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6,
        |  CAST(50.0 AS DOUBLE), CAST(1000.0 AS DOUBLE),
        |'min_n_chars', floor(CAST(mn AS DOUBLE) * 1e6 + 0.5) / 1e6,
        |  CAST(1.0 AS DOUBLE), CAST(1000000.0 AS DOUBLE),
        |'max_n_chars', floor(CAST(mx AS DOUBLE) * 1e6 + 0.5) / 1e6,
        |  CAST(1.0 AS DOUBLE), CAST(10000.0 AS DOUBLE),
        |'min_rows', floor(CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6,
        |  CAST(10.0 AS DOUBLE), CAST(1e12 AS DOUBLE))
        |AS (check_name, metric, lo, hi)""".stripMargin)
      // same NULL-verdict coalesce as Expectations.unpivot: an empty
      // serve must fail loudly, and the bit-equal contract needs the
      // identical verdict rule on both forms
      .withColumn("passed",
        coalesce(col("metric") >= col("lo") && col("metric") <= col("hi"),
          lit(false)))
  }

  /** The batch form of the streaming suite (shared so the contract's
    * equality compares the SAME checks).
    */
  private def servedChecks: Seq[graft.operators.Expectations.Check] = {
    val E = graft.operators.Expectations
    Seq(
      E.Check("completeness_text", E.completeness("text"), 1.0, 1.0),
      E.Check("lang_in_domain",
        E.conformance(col("lang").isin("de", "en", "es", "fr", "zh")),
        1.0, 1.0),
      E.Check("mean_n_chars", avg(col("n_chars")), 50.0, 1000.0),
      E.Check("min_n_chars", min(col("n_chars")).cast("double"),
        1.0, 1e6),
      E.Check("max_n_chars", max(col("n_chars")).cast("double"),
        1.0, 1e4),
      E.Check("min_rows", count(lit(1)).cast("double"), 10.0, 1e12))
  }

  /** Segments with batch id STRICTLY below `id` — NOT `b*`: a batch
    * replayed after a mid-batch crash must not see its own half-written
    * segment (or, on an out-of-order replay, a later one) as "prior".
    * Empty (g, df) frame when no prior segment exists (batch 0).
    */
  private def priorSegments(s: SparkSession, segDir: String,
      id: Long): DataFrame = {
    val store = Segments.open(s, segDir)
    if (!store.ids.exists(_ < id)) {
      import s.implicits._
      Seq.empty[(String, Long)].toDF("g", "df")
    } else store.read(_ < id)
  }

  /** The HLL-snapshot maintenance fold (stream half of
    * streaming_sketch_snapshot): per micro-batch sketch + register-merge
    * into the persisted snapshot, atomic-swap. Shared by the contract form
    * (which adds the exact-distinct envelope checks) and the timed form
    * (fold + estimate serve). Returns (snapshot path, batch count).
    */
  private def runHllSnapshotStream(s: SparkSession,
      dir: String): (String, Long) = {
    val ev = Tables.t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("user_id"))
    val inDir = stagedSplit(s, dir, "ssk", ev, col("event_id"))
    val stage = Staging.dir(s, "graft-ssk-")
    val snapPath = s"$stage/snap"
    val run = runFold(s, ev.schema, inDir, stage, None) { (b, id) =>
      val store = Segments.open(s, stage)
      val batchSk = graft.operators.Sketches.hllByGroup(
        b, "event_type", "user_id")
      val merged =
        if (store.contains("snap"))
          graft.operators.Sketches.hllMergeSnapshots(
            s.read.parquet(snapPath), batchSk, "event_type")
        else batchSk
      Segments.put(s, stage, "snap")(merged.write.parquet)
    }
    (snapPath, run.batches)
  }

  /** Frequent-items segment fold (stream half of streaming_freq_snapshot):
    * per batch one FI-sketch segment in a batchId-keyed idempotent subdir;
    * read-time FiUnion merge is the serve. Returns (segment path, batches).
    */
  private def runFiSnapshotStream(s: SparkSession,
      dir: String): (String, Long) = {
    val docs = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val inDir = stagedSplit(s, dir, "sfi", docs, col("doc_id"))
    val stage = Staging.dir(s, "graft-sfi-")
    val segPath = s"$stage/segs"
    val run = runFold(s, docs.schema, inDir, stage, None) { (b, id) =>
      val toks = b.select(col("lang"),
        explode(graft.operators.TextAnalysis.tokens(col("text")))
          .as("token"))
      Segments.put(s, segPath, s"b$id")(graft.operators.Sketches.fiByGroup(
          toks, "lang", "token", maxMapSize = 8).write.parquet)
    }
    (segPath, run.batches)
  }

  /** KLL-snapshot maintenance fold (stream half of
    * streaming_quantile_snapshot): same merge-swap shape as the HLL fold.
    * Returns (snapshot path, batch count).
    */
  private def runKllSnapshotStream(s: SparkSession,
      dir: String): (String, Long) = {
    val ev = Tables.t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val inDir = stagedSplit(s, dir, "skll", ev, col("event_id"))
    val stage = Staging.dir(s, "graft-skll-")
    val snapPath = s"$stage/snap"
    val run = runFold(s, ev.schema, inDir, stage, None) { (b, id) =>
      val store = Segments.open(s, stage)
      val batchSk = graft.operators.Sketches.kllByGroup(
        b, "event_type", "value")
      val merged =
        if (store.contains("snap"))
          graft.operators.Sketches.kllMergeSnapshots(
            s.read.parquet(snapPath), batchSk, "event_type")
        else batchSk
      Segments.put(s, stage, "snap")(merged.write.parquet)
    }
    (snapPath, run.batches)
  }

  /** Bench overrides (the [[graft.queries.PipelineQueries.timed]] pattern):
    * the contract form above runs a full from-scratch LSH pass and two
    * set-equality baselines — QA harness, not operator. The timed form is
    * the maintenance fold alone.
    */
  val timed: Map[String, Q] = Map(
    // r14: fold + sketch-served estimates — the exact count_distinct /
    // rank / bracket baselines these snapshots are verified against stay
    // in Verify.
    "streaming_sketch_snapshot" -> ((s, dir) => {
      val (snapPath, _) = runHllSnapshotStream(s, dir)
      graft.operators.Sketches.hllEstimates(
        s.read.parquet(snapPath), "event_type")
    }),
    "streaming_freq_snapshot" -> ((s, dir) => {
      val (segPath, _) = runFiSnapshotStream(s, dir)
      graft.operators.Sketches.fiFrequentItems(
        graft.operators.Sketches.fiMergeSegments(
          Segments.read(s, segPath), "lang", maxMapSize = 8), "lang")
    }),
    "streaming_quantile_snapshot" -> ((s, dir) => {
      val (snapPath, _) = runKllSnapshotStream(s, dir)
      graft.operators.Sketches.kllQuantiles(
        s.read.parquet(snapPath), "event_type", Seq(0.05, 0.5, 0.95))
    }),
    // r14: fold + served verdict rows — deriving the frozen serving fit is
    // quality_platt's number (memoized per dir); the final-fit-vs-batch
    // equality and planted-drift assertions stay in Verify.
    "streaming_platt_drift" -> ((s, dir) => {
      val (a0Fx, b0Fx) = plattFrozenFit(s, dir)
      val (stage, _) = runPlattDriftStream(s, dir, a0Fx, b0Fx)
      Segments.read(s, s"$stage/verdicts")
    }),
    "streaming_novelty" -> ((s, dir) => {
      val (_, outDir, _) = runNoveltyStream(s, dir)
      Segments.read(s, outDir)
    }),
    // fold + one manifest-served range read — the full-scan equality and
    // compaction baselines stay in Verify
    "streaming_manifest" -> ((s, dir) => {
      val (man, _, _) = runManifestStream(s, dir)
      val docs = Tables.t(s, dir, "documents")
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      graft.operators.Manifest.prunedRead(s, man, "doc_id", mx / 3, mx / 2)._1
    }),
    // fold only — the batch-equality baseline stays in Verify
    "streaming_reservoir" -> ((s, dir) => {
      val (segDir, _) = runReservoirStream(s, dir)
      val store = Segments.open(s, segDir)
      store.read(_ == store.ids.max)
    }),
    // fold + served verdict rows — the batch-equality baseline stays in
    // Verify
    "streaming_expectations" -> ((s, dir) => {
      val (segDir, _) = runExpectationsStream(s, dir)
      servedExpectations(s, segDir)
    }),
    // fold + served verdict row — the exact-distinct baseline stays in
    // Verify
    "streaming_expectations_hll" -> ((s, dir) => {
      val (segDir, _) = runExpectationsHllStream(s, dir)
      servedUniquenessHll(s, segDir)
    }),
    // fold + one served PSI/JSD read — the batch-equality baselines stay
    // in Verify
    "streaming_drift" -> ((s, dir) => {
      val ev = Tables.t(s, dir, "events")
      val edges = graft.operators.Drift.quantileEdges(ev, "value", 10)
      val (segDir, _) = runDriftStream(s, dir, edges)
      val counts = Segments.read(s, segDir)
        .groupBy(col("bucket")).agg(sum(col("n")).as("n"))
      graft.operators.Drift.compare(
        graft.operators.Drift.histogram(ev, "value", edges),
        graft.operators.Drift.proportions(counts))
    }),
    // serving only: fixed frozen weights (training is quality_classifier's
    // cost, timed there) — the batch-equality baseline stays in Verify
    "streaming_quality_score" -> ((s, dir) => {
      val w = Array(-0.5, 2.0, 1.5, -0.3, 0.4, 1.0)
      val (outDir, _) = runQualityScoreStream(s, dir, w)
      Segments.read(s, outDir)
    }),
    "streaming_embedding_index" -> ((s, dir) =>
      runEmbeddingIndexStream(s, dir).accumulated),
    // fold + one pruned serving query (reads only the final index)
    "streaming_text_index" -> ((s, dir) => {
      val (idxPath, _) = runTextIndexStream(s, dir)
      val qs = Tables.t(s, dir, "documents").filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      graft.operators.TextAnalysis.queryTextIndex(qs, "query_id", "text",
        idxPath, "doc_id", k = 5)
    }),
    // fold + one probed serving query — the rebuild/compaction equality
    // baselines stay in Verify
    "streaming_ivfpq_index" -> ((s, dir) => {
      val (idxPath, _, _) = runIvfPqIndexStream(s, dir)
      val emb = Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      graft.operators.Similarity.queryIvfPqIndex(emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", idxPath,
        k = 5, nProbe = 8, shortlistFactor = 8)
    }))

  /** transformWithState processor: per-user running (count, sum) in a
    * ValueState. The v2 arbitrary-state API (Spark 4): typed state handles
    * with optional TTL, timers, and RocksDB-backed stores — the successor to
    * mapGroupsWithState used below.
    */
  private class UserStats
      extends StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {
    @transient private var state: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState("stats",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timers: TimerValues): Iterator[(Long, Long, Double)] = {
      var (n, s) = if (state.exists()) state.get() else (0L, 0.0)
      rows.foreach { case (_, v) => n += 1; s += v }
      state.update((n, s))
      Iterator.single((key, n, s))
    }
  }

  /** Streaming strict-sequence funnel: per user, a ListState of
    * (stepIdx, tsMicros) funnel-relevant events, with the reached-step
    * chain RECOMPUTED from state on every update. Recompute-not-fold is
    * the point: micro-batches arrive in file order, not time order, and a
    * folded "current step" state machine is order-sensitive (a later
    * batch can deliver an EARLIER view that unlocks a click the machine
    * already discarded) — recomputing the batch recurrence
    * t_i = min{ts of step i strictly after t_(i-1)} over the full list is
    * correct under any arrival order, which the contract proves by
    * splitting events on event_id (time-scrambled batches). State is the
    * user's funnel-type events only — product funnels are a handful of
    * rows per user; an unbounded deployment adds event-time retention,
    * which bounds state without changing the recurrence. step_reached is
    * monotone in data, so the final value is max-over-updates.
    */
  private class FunnelSteps(nSteps: Int)
      extends StatefulProcessor[Long, (Long, Int, Long), (Long, Long)] {
    @transient private var evs: ListState[(Int, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      evs = getHandle.getListState("evs",
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Int, Long)],
        timers: TimerValues): Iterator[(Long, Long)] = {
      rows.foreach { case (_, si, tm) => evs.appendValue((si, tm)) }
      val all = evs.get().toArray
      var prev = Long.MinValue
      var reached = 0L
      var i = 0
      var stuck = false
      while (i < nSteps && !stuck) {
        var best = Long.MaxValue
        all.foreach { case (si, tm) =>
          if (si == i && (i == 0 || tm > prev) && tm < best) best = tm
        }
        if (best == Long.MaxValue) stuck = true
        else { prev = best; reached = i + 1L; i += 1 }
      }
      Iterator.single((key, reached))
    }
  }

  /** Custom session accumulator for the flatMapGroupsWithState emitter:
    * (startMicros, lastMicros, n, sum). Sessions close on a >= `gap` silence,
    * mirroring the `session_window` rule (and the batch oracle's `>= 1800s`).
    */
  private[streaming] val SessionGapMicros = 30L * 60 * 1000 * 1000

  private[streaming] def foldSessions(
      open: Option[(Long, Long, Long, Double)],
      rows: Seq[(Long, Double)]): (Seq[(Long, Long, Long, Double)],
        Option[(Long, Long, Long, Double)]) = {
    var closed = List.empty[(Long, Long, Long, Double)]
    var cur = open
    rows.sortBy(_._1).foreach { case (ts, v) =>
      cur match {
        case Some((st, last, n, sum)) if ts - last < SessionGapMicros =>
          cur = Some((st, ts, n + 1, sum + v))
        case Some(done) =>
          closed ::= done; cur = Some((ts, ts, 1L, v))
        case None =>
          cur = Some((ts, ts, 1L, v))
      }
    }
    (closed.reverse, cur)
  }

  /** The flatMapGroupsWithState sessionizer over (user_id, ts, value): emits
    * every session a gap closes plus the still-open session provisionally,
    * keyed state = the one open session. Input must be a stream with those
    * three columns; output rows are (user_id, start_m, last_m, n, sum_v).
    */
  private[streaming] def sessionizeStream(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("tsm"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Double),
          (Long, Long, Long, Long, Double)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Double)],
            state: GroupState[(Long, Long, Long, Double)]) =>
          val (closed, open) = foldSessions(state.getOption,
            rows.map(r => (r._2, r._3)).toSeq)
          open.foreach(state.update)
          (closed ++ open.toList).iterator.map { case (st, last, n, sum) =>
            (uid, st, last, n, sum)
          }
      }
      .toDF("user_id", "start_m", "last_m", "n", "sum_v")
  }

  /** Collapse the update-mode emission log to final sessions: the latest
    * emission per (user, session start) wins — n grows monotonically as a
    * session extends across batches.
    */
  private[streaming] def collapseSessions(emitted: DataFrame): DataFrame =
    emitted
      .groupBy(col("user_id"), col("start_m"))
      .agg(max(col("n")).as("n"),
        max_by(col("last_m"), col("n")).as("last_m"),
        round(max_by(col("sum_v"), col("n")), 2).as("total"))
      .select(timestamp_micros(col("start_m")).as("s_start"),
        timestamp_micros(col("last_m") + SessionGapMicros).as("s_end"),
        col("user_id"), col("n"), col("total"))
      .orderBy(col("user_id"), col("s_start"))

  /** foreachBatch MV upkeep with exactly-once merges: the applied-batch
    * watermark (`_last_applied`, a file holding the max merged batch id)
    * travels INSIDE the MV directory, so the directory swap commits data and
    * watermark together — a replayed or re-delivered batch id compares ≤ the
    * watermark and is skipped, making the non-idempotent aggregate merge
    * replay-safe (the same move a transactional table format makes with its
    * commit log). Returns the final MV as (event_type, n, total).
    */
  private[streaming] def runIncrementalMv(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType, inGlob: String,
      mvPath: String, checkpoint: String): DataFrame = {
    val mvDir = new org.apache.hadoop.fs.Path(mvPath)
    val fs = mvDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val (parent, name) = (mvDir.getParent.toString, mvDir.getName)
    def lastApplied(): Long = {
      val f = new org.apache.hadoop.fs.Path(mvDir, "_last_applied")
      if (!fs.exists(f)) -1L
      else {
        val in = fs.open(f)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      }
    }
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inGlob)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val store = Segments.open(s, parent) // settles a swap a crash cut
        if (id > lastApplied()) {
          val agg = b.groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
          val merged =
            if (store.contains(name))
              s.read.parquet(mvPath).unionByName(agg)
                .groupBy(col("event_type"))
                .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv"))
            else agg
          Segments.put(s, parent, name) { next =>
            merged.write.parquet(next)
            val out = fs.create(
              new org.apache.hadoop.fs.Path(next, "_last_applied"), true)
            try out.write(id.toString.getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
          }
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitBounded(q)
    s.read.parquet(mvDir.toString)
      .select(col("event_type"), col("n"), round(col("sv"), 2).as("total"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, Q] = Map(
    // Custom session emitter via flatMapGroupsWithState: per-user state holds
    // the one OPEN session; each batch merges its rows in event-time order,
    // emits every session a >= 30 min gap closes, and re-emits the still-open
    // session provisionally. Update mode forbids post-state aggregation
    // inside the stream, so the final collapse (latest emission per session
    // start wins — n grows monotonically) happens on the sink table, same as
    // `streaming_stateful_count`. Production swaps the provisional re-emit
    // for GroupStateTimeout.EventTimeTimeout(last + gap): on an unbounded
    // stream the watermark DOES eventually pass a session's close time; on
    // this bounded harness it never can (watermark stops at max(ts) - delay),
    // which is exactly why the flush must not depend on it here.
    "streaming_sessionize" -> ((s, dir) => withTempDir(s, "graft-stream-in-") { stage =>
      collapseSessions(runToTable(
        sessionizeStream(rawEvents(s, dir, stage)), "update", s))
    }),

    // The SAME sessionization through the built-in streaming session_window
    // operator (merging-window state store path) — custom state above, native
    // operator here, one oracle for both.
    "streaming_session_window" -> ((s, dir) => withTempDir(s, "graft-stream-in-") { stage =>
      val agg = rawEvents(s, dir, stage)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"), col("user_id"),
          col("n"), col("total"))
      runToTable(agg, "complete", s)
        .orderBy(col("user_id"), col("s_start"))
    }),
    // Arbitrary stateful v2 (transformWithState + RocksDB state store):
    // per-user running count/sum; max(n) per key is the final value
    // regardless of batching, and must equal the batch aggregate.
    // Streaming strict-sequence funnel (see FunnelSteps): events split by
    // event_id % 3 — TIME-SCRAMBLED batches, so this passes only if the
    // state recompute is arrival-order-correct — then per-user reached
    // steps from the ListState recurrence. Oracle = the batch funnel
    // recurrence per user in SQL, over users with ≥1 funnel-type event.
    "streaming_funnel" -> ((s, dir) => {
      import s.implicits._
      val steps = Seq("view", "click", "purchase")
      val ev = Tables.t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"))
      val inDir = stagedSplit(s, dir, "sfun", ev, col("event_id"))
      val stepCol = steps.zipWithIndex.foldLeft(lit(-1)) {
        case (acc, (st, i)) =>
          when(col("event_type") === lit(st), lit(i)).otherwise(acc)
      }
      val prev = s.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val in = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*.parquet")
          .withColumn("si", stepCol).filter(col("si") >= 0)
          .select(col("user_id"), col("si"),
            unix_micros(col("ts")).as("tm"))
          .as[(Long, Int, Long)]
        val perKey = in.groupByKey(_._1)
          .transformWithState(new FunnelSteps(steps.size), TimeMode.None(),
            OutputMode.Update())
          .toDF("user_id", "step_reached")
        runToTable(perKey, "update", s)
          .groupBy(col("user_id"))
          .agg(max(col("step_reached")).as("step_reached"))
          .orderBy(col("user_id"))
      } finally {
        prev match {
          case Some(p) =>
            s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None =>
            s.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }),

    "streaming_tws_stats" -> ((s, dir) => withTempDir(s, "graft-stream-in-") { stage =>
      import s.implicits._
      val prev = s.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val perKey = rawEvents(s, dir, stage)
          .select(col("user_id"), col("value")).as[(Long, Double)]
          .groupByKey(_._1)
          .transformWithState(new UserStats, TimeMode.None(),
            OutputMode.Update())
          .toDF("user_id", "n", "sum_v")
        runToTable(perKey, "update", s)
          .groupBy(col("user_id"))
          .agg(max(col("n")).as("n"),
            round(max(col("sum_v")), 2).as("total"))
          .orderBy(col("user_id"))
      } finally {
        prev match {
          case Some(p) =>
            s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None =>
            s.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }),
    // Tumbling event-time window + watermark, run to completion. Identical
    // results to the batch `time_window_agg` — which is exactly the point.
    "streaming_window_agg" -> ((s, dir) => withTempDir(s, "graft-stream-in-") { stage =>
      val agg = rawEvents(s, dir, stage)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n"), col("total"))
      runToTable(agg, "complete", s)
        .orderBy(col("hour_start"), col("event_type"))
    }),

    // Stream-stream interval join: clicks joined to same-user purchases that
    // happen within 10 minutes after the click. Watermarks + the time-range
    // predicate bound both join states, which is what lets two unbounded
    // streams join with finite memory.
    "streaming_stream_join" -> ((s, dir) => withTempDir(s, "graft-stream-in-") { stage =>
      val clicks = rawEvents(s, dir, stage)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = rawEvents(s, dir, stage)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = clicks.join(purchases,
          col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
        .select(col("click_id"), col("purchase_id"))
      runToTable(joined, "append", s)
        .orderBy(col("click_id"), col("purchase_id"))
    }),

    // Streaming dedup: the source unioned with itself duplicates every event;
    // dropDuplicates keys state on event_id so each survives once, and the
    // downstream counts must equal the batch counts over the original table.
    // (Unbounded dedup state here; production bounds it with
    // dropDuplicatesWithinWatermark once ids can't recur past the watermark.)
    "streaming_dedup" -> ((s, dir) => withTempDir(s, "graft-stream-in-") { stage =>
      val ev = rawEvents(s, dir, stage)
      val deduped = ev.union(ev)
        .dropDuplicates("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      runToTable(deduped, "complete", s)
        .orderBy(col("event_type"))
    }),

    // The curation funnel RUN AS A STREAM: quality floor → stateful exact
    // dedup on (lang, content-key) → per-lang corpus stats, continuous over
    // arriving document files. The corpus is staged as TWO copies with
    // maxFilesPerTrigger=1, so each copy lands in its OWN micro-batch and
    // the dedup state provably survives the batch boundary (a unioned
    // single file would only exercise intra-batch dedup); the oracle is the
    // batch funnel over the same table — streaming/batch parity for the
    // curation path.
    "streaming_curation" -> ((s, dir) => withTempDir(s, "graft-stream-docs-") { stage =>
      val docs = rawDocs(s, dir, stage, nCopies = 2, maxFilesPerTrigger = Some(1))
      val funnel = docs
        .withColumn("n_tok",
          size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
        .filter(col("n_tok") >= 20)
        .withColumn("k", md5(col("text")))
        .dropDuplicates("lang", "k")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("tokens"))
      runToTable(funnel, "complete", s).orderBy(col("lang"))
    }),

    // Bounded-state streaming dedup: dropDuplicatesWithinWatermark evicts
    // dedup state once the watermark passes an id's event time — the
    // production form when duplicates can only arrive within a known delay
    // (unbounded dropDuplicates state is the alternative above).
    "streaming_dedup_watermark" -> ((s, dir) => withTempDir(s, "graft-stream-in-") { stage =>
      val ev = rawEvents(s, dir, stage)
      val deduped = ev.union(ev)
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      runToTable(deduped, "complete", s)
        .orderBy(col("event_type"))
    }),

    // Arbitrary stateful: per-user running event count in GroupState. The
    // memory sink (update mode) records one row per key per micro-batch;
    // max(n) per key is the final count regardless of how the source was
    // split into batches.
    "streaming_stateful_count" -> ((s, dir) => withTempDir(s, "graft-stream-in-") { stage =>
      import s.implicits._
      val perKey = rawEvents(s, dir, stage)
        .select(col("user_id")).as[Long]
        .groupByKey(identity)
        .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[Long], state: GroupState[Long]) =>
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            (uid, n)
        }
        .toDF("user_id", "n")
      runToTable(perKey, "update", s)
        .groupBy(col("user_id")).agg(max(col("n")).as("n"))
        .orderBy(col("user_id"))
    }),

    // Incremental materialized-view maintenance via foreachBatch: each
    // micro-batch's partial aggregate merges into a parquet MV (union +
    // re-aggregate → write aside → atomic-ish swap), so the MV converges to
    // the batch answer without ever re-reading the source history — the
    // streaming upkeep pattern for a 100 TB fact table's rollups. The input
    // is staged as TWO files with maxFilesPerTrigger=1, so the merge path
    // (read-MV → combine → swap) provably executes more than once; replay
    // safety (re-delivered batch ids are no-ops) is in `runIncrementalMv`
    // and exercised by StreamingSpec.
    "streaming_incremental_agg" -> ((s, dir) => {
      val stage = Staging.dir(s, "graft-minc-")
      val ev = Tables.t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val inDir = stagedSplit(s, dir, "minc", ev, col("event_id"), n = 2)
      runIncrementalMv(s, ev.schema, s"$inDir/*.parquet", s"$stage/mv",
        Staging.dir(s, "graft-minc-ckpt-"))
    }),

    // Sketch-snapshot maintenance as a STREAM: each micro-batch sketches
    // itself (hllByGroup) and merges into the persisted groups × KB
    // snapshot (hllMergeSnapshots + atomic swap) — the streaming form of
    // approx_distinct_incremental, and what a continuously-ingesting
    // corpus runs instead of nightly re-scans. The corpus is touched once,
    // the micro-batch it arrived in; only the KB-sized snapshot is ever
    // re-read. Contract written envelope-first (the HLL estimator lesson):
    // final-snapshot estimates land within the lgK envelope of the exact
    // distributed distinct counts, the group set is exactly the corpus's,
    // and the run genuinely spanned multiple micro-batches
    // (maxFilesPerTrigger=1 over 3 staged files).
    "streaming_sketch_snapshot" -> ((s, dir) => {
      val ev = Tables.t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("user_id"))
      val (snapPath, nb) = runHllSnapshotStream(s, dir)
      val batches = new java.util.concurrent.atomic.AtomicLong(nb)
      val est = graft.operators.Sketches.hllEstimates(
        s.read.parquet(snapPath), "event_type").localCheckpoint()
      val exact = ev.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("exact")).localCheckpoint()
      graft.queries.Contracts.row(s,
        "n_groups" -> est.count(),
        "multi_batch_ok" -> (batches.get() >= 3L),
        "groups_complete_ok" -> (est.count() == exact.count() &&
          est.join(exact, "event_type").count() == exact.count()),
        "estimates_within_error_ok" -> graft.queries.Contracts.forAll(
          est.join(exact, "event_type"),
          abs(col("n_distinct_est") - col("exact")).cast("double") <=
            col("exact") * lit(0.05)))
    }),

    // Frequent-items analog of streaming_sketch_snapshot: per-lang token
    // heavy-hitter sketches maintained across micro-batches (trending-
    // vocabulary monitoring on an ingest stream). maxMapSize=8 keeps
    // purging ACTIVE, so the contract is the sketch's real guarantees
    // against the exact distributed counts: bounds bracket every reported
    // item, and nothing above the max error is missed.
    //
    // Exactly-once shape (the novelty-stream design, NOT the HLL query's
    // read-merge-swap): each batch writes its own sketch segment to an
    // overwrite-mode batchId-keyed subdir, and the snapshot is the
    // FiUnion-merge over segments at read time. foreachBatch is
    // at-least-once — under the swap design a crash-replayed batch would
    // double-count into the ItemsSketch and could push a reported lower
    // bound ABOVE the exact count, violating the very contract this query
    // asserts. (HLL tolerates the swap design because register-max union
    // is idempotent; FI counts are not.) A replayed batch here rewrites
    // its own segment byte-identically instead.
    "streaming_freq_snapshot" -> ((s, dir) => {
      val docs = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val (segPath, nb) = runFiSnapshotStream(s, dir)
      val batches = new java.util.concurrent.atomic.AtomicLong(nb)
      // read-time merge over all segments: one distributed FiUnion agg
      val snap = graft.operators.Sketches.fiMergeSegments(
        Segments.read(s, segPath), "lang", maxMapSize = 8)
      val items = graft.operators.Sketches.fiFrequentItems(
        snap, "lang").localCheckpoint()
      val exact = docs.select(col("lang"),
          explode(graft.operators.TextAnalysis.tokens(col("text")))
            .as("token"))
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("cnt")).localCheckpoint()
      val bracketed = items.alias("i").join(exact.alias("e"),
          col("i.lang") === col("e.lang") &&
            col("i.item") === col("e.token"), "left")
        .select(col("i.lb"), col("i.ub"),
          coalesce(col("e.cnt"), lit(0L)).as("cnt"))
      val missing = exact
        .join(items.select(col("lang"), col("max_error")).distinct(),
          Seq("lang"))
        .filter(col("cnt") > col("max_error"))
        .join(items.select(col("lang"), col("item").as("token")),
          Seq("lang", "token"), "left_anti")
      graft.queries.Contracts.row(s,
        "n_groups" -> snap.count(),
        "multi_batch_ok" -> (batches.get() >= 3L),
        "bounds_bracket_exact_ok" -> graft.queries.Contracts.forAll(
          bracketed, col("lb") <= col("cnt") && col("cnt") <= col("ub")),
        "no_false_negatives_ok" -> missing.isEmpty)
    }),

    // KLL analog of streaming_sketch_snapshot: per-group QUANTILE sketches
    // maintained across micro-batches — each batch is sketched once and
    // merged into the persisted snapshot (groups × KB), so the nightly
    // distribution-trim bounds come from the snapshot, never a corpus
    // rescan. Same estimator-honest contract as approx_quantile_incremental:
    // the EXACT rank of each estimated quantile within the KLL rank-error
    // envelope, and merged getN exactly equal to per-group counts (counts
    // add under merge even though values approximate).
    "streaming_quantile_snapshot" -> ((s, dir) => {
      val ev = Tables.t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val (snapPath, nb) = runKllSnapshotStream(s, dir)
      val batches = new java.util.concurrent.atomic.AtomicLong(nb)
      val qs = Seq(0.05, 0.5, 0.95)
      val est = graft.operators.Sketches.kllQuantiles(
        s.read.parquet(snapPath), "event_type", qs).localCheckpoint()
      val exactN = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_exact")).localCheckpoint()
      val ranks = ev.join(
          broadcast(est.select(col("event_type"), col("q"),
            col("value").as("est"))), "event_type")
        .groupBy(col("event_type"), col("q"), col("est"))
        .agg(avg((col("value") <= col("est")).cast("double")).as("rank"))
      graft.queries.Contracts.row(s,
        "n_groups" -> est.select(col("event_type")).distinct().count(),
        "multi_batch_ok" -> (batches.get() >= 3L),
        "rank_envelope_ok" -> graft.queries.Contracts.forAll(ranks,
          abs(col("rank") - col("q")) <= lit(0.04)),
        "merged_n_exact_ok" -> graft.queries.Contracts.forAll(
          est.select(col("event_type"), col("n")).distinct()
            .join(exactN, "event_type"),
          col("n") === col("n_exact")))
    }),

    // Streaming maintenance of the persisted embedding SRP index — the
    // continuously-ingesting form of dedup_embedding_incremental: each
    // micro-batch of new vectors is (1) near-dup-paired against the
    // index built from every PRIOR batch (only the batch is hashed;
    // corpus candidates re-read via the semi-join prune), then (2) its
    // own band rows are appended to the index. A pair is emitted exactly
    // once — by the batch that completes it — so the union of per-batch
    // pair files must equal a from-scratch embeddingPairsLsh over the
    // whole corpus EXACTLY (seeded hyperplanes, rounded scores), and the
    // final index must equal srpIndex of the full corpus: both asserted.
    // Writes are exactly-once under retry by construction: each batch
    // owns an overwrite-mode subdirectory keyed by batchId (a replayed
    // batch rewrites its own directory, never double-appends), the
    // production-grade idempotency the sketch snapshots' read-merge-swap
    // loop approximates. At 100 TB the index is a bucket-partitioned
    // table and each batch's work is O(batch + collisions), never a
    // corpus re-scan — parameters ride the index metadata so a
    // mismatched reader fails loudly instead of silently emptying the
    // candidate set.
    "streaming_embedding_index" -> ((s, dir) => {
      val r = runEmbeddingIndexStream(s, dir)
      val accumulated = r.accumulated.localCheckpoint()
      val emb = Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val full = graft.operators.Dedup.embeddingPairsLsh(emb, "vec_id",
        "embedding", r.threshold, r.nBits, r.nTables).localCheckpoint()
      val fullIdx = graft.operators.Dedup.srpIndex(emb, "vec_id",
        "embedding", r.nBits, r.nTables)
      graft.queries.Contracts.row(s,
        "n_vecs" -> r.nVecs,
        "multi_batch_ok" -> (r.batches >= 3L),
        "pairs_well_formed_ok" -> graft.queries.Contracts.forAll(
          accumulated,
          col("id_a") < col("id_b") && col("cos") >= r.threshold),
        "equals_batch_run_ok" -> (graft.queries.Contracts.sameKeys(
          accumulated.select(col("id_a"), col("id_b")),
          full.select(col("id_a"), col("id_b")), Seq("id_a", "id_b")) &&
          accumulated.count() == full.count()),
        "index_equals_full_ok" -> graft.queries.Contracts.sameKeys(
          r.finalIndex.select(col("tbl"), col("bucket"), col("id")),
          fullIdx.select(col("tbl"), col("bucket"), col("id")),
          Seq("tbl", "bucket", "id")))
    }),

    // Streaming IVF-PQ index maintenance (see runIvfPqIndexStream): the
    // bootstrap batch trains, every later batch appends a stored-codebook
    // segment. Contracts: multi-batch really happened; one code segment
    // per non-empty batch; SERVING from the streamed store equals a
    // one-shot rebuild over the whole corpus with training pinned to the
    // recorded bootstrap batch (same codebooks + deterministic encode ⇒
    // identical rows, so identical top-k); compaction collapses to one
    // segment without changing a single served row.
    "streaming_ivfpq_index" -> ((s, dir) => {
      val (idxPath, stage, nb) = runIvfPqIndexStream(s, dir)
      val emb = Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val qv = emb.filter(col("vec_id") < 10)
      def serve(p: String): DataFrame =
        graft.operators.Similarity.queryIvfPqIndex(emb, qv, "vec_id",
          "embedding", p, k = 5, nProbe = 8, shortlistFactor = 8)
      val served = serve(idxPath).localCheckpoint()
      val rebuilt = Staging.dir(s, "graft-sivfpq-rb-")
      graft.operators.Similarity.buildIvfPqIndex(emb, "vec_id",
        "embedding", rebuilt, nCentroids = 8, m = 16,
        trainOn = s.read.parquet(s"$stage/train"))
      val rebuildServed = serve(rebuilt).localCheckpoint()
      def segs(): Long = Segments.open(s, s"$idxPath/codes").ids.size.toLong
      val segsBefore = segs()
      graft.operators.Similarity.compactIvfPqIndex(s, idxPath)
      val after = serve(idxPath).localCheckpoint()
      graft.queries.Contracts.row(s,
        "n_vecs" -> emb.count(),
        "multi_batch_ok" -> (nb >= 3L),
        "segments_track_batches_ok" -> (segsBefore == nb),
        "equals_rebuild_ok" -> (graft.queries.Contracts.checksum(served) ==
          graft.queries.Contracts.checksum(rebuildServed)),
        "compaction_invisible_ok" ->
          (graft.queries.Contracts.checksum(after) ==
            graft.queries.Contracts.checksum(served) && segs() == 1L))
    }),

    // Streaming novelty maintenance: 3 micro-batches, each scored on
    // arrival against the union of PRIOR batches' gram-df segments, then
    // appended as one additive segment. Contract: (1) segments sum to
    // exactly the from-scratch full-corpus gram-df table; (2) every
    // batch's dumped scores equal a sequential noveltyIncremental replay
    // that recovers each batch's doc set from its own dump — order-
    // independent, and exactly-once under the batchId-keyed overwrite.
    "streaming_novelty" -> ((s, dir) => {
      val (segDir, outDir, nb) = runNoveltyStream(s, dir)
      val docs = Tables.t(s, dir, "documents")
      val snap = Segments.read(s, segDir)
        .groupBy(col("g")).agg(sum(col("df")).as("df"))
        .localCheckpoint()
      val full = graft.operators.TextAnalysis
        .gramDf(docs, "doc_id", "text").localCheckpoint()
      val scores = Segments.open(s, outDir)
      val sequentialOk = Segments.open(s, segDir).ids.forall { id =>
        val scored = scores.read(_ == id).localCheckpoint()
        val batchDocs = docs.join(scored.select(col("doc_id")),
          Seq("doc_id"))
        val expected = graft.operators.TextAnalysis.noveltyIncremental(
          batchDocs, priorSegments(s, segDir, id), "doc_id",
          "text")._2.localCheckpoint()
        graft.queries.Contracts.sameKeys(scored, expected,
          Seq("doc_id", "n_novel", "n_grams", "novelty_ppm")) &&
          scored.count() == expected.count()
      }
      graft.queries.Contracts.row(s,
        "n_docs" -> docs.count(),
        "multi_batch_ok" -> (nb >= 3L),
        "snapshot_equals_full_ok" ->
          (graft.queries.Contracts.sameKeys(snap, full, Seq("g", "df")) &&
            snap.count() == full.count()),
        "arrival_scores_sequential_ok" -> sequentialOk)
    }),

    // Streaming manifest maintenance: each of 3 micro-batches lands data
    // files + appends their stats as one manifest segment — the manifest
    // IS the table listing. Contract: a manifest-served range read EQUALS
    // the same filter over everything written, the manifest's row
    // accounting matches the corpus exactly (one stats row per data file,
    // nrows summing to the doc count), segments track batches, and
    // compaction is invisible to serving.
    "streaming_manifest" -> ((s, dir) => {
      val (man, tbl, nb) = runManifestStream(s, dir)
      val docs = Tables.t(s, dir, "documents")
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val (lo, hi) = (mx / 3, mx / 2)
      val (pruned, _, nTotal) =
        graft.operators.Manifest.prunedRead(s, man, "doc_id", lo, hi)
      val chk = graft.queries.Contracts.checksum(pruned.localCheckpoint())
      val m = graft.operators.Manifest.readManifest(s, man).localCheckpoint()
      val full = s.read.parquet(s"$tbl/d*")
      val nFiles = new java.io.File(tbl).listFiles()
        .filter(_.isDirectory)
        .map(d => d.listFiles().count(_.getName.endsWith(".parquet"))).sum
      graft.operators.Manifest.compactManifest(s, man)
      val (pruned2, _, _) =
        graft.operators.Manifest.prunedRead(s, man, "doc_id", lo, hi)
      val segs = Segments.open(s, man).ids
      graft.queries.Contracts.row(s,
        "n_docs" -> docs.count(),
        "multi_batch_ok" -> (nb >= 3L),
        "segments_track_batches_ok" -> (nb == 3L && nTotal == nFiles.toLong),
        "rowcount_matches_corpus_ok" ->
          (m.agg(sum(col("nrows"))).head().getLong(0) == docs.count()),
        "equals_full_scan_ok" ->
          (chk == graft.queries.Contracts.checksum(
            full.filter(col("doc_id").between(lo, hi)))),
        "compaction_invisible_ok" ->
          (graft.queries.Contracts.checksum(pruned2) == chk &&
            segs.length == 1))
    }),

    // Streaming quality-filter serving: batch-fit frozen weights, each
    // micro-batch scored scan-side (sigmoid over literal weights) into a
    // batchId-keyed idempotent segment. Contract: ≥2 micro-batches, every
    // doc scored exactly once across segments, and the streamed scores
    // are BIT-EQUAL to batch-scoring the full corpus under the same
    // frozen weights — no tolerance (a per-row projection with literal
    // weights cannot depend on batching).
    "streaming_quality_score" -> ((s, dir) => {
      val docs = Tables.t(s, dir, "documents")
      val fit = graft.operators.QualityModel.train(docs, "doc_id", "text")
      val (outDir, nb) = runQualityScoreStream(s, dir, fit.weights)
      val streamed = Segments.read(s, outDir).localCheckpoint()
      val batch = graft.operators.QualityModel
        .score(docs, "doc_id", "text", fit.weights)
      graft.queries.Contracts.row(s,
        "n_docs" -> docs.count(),
        "multi_batch_ok" -> (nb >= 2L),
        "every_doc_scored_once_ok" ->
          (streamed.count() == docs.count() &&
            streamed.select(col("doc_id")).distinct().count() ==
              docs.count()),
        "equals_batch_scoring_ok" ->
          (graft.queries.Contracts.checksum(streamed) ==
            graft.queries.Contracts.checksum(batch)))
    }),

    // Streaming distribution-drift monitor: decile edges frozen on the
    // FULL batch table (the reference), then each micro-batch of the
    // purchase-event stream lands ONE bucket-count aggregation as an
    // idempotent batchId-keyed segment. Serving sums the segments into
    // the cumulative current histogram (additive integer counts — replay
    // cannot double-count) and computes PSI/JSD against the frozen
    // reference. Contract: ≥3 batches; the summed segments EXACTLY equal
    // the batch histogram of the same slice (integer equality via
    // checksum); and the served PSI/JSD equal the batch numericDrift at
    // the 6-decimal output grain (both sides aggregate the same ≤10
    // (p, q) rows — only engine-internal partial-sum order can differ,
    // which the output rounding absorbs by design).
    "streaming_drift" -> ((s, dir) => {
      val ev = Tables.t(s, dir, "events")
      val cur = ev.filter(col("event_type") === "purchase")
      val edges = graft.operators.Drift.quantileEdges(ev, "value", 10)
      val (segDir, nb) = runDriftStream(s, dir, edges)
      def r6(x: Double): Double = graft.operators.Fixed.round6(x)
      val streamedCounts = Segments.read(s, segDir)
        .groupBy(col("bucket")).agg(sum(col("n")).as("n"))
        .localCheckpoint()
      val batchCounts = graft.operators.Drift
        .histogram(cur, "value", edges).select(col("bucket"), col("n"))
      val refHist = graft.operators.Drift.histogram(ev, "value", edges)
      val served = graft.operators.Drift.compare(refHist,
        graft.operators.Drift.proportions(streamedCounts)).head()
      val batch = graft.operators.Drift
        .numericDrift(ev, cur, "value", nBuckets = 10).head()
      graft.queries.Contracts.row(s,
        "n_events" -> cur.count(),
        "multi_batch_ok" -> (nb >= 3L),
        "segments_sum_equals_batch_ok" ->
          (graft.queries.Contracts.checksum(streamedCounts) ==
            graft.queries.Contracts.checksum(batchCounts)),
        "served_psi_equals_batch_ok" ->
          (r6(served.getDouble(0)) == r6(batch.getDouble(0)) &&
            r6(served.getDouble(1)) == r6(batch.getDouble(1))))
    }),

    // Streaming data-quality gate: per micro-batch ONE row of additive
    // sufficient statistics lands as an idempotent batchId-keyed segment;
    // serving folds segments into the cumulative expectation verdicts.
    // Contract: ≥3 batches, and the served (check, metric, verdict) rows
    // are BIT-EQUAL to the batch Expectations pass over the same corpus —
    // additive statistics make streamed ≡ batch exact, not a tolerance.
    "streaming_expectations" -> ((s, dir) => {
      val docs = Tables.t(s, dir, "documents")
      val (segDir, nb) = runExpectationsStream(s, dir)
      val served = servedExpectations(s, segDir).localCheckpoint()
      val batch = graft.operators.Expectations.run(docs, servedChecks)
      graft.queries.Contracts.row(s,
        "n_docs" -> docs.count(),
        "multi_batch_ok" -> (nb >= 3L),
        "all_passed_ok" -> graft.queries.Contracts.forAll(served,
          col("passed")),
        "equals_batch_run_ok" ->
          (graft.queries.Contracts.checksum(served) ==
            graft.queries.Contracts.checksum(batch)))
    }),

    // Streaming Platt drift gate: the quality_calibration → plattFit
    // lifecycle composed as a streaming expectation. Per micro-batch one
    // additive reliability-bin segment (served scores + a planted
    // inversion of the doc_id%3==2 third), a driver-side cumulative
    // re-fit, and a verdict vs the frozen serving fit under a fixed
    // |ΔA|/|ΔB| envelope. Contract: ≥3 batches; the undrifted stream's
    // final cumulative fit is BIT-EQUAL to the batch quality_platt fit
    // (additive bins) and never trips; the planted drift trips the gate
    // and its final fit — replayed end to end in DuckDB as the unrolled
    // 25-iteration Newton on the perturbed bins — lands outside the
    // envelope.
    "streaming_platt_drift" -> ((s, dir) => {
      val docs = Tables.t(s, dir, "documents")
      val (a0Fx, b0Fx) = plattFrozenFit(s, dir)
      val (stage, nb) = runPlattDriftStream(s, dir, a0Fx, b0Fx)
      val v = Segments.read(s, s"$stage/verdicts").localCheckpoint()
      val maxId = v.agg(max(col("batch_id"))).head().getLong(0)
      def fin(variant: String) = v.filter(col("variant") === variant &&
        col("batch_id") === maxId).head()
      val fb = fin("base")
      val fd = fin("drift")
      val baseTrips = v.filter(col("variant") === "base" &&
        col("tripped")).count()
      val driftTrips = v.filter(col("variant") === "drift" &&
        col("tripped")).count()
      graft.queries.Contracts.row(s,
        "n_docs" -> docs.count(),
        "multi_batch_ok" -> (nb >= 3L),
        "a_frozen_fx" -> a0Fx,
        "b_frozen_fx" -> b0Fx,
        "a_drift_fx" -> fd.getAs[Long]("a_fx"),
        "b_drift_fx" -> fd.getAs[Long]("b_fx"),
        "final_fit_matches_frozen_ok" ->
          (fb.getAs[Long]("a_fx") == a0Fx &&
            fb.getAs[Long]("b_fx") == b0Fx),
        "undrifted_green_ok" -> (baseTrips == 0L),
        "drift_tripped_ok" ->
          (driftTrips >= 1L && fd.getAs[Boolean]("tripped")))
    }),

    // Streaming approximate uniqueness via mergeable HLL (the member the
    // additive-statistics suite deliberately excludes — exact distinct
    // does not add across batches). Per batch one (n, hll) segment;
    // serving unions register blobs and verdicts against the lgK=12 3σ
    // envelope around 1.0. Contract: ≥3 batches, additive n exact, the
    // merged estimate within the envelope of the exact distinct, and the
    // served verdict passes on the key column.
    "streaming_expectations_hll" -> ((s, dir) => {
      val docs = Tables.t(s, dir, "documents")
      val (segDir, nb) = runExpectationsHllStream(s, dir)
      val served = servedUniquenessHll(s, segDir).head()
      val n = Segments.read(s, segDir)
        .agg(sum(col("n"))).head().getLong(0)
      val dhat = Segments.read(s, segDir)
        .agg(hll_sketch_estimate(hll_union_agg(col("hll"))))
        .head().getLong(0)
      val nDocs = docs.count()
      val exactDistinct = docs
        .agg(count_distinct(col("doc_id"))).head().getLong(0)
      graft.queries.Contracts.row(s,
        "n_docs" -> nDocs,
        "multi_batch_ok" -> (nb >= 3L),
        "n_additive_exact_ok" -> (n == nDocs),
        "estimate_within_envelope_ok" ->
          (math.abs(dhat - exactDistinct).toDouble <=
            HllEnvelope * exactDistinct),
        "uniqueness_passed_ok" -> served.getBoolean(4))
    }),

    // Streaming deterministic reservoir: exact-k (smallest salted-md5
    // ranks) maintained across 3 micro-batches with O(k) state. Contract:
    // the final snapshot is BIT-EQUAL to a from-scratch batch exactK over
    // the full corpus — the semilattice fold (min-k under union) makes
    // order/batching/replay provably irrelevant, so equality is exact, not
    // an envelope — plus one snapshot segment per batch, k rows each.
    "streaming_reservoir" -> ((s, dir) => {
      val (segDir, nb) = runReservoirStream(s, dir)
      val docs = Tables.t(s, dir, "documents")
      val store = Segments.open(s, segDir)
      val ids = store.ids
      val last = store.read(_ == ids.max).localCheckpoint()
      val batch = graft.operators.Sampling.exactK(
        docs.select(col("doc_id")), "doc_id", reservoirK, "rs")
      graft.queries.Contracts.row(s,
        "n_docs" -> docs.count(),
        "multi_batch_ok" -> (nb >= 3L),
        "segments_track_batches_ok" -> (ids.length.toLong == nb),
        "k_rows_ok" -> (last.count() == reservoirK.toLong),
        "equals_batch_run_ok" ->
          (graft.queries.Contracts.checksum(last) ==
            graft.queries.Contracts.checksum(batch)))
    }),

    // Streaming maintenance of the persisted BM25 index: 3 micro-batches
    // each append one additive segment (postings/df/stats), history never
    // re-read. Contract: a serving query over the streamed index EQUALS —
    // scores included, via the fixed-point contributions — a from-scratch
    // bm25TopK of the full corpus, and one segment exists per batch.
    "streaming_text_index" -> ((s, dir) => {
      val (idxPath, nb) = runTextIndexStream(s, dir)
      val docs = Tables.t(s, dir, "documents")
      val qs = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text"))
      val stored = graft.operators.TextAnalysis.queryTextIndex(qs,
        "query_id", "text", idxPath, "doc_id", k = 5).localCheckpoint()
      val scratch = graft.operators.TextAnalysis.bm25TopK(docs, qs,
        "doc_id", "text", "query_id", "text", k = 5)
      val segs = Segments.open(s, s"$idxPath/seg").ids.size
      graft.queries.Contracts.row(s,
        "n_docs" -> docs.count(),
        "multi_batch_ok" -> (nb >= 3L),
        "segments_match_batches_ok" -> (segs.toLong == nb),
        "query_equals_scratch_ok" ->
          (graft.queries.Contracts.checksum(stored) ==
            graft.queries.Contracts.checksum(scratch)))
    }),

    // The reference's full event flow as ONE streaming query: parquet →
    // publish to queue → format("graft-queue") micro-batch source →
    // from_json → aggregate. Matching the oracle run directly on the source
    // table proves the queue + streaming-source transport is lossless
    // end to end (SQS event-source-mapping analog, template.yaml:82-86).
    "streaming_queue_source" -> ((s, dir) => {
      val qn = s"stream-src-${java.util.UUID.randomUUID()}"
      graft.pipeline.Publisher.publish(s,
        graft.pipeline.Publisher.PublishRequest(
          Seq(s"$dir/customer.parquet"), idColumn = "c_custkey"),
        new graft.pipeline.InMemoryQueueClient(qn))
      val schema = s.read.parquet(s"$dir/customer.parquet").schema
      val parsed = s.readStream.format("graft-queue").option("queue", qn)
        .load()
        .select(from_json(col("body"), schema).as("r"))
        .select("r.*")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
      val result = runToTable(parsed, "complete", s)
        .orderBy(col("c_mktsegment"))
      // the memory sink now holds the result; drop the queue's copy of the
      // table so repeated sweeps don't accumulate driver heap (the queue
      // registry is a process-lifetime static map)
      graft.pipeline.InMemoryQueue.clear(qn)
      result
    }),

    // PARTITIONED topic source (format "graft-topic"): events shard by
    // event_id % 4 into four independent append logs; the stream's offset
    // is a per-partition map and each micro-batch reads one slice PER
    // partition in parallel — the Kafka shape, where source parallelism =
    // partition count. The per-partition aggregate has a direct SQL oracle
    // (partition = event_id % 4 is engine-replicable), proving the sharded
    // transport is lossless and exactly-once end to end.
    "streaming_topic_source" -> ((s, dir) => {
      val topic = s"topic-${java.util.UUID.randomUUID()}"
      val nParts = 4
      val staged = Tables.t(s, dir, "events")
        .filter(col("event_id") < 2000)
        .select(col("event_id"),
          to_json(struct(col("event_id"), col("event_type"), col("value")))
            .as("body"))
        .orderBy(col("event_id"))
        .collect() // bounded staging set; ordered publish = per-key log order
      graft.sources.v2.TopicDataSource.publish(topic, nParts,
        staged.iterator.map(r => (r.getLong(0).toString, r.getString(1))),
        _.toLong.toInt)
      val sch = org.apache.spark.sql.types.StructType
        .fromDDL("event_id BIGINT, event_type STRING, value DOUBLE")
      val parsed = s.readStream.format("graft-topic")
        .option("topic", topic).option("partitions", nParts.toString)
        .load()
        .select(col("partition"), from_json(col("body"), sch).as("r"))
        .select(col("partition"), col("r.value").as("value"))
      val agg = parsed.groupBy(col("partition"))
        .agg(count(lit(1)).as("n"),
          (round(sum(col("value")), 2) + 0.0).as("sum_v"))
      val result = runToTable(agg, "complete", s).orderBy(col("partition"))
      graft.sources.v2.TopicDataSource.clear(topic, nParts)
      result
    }),

    // Kafka-shim entry point (format "graft-kafka", r13 verdict #7): the
    // SAME sharded logs as streaming_topic_source consumed through the
    // Kafka-spec surface — Kafka's column set (binary key/value, topic,
    // partition, offset, timestamp), startingOffsets JSON with the -2
    // sentinel (partition 0 starts at offset 10, the rest at earliest),
    // and maxOffsetsPerTrigger admission. Partition 0's log is ascending
    // event_id (ordered publish, shard = event_id % 4), so "skip its
    // first 10 records" is SQL-expressible and the oracle replays the
    // whole read: per-partition counts and value sums over exactly the
    // unskipped records — proving offset semantics, not just transport.
    "streaming_kafka_shim" -> ((s, dir) => {
      val topic = s"kshim-${java.util.UUID.randomUUID()}"
      val nParts = 4
      val staged = Tables.t(s, dir, "events")
        .filter(col("event_id") < 2000)
        .select(col("event_id"),
          to_json(struct(col("event_id"), col("event_type"), col("value")))
            .as("body"))
        .orderBy(col("event_id"))
        .collect()
      graft.sources.v2.TopicDataSource.publish(topic, nParts,
        staged.iterator.map(r => (r.getLong(0).toString, r.getString(1))),
        _.toLong.toInt)
      val sch = org.apache.spark.sql.types.StructType
        .fromDDL("event_id BIGINT, event_type STRING, value DOUBLE")
      val parsed = s.readStream.format("graft-kafka")
        .option("subscribe", topic).option("partitions", nParts.toString)
        .option("startingOffsets",
          s"""{"$topic":{"0":10,"1":-2,"2":-2,"3":-2}}""")
        .option("maxOffsetsPerTrigger", "700")
        // read parallelism beyond partition count (Kafka minPartitions:
        // slices split into contiguous offset sub-ranges) — transparent
        // to the result, which is exactly what the unchanged oracle
        // certifies
        .option("minPartitions", "12")
        .load()
        .select(col("partition"),
          from_json(col("value").cast("string"), sch).as("r"))
        .select(col("partition"), col("r.value").as("value"))
      val agg = parsed.groupBy(col("partition"))
        .agg(count(lit(1)).as("n"),
          (round(sum(col("value")), 2) + 0.0).as("sum_v"))
      val result = runToTable(agg, "complete", s).orderBy(col("partition"))
      graft.sources.v2.TopicDataSource.clear(topic, nParts)
      result
    }),

    // Kafka SINK drop-in (the write path of the shim): even event_ids
    // batch-written via df.write.format("graft-kafka"), odd ids
    // stream-written via writeStream.format("graft-kafka") — both routed
    // by the bit-exact murmur2 default partitioner — then the whole
    // topic is read back through the shim, value-parsed, and aggregated
    // by event_type: a lossless round trip through BOTH write surfaces
    // with a direct SQL oracle. per_key_single_partition_ok asserts the
    // partitioner's key-consistency on the real published logs.
    "streaming_kafka_sink" -> ((s, dir) => {
      val topic = s"ksink-${java.util.UUID.randomUUID()}"
      val nParts = 4
      val sch = org.apache.spark.sql.types.StructType
        .fromDDL("event_id BIGINT, event_type STRING, value DOUBLE")
      val ev = Tables.t(s, dir, "events")
        .filter(col("event_id") < 2000)
        .select(col("event_id").cast("string").as("key"),
          to_json(struct(col("event_id"), col("event_type"),
            col("value"))).as("value"))
      ev.filter(col("key").cast("long") % 2 === 0)
        .write.format("graft-kafka").mode("append")
        .option("topic", topic).option("partitions", nParts.toString)
        .save()
      // The input and, under it, the checkpoint live until `back` is
      // local-checkpointed: it no longer reads them.
      val back = withTempDir(s, "graft-ksink-in-") { dir =>
        val inDir = dir.toString
        ev.filter(col("key").cast("long") % 2 === 1)
          .write.mode("overwrite").parquet(inDir)
        val q = s.readStream.schema(s.read.parquet(inDir).schema)
          .parquet(inDir)
          .writeStream.format("graft-kafka")
          .option("topic", topic).option("partitions", nParts.toString)
          .option("checkpointLocation", s"$inDir/_ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        awaitBounded(q)
        s.read.format("graft-kafka")
          .option("subscribe", topic).option("partitions", nParts.toString)
          .load()
          .select(col("key").cast("string").as("k"), col("partition"),
            from_json(col("value").cast("string"), sch).as("r"))
          .localCheckpoint()
      }
      graft.sources.v2.TopicDataSource.clear(topic, nParts)
      val keyParts = back.select(col("k"), col("partition"))
        .distinct().count()
      val keys = back.select(col("k")).distinct().count()
      back.select(col("r.event_type").as("event_type"),
          col("r.value").as("value"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          (round(sum(col("value")), 2) + 0.0).as("sum_v"))
        .withColumn("per_key_single_partition_ok",
          lit(keyParts == keys))
        .orderBy(col("event_type"))
    }),

    // Source-level redrive policy (the reference's SQS maxReceiveCount: 5 +
    // DLQ, here maxReceiveCount=3): a poison message fails its handler every
    // time; each restart re-receives it (the visibility-timeout redelivery
    // analog) and the SOURCE's receive counter eventually dead-letters it,
    // letting the stream complete without it. maxMessagesPerTrigger=1
    // isolates the poison into its own micro-batch so healthy messages are
    // received exactly once. The dead-lettered message is then REDRIVEN by
    // consuming the DLQ queue with the fixed handler.
    "streaming_dlq_redrive" -> ((s, dir) => {
      val qn = s"dlq-src-${java.util.UUID.randomUUID()}"
      val poison = "7"
      (0 until 10).foreach(i => graft.pipeline.InMemoryQueue.queue(qn)
        .add(graft.pipeline.QueueMessage(i.toString, s"""{"v":$i}""")))
      val maxReceive = 3
      def consume(queue: String, out: String, cp: String,
          failOnPoison: Boolean): Boolean = try {
        val sq = s.readStream.format("graft-queue").option("queue", queue)
          .option("maxReceiveCount", maxReceive.toString)
          .option("maxMessagesPerTrigger", "1")
          .load()
          .writeStream.option("checkpointLocation", cp)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            // deliberately TWO actions with no persist: each re-executes
            // the V2 scan, and the receive_count==1 assertion below proves
            // the source counts per DELIVERY (batch planning), not per
            // scan execution
            if (failOnPoison && b.filter(col("id") === poison).count() > 0)
              throw new RuntimeException("handler fails on poison message")
            b.write.mode("append").parquet(out)
            ()
          }.start()
        awaitBounded(sq)
        true
      } catch { case _: Throwable => false }
      val out = Staging.dir(s, "graft-dlq-out-")
      val cp = Staging.dir(s, "graft-dlq-ckpt-")
      var runs = 1
      while (!consume(qn, out, cp, failOnPoison = true) && runs < 10)
        runs += 1
      val delivered = s.read.parquet(out).localCheckpoint()
      val dlqName = s"$qn-dlq"
      val dlqSnap = s.read.format("graft-queue").option("queue", dlqName)
        .load().localCheckpoint()
      val out2 = Staging.dir(s, "graft-dlq-out2-")
      val cp2 = Staging.dir(s, "graft-dlq-ckpt2-")
      val redriveClean = consume(dlqName, out2, cp2, failOnPoison = false)
      val redriven = s.read.parquet(out2).localCheckpoint()
      graft.pipeline.InMemoryQueue.clear(qn)
      graft.pipeline.InMemoryQueue.clear(dlqName)
      graft.queries.Contracts.row(s,
        "n_messages" -> 10L,
        // healthy messages all arrive exactly once, first receive
        "delivered_exactly_once_ok" ->
          (delivered.count() == 9L &&
            delivered.select(col("id")).distinct().count() == 9L &&
            delivered.filter(col("id") === poison).count() == 0L &&
            delivered.filter(col("receive_count") =!= 1).count() == 0L),
        // the poison message was redelivered maxReceiveCount times, then
        // dead-lettered by the source on the exceeding receive
        "redelivery_then_dlq_ok" -> (runs == maxReceive + 1 &&
          dlqSnap.count() == 1L &&
          dlqSnap.filter(col("id") === poison).count() == 1L),
        // redrive: the DLQ consumed with a fixed handler delivers the
        // message, body intact
        "redrive_delivers_ok" -> (redriveClean &&
          redriven.count() == 1L &&
          redriven.filter(col("id") === poison &&
            col("body") === s"""{"v":$poison}""").count() == 1L))
    }),

    // Event-time windowed aggregation THROUGH the queue transport: generate
    // records (deterministic timestamps spanning a year) → publish → stream
    // from format("graft-queue") → from_json → watermark + 7-day windows.
    // Contract: the streamed window set is checksum-identical to the same
    // aggregation computed in batch directly on the generated frame — the
    // end-to-end claim that transport + parse + event-time windowing lose
    // and invent nothing — and every published record lands in some window.
    "streaming_queue_window" -> ((s, dir) => {
      val qn = s"stream-win-${java.util.UUID.randomUUID()}"
      val stage = Staging.dir(s, "graft-qwin-")
      graft.sources.DataGenerator.generate(s, 2000L, seed = 7L).toDF()
        .write.mode("overwrite").parquet(s"$stage/records.parquet")
      graft.pipeline.Publisher.publish(s,
        graft.pipeline.Publisher.PublishRequest(
          Seq(s"$stage/records.parquet"), idColumn = "id"),
        new graft.pipeline.InMemoryQueueClient(qn))
      val schema = s.read.parquet(s"$stage/records.parquet").schema
      def winAgg(df: DataFrame): DataFrame = df
        .groupBy(window(col("created_at"), "7 days"), col("account_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("account_balance")), 2).as("bal"))
        .select(col("window.start").as("win_start"), col("account_type"),
          col("n"), col("bal"))
      val streamed = runToTable(
        winAgg(s.readStream.format("graft-queue").option("queue", qn).load()
          .select(from_json(col("body"), schema).as("r")).select("r.*")
          .withWatermark("created_at", "1 day")),
        "complete", s).localCheckpoint()
      val batch = winAgg(s.read.parquet(s"$stage/records.parquet"))
      graft.pipeline.InMemoryQueue.clear(qn)
      graft.queries.Contracts.row(s,
        "n_records" -> streamed.agg(coalesce(sum(col("n")), lit(0L)))
          .head().getLong(0),
        "windows_found_ok" -> (streamed.count() >= 2L),
        "streaming_equals_batch_ok" ->
          (graft.queries.Contracts.checksum(streamed) ==
            graft.queries.Contracts.checksum(batch)))
    })
  )

  /** Shared session oracle: lag-gap sessionization, identical to the batch
    * `session_window_agg` oracle in ExtendedQueries.
    */
  private val sessionOracle =
    """WITH g AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch(ts - lag(ts) OVER w) >= 1800 THEN 1 ELSE 0 END
      |      AS is_new
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, value,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM g)
      |SELECT min(ts) AS s_start, max(ts) + INTERVAL 30 MINUTE AS s_end,
      |  user_id, count(*) AS n, round(sum(value), 2) AS total
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, s_start""".stripMargin

  val oracles: Map[String, String] = Map(
    "streaming_sessionize" -> sessionOracle,
    "streaming_session_window" -> sessionOracle,

    "streaming_window_agg" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

    "streaming_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin,

    "streaming_dedup" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "streaming_incremental_agg" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "streaming_sketch_snapshot" ->
      """SELECT (SELECT count(DISTINCT event_type) FROM events) AS n_groups,
        |  TRUE AS multi_batch_ok, TRUE AS groups_complete_ok,
        |  TRUE AS estimates_within_error_ok""".stripMargin,

    "streaming_quantile_snapshot" ->
      """SELECT (SELECT count(DISTINCT event_type) FROM events) AS n_groups,
        |  TRUE AS multi_batch_ok, TRUE AS rank_envelope_ok,
        |  TRUE AS merged_n_exact_ok""".stripMargin,

    "streaming_freq_snapshot" ->
      """SELECT (SELECT count(DISTINCT lang) FROM documents) AS n_groups,
        |  TRUE AS multi_batch_ok, TRUE AS bounds_bracket_exact_ok,
        |  TRUE AS no_false_negatives_ok""".stripMargin,

    "streaming_embedding_index" ->
      """SELECT (SELECT count(*) FROM embeddings) AS n_vecs,
        |  TRUE AS multi_batch_ok, TRUE AS pairs_well_formed_ok,
        |  TRUE AS equals_batch_run_ok,
        |  TRUE AS index_equals_full_ok""".stripMargin,

    "streaming_text_index" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  TRUE AS multi_batch_ok, TRUE AS segments_match_batches_ok,
        |  TRUE AS query_equals_scratch_ok""".stripMargin,

    "streaming_ivfpq_index" ->
      """SELECT (SELECT count(*) FROM embeddings) AS n_vecs,
        |  TRUE AS multi_batch_ok, TRUE AS segments_track_batches_ok,
        |  TRUE AS equals_rebuild_ok,
        |  TRUE AS compaction_invisible_ok""".stripMargin,

    "streaming_novelty" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  TRUE AS multi_batch_ok, TRUE AS snapshot_equals_full_ok,
        |  TRUE AS arrival_scores_sequential_ok""".stripMargin,

    "streaming_reservoir" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  TRUE AS multi_batch_ok, TRUE AS segments_track_batches_ok,
        |  TRUE AS k_rows_ok, TRUE AS equals_batch_run_ok""".stripMargin,

    "streaming_quality_score" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  TRUE AS multi_batch_ok, TRUE AS every_doc_scored_once_ok,
        |  TRUE AS equals_batch_scoring_ok""".stripMargin,

    "streaming_drift" ->
      """SELECT (SELECT count(*) FROM events
        |   WHERE event_type = 'purchase') AS n_events,
        |  TRUE AS multi_batch_ok, TRUE AS segments_sum_equals_batch_ok,
        |  TRUE AS served_psi_equals_batch_ok""".stripMargin,

    "streaming_expectations" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  TRUE AS multi_batch_ok, TRUE AS all_passed_ok,
        |  TRUE AS equals_batch_run_ok""".stripMargin,

    "streaming_expectations_hll" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  TRUE AS multi_batch_ok, TRUE AS n_additive_exact_ok,
        |  TRUE AS estimate_within_envelope_ok,
        |  TRUE AS uniqueness_passed_ok""".stripMargin,

    // The drift-gate oracle replays BOTH fits end to end (the
    // quality_platt posture, twice): the frozen serving fit on the
    // unperturbed reliability bins and the drifted final cumulative fit
    // on bins whose doc_id%3==2 third is score-inverted — each as the
    // same unrolled fixed-25 Newton with the ±5 clamp and singular-
    // Hessian guard, every iteration MATERIALIZED (DuckDB inlines plain
    // CTEs and the tree doubles per step). Cumulative summed segments ≡
    // these bins exactly because every statistic is an additive long.
    "streaming_platt_drift" -> {
      def newton(bins: String, tgt: String, p: String): String =
        (1 to 25).map { k =>
          s"""${p}it$k AS MATERIALIZED (
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
             |      sum(n*p*(1.0-p)*sv*sv) AS haa,
             |      sum(n*p*(1.0-p)*sv) AS hab,
             |      sum(n*p*(1.0-p)) AS hbb,
             |      sum(n*p*(1.0-p)*sv*sv) * sum(n*p*(1.0-p))
             |        - sum(n*p*(1.0-p)*sv) * sum(n*p*(1.0-p)*sv) AS det
             |    FROM (
             |      SELECT ${p}it${k - 1}.a, ${p}it${k - 1}.b, $bins.n,
             |        $bins.mean_score_ppm/1000000.0 AS sv,
             |        $bins.n_pos*$tgt.tp
             |          + ($bins.n - $bins.n_pos)*$tgt.tn AS t,
             |        1.0/(1.0 + exp(-(${p}it${k - 1}.a
             |          *($bins.mean_score_ppm/1000000.0)
             |          + ${p}it${k - 1}.b))) AS p
             |      FROM $bins, ${p}it${k - 1}, $tgt)))""".stripMargin
        }.mkString(",\n")
      s"""WITH f AS (
         |  SELECT doc_id, CAST(len(t) AS DOUBLE) AS n_tok,
         |    nws / len(t) AS mean_wlen,
         |    CAST(len(list_filter(t, x -> x IN ('the','a','of','and',
         |      'to','in','is','it','for','on'))) AS DOUBLE) / len(t)
         |      AS stop_ratio,
         |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
         |      AS distinct_ratio
         |  FROM (SELECT doc_id,
         |      string_split_regex(trim(lower(text)), '\\s+') AS t,
         |      CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
         |        AS nws
         |    FROM documents)),
         |sc AS MATERIALIZED (
         |  SELECT doc_id, CASE WHEN n_tok >= 40.0 AND mean_wlen >= 4.4
         |      THEN 1 ELSE 0 END AS y,
         |    CAST(floor(1.0 / (1.0 + exp(-(1.0 * (-0.5)
         |      + ((n_tok - 50.0) / 25.0) * 2.0
         |      + ((mean_wlen - 4.5) * 4.0) * 1.5
         |      + (stop_ratio * 5.0) * (-0.3)
         |      + ((distinct_ratio - 0.5) * 4.0) * 0.4
         |      + (((n_tok - 50.0) / 25.0) * ((mean_wlen - 4.5) * 4.0))
         |        * 1.0))) * 1e6 + 0.5) AS BIGINT) AS score_ppm
         |  FROM f),
         |scd AS (
         |  SELECT y, CASE WHEN doc_id % 3 = 2 THEN 1000000 - score_ppm
         |    ELSE score_ppm END AS score_ppm FROM sc),
         |bins AS MATERIALIZED (
         |  SELECT CAST(least(score_ppm // 100000, 9) AS BIGINT) AS bin,
         |    count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(sum(score_ppm) // count(*) AS BIGINT) AS mean_score_ppm
         |  FROM sc GROUP BY 1),
         |dbins AS MATERIALIZED (
         |  SELECT CAST(least(score_ppm // 100000, 9) AS BIGINT) AS bin,
         |    count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(sum(score_ppm) // count(*) AS BIGINT) AS mean_score_ppm
         |  FROM scd GROUP BY 1),
         |tgt AS MATERIALIZED (
         |  SELECT (sum(n_pos) + 1.0) / (sum(n_pos) + 2.0) AS tp,
         |    1.0 / (sum(n) - sum(n_pos) + 2.0) AS tn
         |  FROM bins),
         |dtgt AS MATERIALIZED (
         |  SELECT (sum(n_pos) + 1.0) / (sum(n_pos) + 2.0) AS tp,
         |    1.0 / (sum(n) - sum(n_pos) + 2.0) AS tn
         |  FROM dbins),
         |it0 AS MATERIALIZED (SELECT 0.0 AS a, 0.0 AS b),
         |${newton("bins", "tgt", "")},
         |dit0 AS MATERIALIZED (SELECT 0.0 AS a, 0.0 AS b),
         |${newton("dbins", "dtgt", "d")},
         |fit AS MATERIALIZED (
         |  SELECT CAST(floor(a*1e6 + 0.5) AS BIGINT) AS a_fx,
         |    CAST(floor(b*1e6 + 0.5) AS BIGINT) AS b_fx FROM it25),
         |dfit AS MATERIALIZED (
         |  SELECT CAST(floor(a*1e6 + 0.5) AS BIGINT) AS a_fx,
         |    CAST(floor(b*1e6 + 0.5) AS BIGINT) AS b_fx FROM dit25)
         |SELECT (SELECT count(*) FROM documents) AS n_docs,
         |  TRUE AS multi_batch_ok,
         |  (SELECT a_fx FROM fit) AS a_frozen_fx,
         |  (SELECT b_fx FROM fit) AS b_frozen_fx,
         |  (SELECT a_fx FROM dfit) AS a_drift_fx,
         |  (SELECT b_fx FROM dfit) AS b_drift_fx,
         |  TRUE AS final_fit_matches_frozen_ok,
         |  TRUE AS undrifted_green_ok,
         |  TRUE AS drift_tripped_ok""".stripMargin
    },

    "streaming_manifest" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  TRUE AS multi_batch_ok, TRUE AS segments_track_batches_ok,
        |  TRUE AS rowcount_matches_corpus_ok, TRUE AS equals_full_scan_ok,
        |  TRUE AS compaction_invisible_ok""".stripMargin,

    "streaming_dedup_watermark" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "streaming_curation" ->
      """WITH d AS (
        |  SELECT lang, md5(text) AS k,
        |    len(string_split_regex(trim(lower(text)), '\s+'))::BIGINT
        |      AS n_tok
        |  FROM documents),
        |f AS (SELECT DISTINCT lang, k, n_tok FROM d WHERE n_tok >= 20)
        |SELECT lang, count(*)::BIGINT AS n, sum(n_tok)::BIGINT AS tokens
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    "streaming_tws_stats" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "streaming_funnel" ->
      """WITH t0 AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t
        |  FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')
        |  GROUP BY user_id),
        |t1 AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'click' AND e.ts > t0.t
        |        THEN e.ts END) AS t
        |  FROM events e JOIN t0 USING (user_id) GROUP BY e.user_id),
        |t2 AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > t1.t
        |        THEN e.ts END) AS t
        |  FROM events e JOIN t1 USING (user_id) GROUP BY e.user_id)
        |SELECT t0.user_id,
        |  (CASE WHEN t2.t IS NOT NULL THEN 3
        |        WHEN t1.t IS NOT NULL THEN 2
        |        WHEN t0.t IS NOT NULL THEN 1
        |        ELSE 0 END)::BIGINT AS step_reached
        |FROM t0 JOIN t1 USING (user_id) JOIN t2 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "streaming_stateful_count" ->
      """SELECT user_id, count(*) AS n FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "streaming_queue_source" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "streaming_topic_source" ->
      """SELECT (event_id % 4)::INT AS partition, count(*) AS n,
        |  round(sum(value), 2) AS sum_v
        |FROM events WHERE event_id < 2000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "streaming_kafka_sink" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_v,
        |  TRUE AS per_key_single_partition_ok
        |FROM events WHERE event_id < 2000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // partition p's log holds events with event_id%4 = p in ascending
    // event_id order (ordered publish), so startingOffsets {"0":10} =
    // drop partition 0's 10 smallest event_ids — replayed with a window
    "streaming_kafka_shim" ->
      """WITH e AS (
        |  SELECT (event_id % 4)::INT AS partition, value,
        |    row_number() OVER (PARTITION BY event_id % 4
        |      ORDER BY event_id) AS rn
        |  FROM events WHERE event_id < 2000)
        |SELECT partition, count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM e WHERE NOT (partition = 0 AND rn <= 10)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "streaming_queue_window" ->
      """SELECT 2000::BIGINT AS n_records, TRUE AS windows_found_ok,
        |  TRUE AS streaming_equals_batch_ok""".stripMargin,

    "streaming_dlq_redrive" ->
      """SELECT 10::BIGINT AS n_messages, TRUE AS delivered_exactly_once_ok,
        |  TRUE AS redelivery_then_dlq_ok,
        |  TRUE AS redrive_delivers_ok""".stripMargin
  )
}
