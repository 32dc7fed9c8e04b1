package graft.operators

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Sketches => DsSketches, Union}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Mergeable cardinality sketches for recurring ingest — the production
  * answer to "distinct users/documents per key, updated per batch, without
  * ever rescanning the corpus".
  *
  * Built on Spark's Datasketches HLL functions (`hll_sketch_agg` /
  * `hll_union_agg` / `hll_sketch_estimate`): a per-group sketch is a few KB
  * regardless of group cardinality, and sketches merge associatively
  * (register maxima) — merging a batch's sketches into a persisted snapshot
  * covers the same value set as sketching all data in one pass. NOTE that
  * register associativity does NOT make the ESTIMATE invariant across merge
  * trees: a stream-built sketch answers with the HIP estimator, while a
  * sketch built by union (`hll_union_agg`, or an agg over more partitions)
  * sets the out-of-order flag and answers with the composite estimator, so
  * incremental and single-pass estimates may differ by ~1-2% at lgK=12 even
  * over identical data. Contracts on this module therefore assert the lgK
  * error envelope against exact counts, never estimate equality across
  * build shapes. At 100 TB the
  * snapshot table is groups × KB — the only thing a nightly ingest reads and
  * rewrites; the corpus itself is touched exactly once, the batch it
  * arrived in. The same persisted-state pattern as `Dedup.bandIndex` /
  * `Dedup.contentKeys`.
  *
  * `lgK` trades size for error: relative standard error ≈ 1.04/√2^lgK
  * (~1.6% at the default 12). Groups in LIST/SET mode (small cardinalities)
  * are exact.
  */
object Sketches {

  /** Per-group HLL sketch table: (groupCol, hll binary). The snapshot
    * format — write this once per corpus, merge batches into it.
    */
  def hllByGroup(df: DataFrame, groupCol: String, valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("hll"))

  /** Merge two sketch tables (a persisted snapshot and a new batch's
    * sketches) into an updated snapshot. Groups present in only one side
    * pass through; `allowDifferentLgK` stays off so a mis-parameterized
    * batch fails loudly instead of silently degrading precision.
    */
  def hllMergeSnapshots(snapshot: DataFrame, batch: DataFrame,
      groupCol: String): DataFrame =
    snapshot.unionByName(batch)
      .groupBy(col(groupCol))
      .agg(hll_union_agg(col("hll"), lit(false)).as("hll"))

  /** Distinct-count estimates from a sketch table. */
  def hllEstimates(sketches: DataFrame, groupCol: String,
      outCol: String = "n_distinct_est"): DataFrame =
    sketches.select(col(groupCol),
      hll_sketch_estimate(col("hll")).as(outCol))

  /** Convenience: estimates for `df` grouped by `groupCol`, incremental
    * path — sketch the batch, merge into `snapshot`, estimate. Returns
    * (updatedSnapshot, estimates); persist the snapshot for the next batch.
    */
  def hllIncremental(snapshot: DataFrame, batch: DataFrame, groupCol: String,
      valueCol: String, lgK: Int = 12): (DataFrame, DataFrame) = {
    val updated =
      hllMergeSnapshots(snapshot, hllByGroup(batch, groupCol, valueCol, lgK),
        groupCol)
    (updated, hllEstimates(updated, groupCol))
  }

  // --- Mergeable per-group quantiles (Datasketches KLL) ---------------------
  //
  // The distribution analog of the HLL family above: a per-group KLL doubles
  // sketch is O(k·log n) bytes (~3 KB at k=200 over billions of rows), merges
  // associatively, and answers any quantile with normalized RANK error
  // ≤ ~1.65% at the default k (99% confidence). Same caveat as HLL, applied
  // from the start: quantile VALUES are not invariant across merge trees
  // (compaction levels differ), so contracts assert the rank-error envelope
  // against exact ranks, never value equality across build shapes. getN IS
  // exact under merge (counts add). Spark bundles datasketches-java for its
  // hll_* functions; there is no kll_* SQL surface, so the build/merge aggs
  // are typed Aggregators (map-side partial, KB buffers on the shuffle) and
  // extraction runs once per GROUP — off the per-row hot path, so the
  // per-group lambda costs nothing at scale.

  /** Java-serializable carrier for a KLL sketch buffer: bytes on the wire,
    * heap sketch in the aggregation hash map. Lazy — `sk` stays null until
    * the first value, so empty partial buffers serialize to almost nothing.
    */
  private[operators] final class KllBuf(@transient var sk: KllDoublesSketch)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit =
      out.writeObject(if (sk == null) null else sk.toByteArray)
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      val bytes = in.readObject().asInstanceOf[Array[Byte]]
      sk = if (bytes == null) null
      else KllDoublesSketch.heapify(Memory.wrap(bytes))
    }
  }

  /** Build a KLL sketch from raw values (map-side partials, merged buffers
    * on the shuffle). Nulls are skipped, matching SQL aggregate semantics.
    */
  private[operators] final case class KllBuild(k: Int)
      extends Aggregator[java.lang.Double, KllBuf, Array[Byte]] {
    override def zero: KllBuf = new KllBuf(null)
    override def reduce(b: KllBuf, x: java.lang.Double): KllBuf = {
      if (x != null) {
        if (b.sk == null) b.sk = KllDoublesSketch.newHeapInstance(k)
        b.sk.update(x.doubleValue)
      }
      b
    }
    override def merge(a: KllBuf, b: KllBuf): KllBuf = {
      if (b.sk != null) {
        if (a.sk == null) a.sk = b.sk else a.sk.merge(b.sk)
      }
      a
    }
    override def finish(b: KllBuf): Array[Byte] =
      (if (b.sk == null) KllDoublesSketch.newHeapInstance(k) else b.sk)
        .toByteArray
    override def bufferEncoder: Encoder[KllBuf] =
      Encoders.javaSerialization(classOf[KllBuf])
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Union serialized KLL sketches (the snapshot-merge agg). */
  private[operators] case object KllUnion
      extends Aggregator[Array[Byte], KllBuf, Array[Byte]] {
    override def zero: KllBuf = new KllBuf(null)
    override def reduce(b: KllBuf, bytes: Array[Byte]): KllBuf = {
      if (bytes != null) {
        val sk = KllDoublesSketch.heapify(Memory.wrap(bytes))
        if (b.sk == null) b.sk = sk else b.sk.merge(sk)
      }
      b
    }
    override def merge(a: KllBuf, b: KllBuf): KllBuf = {
      if (b.sk != null) {
        if (a.sk == null) a.sk = b.sk else a.sk.merge(b.sk)
      }
      a
    }
    override def finish(b: KllBuf): Array[Byte] =
      (if (b.sk == null) KllDoublesSketch.newHeapInstance(200) else b.sk)
        .toByteArray
    override def bufferEncoder: Encoder[KllBuf] =
      Encoders.javaSerialization(classOf[KllBuf])
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Per-group KLL sketch table: (groupCol, kll binary) — the snapshot
    * format, mirroring [[hllByGroup]].
    */
  def kllByGroup(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 200): DataFrame =
    df.groupBy(col(groupCol))
      .agg(udaf(KllBuild(k)).apply(col(valueCol).cast("double")).as("kll"))

  /** Merge two sketch tables (persisted snapshot + new batch) into an
    * updated snapshot; groups present in only one side pass through.
    */
  def kllMergeSnapshots(snapshot: DataFrame, batch: DataFrame,
      groupCol: String): DataFrame =
    snapshot.unionByName(batch)
      .groupBy(col(groupCol))
      .agg(udaf(KllUnion).apply(col("kll")).as("kll"))

  /** Long-form quantile estimates from a sketch table: one row per
    * (group, q) with the estimated value and the sketch's exact n.
    */
  def kllQuantiles(sketches: DataFrame, groupCol: String,
      qs: Seq[Double]): DataFrame = {
    // ONE heapify per group (n and the quantile vector come out of the
    // same pass), and posexplode_outer so a group whose sketch is empty
    // (every batch value NULL) still surfaces as (group, null, null, 0)
    // instead of silently vanishing from the output.
    val extract = udf { (bytes: Array[Byte]) =>
      val sk = KllDoublesSketch.heapify(Memory.wrap(bytes))
      (sk.getN,
        if (sk.isEmpty) Array.empty[Double]
        else qs.map(q => sk.getQuantile(q)).toArray)
    }
    sketches
      .select(col(groupCol), extract(col("kll")).as("_x"))
      .select(col(groupCol), col("_x._1").as("n"),
        posexplode_outer(col("_x._2")).as(Seq("qi", "value")))
      .select(col(groupCol),
        when(col("value").isNotNull,
          element_at(typedLit(qs), col("qi") + 1)).as("q"),
        col("value"), col("n"))
  }

  /** Incremental path mirroring [[hllIncremental]]: sketch the batch, merge
    * into `snapshot`, extract quantiles. Returns (updatedSnapshot,
    * quantiles); persist the snapshot for the next batch.
    */
  def kllIncremental(snapshot: DataFrame, batch: DataFrame, groupCol: String,
      valueCol: String, qs: Seq[Double], k: Int = 200)
      : (DataFrame, DataFrame) = {
    val updated =
      kllMergeSnapshots(snapshot, kllByGroup(batch, groupCol, valueCol, k),
        groupCol)
    (updated, kllQuantiles(updated, groupCol, qs))
  }

  // --- Mergeable distinct-set algebra (Datasketches Theta) -----------------
  //
  // HLL answers |A| only; Theta sketches additionally support UNION,
  // INTERSECTION and A-NOT-B over the sketched sets — which is what corpus
  // OVERLAP questions need at 100 TB: "how many distinct shingles/tokens/
  // urls do train and eval share" without ever joining the two corpora.
  // Each side is sketched in one scan (KB result), the set algebra runs on
  // the driver in microseconds. Below ~2^lgK distinct items a theta sketch
  // is in exact mode (no sampling), so small-set answers are exact; above
  // it the relative standard error is ~1/√2^lgK on unions (intersections
  // compound — the contract asserts the measured envelope, never equality).

  /** Serializable carrier for a theta Union buffer. `lgK` rides along so
    * post-shuffle deserialization rebuilds the union at the SAME nominal
    * entries — a default-sized (2^12) rebuild would silently downsample
    * any lgK > 12 sketch to lgK=12 accuracy on its first merge hop.
    */
  private[operators] final class ThetaBuf(@transient var union: Union,
      var lgK: Int) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.writeInt(lgK)
      out.writeObject(
        if (union == null) null else union.getResult.toByteArray)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      lgK = in.readInt()
      val bytes = in.readObject().asInstanceOf[Array[Byte]]
      union = if (bytes == null) null
      else {
        val u = SetOperation.builder()
          .setNominalEntries(1 << lgK).buildUnion()
        u.union(DsSketches.wrapSketch(Memory.wrap(bytes)))
        u
      }
    }
  }

  /** Build a theta sketch over string keys (map-side partials; the theta
    * Union accepts raw updates directly, so build and merge share a buffer).
    */
  private[operators] final case class ThetaBuild(lgK: Int)
      extends Aggregator[String, ThetaBuf, Array[Byte]] {
    private def fresh(): Union =
      SetOperation.builder().setNominalEntries(1 << lgK).buildUnion()
    override def zero: ThetaBuf = new ThetaBuf(null, lgK)
    override def reduce(b: ThetaBuf, x: String): ThetaBuf = {
      if (x != null) {
        if (b.union == null) b.union = fresh()
        b.union.update(x)
      }
      b
    }
    override def merge(a: ThetaBuf, b: ThetaBuf): ThetaBuf = {
      if (b.union != null) {
        if (a.union == null) a.union = b.union
        else a.union.union(b.union.getResult)
      }
      a
    }
    override def finish(b: ThetaBuf): Array[Byte] =
      (if (b.union == null) fresh().getResult else b.union.getResult)
        .toByteArray
    override def bufferEncoder: Encoder[ThetaBuf] =
      Encoders.javaSerialization(classOf[ThetaBuf])
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Union serialized theta sketches (the snapshot-merge agg). `lgK` must
    * match the build-side parameter, for the same no-silent-downsample
    * reason as [[ThetaBuf]].
    */
  private[operators] final case class ThetaUnionAgg(lgK: Int)
      extends Aggregator[Array[Byte], ThetaBuf, Array[Byte]] {
    private def fresh(): Union =
      SetOperation.builder().setNominalEntries(1 << lgK).buildUnion()
    override def zero: ThetaBuf = new ThetaBuf(null, lgK)
    override def reduce(b: ThetaBuf, bytes: Array[Byte]): ThetaBuf = {
      if (bytes != null) {
        if (b.union == null) b.union = fresh()
        b.union.union(DsSketches.wrapSketch(Memory.wrap(bytes)))
      }
      b
    }
    override def merge(a: ThetaBuf, b: ThetaBuf): ThetaBuf = {
      if (b.union != null) {
        if (a.union == null) a.union = b.union
        else a.union.union(b.union.getResult)
      }
      a
    }
    override def finish(b: ThetaBuf): Array[Byte] =
      (if (b.union == null) fresh().getResult
       else b.union.getResult).toByteArray
    override def bufferEncoder: Encoder[ThetaBuf] =
      Encoders.javaSerialization(classOf[ThetaBuf])
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Per-group theta sketch table: (groupCol, theta binary). */
  def thetaByGroup(df: DataFrame, groupCol: String, valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(col(groupCol))
      .agg(udaf(ThetaBuild(lgK)).apply(col(valueCol).cast("string"))
        .as("theta"))

  /** Merge two theta sketch tables into an updated snapshot. `lgK` must
    * match the tables' build parameter.
    */
  def thetaMergeSnapshots(snapshot: DataFrame, batch: DataFrame,
      groupCol: String, lgK: Int = 12): DataFrame =
    snapshot.unionByName(batch)
      .groupBy(col(groupCol))
      .agg(udaf(ThetaUnionAgg(lgK)).apply(col("theta")).as("theta"))

  private def wrapTheta(bytes: Array[Byte]): CompactSketch =
    DsSketches.wrapSketch(Memory.wrap(bytes)).compact()

  /** Driver-side set algebra over two serialized sketches — each input is
    * a KB blob, so these run in microseconds regardless of corpus size.
    */
  def thetaEstimate(a: Array[Byte]): Double = wrapTheta(a).getEstimate

  /** Union estimate. `lgK <= 0` (default) auto-sizes the union to hold
    * every retained entry of both inputs, so a pair of exact-mode
    * sketches (built at any lgK) unions EXACTLY — a fixed default of 12
    * would silently downsample sketches built larger, the very hazard
    * ThetaBuf's scaladoc warns about. Pass lgK explicitly only to force
    * a smaller result sketch.
    */
  def thetaUnionEstimate(a: Array[Byte], b: Array[Byte],
      lgK: Int = 0): Double = {
    val (sa, sb) = (wrapTheta(a), wrapTheta(b))
    val nom =
      if (lgK > 0) 1 << lgK
      else {
        val need = math.min(1L << 26, math.max(4096L,
          sa.getRetainedEntries(true).toLong +
            sb.getRetainedEntries(true).toLong))
        1 << (64 - java.lang.Long.numberOfLeadingZeros(need - 1))
      }
    val u = SetOperation.builder().setNominalEntries(nom).buildUnion()
    u.union(sa); u.union(sb)
    u.getResult.getEstimate
  }

  /** Intersection / A-not-B never downsample in DataSketches (the result
    * keeps min-theta and the retained-set operation; nominal entries are
    * a union-only concept), so no lgK parameter exists to get wrong.
    */
  def thetaIntersectEstimate(a: Array[Byte], b: Array[Byte]): Double = {
    val i = SetOperation.builder().buildIntersection()
    i.intersect(wrapTheta(a)); i.intersect(wrapTheta(b))
    i.getResult.getEstimate
  }
  def thetaANotBEstimate(a: Array[Byte], b: Array[Byte]): Double = {
    val d = SetOperation.builder().buildANotB()
    d.setA(wrapTheta(a)); d.notB(wrapTheta(b))
    d.getResult(true).getEstimate
  }

  // --- Mergeable frequent items (Misra-Gries, Datasketches ItemsSketch) ---
  //
  // The heavy-hitters member of the sketch family: HLL answers "how many
  // distinct", KLL "what distribution", theta "how much overlap" — this one
  // answers "WHICH items dominate, with guarantees". Deterministic (no
  // hashing), mergeable (associative, same purge semantics), maxMapSize
  // bounds both memory and error: maxError ≤ streamLength · 3.5/maxMapSize,
  // and with NO_FALSE_NEGATIVES every item whose true count exceeds
  // maxError IS returned. Estimates are not invariant across merge trees
  // (purge points differ) but the [lower, upper] bounds ALWAYS bracket the
  // exact count — so contracts here assert brackets and the no-false-
  // negative guarantee, never estimate equality (the HLL/KLL posture).

  private[operators] final class FiBuf(
      @transient var sk: ItemsSketch[String]) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit =
      out.writeObject(
        if (sk == null) null else sk.toByteArray(new ArrayOfStringsSerDe))
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      val bytes = in.readObject().asInstanceOf[Array[Byte]]
      sk = if (bytes == null) null
      else ItemsSketch.getInstance(Memory.wrap(bytes),
        new ArrayOfStringsSerDe)
    }
  }

  private[operators] final case class FiBuild(maxMapSize: Int)
      extends Aggregator[String, FiBuf, Array[Byte]] {
    override def zero: FiBuf = new FiBuf(null)
    override def reduce(b: FiBuf, x: String): FiBuf = {
      if (x != null) {
        if (b.sk == null) b.sk = new ItemsSketch[String](maxMapSize)
        b.sk.update(x)
      }
      b
    }
    override def merge(a: FiBuf, b: FiBuf): FiBuf = {
      if (b.sk != null) {
        if (a.sk == null) a.sk = b.sk else a.sk.merge(b.sk)
      }
      a
    }
    override def finish(b: FiBuf): Array[Byte] =
      (if (b.sk == null) new ItemsSketch[String](maxMapSize) else b.sk)
        .toByteArray(new ArrayOfStringsSerDe)
    override def bufferEncoder: Encoder[FiBuf] =
      Encoders.javaSerialization(classOf[FiBuf])
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private[operators] final case class FiUnion(maxMapSize: Int)
      extends Aggregator[Array[Byte], FiBuf, Array[Byte]] {
    override def zero: FiBuf = new FiBuf(null)
    override def reduce(b: FiBuf, bytes: Array[Byte]): FiBuf = {
      if (bytes != null) {
        val sk = ItemsSketch.getInstance(Memory.wrap(bytes),
          new ArrayOfStringsSerDe)
        if (b.sk == null) b.sk = sk else b.sk.merge(sk)
      }
      b
    }
    override def merge(a: FiBuf, b: FiBuf): FiBuf = {
      if (b.sk != null) {
        if (a.sk == null) a.sk = b.sk else a.sk.merge(b.sk)
      }
      a
    }
    override def finish(b: FiBuf): Array[Byte] =
      (if (b.sk == null) new ItemsSketch[String](maxMapSize) else b.sk)
        .toByteArray(new ArrayOfStringsSerDe)
    override def bufferEncoder: Encoder[FiBuf] =
      Encoders.javaSerialization(classOf[FiBuf])
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Per-group frequent-items sketch table: (groupCol, fi binary) — the
    * snapshot format, mirroring [[hllByGroup]]/[[kllByGroup]].
    */
  def fiByGroup(df: DataFrame, groupCol: String, valueCol: String,
      maxMapSize: Int = 64): DataFrame =
    df.groupBy(col(groupCol))
      .agg(udaf(FiBuild(maxMapSize)).apply(col(valueCol).cast("string"))
        .as("fi"))

  /** Merge two sketch tables (persisted snapshot + new batch). */
  def fiMergeSnapshots(snapshot: DataFrame, batch: DataFrame,
      groupCol: String, maxMapSize: Int = 64): DataFrame =
    fiMergeSegments(snapshot.unionByName(batch), groupCol, maxMapSize)

  /** Collapse a many-segment sketch table (one row per (group, segment) —
    * the batchId-keyed exactly-once store) to one row per group: the
    * read-time N-way form of [[fiMergeSnapshots]], one distributed union
    * agg over however many segments have accumulated.
    */
  def fiMergeSegments(segments: DataFrame, groupCol: String,
      maxMapSize: Int = 64): DataFrame =
    segments.groupBy(col(groupCol))
      .agg(udaf(FiUnion(maxMapSize)).apply(col("fi")).as("fi"))

  /** Long-form heavy hitters per group under NO_FALSE_NEGATIVES: one row
    * per (group, item) with estimate and [lb, ub] bounds, plus the
    * sketch's exact stream length and its maximum error.
    */
  def fiFrequentItems(sketches: DataFrame, groupCol: String): DataFrame = {
    val extract = udf { (bytes: Array[Byte]) =>
      val sk = ItemsSketch.getInstance(Memory.wrap(bytes),
        new ArrayOfStringsSerDe)
      val rows = sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
        .map(r => (r.getItem, r.getEstimate, r.getLowerBound,
          r.getUpperBound))
      (sk.getStreamLength, sk.getMaximumError, rows)
    }
    sketches
      .select(col(groupCol), extract(col("fi")).as("_x"))
      .select(col(groupCol), col("_x._1").as("n"),
        col("_x._2").as("max_error"), explode(col("_x._3")).as("r"))
      .select(col(groupCol), col("r._1").as("item"),
        col("r._2").as("est"), col("r._3").as("lb"), col("r._4").as("ub"),
        col("n"), col("max_error"))
  }
}
