package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashExpressions.{hilbert16, hilbert21}

/** Multi-dimensional data layout (Z-ordering). Sorting a table by the Morton
  * interleave of two key columns clusters rows so that EVERY file's min/max
  * range is tight in BOTH dimensions at once — parquet min/max stats (and
  * any data-skipping index over them) then prune files for predicates on
  * either key, where a linear sort only prunes its leading column. This is
  * the layout move behind Delta/Iceberg OPTIMIZE ZORDER, built here from
  * plain column arithmetic so it works on any Spark table.
  *
  * The bit-spread ladder is the classic branch-free Morton encoding; every
  * step is shifts/ands on longs, so the whole key stays inside whole-stage
  * codegen and the identical expression runs in ANSI SQL for the oracle.
  */
object Layout {

  /** Spread the low 16 bits of `c` so bit i lands at position 2i. */
  private def spread16(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton code interleaving the low 16 bits of two long columns
    * (x in even bit positions, y in odd).
    */
  def morton16(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** Spread the low 21 bits of `c` so bit i lands at position 3i — the
    * classic 3-D Morton ladder (21 bits × 3 dims = 63 bits, the full
    * non-negative long range; values up to 2,097,151 per dimension).
    */
  private def spread21(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0x1FFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 32))
      .bitwiseAND(lit(0x1F00000000FFFFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 16))
      .bitwiseAND(lit(0x1F0000FF0000FFL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 8))
      .bitwiseAND(lit(0x100F00F00F00F00FL))
    val x4 = x3.bitwiseOR(shiftleft(x3, 4))
      .bitwiseAND(lit(0x10C30C30C30C30C3L))
    x4.bitwiseOR(shiftleft(x4, 2)).bitwiseAND(lit(0x1249249249249249L))
  }

  /** 63-bit Morton code interleaving the low 21 bits of three long
    * columns (x at bit positions 3i, y at 3i+1, z at 3i+2). Same
    * branch-free shifts/ands as [[morton16]] — whole-stage codegen on the
    * Spark side, the identical expression in ANSI SQL for the oracle.
    */
  def morton21(x: Column, y: Column, z: Column): Column =
    spread21(x).bitwiseOR(shiftleft(spread21(y), 1))
      .bitwiseOR(shiftleft(spread21(z), 2))

  /** Rewrite `df` into `nFiles` files z-ordered on (xCol, yCol):
    * range-partition by the Morton key (contiguous curve segments per file)
    * and sort within each partition. One range shuffle — same cost envelope
    * as any global sort — paid once at layout time.
    */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String, path: String,
      nFiles: Int): Unit = {
    val keyed = df.withColumn("_zkey", morton16(col(xCol), col(yCol)))
    keyed.repartitionByRange(nFiles, col("_zkey"))
      .sortWithinPartitions(col("_zkey"))
      .drop("_zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** Deterministic layout writer: one parquet file per ntile of the TOTAL
    * `orderCols` order — no sampled boundaries, so the physical file boxes
    * (and any strictly-fewer pruning assertion over them) are identical run
    * to run. `repartitionByRange`'s SAMPLED split points jitter and flipped
    * LayoutSpec's comparison once under full-suite load; this is the
    * deterministic complement for bounded tables (the global ntile window
    * serializes through one task — fine at spec scale, while production
    * layout keeps [[zorderWrite]]'s range shuffle). One file per tile is
    * guaranteed by routing the tile id through a directory partition.
    * `orderCols` must be a total order or tile boundaries drift with
    * partition arrival order.
    */
  def layoutWriteExact(df: DataFrame, orderCols: Seq[Column], path: String,
      nFiles: Int): Unit = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(orderCols: _*)
    df.withColumn("_f", ntile(nFiles).over(w))
      .repartition(nFiles, col("_f"))
      .sortWithinPartitions(col("_f"))
      .write.mode("overwrite").partitionBy("_f").parquet(path)
  }

  /** [[layoutWriteExact]] ordered by the Morton key (x, y as tie-breaks so
    * rows beyond the interleaved low 16 bits still order totally).
    */
  def zorderWriteExact(df: DataFrame, xCol: String, yCol: String,
      path: String, nFiles: Int): Unit =
    layoutWriteExact(df,
      Seq(morton16(col(xCol), col(yCol)), col(xCol), col(yCol)), path, nFiles)

  /** The Hilbert-curve order key over (xCol, yCol) — the locality-tighter
    * alternative to [[morton16]]: Hilbert has NO curve jumps (consecutive
    * indexes are always grid neighbors), so equal-count curve segments
    * have bounding boxes at most as loose as Morton's on the same data.
    * Runs as the native `hilbert16` codegen expression
    * ([[graft.functions.HashExpressions]]) — the 16-step rotate loop has
    * no bounded column form.
    */
  def hilbert16Key(xCol: String, yCol: String): Column =
    hilbert16(col(xCol).cast("bigint"), col(yCol).cast("bigint"))

  /** [[layoutWriteExact]] ordered by the Hilbert key — the
    * [[zorderWriteExact]] counterpart for the tighter curve.
    */
  def hilbertWriteExact(df: DataFrame, xCol: String, yCol: String,
      path: String, nFiles: Int): Unit =
    layoutWriteExact(df,
      Seq(hilbert16Key(xCol, yCol), col(xCol), col(yCol)), path, nFiles)

  /** PRODUCTION Hilbert writer — [[zorderWrite]]'s range-shuffle form on
    * the Hilbert key: range-partition by `hilbert16(x, y)` (contiguous
    * curve segments per file, fully parallel, sampled boundaries) and
    * sort within each partition. This is the form a 100 TB re-layout
    * runs — [[hilbertWriteExact]]'s global-ntile window serializes
    * through one task and exists only for deterministic pruning
    * contracts on bounded tables.
    */
  def hilbertWrite(df: DataFrame, xCol: String, yCol: String, path: String,
      nFiles: Int): Unit = {
    val keyed = df.withColumn("_hkey", hilbert16Key(xCol, yCol))
    keyed.repartitionByRange(nFiles, col("_hkey"))
      .sortWithinPartitions(col("_hkey"))
      .drop("_hkey")
      .write.mode("overwrite").parquet(path)
  }

  /** The 3-D Hilbert order key over (xCol, yCol, zCol) — [[morton21]]'s
    * locality-tighter analog, running as the native `hilbert21` codegen
    * expression (Skilling transpose-form; 21 bits per dimension).
    */
  def hilbert21Key(xCol: String, yCol: String, zCol: String): Column =
    hilbert21(col(xCol).cast("bigint"), col(yCol).cast("bigint"),
      col(zCol).cast("bigint"))

  /** [[layoutWriteExact]] ordered by the 3-D Hilbert key — the
    * [[zorder3WriteExact]] counterpart for the tighter curve: no curve
    * jumps in any of the three axes, so equal-count segments box at most
    * as loose as 3-D Morton's on the same data.
    */
  def hilbert3WriteExact(df: DataFrame, xCol: String, yCol: String,
      zCol: String, path: String, nFiles: Int): Unit =
    layoutWriteExact(df,
      Seq(hilbert21Key(xCol, yCol, zCol),
        col(xCol), col(yCol), col(zCol)), path, nFiles)

  /** [[layoutWriteExact]] ordered by the 3-D Morton key — every file's box
    * is tight in all THREE dimensions at once (a linear sort prunes one;
    * 2-D z-order two).
    */
  def zorder3WriteExact(df: DataFrame, xCol: String, yCol: String,
      zCol: String, path: String, nFiles: Int): Unit =
    layoutWriteExact(df,
      Seq(morton21(col(xCol), col(yCol), col(zCol)),
        col(xCol), col(yCol), col(zCol)), path, nFiles)

  /** PRODUCTION 3-D Morton writer — [[zorderWrite]]'s range-shuffle form
    * on the [[morton21]] key (sampled boundaries, fully parallel); the
    * exact ntile form stays the determinism tool for bounded tables.
    */
  def zorder3Write(df: DataFrame, xCol: String, yCol: String, zCol: String,
      path: String, nFiles: Int): Unit = {
    val keyed = df.withColumn("_zkey",
      morton21(col(xCol), col(yCol), col(zCol)))
    keyed.repartitionByRange(nFiles, col("_zkey"))
      .sortWithinPartitions(col("_zkey"))
      .drop("_zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** PRODUCTION 3-D Hilbert writer — the range-shuffle form on the
    * native `hilbert21` key, completing the writer matrix (each curve ×
    * each dimensionality in both exact and production form).
    */
  def hilbert3Write(df: DataFrame, xCol: String, yCol: String,
      zCol: String, path: String, nFiles: Int): Unit = {
    val keyed = df.withColumn("_hkey", hilbert21Key(xCol, yCol, zCol))
    keyed.repartitionByRange(nFiles, col("_hkey"))
      .sortWithinPartitions(col("_hkey"))
      .drop("_hkey")
      .write.mode("overwrite").parquet(path)
  }

  /** Deterministic layout simulation: assign rows to `nFiles` equal-count
    * files in `orderCols` order (ntile — no sampling), compute each file's
    * (x, y) min/max box, and count boxes intersecting each query box.
    * `orderCols` must be a TOTAL order (append tie-break columns) or ntile
    * boundaries drift with partition arrival order. This is the geometric
    * claim `zorder_layout` grades with, decoupled from
    * `repartitionByRange`'s SAMPLED boundaries — those jitter run to run
    * and can flip a strictly-fewer aggregate (observed once at sf0.1);
    * pruning over real parquet footers stays proven in LayoutSpec.
    */
  /** One pass: ntile file assignment in `orderCols` order + per-file
    * (x, y) min/max boxes + row counts — the shared core of
    * [[boxesTouching]] and the timed layout forms (one implementation, so
    * the timed number and the certified contract can never drift apart).
    * `orderCols` must be a TOTAL order (append tie-break columns).
    */
  def fileBoxes(df: DataFrame, orderCols: Seq[Column], xCol: String,
      yCol: String, nFiles: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(orderCols: _*)
    df.withColumn("__f", ntile(nFiles).over(w))
      .groupBy(col("__f"))
      .agg(count(lit(1)).as("nrows"),
        min(col(xCol)).as("xmin"), max(col(xCol)).as("xmax"),
        min(col(yCol)).as("ymin"), max(col(yCol)).as("ymax"))
  }

  def boxesTouching(df: DataFrame, orderCols: Seq[Column], xCol: String,
      yCol: String, nFiles: Int,
      boxes: Seq[(Long, Long, Long, Long)]): (Seq[Long], Long) = {
    // withReleased: the checkpoint's blocks live in the block manager until
    // RDD GC, which Dataset.unpersist cannot reach — scope-release them so
    // library callers don't leak one checkpoint per invocation. Everything
    // the body returns is plain scalars, fully consumed before release.
    Caching.withReleased(df.sparkSession) {
      val fb = fileBoxes(df, orderCols, xCol, yCol, nFiles)
        .localCheckpoint() // one pass; probed once per box below
      val touched = boxes.map { case (xl, xh, yl, yh) =>
        fb.filter(col("xmax") >= xl && col("xmin") <= xh &&
          col("ymax") >= yl && col("ymin") <= yh).count()
      }
      // rows summed from the ASSIGNED files — proves the layout pass itself
      // dropped/duplicated nothing, which counting the input cannot
      val total = fb.agg(coalesce(sum(col("nrows")), lit(0L)))
        .head().getLong(0)
      (touched, total)
    }
  }

  /** Count of files whose [min,max] box on (xCol, yCol) intersects the
    * query box — exactly the files a min/max-stats pruner must read. The
    * layout quality metric `zorder_layout` and LayoutSpec grade with.
    */
  def filesTouching(spark: org.apache.spark.sql.SparkSession, path: String,
      xCol: String, yCol: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): Long =
    spark.read.parquet(path)
      .groupBy(input_file_name())
      .agg(min(col(xCol)).as("xmin"), max(col(xCol)).as("xmax"),
        min(col(yCol)).as("ymin"), max(col(yCol)).as("ymax"))
      .filter(col("xmax") >= xLo && col("xmin") <= xHi &&
        col("ymax") >= yLo && col("ymin") <= yHi)
      .count()
}
