package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("morton16 interleaves bits (known values)") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 0L), (0L, 65535L),
      (3L, 5L)).toDF("x", "y")
      .select(Layout.morton16(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // x fills even bits, y odd: (3,5) = x bits {0,1}, y bits {0,2}
    //  -> z bits {0,2} ∪ {1,5} = 0b100111 = 39
    assert(rows == Seq(0L, 1L, 2L, 0x55555555L, 0xAAAAAAAAL, 39L))
  }

  test("morton16 is monotone within a fixed quadrant split") {
    // within the same high-bit prefix, larger (x, y) never lowers the key
    val z = (a: Long, b: Long) => Seq((a, b)).toDF("x", "y")
      .select(Layout.morton16(col("x"), col("y"))).head().getLong(0)
    assert(z(10, 10) < z(200, 200))
    assert(z(0, 100) < z(0, 200) && z(100, 0) < z(200, 0))
  }

  private def filesTouching(path: String, xCol: String, yCol: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): Long =
    Layout.filesTouching(spark, path, xCol, yCol, xLo, xHi, yLo, yHi)

  test("z-ordered layout skips more files than a linear sort for 2-D boxes") {
    // synthetic uniform grid: both dims matter, no correlation
    val df = spark.range(1 << 14).select(
      (col("id") % 128).as("a"), (col("id") / 128).cast("long").as("b"))
    val nFiles = 16
    val zdir = tmpDir("zorder")
    val ldir = tmpDir("linear")
    // exact ntile layouts on BOTH sides: repartitionByRange's sampled
    // boundaries made the strictly-fewer assertion flip once under
    // full-suite load (the NOTES.md flaky-by-construction class)
    Layout.zorderWriteExact(df, "a", "b", zdir, nFiles)
    Layout.layoutWriteExact(df, Seq(col("a"), col("b")), ldir, nFiles)
    // boxes selective in BOTH dims; linear sort only prunes on leading `a`
    val boxes = Seq((0L, 15L, 0L, 15L), (64L, 79L, 64L, 79L),
      (112L, 127L, 0L, 15L), (32L, 47L, 96L, 111L))
    val (zTouch, lTouch) = boxes.map { case (xl, xh, yl, yh) =>
      (filesTouching(zdir, "a", "b", xl, xh, yl, yh),
        filesTouching(ldir, "a", "b", xl, xh, yl, yh))
    }.reduce((p, q) => (p._1 + q._1, p._2 + q._2))
    assert(zTouch < lTouch,
      s"z-order touched $zTouch files vs linear $lTouch")
    // and the layout rewrite loses nothing
    assert(spark.read.parquet(zdir).count() == (1 << 14).toLong)
  }

  // Independent INVERSE curve (d -> (x, y), the classic d2xy walk): the
  // kernel is certified by ROUNDTRIP against this, so agreement cannot
  // come from sharing the forward implementation's bugs.
  private def d2xy(d: Long): (Long, Long) = {
    var t = d
    var x = 0L
    var y = 0L
    var s = 1L
    while (s < 65536L) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s *= 2
    }
    (x, y)
  }

  test("hilbert16: bit-exact roundtrip vs the independent inverse curve, " +
      "consecutive indexes are grid NEIGHBORS (the anti-Morton property), " +
      "expression equals kernel through a real plan") {
    // continuity + roundtrip on the curve head, and roundtrip on seeded
    // random indexes across the full 32-bit range
    val rnd = new scala.util.Random(7)
    val ds = (0L until 4096L) ++
      Seq.fill(4096)(math.abs(rnd.nextLong()) % (1L << 32))
    var prev: (Long, Long) = null
    ds.take(4096).foreach { d =>
      val (x, y) = d2xy(d)
      if (prev != null)
        assert(math.abs(x - prev._1) + math.abs(y - prev._2) == 1L,
          s"curve jumps at d=$d")
      prev = (x, y)
    }
    ds.foreach { d =>
      val (x, y) = d2xy(d)
      assert(graft.functions.NativeKernels.hilbert16(x, y) == d,
        s"roundtrip failed at d=$d -> ($x, $y)")
    }
    // the expression (codegen path through a real scan) equals the kernel
    val pts = Seq.fill(512)((rnd.nextLong() & 0xFFFFL,
      rnd.nextLong() & 0xFFFFL))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.hilbert16Key("x", "y").as("h"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) ==
        graft.functions.NativeKernels.hilbert16(r.getLong(0), r.getLong(1)))
    }
    // origin anchors the curve
    assert(graft.functions.NativeKernels.hilbert16(0L, 0L) == 0L)
  }

  test("hilbert layout: file opens on real parquet footers never exceed " +
      "morton's for the same 2-D boxes") {
    val df = spark.range(1 << 14).select(
      (col("id") % 128).as("a"), (col("id") / 128).cast("long").as("b"))
    val nFiles = 16
    val hdir = tmpDir("hilbert")
    val zdir = tmpDir("zorder-vs-h")
    Layout.hilbertWriteExact(df, "a", "b", hdir, nFiles)
    Layout.zorderWriteExact(df, "a", "b", zdir, nFiles)
    val boxes = Seq((0L, 31L, 0L, 31L), (64L, 95L, 64L, 95L),
      (32L, 63L, 96L, 127L), (96L, 127L, 0L, 31L))
    val h = boxes.map { case (xl, xh, yl, yh) =>
      filesTouching(hdir, "a", "b", xl, xh, yl, yh) }.sum
    val z = boxes.map { case (xl, xh, yl, yh) =>
      filesTouching(zdir, "a", "b", xl, xh, yl, yh) }.sum
    assert(h <= z, s"hilbert opened $h files vs morton's $z")
    // both layouts kept every row
    assert(spark.read.parquet(hdir).count() == (1L << 14))
  }

  // Independent 3-D INVERSE (d -> (x, y, z)): un-interleave the index into
  // Skilling's transposed words, then TransposeToAxes (Gray decode + undo
  // excess work) — the published inverse walk, so kernel agreement cannot
  // come from sharing the forward implementation's bugs.
  private def h3d2xyz(d: Long): (Long, Long, Long) = {
    val b = 21
    val x = new Array[Long](3)
    var j = 0
    while (j < b) {
      var i = 0
      while (i < 3) {
        x(i) |= ((d >>> (3 * j + 2 - i)) & 1L) << j
        i += 1
      }
      j += 1
    }
    val t0 = x(2) >>> 1
    x(2) ^= x(1); x(1) ^= x(0); x(0) ^= t0
    var q = 2L
    while (q != (1L << b)) {
      val p = q - 1
      var i = 2
      while (i >= 0) {
        if ((x(i) & q) != 0) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i -= 1
      }
      q <<= 1
    }
    (x(0), x(1), x(2))
  }

  test("hilbert21: bit-exact roundtrip vs the independent inverse walk, " +
      "consecutive indexes are 3-D grid NEIGHBORS, expression equals " +
      "kernel through a real plan") {
    val rnd = new scala.util.Random(11)
    // continuity on the curve head + a window deep inside the range
    val windows = Seq(0L, (1L << 40) + 12345L)
    windows.foreach { base =>
      var prev: (Long, Long, Long) = null
      (base until base + 2048L).foreach { d =>
        val (x, y, z) = h3d2xyz(d)
        if (prev != null)
          assert(math.abs(x - prev._1) + math.abs(y - prev._2) +
            math.abs(z - prev._3) == 1L, s"curve jumps at d=$d")
        prev = (x, y, z)
      }
    }
    // roundtrip on the head and on seeded random indexes across the full
    // 63-bit range
    val ds = (0L until 2048L) ++
      Seq.fill(4096)(math.abs(rnd.nextLong()) % (1L << 63))
    ds.foreach { d =>
      val (x, y, z) = h3d2xyz(d)
      assert(graft.functions.NativeKernels.hilbert21(x, y, z) == d,
        s"roundtrip failed at d=$d -> ($x, $y, $z)")
    }
    // corners anchor the orientation
    assert(graft.functions.NativeKernels.hilbert21(0L, 0L, 0L) == 0L)
    // the expression (codegen path through a real scan) equals the kernel
    val pts = Seq.fill(512)((rnd.nextLong() & 0x1FFFFFL,
      rnd.nextLong() & 0x1FFFFFL, rnd.nextLong() & 0x1FFFFFL))
    val df = pts.toDF("x", "y", "z")
    val got = df.select(col("x"), col("y"), col("z"),
      Layout.hilbert21Key("x", "y", "z").as("h")).collect()
    got.foreach { r =>
      assert(r.getLong(3) == graft.functions.NativeKernels.hilbert21(
        r.getLong(0), r.getLong(1), r.getLong(2)))
    }
  }

  test("hilbert3 layout: file opens on real parquet footers never " +
      "exceed 3-D morton's for the same boxes") {
    val df = spark.range(1 << 15).select(
      (col("id") % 32).as("a"),
      ((col("id") / 32) % 32).cast("long").as("b"),
      (col("id") / 1024).cast("long").as("c"))
    val nFiles = 16
    val hdir = tmpDir("hilbert3")
    val zdir = tmpDir("zorder3-vs-h")
    Layout.hilbert3WriteExact(df, "a", "b", "c", hdir, nFiles)
    Layout.zorder3WriteExact(df, "a", "b", "c", zdir, nFiles)
    def touching(path: String, box: (Long, Long, Long, Long, Long, Long)) =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min(col("a")).as("axn"), max(col("a")).as("axx"),
          min(col("b")).as("byn"), max(col("b")).as("byx"),
          min(col("c")).as("czn"), max(col("c")).as("czx"))
        .filter(col("axx") >= box._1 && col("axn") <= box._2 &&
          col("byx") >= box._3 && col("byn") <= box._4 &&
          col("czx") >= box._5 && col("czn") <= box._6)
        .count()
    val boxes = Seq((0L, 7L, 0L, 7L, 0L, 7L), (16L, 23L, 16L, 23L, 8L, 15L),
      (24L, 31L, 0L, 7L, 24L, 31L), (8L, 15L, 24L, 31L, 16L, 23L))
    val h = boxes.map(touching(hdir, _)).sum
    val z = boxes.map(touching(zdir, _)).sum
    assert(h <= z, s"hilbert3 opened $h files vs morton21's $z")
    assert(spark.read.parquet(hdir).count() == (1L << 15))
  }

  test("hilbertWrite (production range-shuffle form): every row kept, " +
      "per-file curve-key ranges never strictly overlap") {
    val df = spark.range(1 << 14).select(
      (col("id") % 128).as("a"), (col("id") / 128).cast("long").as("b"))
    val dir = tmpDir("hilbert-prod")
    Layout.hilbertWrite(df, "a", "b", dir, 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == (1L << 14))
    assert(back.columns.toSeq == Seq("a", "b"), "key column must be dropped")
    val ranges = back
      .select(input_file_name().as("f"),
        Layout.hilbert16Key("a", "b").as("k"))
      .groupBy(col("f"))
      .agg(min(col("k")).as("kmin"), max(col("k")).as("kmax"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(identity)
    assert(ranges.length > 1, "range shuffle should produce several files")
    ranges.sliding(2).foreach {
      case Array(a, b2) =>
        assert(a._2 <= b2._1,
          s"file ranges strictly overlap: $a vs $b2 — range partitioning " +
            "must keep curve segments disjoint")
      case _ =>
    }
  }

  test("production 3-D writers (zorder3Write / hilbert3Write): every " +
      "row kept, key column dropped, per-file curve-key ranges never " +
      "strictly overlap") {
    val df = spark.range(1 << 14).select(
      (col("id") % 64).as("a"),
      ((col("id") / 64) % 16).cast("long").as("b"),
      (col("id") / 1024).cast("long").as("c"))
    Seq(
      ("zorder3-prod", (d: org.apache.spark.sql.DataFrame, p: String) =>
        Layout.zorder3Write(d, "a", "b", "c", p, 8),
        (d: org.apache.spark.sql.DataFrame) =>
          Layout.morton21(col("a"), col("b"), col("c"))),
      ("hilbert3-prod", (d: org.apache.spark.sql.DataFrame, p: String) =>
        Layout.hilbert3Write(d, "a", "b", "c", p, 8),
        (d: org.apache.spark.sql.DataFrame) =>
          Layout.hilbert21Key("a", "b", "c"))
    ).foreach { case (tag, write, key) =>
      val dir = tmpDir(tag)
      write(df, dir)
      val back = spark.read.parquet(dir)
      assert(back.count() == (1L << 14), tag)
      assert(back.columns.toSeq == Seq("a", "b", "c"), tag)
      val ranges = back
        .select(input_file_name().as("f"), key(back).as("k"))
        .groupBy(col("f"))
        .agg(min(col("k")).as("kmin"), max(col("k")).as("kmax"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
        .sortBy(identity)
      assert(ranges.length > 1, tag)
      ranges.sliding(2).foreach {
        case Array(x, y) =>
          assert(x._2 <= y._1, s"$tag: ranges strictly overlap: $x vs $y")
        case _ =>
      }
    }
  }

  test("morton21: bit-exact 3-D interleave vs a driver-side reference, " +
      "including the 21-bit boundary") {
    def ref(x: Long, y: Long, z: Long): Long = {
      var r = 0L
      (0 until 21).foreach { i =>
        r |= ((x >> i) & 1L) << (3 * i)
        r |= ((y >> i) & 1L) << (3 * i + 1)
        r |= ((z >> i) & 1L) << (3 * i + 2)
      }
      r
    }
    val vals = Seq(0L, 1L, 2L, 3L, 255L, 256L, 12345L, 99999L,
      1048576L, 0x1FFFFFL)
    val rows = for { x <- vals; y <- vals; z <- vals } yield (x, y, z)
    val got = rows.toDF("x", "y", "z")
      .select(col("x"), col("y"), col("z"),
        Layout.morton21(col("x"), col("y"), col("z")).as("m"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
      .toMap
    rows.foreach { t =>
      assert(got(t) == ref(t._1, t._2, t._3),
        s"morton21$t: got ${got(t)}, want ${ref(t._1, t._2, t._3)}")
    }
    // values above 21 bits interleave only their low bits (documented
    // truncation) — the key must still be non-negative
    val big = Seq((3000000L, 3000000L, 3000000L)).toDF("x", "y", "z")
      .select(Layout.morton21(col("x"), col("y"), col("z")).as("m"))
      .as[Long].head()
    assert(big >= 0L)
  }
}
