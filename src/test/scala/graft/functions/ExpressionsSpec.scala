package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

import graft.SparkSpec

class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("word_shingles: sliding n-grams, distinct, short-input join-all") {
    HashExpressions.register(spark)
    val got = Seq(
      ("a b c d", 0), ("a b", 1), ("x", 2), ("a b a b a b", 3))
      .toDF("text", "k")
      .select(col("k"), expr("word_shingles(split(text, ' '), 3)").as("sh"))
      .as[(Int, Seq[String])].collect().toMap
    assert(got(0) === Seq("a b c", "b c d"))
    assert(got(1) === Seq("a b"))
    assert(got(2) === Seq("x"))
    // duplicates collapse, first occurrence order kept
    assert(got(3) === Seq("a b a", "b a b"))
  }

  test("minhash_sig: k values, deterministic, permutation-invariant-ish") {
    HashExpressions.register(spark)
    val df = Seq(
      ("same", Seq("a", "b", "c")),
      ("same2", Seq("c", "b", "a")),   // same set, different order
      ("other", Seq("x", "y", "z"))
    ).toDF("id", "toks")
      .select(col("id"), expr("minhash_sig(toks, 16)").as("sig"))
      .as[(String, Seq[Long])].collect().toMap
    assert(df("same").length === 16)
    // min over a set is order-invariant
    assert(df("same") === df("same2"))
    assert(df("same") !== df("other"))
  }

  test("native word_shingles matches the HOF reference implementation") {
    HashExpressions.register(spark)
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b", "one", "x y z x y z x y z", "  spaced   out   tokens  ")
      .toDF("text")
      .select(split(trim(lower(col("text"))), "\\s+").as("ws"))
    val native = texts.select(expr("word_shingles(ws, 3)"))
      .as[Seq[String]].collect()
    val reference = texts
      .select(graft.operators.Dedup.shinglesFromTokens(col("ws"), 3))
      .as[Seq[String]].collect()
    native.zip(reference).foreach { case (n, r) => assert(n === r) }
  }

  test("fused centroid_scores matches the composed struct/sort reference, " +
    "codegen and interpreted, including zero-norm NaN ordering") {
    // nc = 3, d = 2; all norms > 0 for the parity half — SQL division
    // cannot express the kernel's IEEE zero-denominator behavior (ANSI
    // throws; non-ANSI returns NULL, not NaN), so the degenerate path is
    // asserted directly on the kernel below instead. Ties included:
    // vec 4 scores 1.0 against centroid 2 and vec 2 scores equal sims on
    // antipodal centroids, exercising the bucket-desc tie-break.
    val cents = Array(0.0, 1.0, 1.0, 0.0, 0.6, 0.8)
    val cnorms = Array(1.0, 1.0, 1.0)
    val table = CentroidTable(cents, cnorms, 2)
    val df = Seq(
      (1L, Seq(1.0, 2.0)), (2L, Seq(-1.0, 0.0)),
      (4L, Seq(0.6, 0.8)), (5L, Seq(3.0, -4.0)))
      .toDF("id", "v")
      .withColumn("n", sqrt(aggregate(transform(col("v"), x => x * x),
        lit(0.0), (a, b) => a + b)))
    val refCol = sort_array(array((0 until 3).map { i =>
      val dot = col("v").getItem(0) * lit(cents(2 * i)) +
        col("v").getItem(1) * lit(cents(2 * i + 1))
      struct((dot / (col("n") * lit(cnorms(i)))).as("sim"),
        lit(i).as("bucket"))
    }: _*), asc = false)
    def rows(c: org.apache.spark.sql.Column): Seq[(Long, Seq[(Double, Int)])] =
      df.select(col("id"), c.as("s")).collect().toSeq
        .map { r =>
          r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
            .map(e => (e.getDouble(0), e.getInt(1)))
        }.sortBy(_._1)
    def run(): (Seq[(Long, Seq[(Double, Int)])], Seq[(Long, Seq[(Double, Int)])]) =
      (rows(CentroidExpressions.centroidScores(spark, col("v"), col("n"),
        table)), rows(refCol))
    // The kernel's division is raw IEEE float math (x/0 → ±Inf, 0/0 →
    // NaN, never an error): the composed reference must run with ANSI
    // off or its Divide throws DIVIDE_BY_ZERO on the zero-norm centroid.
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
    val (f1, r1) = run()
    // element-wise with boxed-equality semantics (NaN == NaN for java
    // Double.equals; tuple == uses primitive ==, which NaN fails)
    def same(a: Seq[(Long, Seq[(Double, Int)])],
        b: Seq[(Long, Seq[(Double, Int)])]): Unit =
      a.zip(b).foreach { case ((ida, sa), (idb, sb)) =>
        assert(ida === idb)
        assert(sa.length === sb.length)
        sa.zip(sb).foreach { case ((simA, bktA), (simB, bktB)) =>
          assert(java.lang.Double.valueOf(simA)
            .equals(java.lang.Double.valueOf(simB)),
            s"id=$ida sim $simA != $simB")
          assert(bktA === bktB, s"id=$ida bucket order differs")
        }
      }
    same(f1, r1)
    // interpreted path (forces Expression.eval over doGenCode)
    val prevWs = spark.conf.get("spark.sql.codegen.wholeStage")
    val prevFm = spark.conf.getOption("spark.sql.codegen.factoryMode")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val (f2, r2) = run()
      same(f2, r2)
      same(f1, f2)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prevWs)
      prevFm.foreach(spark.conf.set("spark.sql.codegen.factoryMode", _))
      if (prevFm.isEmpty)
        spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
    // Degenerate zero-norm path, asserted on the kernel directly: sims
    // are all NaN (0/0), NaN sorts FIRST under the nan-safe descending
    // order, and exact-tie buckets come out descending — deterministic,
    // never an error (unlike SQL division).
    val zeroV = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(0.0, 0.0))
    val res = NativeKernels.centroidScores(zeroV, 0.0, cents, cnorms, 2)
    val sims = (0 until 3).map(i =>
      res.getStruct(i, 2).getDouble(0))
    val buckets = (0 until 3).map(i => res.getStruct(i, 2).getInt(1))
    assert(sims.forall(_.isNaN), s"expected all-NaN sims, got $sims")
    assert(buckets === Seq(2, 1, 0), "NaN ties must break bucket-desc")
  }

  test("ngram_gen: one row per window, position-tagged, edge cases empty") {
    HashExpressions.register(spark)
    val rows = Seq(
      (0, "a b c d"), (1, "a b"), (2, "x"), (3, ""))
      .toDF("id", "text")
      .select(col("id"),
        expr("ngram_gen(split(trim(text), '\\\\s+'), 2)"))
      .as[(Int, Int, String)].collect().toSeq.sorted
    assert(rows.filter(_._1 == 0) ===
      Seq((0, 0, "a b"), (0, 1, "b c"), (0, 2, "c d")))
    assert(rows.filter(_._1 == 1) === Seq((1, 0, "a b")))
    // shorter than the window → zero rows, not null rows
    assert(!rows.exists(_._1 == 2))
    // split('') yields [""] — a single sub-window token, still no bigram
    assert(!rows.exists(_._1 == 3))
    // generator output matches the explode(transform(sequence)) formulation
    val hof = Seq("the quick brown fox the quick").toDF("text")
      .select(expr(
        """explode(transform(sequence(0, size(split(text,' ')) - 2),
          |  i -> struct(i AS pos,
          |    concat_ws(' ', split(text,' ')[i], split(text,' ')[i+1]) AS ngram)))
          |""".stripMargin))
      .select("col.pos", "col.ngram").as[(Int, String)].collect().toSeq
    val native = Seq("the quick brown fox the quick").toDF("text")
      .select(expr("ngram_gen(split(text, ' '), 2)"))
      .as[(Int, String)].collect().toSeq
    assert(native === hof)
  }

  test("GraftExtensions registers SQL functions via spark.sql.extensions") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // Reuses the already-running SparkContext; only the session (and its
      // injected functions) is new. withExtensions is the builder-level
      // route; spark.sql.extensions=graft.functions.GraftExtensions is the
      // equivalent static conf on a fresh JVM (it is read at SparkContext
      // creation, so it can't be exercised from this shared-context suite).
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val row = s2.sql(
        """SELECT simhash64(array('a','b')) AS h,
          |  size(minhash_sig(array('a'), 8)) AS k,
          |  word_shingles(array('a','b','c'), 2) AS sh,
          |  size(winnow_fingerprint('abcdefghijklmnop', 4, 3)) AS w
          |""".stripMargin).head()
      assert(row.getAs[Long]("h") !== 0L)
      assert(row.getAs[Int]("k") === 8)
      assert(row.getAs[Seq[String]]("sh") === Seq("a b", "b c"))
      assert(row.getAs[Int]("w") > 0)
      assert(s2.sql("SELECT ngram_gen(array('a','b','c'), 2)").count() === 2L)
      // every entry of the shared function table resolves in the
      // extension-built session, not just the ones exercised above
      HashExpressions.sqlFunctions.foreach { case (name, _, _) =>
        assert(s2.sessionState.functionRegistry
          .functionExists(FunctionIdentifier(name)), name)
      }
      // the planner strategy for the native as-of join rides along
      assert(s2.sessionState.planner.strategies
        .contains(graft.plans.AsOfJoinStrategy))
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("TempFnNames: per-object reuse, per-prefix separation, no collision") {
    val a = new Array[Double](4)
    val b = new Array[Double](4)
    val n1 = TempFnNames.nameFor(a, "p")
    assert(TempFnNames.nameFor(a, "p") == n1,
      "same object + prefix must reuse its binding (registry must not grow per call)")
    assert(TempFnNames.nameFor(b, "p") != n1,
      "distinct (value-equal) arrays must never share a binding")
    val n2 = TempFnNames.nameFor(a, "q")
    assert(n2 != n1 && TempFnNames.nameFor(a, "q") == n2,
      "one object may carry one binding per prefix without eviction")
    assert(TempFnNames.nameFor(a, "p") == n1,
      "acquiring a second prefix must not evict the first")
  }

  test("register: rebuilds never break live bindings; dead entries sweep") {
    // the recurring-ingest pattern, without the r5 eager-drop race: a
    // rebuild must NOT drop a predecessor whose object is still strongly
    // held (its bare Column keeps resolving), entries must not pin their
    // objects (weak builder), and once an object is collected its entry
    // sweeps away on the next register/sweep for the role.
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.functions.call_function
    val role = "tfn_probe"
    def registered(): Set[String] =
      spark.sessionState.functionRegistry.listFunction()
        .map(_.funcName).filter(_.startsWith(role)).toSet
    // mk builds from the handed object only — capturing the array would
    // pin it and invalidate the collectability assertion below
    val mk = (o: Array[Double], _: Seq[Expression]) =>
      Literal(o.length): Expression
    var a: Array[Double] = Array.fill(4)(1.0)
    val aRef = new java.lang.ref.WeakReference[AnyRef](a)
    val nameA = TempFnNames.register[Array[Double]](spark, role, a, mk)
    val bareA = call_function(nameA) // un-analyzed Column held across rebind
    val b = Array.fill(5)(2.0)
    val nameB = TempFnNames.register[Array[Double]](spark, role, b, mk)
    assert(registered() == Set(nameA, nameB),
      "rebind must keep the live predecessor's entry")
    assert(spark.range(1).select(bareA).head().getInt(0) == 4,
      "a bare Column from before the rebind must still analyze")
    assert(spark.range(1).select(call_function(nameB)).head().getInt(0) == 5)
    a = null // drop the last strong reference
    // the bounded recent-registration FIFO intentionally still pins `a`;
    // age it out eagerly so collectability is down to the weak entry alone
    TempFnNames.releaseStrongHolds(spark)
    var tries = 0
    while (aRef.get() != null && tries < 100) {
      System.gc(); Thread.sleep(10); tries += 1
    }
    assert(aRef.get() == null,
      "a registry entry must not pin its bound object")
    TempFnNames.sweepRole(spark, role)
    assert(registered() == Set(nameB),
      "collected predecessors sweep out of the registry")
  }

  test("register: no premature-GC window between register and analysis") {
    // a caller may hold the bound object only in a frame slot HotSpot has
    // already cleared by analysis time; the bounded strong FIFO must keep
    // the object alive across the register→first-build gap even when NO
    // caller reference survives.
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.functions.call_function
    val mk = (o: Array[Double], _: Seq[Expression]) =>
      Literal(o.length): Expression
    val name = TempFnNames.register[Array[Double]](
      spark, "tfn_window", Array.fill(7)(1.0), mk) // no ref kept
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(10) }
    assert(spark.range(1).select(call_function(name)).head().getInt(0) == 7,
      "binding must survive GC between register and first analysis")
    TempFnNames.releaseStrongHolds(spark)
  }
}
