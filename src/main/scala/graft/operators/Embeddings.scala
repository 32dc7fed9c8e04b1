package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.HashExpressions.vecDot

/** PCA / whitening over an embedding column — the dimensionality-reduction
  * and decorrelation step an embedding pipeline runs before indexing or
  * clustering.
  *
  * Shape at 100 TB: the fit is ONE typed-Aggregator pass (map-side partial
  * buffers of d + d(d+1)/2 doubles merge associatively — the shuffle carries
  * a few KB per partition, never vectors); the eigendecomposition runs on
  * the driver over the d×d covariance (microseconds at embedding dims); the
  * projection is scan-side column arithmetic with the components as
  * literals — v·c − mean·c per component via the native `vec_dot`, no
  * per-row mean subtraction and no shuffle.
  */
object Embeddings {

  /** Accumulates n, Σv, and the upper triangle of Σ v vᵀ. (Not private:
    * ExpressionEncoder derivation needs the class accessible.)
    */
  case class CovBuf(n: Long, sums: Array[Double], prods: Array[Double])

  private class CovAgg(d: Int)
      extends Aggregator[Seq[Double], CovBuf, CovBuf] {
    override def zero: CovBuf =
      CovBuf(0L, new Array[Double](d), new Array[Double](d * (d + 1) / 2))
    override def reduce(b: CovBuf, v: Seq[Double]): CovBuf = {
      val a = v.toArray
      var i = 0
      var t = 0
      while (i < d) {
        b.sums(i) += a(i)
        var j = i
        while (j < d) { b.prods(t) += a(i) * a(j); t += 1; j += 1 }
        i += 1
      }
      CovBuf(b.n + 1, b.sums, b.prods)
    }
    override def merge(x: CovBuf, y: CovBuf): CovBuf = {
      var i = 0
      while (i < x.sums.length) { x.sums(i) += y.sums(i); i += 1 }
      var t = 0
      while (t < x.prods.length) { x.prods(t) += y.prods(t); t += 1 }
      CovBuf(x.n + y.n, x.sums, x.prods)
    }
    override def finish(b: CovBuf): CovBuf = b
    override def bufferEncoder: Encoder[CovBuf] = ExpressionEncoder[CovBuf]()
    override def outputEncoder: Encoder[CovBuf] = ExpressionEncoder[CovBuf]()
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (driver-side;
    * d is embedding-dimension small). Returns (eigenvalues, eigenvectors)
    * sorted by eigenvalue descending; eigenvectors are rows.
    */
  private[operators] def jacobiEigen(
      a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < d) { var j = i + 1; while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    var sweep = 0
    while (off() > 1e-18 && sweep < 100) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
                case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
                case x => x
              }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < d) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    (order.map(i => a(i)(i)).toArray,
      order.map(i => (0 until d).map(r => v(r)(i)).toArray).toArray)
  }

  /** Fitted PCA: `components(i)` is the i-th principal axis (unit norm),
    * `eigenvalues(i)` its variance along that axis.
    */
  case class PcaModel(n: Long, mean: Array[Double],
      components: Array[Array[Double]], eigenvalues: Array[Double]) {
    def totalVariance: Double = eigenvalues.sum
  }

  /** One distributed pass → covariance → driver eigendecomposition. */
  def fitPca(df: DataFrame, vecCol: String, k: Int): PcaModel = {
    val d = df.select(size(col(vecCol))).head().getInt(0)
    require(k >= 1 && k <= d, s"k must be in [1, $d], got $k")
    val agg = udaf(new CovAgg(d), ExpressionEncoder[Seq[Double]]())
    val buf = df.select(agg(col(vecCol).cast("array<double>")).as("b"))
      .head().getStruct(0)
    val n = buf.getLong(0)
    require(n > 1, s"need more than one vector to fit PCA, got $n")
    val sums = buf.getSeq[Double](1).toArray
    val prods = buf.getSeq[Double](2).toArray
    val mean = sums.map(_ / n)
    val cov = Array.ofDim[Double](d, d)
    var i = 0
    var t = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = prods(t) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        t += 1; j += 1
      }
      i += 1
    }
    val (eig, vecs) = jacobiEigen(cov)
    PcaModel(n, mean, vecs.take(k), eig.take(k))
  }

  /** K-means over the embedding column (spherical: cosine assignment on
    * normalized vectors — the metric every embedding model is trained
    * for). Returns (assignments, centroids): `assignments` adds a
    * `clusterCol` to the input, `centroids(i)` is the final unit-norm
    * centroid.
    *
    * Shape: Lloyd iterations are each ONE corpus scan (assignment =
    * argmax over centroid literals, scan-side) + one k×d mean aggregate
    * (two-phase, KB state); only the centroid table ever reaches the
    * driver. Init is a deterministic hash-ordered sample. The corpus is
    * scanned `iters + 1` times and never shuffled by vectors — the same
    * shape as [[Similarity.ivfTopK]]'s trainer, exposed as a first-class
    * operator because corpus bucketing (cluster-balanced sampling,
    * semantic sharding) wants the assignments themselves.
    */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 4, seed: Long = 31L,
      clusterCol: String = "cluster"): (DataFrame, Array[Array[Double]]) = {
    val v = df.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", sqrt(vecDot(col("__v"), col("__v"))))
      .filter(col("__n") > 0)
      .persist()
    def normalize(c: Array[Double]): Array[Double] = {
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) c else c.map(_ / n)
    }
    var cent: Array[Array[Double]] = v
      .orderBy(xxhash64(col("__id"), lit(seed))).limit(k)
      .select(transform(col("__v"), x => x / col("__n")))
      .collect().map(r => r.getSeq[Double](0).toArray)
    def assignCol(cs: Array[Array[Double]]): Column =
      sort_array(array(cs.zipWithIndex.map { case (c, i) =>
        struct((vecDot(col("__v"), typedlit(c.toSeq)) /
          col("__n")).as("sim"), lit(i).as("c"))
      }: _*), asc = false).getItem(0).getField("c")
    (0 until iters).foreach { _ =>
      // sum UNIT vectors, not raw ones: the spherical-k-means update that
      // provably never degrades the mean-cosine objective (summing raw
      // vectors would weight by norm and can regress the unweighted mean)
      val means = v.withColumn("__c", assignCol(cent))
        .select(col("__c"),
          posexplode(transform(col("__v"), x => x / col("__n"))))
        .groupBy(col("__c"), col("pos")).agg(sum(col("col")).as("s"))
        .groupBy(col("__c"))
        .agg(array_sort(collect_list(struct(col("pos"), col("s")))).as("pm"))
        .select(col("__c"), expr("transform(pm, x -> x.s)").as("cv"))
        .collect()
      val updated = means
        .map(r => r.getInt(0) -> normalize(r.getSeq[Double](1).toArray))
        .toMap
      cent = cent.indices
        .map(i => updated.getOrElse(i, cent(i))).toArray // empty keeps old
    }
    val centFinal = cent
    val assigned = df.join(
      Caching.materializeThenRelease(
        v.select(col("__id"), assignCol(centFinal).as(clusterCol)), v),
      df(idCol) === col("__id"), "left")
      .drop("__id")
    (assigned, centFinal)
  }

  /** The assignment step alone: nearest-centroid (by cosine) labels against
    * a FIXED centroid table — what serving/sharding runs against a trained
    * model, and the step whose partition-invariance is provable (per-row
    * argmax over literals; no aggregation, so no summation-order ulps —
    * unlike re-FITTING, where partition-dependent double sums can flip a
    * near-tie vector between runs). Zero-norm vectors get a null cluster,
    * matching [[kmeans]].
    */
  def assign(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      clusterCol: String = "cluster"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val n = sqrt(vecDot(v, v))
    val best = sort_array(array(centroids.zipWithIndex.map { case (c, i) =>
      struct((vecDot(v, typedlit(c.toSeq)) / n).as("sim"),
        lit(i).as("c"))
    }: _*), asc = false).getItem(0).getField("c")
    df.withColumn(clusterCol, when(n > 0, best))
  }

  /** Multi-probe assignment: one row per (vector, cluster) for the top
    * `probes` nearest centroids — the SemDeDup boundary-pair claw-back.
    * A vector near a cluster boundary joins BOTH candidate pools, so a
    * near-dup pair split by the top-1 partition is recovered at the cost
    * of `probes`× candidate fan-out. Same scan-side centroid arithmetic
    * as [[assign]]; rows with a zero-norm vector are dropped.
    */
  def assignMulti(df: DataFrame, vecCol: String,
      centroids: Array[Array[Double]], probes: Int,
      clusterCol: String = "cluster"): DataFrame = {
    require(probes >= 1 && probes <= centroids.length,
      s"probes must be in [1, ${centroids.length}], got $probes")
    val v = col(vecCol).cast("array<double>")
    val n = sqrt(vecDot(v, v))
    val sorted = sort_array(array(centroids.zipWithIndex.map { case (c, i) =>
      struct((vecDot(v, typedlit(c.toSeq)) / n).as("sim"),
        lit(i).as("c"))
    }: _*), asc = false)
    df.filter(n > 0)
      .withColumn(clusterCol,
        explode(transform(slice(sorted, 1, probes), x => x.getField("c"))))
  }

  /** Within-cluster cosine near-dup pairs over an ALREADY-ASSIGNED corpus —
    * the candidate-generation step of SemDeDup-style semantic deduplication
    * (Abbas et al., "SemDeDup", 2023): k-means clusters bound the quadratic,
    * so the self-join fans out (n/k)² per cluster instead of n² overall.
    *
    * Shape at 100 TB: one shuffle on the cluster key (k chosen so a cluster
    * fits a task — SemDeDup runs k≈50 000 at LAION scale), then a per-cluster
    * join whose cosine runs on the native `vec_dot` kernel. Cross-cluster
    * near-dups are missed by construction; that is the accepted
    * approximation this family trades for never running an n² join — and it
    * is MEASURED, not just accepted: on the synthetic gaussian corpus
    * (worst case for clusterability, k=8) within-cluster recall of exact
    * pairs is 0.37 at sf0.01 and 0.125 at sf0.1, while feeding this
    * function an [[assignMulti]] top-2 assignment recovers 0.89 / 0.71 at
    * 2× candidate fan-out (the `semantic_dedup` contract pins both floors).
    * Real corpora cluster far better than an isotropic gaussian; the
    * measured numbers here are the floor geometry, not the expected one.
    *
    * Output: (cluster, id_a, id_b, cos) with id_a < id_b, cos ≥ threshold,
    * rounded to 6 places (both engines hash the same representation).
    */
  def semanticPairs(assigned: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, threshold: Double): DataFrame = {
    val v = assigned.filter(col(clusterCol).isNotNull)
      .select(col(clusterCol).as("__c"), col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", sqrt(vecDot(col("__v"), col("__v"))))
      .filter(col("__n") > 0)
    val a = v.select(col("__c"), col("__id").as("id_a"),
      col("__v").as("__va"), col("__n").as("__na"))
    val b = v.select(col("__c"), col("__id").as("id_b"),
      col("__v").as("__vb"), col("__n").as("__nb"))
    a.join(b, Seq("__c")).filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(vecDot(col("__va"), col("__vb")) /
          (col("__na") * col("__nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("__c").as("cluster"), col("id_a"), col("id_b"), col("cos"))
  }

  /** Semantic deduplication end-to-end: fit spherical k-means, generate
    * within-cluster near-dup pairs, resolve components with the
    * giant-component-safe [[Dedup.clustersStar]], and keep each component's
    * min-id representative. Returns (survivors, pairs) — pairs so callers
    * can audit what was merged without recomputing the cluster join.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String, k: Int,
      threshold: Double, iters: Int = 2,
      seed: Long = 31L): (DataFrame, DataFrame) = {
    val (assigned, _) = kmeans(df, idCol, vecCol, k, iters, seed,
      clusterCol = "__sd_cluster")
    val pairs = Caching.materializeThenRelease(
      semanticPairs(assigned, idCol, vecCol, "__sd_cluster", threshold))
    val dropIds = Dedup.clustersStar(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id"))
    val survivors = df.join(dropIds, df(idCol) === dropIds("id"), "left_anti")
    (survivors, pairs)
  }

  /** Scan-side projection onto the model's components:
    * out[i] = (v − mean)·cᵢ = v·cᵢ − mean·cᵢ (the mean dot folds into a
    * literal, so no per-element centering runs per row). `whiten = true`
    * additionally divides by √eigenvalueᵢ (unit variance per coordinate).
    */
  def project(df: DataFrame, vecCol: String, model: PcaModel,
      outCol: String = "pc", whiten: Boolean = false): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val coords = model.components.zipWithIndex.map { case (c, i) =>
      val centered = vecDot(v, typedlit(c.toSeq)) -
        lit(c.zip(model.mean).map { case (a, b) => a * b }.sum)
      if (whiten) centered / lit(math.sqrt(math.max(model.eigenvalues(i), 1e-300)))
      else centered
    }
    df.withColumn(outCol, array(coords: _*))
  }

  /** Deterministic Rademacher sign for cell (j, i) of the JL projection
    * matrix: one md5 bit of "seed:j:i" — seeded, engine-replayable,
    * GENERATED rather than stored (the matrix never exists as data).
    */
  private[operators] def jlSign(seed: String, j: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$seed:$j:$i".getBytes("UTF-8"))
    if ((h(0) & 1) == 0) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss random projection with a SIGN matrix
    * (Achlioptas 2003, "Database-friendly random projections"):
    * yⱼ = (1/√dOut) Σᵢ s(j,i) · xᵢ — preserves all pairwise Euclidean
    * distances within (1 ± ε), ε ≈ √(8 ln n / dOut), with probability
    * 1 − 1/n. This is the embedding-compression move a 100 TB vector
    * corpus runs BEFORE storage/ANN (a 64 → 16 projection cuts the
    * brute-force prefilter's bytes 4×; real deployments go 3072 → 128).
    *
    * Shape at scale: the projection is dOut native `vec_dot` kernels
    * against broadcast LITERAL sign vectors — scan-side column math
    * inside codegen, zero shuffles, zero driver data; the sign matrix is
    * regenerated from the seed anywhere, so the "model" costs nothing to
    * ship. Determinism: each output coordinate is one serial
    * fixed-order dot product per row — a pure function of (vector, seed),
    * identical under any partitioning.
    */
  def jlProject(df: DataFrame, vecCol: String, dIn: Int, dOut: Int,
      seed: String = "jl", outCol: String = "proj"): DataFrame = {
    require(dOut >= 1 && dIn >= 1, s"bad dims dIn=$dIn dOut=$dOut")
    val scale = 1.0 / math.sqrt(dOut.toDouble)
    val v = col(vecCol).cast("array<double>")
    val coords = (0 until dOut).map { j =>
      val signs = (0 until dIn).map(i => jlSign(seed, j, i))
      vecDot(v, typedlit(signs)) * lit(scale)
    }
    df.withColumn(outCol, array(coords: _*))
  }
}
