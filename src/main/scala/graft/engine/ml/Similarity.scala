package graft.engine.ml

import graft.engine.Memo
import graft.engine.expr.GraftFunctions
import graft.engine.io.Storage
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search verbs over embedding columns (SURVEY.md §2.10):
  * brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane-LSH approximate path for scale.
  *
  * Scale design (100 TB of vectors): the probe set is broadcast, so
  * brute force is a single scan of the embedding table (fine for ≤ a few
  * thousand probes). The LSH path buckets vectors once (write-time at
  * scale), turning each query into a bucket-local scan — the IVF-style
  * trade: recall for a ~bands× cheaper scan.
  */
object Similarity {

  /** Elementwise-exact dot product of two float-array columns, computed
    * as a left fold in double — deterministic and reproducible by any
    * engine that folds left-to-right. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Deterministic label-stratified probe set: lowest vec_id per label. */
  def probes(emb: DataFrame): DataFrame = {
    val ids = emb.groupBy("label").agg(min(col("vec_id")).as("vec_id"))
    emb.join(ids.select("vec_id"), "vec_id")
      .select(col("vec_id").as("probe_id"),
        col("embedding").as("probe_emb"))
  }

  /** Exact top-k cosine neighbours for each probe (self excluded).
    * The probe side is broadcast: one pass over the embedding table,
    * then a per-probe top-k window. The score is the native codegen
    * [[graft.engine.expr.CosineSimilarity]] — one fused loop per pair,
    * bit-identical to the HOF-composed form (and the oracle). */
  def bruteForceTopK(emb: DataFrame, probeDf: DataFrame, k: Int): DataFrame = {
    // NO spreadForCompute here (r15): the cosine work is |emb|×|probes|,
    // and the label-stratified probe sets this entry point serves are
    // tiny, so the repartition exchange cost more than the parallelism
    // paid — sim_search_topk regressed 0.43→0.64 s from the r14 spread
    // (r14-verdict item 4). Callers with LARGE probe sets pre-spread the
    // corpus themselves (see batchGroundTruthFor, where the spread
    // measured a win).
    topKByCos(probeCosines(emb.crossJoin(broadcast(probeDf))), k)
  }

  /** The scoring step every cosine probe search shares: over rows that
    * pair a probe `(probe_id, probe_emb)` with a corpus vector
    * `(vec_id, embedding)`, drop the probe's own vector and emit
    * `(probe_id, vec_id, cos)` from the native fused cosine. */
  private def probeCosines(joined: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(joined.sparkSession)
    joined.filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        expr("graft_cosine(probe_emb, embedding)").as("cos"))
  }

  /** The per-probe ranking tail every cosine top-k path shares: rank
    * each probe's scored `(probe_id, vec_id, cos)` rows by cos desc,
    * vec_id asc, keep `rn <= k`, and emit `(probe_id, rn, vec_id,
    * score)` with the score rounded to 6 places. */
  private def topKByCos(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("probe_id")
      .orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("rn"), col("vec_id"),
        round(col("cos"), 6).as("score"))
  }

  /** Both sides of an IVF search bucketed to quantizer cells: corpus
    * vectors to their nearest cell, probes exploded to their `nProbe`
    * nearest. The corpus is spread first, since the per-row quantizer
    * UDF and the cosine loop ride the scan stage (see bruteForceTopK);
    * the spread is a no-op once splits >= cores. */
  private def cellBuckets(emb: DataFrame, probeDf: DataFrame,
      centroids: Quantizer, nProbe: Int): (DataFrame, DataFrame) = {
    val cellOf = udf((a: Seq[Float]) => nearestCellsOf(centroids)(a, 1).head)
    val cellsOf = udf((a: Seq[Float]) => nearestCellsOf(centroids)(a, nProbe))
    val bucketed = graft.engine.ops.Scale.spreadForCompute(emb)
      .select(col("vec_id"), col("embedding"),
        cellOf(col("embedding")).as("cell"))
    val probeCells = probeDf.select(col("probe_id"), col("probe_emb"),
      explode(cellsOf(col("probe_emb"))).as("cell"))
    (bucketed, probeCells)
  }

  /** Exact row count for the sample modulus WITHOUT a Spark job when
    * the input is a bare parquet scan: footers carry exact row counts,
    * so the cold fit reads metadata instead of scheduling a job purely
    * to size the sample. The value equals count()'s exactly — same
    * sample rule, same quantizer. Filtered/transformed inputs (the
    * append-base fit), non-parquet sources, and very wide file
    * inventories (driver-sequential footer reads beat a distributed
    * count only while the inventory is small) fall back to count(). */
  private def exactRowCount(df: DataFrame): Long = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.{
      LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def bareScan(p: LogicalPlan): Boolean = p match {
      case _: LogicalRelation => true
      case Project(ps, child) if ps.forall(_.isInstanceOf[Attribute]) =>
        bareScan(child)
      case SubqueryAlias(_, child) => bareScan(child)
      case _ => false
    }
    val files = df.inputFiles
    if (bareScan(df.queryExecution.optimizedPlan) && files.nonEmpty &&
        files.length <= 1024 && files.forall(_.endsWith(".parquet"))) {
      import scala.jdk.CollectionConverters._
      try files.map(f => Storage.footer(df.sparkSession, f).getBlocks.asScala
        .map(_.getRowCount).sum).sum
      catch { case scala.util.control.NonFatal(_) => df.count() }
    } else df.count()
  }

  /** Fitted coarse quantizer (round 12): SPHERICAL assignment — each
    * vector is L2-normalized, then conditioned by a shrinkage-whitening
    * rotation W, then matched to k-means centroids fit in that same
    * space. Two measured problems drove this (AdversarialRecallSpec):
    * raw Euclidean cells let MAGNITUDE dominate the cell structure,
    * which cosine ranking ignores — on line-correlated data (all
    * variance on one axis, the anisotropy shape of trained embedding
    * spectra) recall vs brute-force cosine was 0.68; and full
    * 1/sqrt(lambda) whitening over-corrects, crushing the
    * between-cluster axes real label-clustered embeddings depend on
    * (0.60 on the sf0.001 fixture). The landed combination —
    * normalize to the unit sphere (where Euclidean distance is
    * monotone in angle, so cells partition by DIRECTION, matching the
    * cosine objective), then shrinkage-whiten (ridge = 4x mean
    * eigenvalue, see [[whitenerOf]]) — measures 1.00 on the
    * line-correlated adversary, 0.82 on the clustered fixture and
    * 0.80 isotropic at 6/16 cells probed. The (dim x dim) transform
    * is fitted on the same bounded sample as the centroids and
    * persisted WITH them ([[saveQuantizer]]): queries must assign in
    * the space the quantizer was fit in. Mean-centering is omitted:
    * assignment compares ||Wx − c|| differences, which are
    * translation-invariant, so a stored mean would be dead weight. */
  case class Quantizer(whiten: Array[Array[Double]],
      cells: Array[Array[Double]]) extends Serializable {
    /** W·(v/‖v‖) for a float embedding — the space cells live in.
      * The L2 normalization makes this SPHERICAL quantization: every
      * ranking this engine runs over IVF cells is cosine, and on the
      * unit sphere Euclidean distance is monotone in angular distance,
      * so cells partition by DIRECTION — magnitude (irrelevant to
      * cosine) can no longer dominate the cell structure. */
    def project(v: Seq[Float]): Array[Double] = {
      val d = whiten.length
      // Fail fast on a dimension mismatch (matches loadQuantizer's
      // philosophy): silently truncating the dot product while
      // normalizing over the FULL vector would hand a dim-mismatched
      // query garbage cell assignments — a recall collapse with no
      // error to point at.
      require(v.length == (if (d > 0) whiten(0).length else 0),
        s"query dim ${v.length} != quantizer dim " +
          s"${if (d > 0) whiten(0).length else 0}")
      var n2 = 0.0
      var j = 0
      while (j < v.length) { n2 += v(j).toDouble * v(j); j += 1 }
      val inv = if (n2 > 0.0) 1.0 / math.sqrt(n2) else 1.0
      val out = new Array[Double](d)
      var i = 0
      while (i < d) {
        val row = whiten(i)
        var s = 0.0
        j = 0
        while (j < row.length) { s += row(j) * (v(j) * inv); j += 1 }
        out(i) = s
        i += 1
      }
      out
    }
  }

  private[ml] def identityMatrix(d: Int): Array[Array[Double]] =
    Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)

  /** Deterministic cyclic-Jacobi eigendecomposition of a symmetric
    * matrix (dims here are ≤ a few hundred; the fit sample is already
    * driver-local, so no distributed solver is warranted). Returns
    * (eigenvalues, eigenvector COLUMNS). */
  private[ml] def jacobiEigen(mIn: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = mIn.length
    val a = mIn.map(_.clone())
    val v = identityMatrix(d)
    var sweep = 0
    var done = false
    while (sweep < 64 && !done) {
      var off = 0.0
      var p = 0
      while (p < d) {
        var q = p + 1
        while (q < d) { off += a(p)(q) * a(p)(q); q += 1 }
        p += 1
      }
      if (off < 1e-20) done = true
      else {
        p = 0
        while (p < d) {
          var q = p + 1
          while (q < d) {
            if (math.abs(a(p)(q)) > 1e-15) {
              val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
              val t = (if (theta >= 0) 1.0 else -1.0) /
                (math.abs(theta) + math.sqrt(theta * theta + 1))
              val c = 1 / math.sqrt(t * t + 1)
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
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Whitening matrix W = Λ^{-1/2}·Qᵀ from the sample covariance, with
    * a trace-relative ridge so near-zero-variance axes are damped, not
    * exploded (a dead dimension must stay dead, not become pure
    * amplified noise). Deterministic: the sample is vec_id-sorted and
    * Jacobi is cyclic. */
  private[ml] def whitenerOf(sample: Array[Array[Double]])
      : Array[Array[Double]] = {
    val n = sample.length
    val d = sample.head.length
    if (n < 2) return identityMatrix(d)
    val mean = new Array[Double](d)
    sample.foreach { p =>
      var i = 0; while (i < d) { mean(i) += p(i); i += 1 }
    }
    var i = 0
    while (i < d) { mean(i) /= n; i += 1 }
    val cov = Array.ofDim[Double](d, d)
    sample.foreach { p =>
      var a = 0
      while (a < d) {
        val da = p(a) - mean(a)
        var b = a
        while (b < d) { cov(a)(b) += da * (p(b) - mean(b)); b += 1 }
        a += 1
      }
    }
    var a = 0
    while (a < d) {
      var b = a
      while (b < d) {
        cov(a)(b) /= (n - 1); cov(b)(a) = cov(a)(b); b += 1
      }
      a += 1
    }
    val (evals, evecs) = jacobiEigen(cov)
    val trace = math.max(evals.map(math.max(_, 0.0)).sum, 0.0)
    if (trace <= 0.0) return identityMatrix(d)
    // SHRINKAGE ridge = 4x the mean eigenvalue: full 1/sqrt(lambda)
    // whitening measurably DESTROYS recall on label-clustered
    // embeddings (it compresses exactly the between-cluster axes the
    // cells should follow — 0.60 vs the 0.70 gate on the sf0.001
    // fixture), while this shrunk form only damps axes that dominate
    // the mean by multiples (a 16x-mean axis compresses ~2.2x, a
    // near-mean axis ~1.1x) and leaves the small ones alone. Measured
    // across regimes (6/16 cells probed, top-5 recall vs brute force):
    //   raw Euclid   : clustered 0.70+, line-correlated 0.68, iso 0.96
    //   sphere only  : clustered 0.80,  line-correlated 1.00, iso 0.80
    //   sphere+full  : clustered 0.60,  line-correlated 1.00, iso 0.96
    //   sphere+shrink: clustered 0.82,  line-correlated 1.00, iso 0.80
    val eps = (trace / d) * 4.0
    Array.tabulate(d, d)((r, c) =>
      evecs(c)(r) / math.sqrt(math.max(evals(r), 0.0) + eps))
  }

  /** Fit the seeded KMeans coarse quantizer and return its centroids —
    * shared by [[ivfTopK]] and [[embeddingNearDup]]. At 100 TB the fit
    * runs once at ingest on a sample and the centroids ship with the
    * dataset.
    *
    * A coarse quantizer only needs a bounded sample and a few Lloyd
    * iterations, so the fit runs driver-local on one collected sample
    * (≤~8192×dim doubles ≈ 4 MB): one Spark job instead of the ~10 an
    * mllib KMeans fit schedules — measured 2–3 s saved per fitting
    * query at sf0.1. Seeded k-means++ init keeps it deterministic;
    * every downstream result is exact-verified against the assigned
    * cells, so centroid micro-differences only move the recall knob.
    *
    * The sample is a deterministic hash-sample on vec_id — NOT
    * `limit(n)`, which takes whichever partitions answer first: on a
    * label- or time-clustered 100 TB layout that fits the quantizer to
    * a skewed slice, and makes the result depend on physical layout. A
    * hash filter sees every partition uniformly and is invariant to
    * repartitioning. */
  def fitCentroids(emb: DataFrame, nCells: Int,
      seed: Long): Quantizer = {
    val n = exactRowCount(emb)
    val mod = math.max(1L, n / 4096L)
    // collect() returns rows in whatever partition order the layout
    // produces and the fit is order-sensitive (k-means++ indexes the
    // sample), so sort by vec_id driver-side — the sample is bounded
    val raw: Array[Array[Double]] = emb
      .where(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
      .select("vec_id", "embedding").collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(raw.nonEmpty, "fitCentroids: empty embedding table")
    val dim = raw.head.length
    // L2-normalize (spherical), whiten the normalized sample, then
    // k-means in that space (see Quantizer.project — identical order)
    val unit = raw.map { p =>
      var n2 = 0.0
      var j = 0
      while (j < dim) { n2 += p(j) * p(j); j += 1 }
      val inv = if (n2 > 0.0) 1.0 / math.sqrt(n2) else 1.0
      p.map(_ * inv)
    }
    val w = whitenerOf(unit)
    val sample = unit.map { p =>
      val out = new Array[Double](dim)
      var r = 0
      while (r < dim) {
        val row = w(r); var s = 0.0; var j = 0
        while (j < dim) { s += row(j) * p(j); j += 1 }
        out(r) = s; r += 1
      }
      out
    }
    val rnd = new scala.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // k-means++ seeding
    val centers = scala.collection.mutable.ArrayBuffer(
      sample(rnd.nextInt(sample.length)).clone())
    while (centers.length < math.min(nCells, sample.length)) {
      val dists = sample.map(p => centers.map(c => d2(p, c)).min)
      val total = dists.sum
      var r = rnd.nextDouble() * total
      var idx = 0
      while (idx < sample.length - 1 && r > dists(idx)) {
        r -= dists(idx); idx += 1
      }
      centers += sample(idx).clone()
    }
    // Lloyd iterations
    val k = centers.length
    (1 to 8).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          val d = d2(p, centers(c)); if (d < bd) { bd = d; best = c }; c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) { centers(c)(i) = sums(c)(i) / counts(c); i += 1 }
        }
        c += 1
      }
    }
    Quantizer(w, centers.toArray)
  }

  private[ml] def nearestCellsOf(q: Quantizer)(
      v: Seq[Float], n: Int): Seq[Int] = {
    val p = q.project(v) // assign in the space the quantizer was fit in
    val ds = q.cells.zipWithIndex.map { case (c, i) =>
      var d = 0.0
      var j = 0
      while (j < c.length && j < p.length) {
        val diff = c(j) - p(j); d += diff * diff; j += 1
      }
      (i, d)
    }
    ds.sortBy(_._2).take(n).map(_._1).toSeq
  }

  /** Embedding near-duplicate pairs: exact cosine ≥ threshold via the
    * native fused expression. Candidate generation is a two-regime
    * hybrid on the per-label group size:
    *
    *  - labels with ≤ `smallLabelMax` vectors: ALL pairs within the
    *    label. Exact (100% recall, SQL-oracle-checkable) and bounded —
    *    the quadratic term is capped at smallLabelMax² per label.
    *  - labels above the cap: IVF coarse-quantizer cells. Every vector
    *    is soft-assigned to its `nProbe` nearest cells; a pair is a
    *    candidate iff both sides share a (label, cell) — the
    *    SemDeDup-style cluster-then-pair shape. Work is Σ_cell |cell|²
    *    with |cell| ≈ n/nCells, not O(group²) on the largest label;
    *    recall is the standard IVF trade (near-dups quantize together —
    *    multi-probe covers boundary pairs), bounds-checked in ScalaTest
    *    against planted duplicates.
    *
    * So results are EXACT whenever every label fits the cap (true at
    * every tested scale factor — the DuckDB all-pairs oracle stays
    * valid), and documented-approximate only on the labels where
    * exactness would be quadratic. The quantizer fit runs only when
    * some label exceeds the cap; pass `datasetTag` to reuse a
    * fitted/persisted quantizer (see [[quantizerFor]]). */
  def embeddingNearDup(emb: DataFrame, threshold: Double,
      nCells: Int = 16, nProbe: Int = 3, seed: Long = 42L,
      smallLabelMax: Int = 4096, datasetTag: Option[String] = None): DataFrame =
    nearPairScores(emb, nCells, nProbe, seed, smallLabelMax, datasetTag)
      .filter(col("cos") >= threshold)
      .select(col("label"), col("vec_a"), col("vec_b"),
        round(col("cos"), 6).as("score"))

  /** Rank-based near-dup emission: the top `kPerLabel` highest-cosine
    * pairs WITHIN each label, threshold-free. This is the
    * knee-discovery companion to [[embeddingNearDup]]: a threshold key
    * goes vacuous the moment the corpus's cosine distribution sits
    * below the cutoff (the r12 verdict measured exactly that at 0.8 on
    * the synthetic corpus), while a rank emission is structurally
    * non-empty on any corpus with >= 2 vectors per label — so the
    * differential oracle always compares real score sets. Ranking is
    * on the FULL-precision cosine (both engines run the identical
    * left-fold, so the order is deterministic), ties broken by
    * (vec_a, vec_b); the emitted score is rounded after ranking.
    *
    * APPROXIMATION AMPLIFICATION (r13 review): ranks are computed over
    * [[nearPairScores]]'s CANDIDATE set, so in the large-label IVF
    * regime a single pair missed by cell probing shifts every
    * subsequent rank within that label — a rank emission diverges from
    * an all-pairs oracle more readily than a threshold emission once
    * any label exceeds `smallLabelMax`. The oracle-checked key
    * (`dedup_embedding_knee`) runs entirely in the all-small exact
    * regime at every tested SF (max label size << 4096), where the
    * candidate set IS all pairs and ranks are exact; callers using
    * this entry point above the cap should treat ranks as
    * approximate-order, not positionally stable. */
  def embeddingNearPairsTopK(emb: DataFrame, kPerLabel: Int,
      nCells: Int = 16, nProbe: Int = 3, seed: Long = 42L,
      smallLabelMax: Int = 4096, datasetTag: Option[String] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("label")
      .orderBy(col("cos").desc, col("vec_a").asc, col("vec_b").asc)
    nearPairScores(emb, nCells, nProbe, seed, smallLabelMax, datasetTag)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= kPerLabel)
      .select(col("label"), col("rn").cast("int").as("rn"),
        col("vec_a"), col("vec_b"), round(col("cos"), 6).as("score"))
  }

  /** Directed within-label candidate pairs `(label, vec_a, vec_b)`,
    * vec_a ≠ vec_b, under the two-regime split of [[embeddingNearDup]]:
    * all pairs of a label with ≤ `smallLabelMax` vectors, and pairs
    * sharing one of their `nProbe` nearest quantizer cells in a larger
    * label. Ids only: shipping embeddings through the candidate join
    * and dedup would shuffle the vectors repeatedly. A larger label's
    * pair is emitted once per shared cell. */
  private def labelCandidates(emb: DataFrame,
      nCells: Int, nProbe: Int, seed: Long,
      smallLabelMax: Int, datasetTag: Option[String]): DataFrame = {
    val sizes = emb.groupBy("label").agg(count(lit(1)).as("label_n"))
    val tagged = emb.join(broadcast(sizes), Seq("label"))
    def pairs(bucketed: DataFrame, keys: Seq[String]): DataFrame = {
      def side(id: String) =
        bucketed.select(keys.map(col) :+ col("vec_id").as(id): _*)
      side("vec_a").join(side("vec_b"), keys)
        .filter(col("vec_a") =!= col("vec_b"))
        .select("label", "vec_a", "vec_b")
    }
    val candSmall =
      pairs(tagged.filter(col("label_n") <= smallLabelMax), Seq("label"))
    // the label-size check is one tiny agg job; it gates the (much
    // more expensive) quantizer fit so the all-small regime never fits
    val anyLarge = sizes.filter(col("label_n") > smallLabelMax)
      .limit(1).count() > 0
    if (!anyLarge) candSmall else {
      val centroids = datasetTag match {
        case Some(tag) => quantizerFor(emb, tag, nCells, seed)
        case None      => fitCentroids(emb, nCells, seed)
      }
      val cellsOf = udf((a: Seq[Float]) => nearestCellsOf(centroids)(a, nProbe))
      val bucketed = tagged.filter(col("label_n") > smallLabelMax)
        .select(col("label"), col("vec_id"),
          explode(cellsOf(col("embedding"))).as("cell"))
      candSmall.union(pairs(bucketed, Seq("label", "cell")))
    }
  }

  private def nearPairScores(emb: DataFrame,
      nCells: Int, nProbe: Int, seed: Long,
      smallLabelMax: Int, datasetTag: Option[String]): DataFrame = {
    GraftFunctions.ensureRegistered(emb.sparkSession)
    val cand = labelCandidates(emb, nCells, nProbe, seed, smallLabelMax,
        datasetTag)
      .filter(col("vec_a") < col("vec_b"))
      // multi-probe re-emits a pair once per shared cell, from
      // DIFFERENT cell partitions — same argument as Dedup
      // .distinctPairs: dedup on a vec_a-only exchange that the verify
      // join immediately reuses, instead of a three-key shuffle plus a
      // re-shuffle
      .repartition(col("vec_a"))
      .dropDuplicates(Seq("label", "vec_a", "vec_b"))
    cand
      .join(emb.select(col("vec_id").as("vec_a"),
        col("embedding").as("emb_a")), Seq("vec_a"))
      .join(emb.select(col("vec_id").as("vec_b"),
        col("embedding").as("emb_b")), Seq("vec_b"))
      .select(col("label"), col("vec_a"), col("vec_b"),
        expr("graft_cosine(emb_a, emb_b)").as("cos"))
  }

  /** Approximate NN via random-hyperplane LSH (seeded, deterministic).
    * Returns per-probe candidates ranked by exact euclidean distance on
    * the LSH-joined candidate set. */
  private val lshModelCache = new Memo[(String, String, Double, Int),
    org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel](64)

  def annTopK(emb: DataFrame, probeDf: DataFrame, k: Int,
      bucketLength: Double = 2.0, numTables: Int = 3,
      datasetTag: Option[String] = None, radius: Double = 6.0): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val toVec = udf((a: Seq[Float]) =>
      Vectors.dense(a.map(_.toDouble).toArray))
    val data = emb.select(col("vec_id"), toVec(col("embedding")).as("features"))
    val probesV = probeDf.select(col("probe_id"),
      toVec(col("probe_emb")).as("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setBucketLength(bucketLength).setNumHashTables(numTables)
      .setInputCol("features").setOutputCol("hashes").setSeed(42L)
    // the fitted model is just the seeded random hyperplanes (depends
    // on dim + params, not data values) — fit once per input content
    // fingerprint (which fixes the dim), like the IVF quantizer
    val model = datasetTag match {
      case Some(tag) => lshModelCache.getOrElseUpdate((tag,
        graft.engine.io.Artifacts.fingerprintOf(emb), bucketLength,
        numTables))(lsh.fit(data))
      case None => lsh.fit(data)
    }
    val joined = model.approxSimilarityJoin(probesV, data, radius, "dist")
      .select(col("datasetA.probe_id").as("probe_id"),
        col("datasetB.vec_id").as("vec_id"), col("dist"))
      .filter(col("probe_id") =!= col("vec_id"))
    val w = Window.partitionBy("probe_id").orderBy(asc("dist"), asc("vec_id"))
    joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("rn"), col("vec_id"),
        round(col("dist"), 6).as("dist"))
  }

  /** IVF (inverted-file) approximate NN: a seeded KMeans coarse
    * quantizer assigns every vector to one of `nCells` cells; a query
    * scans only its `nProbe` nearest cells. This is the write-once /
    * query-cheap trade for corpus-scale search: at 100 TB the
    * assignment happens at ingest (stored as a bucket column /
    * partition key), and each query reads nProbe/nCells of the data.
    *
    * Returns exact-cosine top-k within the probed cells.
    */
  def ivfTopK(emb: DataFrame, probeDf: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 6, seed: Long = 42L): DataFrame =
    ivfTopKWith(emb, probeDf, k, fitCentroids(emb, nCells, seed), nProbe)

  /** Persist a fitted quantizer so the fit is a one-time ingest cost:
    * queries load the tiny (nCells × dim) table and skip fitting. At
    * 100 TB this is the real deployment shape — the centroids ship with
    * the dataset like any other index metadata. The whitening rows ride
    * in the same parquet as the centroids, keyed by negative cell ids
    * (whiten row j ↦ cell −(j+1)), so the artifact moves as one file. */
  def saveQuantizer(spark: org.apache.spark.sql.SparkSession,
      q: Quantizer, path: String): Unit = {
    import spark.implicits._
    (q.cells.zipWithIndex.map { case (c, i) => (i, c.toSeq) } ++
      q.whiten.zipWithIndex.map { case (r, j) => (-(j + 1), r.toSeq) })
      .toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Decoded quantizers, keyed by the content fingerprint of the
    * stored files: index metadata is decoded once and reused, and a
    * rewrite at the same path is a new key. */
  private val quantizerCache = new Memo[String, Quantizer](64)

  /** The quantizer stored at `path` by [[saveQuantizer]]. Listing the
    * files and reading their footer launches no job; only a first load
    * of these files runs the decode. */
  def loadQuantizer(spark: SparkSession, path: String): Quantizer = {
    // the one part file itself, not the directory (a cell index keeps
    // its quantizer at `<index>/_quantizer`, a root Spark would log as
    // hidden) nor a glob (Spark would log that it names no metadata
    // directory)
    val parts = Storage.listFiles(spark, path).filter(_.endsWith(".parquet"))
    require(parts.size == 1, s"loadQuantizer: expected one parquet part " +
      s"file in quantizer artifact $path, found ${parts.size}")
    val stored = Storage.readParquet(spark, parts.head)
    quantizerCache.getOrElseUpdate(
        graft.engine.io.Artifacts.fingerprintOf(stored)) {
      val rows = stored.orderBy("cell").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      val cells = rows.filter(_._1 >= 0).map(_._2)
      val whitenRows = rows.filter(_._1 < 0).sortBy(r => -r._1).map(_._2)
      // Fail FAST on empty/truncated artifacts and on pre-round-12
      // (whiten-less) ones: since r12 every assignment path normalizes
      // and whitens inside Quantizer.project, so an old raw-space
      // quantizer CANNOT be given back its original semantics here — a
      // silent identity fallback would misassign cells (code-review
      // r12). Current artifact paths carry a _w1 version suffix, so a
      // whiten-less load means a truly stale or corrupt path. A throw
      // stores nothing in the cache.
      require(cells.nonEmpty,
        s"loadQuantizer: no centroid rows in quantizer artifact $path")
      require(whitenRows.nonEmpty,
        s"loadQuantizer: $path has no whitening rows — a pre-r12 " +
          "(raw-space) quantizer artifact cannot be used with the " +
          "spherical assignment path; refit or rebuild the index")
      Quantizer(whitenRows, cells)
    }
  }

  /** Fit-once semantics for the coarse quantizer, made literal: the
    * first call for a (dataset, nCells, seed) key fits on a hash-sample
    * and persists the centroids under the warehouse via
    * [[saveQuantizer]]; later calls — in this session (the decoded
    * [[loadQuantizer]] cache) or any later session (parquet) — load
    * instead of refitting. The content fingerprint
    * ([[graft.engine.io.Artifacts.fingerprintOf]]) participates in the
    * key so a regenerated dataset at the same path doesn't silently
    * reuse stale centroids. This is the 100 TB deployment shape: the
    * quantizer is index metadata fitted at ingest, shipped with the
    * dataset, loaded by every query. */
  def quantizerFor(emb: DataFrame, datasetTag: String, nCells: Int = 16,
      seed: Long = 42L): Quantizer = {
    val spark = emb.sparkSession
    val path = graft.engine.io.Artifacts.fitOnce(emb, "graft_quantizers",
      datasetTag, params = Seq(nCells, seed, "w1")) { tmp =>
      saveQuantizer(spark, fitCentroids(emb, nCells, seed), tmp)
    }
    loadQuantizer(spark, path)
  }

  /** [[ivfTopKWith]] against the per-dataset cached/persisted quantizer
    * — what the declared queries use, so the fit cost is paid once per
    * dataset, not once per query. */
  def ivfTopKCached(emb: DataFrame, probeDf: DataFrame, k: Int,
      datasetTag: String, nCells: Int = 16, nProbe: Int = 6,
      seed: Long = 42L): DataFrame =
    ivfTopKWith(emb, probeDf, k, quantizerFor(emb, datasetTag, nCells, seed),
      nProbe)

  /** The ingest-time half of IVF at corpus scale: write the embedding
    * table PARTITIONED BY QUANTIZER CELL (plus the quantizer beside
    * it), so a query's `cell IN (probed…)` predicate becomes partition
    * pruning — the scan reads nProbe/nCells of the FILES instead of
    * scanning everything and filtering. At 100 TB this is the
    * difference between reading ~2 TB and reading the corpus.
    *
    * `replication` > 1 is WRITE-TIME MULTI-PROBE: each vector is stored
    * in its `replication` nearest cells, so boundary vectors (the ones
    * read-side multi-probe exists to recover) are already present in
    * every nearby cell — a query needs proportionally fewer probe
    * cells for the same recall. The trade is replication× storage and
    * write bandwidth for a narrower read, which is the right direction
    * when the corpus is written once and probed forever. Readers must
    * dedup (vec_id appears in several cells); [[ivfTopKIndexed]] does.
    *
    * The pre-write repartition by cell is the compaction target: all
    * rows of a cell land in one task → one file per cell directory
    * instead of (input partitions × cells) shards. At 100 TB, cap file
    * size with `spark.sql.files.maxRecordsPerFile` instead of changing
    * the shape. */
  def writeCellIndex(emb: DataFrame, path: String, datasetTag: String,
      nCells: Int = 16, seed: Long = 42L, replication: Int = 1): Unit = {
    val spark = emb.sparkSession
    val centroids = quantizerFor(emb, datasetTag, nCells, seed)
    val cellsOf =
      udf((a: Seq[Float]) => nearestCellsOf(centroids)(a, replication))
    emb.withColumn("cell", explode(cellsOf(col("embedding"))))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    // inside the index directory (underscore-prefixed → invisible to
    // the table scan) so the whole artifact moves as one atomic rename
    saveQuantizer(spark, centroids, s"$path/_quantizer")
  }

  /** Incremental index maintenance — append a vector batch to an
    * existing cell-partitioned index WITHOUT refitting the quantizer
    * and WITHOUT touching any cell the batch doesn't land in. The
    * batch is assigned with the STORED quantizer (at 100 TB the fit is
    * frozen at ingest and revisited on drift schedules, never per
    * batch — a refit would re-cell the whole corpus), and the write is
    * `mode("append")` under `partitionBy(cell)`: new parquet files
    * appear ONLY inside the touched cell directories, existing files
    * are never rewritten — the LSM shape. Segment-file accumulation is
    * compaction's problem (the compact_files operator), not the
    * append path's. Readers are already duplicate-safe
    * ([[ivfTopKIndexed]] dedups (probe_id, vec_id)), and build-once
    * callers ([[appendedIndexFor]]) make the append itself
    * exactly-once. Returns the touched cell ids (bounded by nCells —
    * a driver-side handful by construction). */
  def appendCellIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, batch: DataFrame,
      replication: Int = 1): Seq[Int] = {
    val centroids = loadQuantizer(spark, s"$indexPath/_quantizer")
    val cellsOf =
      udf((a: Seq[Float]) => nearestCellsOf(centroids)(a, replication))
    // persist: `assigned` feeds BOTH the touched-cell collect and the
    // append write; without it the assignment runs as two jobs, and a
    // non-deterministic batch source could report touched cells
    // inconsistent with what was written
    val assigned = batch
      .withColumn("cell", explode(cellsOf(col("embedding"))))
      .persist()
    try {
      val touched = assigned.select("cell").distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      assigned.repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(indexPath)
      touched
    } finally assigned.unpersist()
  }

  /** Build-once accessor for the INCREMENTALLY-BUILT index of
    * base ∪ batch: the base index is written (quantizer fit on base
    * only), then the batch is appended through [[appendCellIndex]] —
    * all inside one atomic artifact build, so the append runs exactly
    * once per dataset version and repeat queries read the finished
    * index. Keyed by both inputs' content fingerprints. */
  def appendedIndexFor(base: DataFrame, batch: DataFrame,
      datasetTag: String, nCells: Int = 16, seed: Long = 42L): String = {
    val fpBatch = graft.engine.io.Artifacts.fingerprintOf(batch)
    graft.engine.io.Artifacts.fitOnce(base, "graft_cell_index", datasetTag,
      "append", Seq(fpBatch, nCells, seed, "w1")) { tmp =>
      writeCellIndex(base, tmp, datasetTag, nCells, seed)
      appendCellIndex(base.sparkSession, tmp, batch)
    }
  }

  /** Build-once accessor for the cell-partitioned index of a dataset:
    * first call writes it under the warehouse, later calls (any
    * session: [[graft.engine.io.Artifacts.fitOnce]] finds the
    * published index) return the existing path. */
  def cellIndexFor(emb: DataFrame, datasetTag: String, nCells: Int = 16,
      seed: Long = 42L, replication: Int = 1): String =
    graft.engine.io.Artifacts.fitOnce(emb, "graft_cell_index", datasetTag,
      params = Seq(nCells, seed, s"r$replication", "w1")) { tmp =>
      writeCellIndex(emb, tmp, datasetTag, nCells, seed, replication)
    }

  /** IVF search over a cell-partitioned index written by
    * [[writeCellIndex]]. Probe cells are computed driver-side from the
    * stored quantizer (probes are few by construction), so the cell
    * predicate is a LITERAL `isin` — partition pruning, asserted in
    * PlanSpec. Scoring within the probed cells is identical to
    * [[ivfTopKWith]]; the two paths are equivalence-tested. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, probeDf: DataFrame, k: Int,
      nProbe: Int = 6): DataFrame = {
    val centroids = loadQuantizer(spark, s"$indexPath/_quantizer")
    val probeRows = probeDf.select("probe_id", "probe_emb").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val probeCells = probeRows.flatMap { case (id, v) =>
      nearestCellsOf(centroids)(v, nProbe).map(c => (id, c))
    }
    val allCells = probeCells.map(_._2).distinct.map(Int.box)
    import spark.implicits._
    val probeCellDf = probeCells.toSeq.toDF("probe_id", "cell")
      .join(probeDf.select(col("probe_id"), col("probe_emb")), Seq("probe_id"))
    val indexed = Storage.readParquet(spark, indexPath)
      .filter(col("cell").isin(allCells: _*)) // prunes partitions
    // (r14 note: spreadForCompute on the pruned-cell read was A/B'd —
    // the probed cells are small enough that the repartition exchange
    // cost more than the cosine parallelism paid; left unspread.)
    val scored = probeCosines(indexed.join(broadcast(probeCellDf), Seq("cell")))
      // a replicated index stores a vector in several cells, and even
      // an unreplicated one can pair (probe, vec) through multiple
      // probed cells — dedup before ranking so a vector never occupies
      // two top-k slots
      .dropDuplicates("probe_id", "vec_id")
    topKByCos(scored, k)
  }

  /** The batch probe relation for large-probe-set search: every 10th
    * vector (deterministic id rule, engine-independent) — at corpus
    * scale this stands in for a probe set that is itself a table, far
    * too big to broadcast. */
  def batchProbes(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))

  /** Persisted exact top-k for the BATCH probe set (the audit ground
    * truth — same fit-once artifact discipline as [[groundTruthFor]]).
    * At corpus scale the audit runs on a probe sample; here the batch
    * set is small enough to pin exactly. */
  def batchGroundTruthFor(emb: DataFrame, datasetTag: String,
      k: Int): DataFrame = {
    graft.engine.io.Artifacts.table(emb, "graft_groundtruth", datasetTag,
      "batch_cosine", Seq(k)) {
      // the batch probe set is ~10% of the corpus, so the |emb|×|probes|
      // loop is heavy enough to earn the spread (r14 A/B win) — the
      // small-probe entry point no longer spreads, so spread here
      bruteForceTopK(graft.engine.ops.Scale.spreadForCompute(emb),
        batchProbes(emb), k)
    }
  }

  /** Large-probe-set IVF — the missing quadrant of the family: the
    * probe RELATION is too big to broadcast (think "re-embed the whole
    * query log and find neighbours for every entry"), so instead of
    * crossJoin(broadcast(probes)) both sides bucket to quantizer cells
    * and meet in a SHUFFLE EQUI-JOIN on the cell key — probes
    * replicated nProbe× (multi-probe), corpus vectors once. No
    * cartesian anywhere (PlanSpec-asserted); shuffle volume is
    * |corpus| + nProbe×|probes|, independent of |probes|×|corpus|.
    *
    * Scale: with production cell counts (nCells ~ √N, not the test 16)
    * the join key has ample parallelism, and AQE's skew-join splits any
    * hot cell; the shuffle_hash hint pins the demo shape — at real
    * sizes the planner lands there on its own (neither side fits in a
    * broadcast). */
  def ivfTopKBatch(emb: DataFrame, probeDf: DataFrame, k: Int,
      datasetTag: String, nCells: Int = 16, nProbe: Int = 6,
      seed: Long = 42L): DataFrame = {
    val (bucketed, probeCells) = cellBuckets(emb, probeDf,
      quantizerFor(emb, datasetTag, nCells, seed), nProbe)
    topKByCos(probeCosines(
      bucketed.hint("shuffle_hash").join(probeCells, Seq("cell"))), k)
  }

  /** IVF search against an already-fitted quantizer (see
    * [[saveQuantizer]]/[[loadQuantizer]]). */
  def ivfTopKWith(emb: DataFrame, probeDf: DataFrame, k: Int,
      centroids: Quantizer, nProbe: Int = 6): DataFrame = {
    val (bucketed, probeCells) =
      cellBuckets(emb, probeDf, centroids, nProbe)
    topKByCos(probeCosines(bucketed.join(broadcast(probeCells), "cell")), k)
  }

  /** TWO-TIER search — the production recall/cost shape: a cheap
    * int8 first pass over the probed cells keeps a WIDENED candidate
    * set (`m` per probe, m >> k), and the exact float cosine re-scores
    * only those candidates. At 100 TB the index stores the int8
    * vectors (4× smaller, memory-bandwidth-bound scan); the float
    * originals are fetched for only m×|probes| rows — so the wide
    * first stage costs a quarter of a float scan and the exact stage
    * is negligible, while recall tracks the widened probe set instead
    * of the narrow one.
    *
    * Quantization is per-vector max-abs int8 AFTER l2-normalization,
    * so the integer dot product approximates cosine×127²; the re-rank
    * stage makes any quantization mis-ordering inside the top-m
    * irrelevant (only a true neighbour falling OUT of the top-m loses
    * recall — with m = 4k that tail is what the recall floors gate). */
  def ivfTopKRerank(emb: DataFrame, probeDf: DataFrame, k: Int,
      datasetTag: String, nCells: Int = 16, nProbe: Int = 14,
      m: Int = 20, seed: Long = 42L): DataFrame = {
    val centroids = quantizerFor(emb, datasetTag, nCells, seed)
    val cellOf = udf((a: Seq[Float]) => nearestCellsOf(centroids)(a, 1).head)
    val cellsOf = udf((a: Seq[Float]) => nearestCellsOf(centroids)(a, nProbe))
    val q8 = udf((a: Seq[Float]) => {
      val n = math.sqrt(a.foldLeft(0.0)((s, x) => s + x.toDouble * x)).toFloat
      val nn = if (n == 0f) 1f else n
      a.map(x => math.round(x / nn * 127f).toByte).toArray
    })
    val idot = udf((a: Array[Byte], b: Array[Byte]) => {
      var s = 0; var i = 0
      val len = math.min(a.length, b.length)
      while (i < len) { s += a(i) * b(i); i += 1 }
      s
    })
    // stage 1: int8 candidates — only (vec_id, cell, q8) in flight
    val corpus8 = emb.select(col("vec_id"),
      cellOf(col("embedding")).as("cell"), q8(col("embedding")).as("v8"))
    val probes8 = probeDf.select(col("probe_id"),
      explode(cellsOf(col("probe_emb"))).as("cell"),
      q8(col("probe_emb")).as("p8"))
    val wApprox = Window.partitionBy("probe_id")
      .orderBy(desc("approx"), asc("vec_id"))
    val cand = corpus8.join(broadcast(probes8), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        idot(col("v8"), col("p8")).as("approx"))
      .withColumn("arn", row_number().over(wApprox))
      .filter(col("arn") <= m)
      .select("probe_id", "vec_id")
    // stage 2: exact re-score of m×|probes| rows only
    val rescored = cand
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(probeDf.select(col("probe_id"), col("probe_emb"))),
        Seq("probe_id"))
    topKByCos(probeCosines(rescored), k)
  }

  /** LSM compaction for the cell-partitioned index, THRESHOLD-DRIVEN:
    * only cells whose segment-file count exceeds `segmentThreshold`
    * (append-heavy cells) are read and rewritten to one file; every
    * other cell's files are copied BYTE-IDENTICAL into the staged
    * target (SimilaritySpec pins both the identity and that search
    * over the compacted index is exactly unchanged). This is the
    * 100 TB contract: compaction cost scales with the appended-into
    * cells, not the index — an index with 10k cells and 3 hot ones
    * reads 3 cells. The rewrite read pins `basePath` so the cell
    * partition column survives, repartitions on cell (each hot cell's
    * rows land in one task → one file), and appends next to the
    * copied cold cells; the stored quantizer travels with the index.
    * Returns (filesBefore, filesAfter) summed over cell dirs. */
  def compactCellIndex(spark: SparkSession, indexPath: String,
      targetPath: String, segmentThreshold: Int = 1): (Long, Long) = {
    val cells = cellSegments(spark, indexPath)
    val (hot, cold) = cells.partition(_._2 > segmentThreshold)
    // Re-entrancy contract: the target must be absent/empty. Without
    // this, a second invocation appends hot-cell rewrites next to the
    // previous compaction's files (duplicating rows), and an
    // interrupted Artifacts.fitOnce rename could nest a tmp dir inside
    // a half-built index.
    require(Storage.listFolder(spark, targetPath).isEmpty,
      s"compactCellIndex target must be empty: $targetPath")
    cold.foreach { case (dir, _) =>
      Storage.copyFolder(spark, dir,
        s"$targetPath/${dir.substring(dir.lastIndexOf('/') + 1)}")
    }
    if (hot.nonEmpty) {
      spark.read.option("basePath", indexPath)
        .parquet(hot.map(_._1): _*)
        .repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(targetPath)
    }
    // the quantizer travels with the index artifact
    Storage.copyFolder(spark, s"$indexPath/_quantizer",
      s"$targetPath/_quantizer")
    def total(cs: Seq[(String, Int)]) = cs.map(_._2.toLong).sum
    (total(cells), total(cellSegments(spark, targetPath)))
  }

  /** The layout of the cell index at `indexPath`: each `cell=`
    * directory holding `.parquet` segments, with its segment count,
    * sorted by path. */
  private[graft] def cellSegments(spark: SparkSession,
      indexPath: String): Seq[(String, Int)] =
    Storage.listFiles(spark, indexPath).filter(_.endsWith(".parquet"))
      .map(f => f.substring(0, f.lastIndexOf('/')))
      .filter(d => d.substring(d.lastIndexOf('/') + 1).startsWith("cell="))
      .groupBy(identity).map { case (d, fs) => (d, fs.size) }
      .toSeq.sortBy(_._1)

  /** Exact top-k EUCLIDEAN neighbours per probe — the ground truth for
    * auditing distance-ranked ANN (LSH); [[bruteForceTopK]] is the
    * cosine counterpart. Probe side broadcast, one pass over the
    * table. */
  def bruteForceTopKEuclid(emb: DataFrame, probeDf: DataFrame,
      k: Int): DataFrame = {
    // NO spreadForCompute here (r15): see bruteForceTopK — this entry
    // point only ever serves the tiny label-stratified probe set, where
    // the repartition exchange costs more than the parallelism pays.
    val scored = emb
      .crossJoin(broadcast(probeDf))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        expr("""sqrt(aggregate(zip_with(probe_emb, embedding,
                  (x, y) -> (cast(x AS double) - cast(y AS double)) *
                            (cast(x AS double) - cast(y AS double))),
                0.0D, (a, v) -> a + v))""").as("dist"))
    val w = Window.partitionBy("probe_id")
      .orderBy(asc("dist"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("rn"), col("vec_id"), col("dist"))
  }

  /** Persisted exact-top-k ground truth for the standard probe set —
    * the fit-once artifact every ANN recall audit compares against
    * (the ANN-benchmark pattern: ground truth is labeled ONCE at
    * ingest, not re-scanned per evaluation — at corpus scale the
    * brute-force pass is the single most expensive part of an audit
    * and it never changes until the data does). Keyed by content
    * fingerprint like the quantizer; metric ∈ {cosine, euclid}. */
  def groundTruthFor(emb: DataFrame, datasetTag: String, k: Int,
      metric: String = "cosine"): DataFrame = {
    graft.engine.io.Artifacts.table(emb, "graft_groundtruth", datasetTag,
      metric, Seq(k)) {
      val p = probes(emb)
      if (metric == "euclid") bruteForceTopKEuclid(emb, p, k)
      else bruteForceTopK(emb, p, k)
    }
  }

  /** Per-probe recall audit of an ANN result against the exact top-k
    * under the same metric: `(probe_id, n_ann, probe_ok, mean_ok)`
    * with recall = |ann ∩ exact| / k, `probe_ok` a per-probe floor and
    * `mean_ok` a fleet-wide mean bound (the p0/mean SLO pair an index-
    * quality monitor tracks). This is the DECLARED relation of the
    * sim_ann_* queries — the ANN ranking itself is engine-specific
    * (depends on the seeded quantizer/hyperplanes), but the audit is
    * deterministic and its exact side is what an oracle can pin. At
    * corpus scale the same audit runs on a probe SAMPLE as the
    * index-quality monitor. Both inputs expose (probe_id, vec_id). */
  def recallAudit(ann: DataFrame, exact: DataFrame, k: Int,
      minRecall: Double, minMeanRecall: Double): DataFrame = {
    val a = ann.select(col("probe_id"), col("vec_id"))
    val e = exact.select(col("probe_id"), col("vec_id"))
    val hits = a.join(e, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("hits"))
    val wAll = Window.partitionBy()
    a.groupBy("probe_id").agg(count(lit(1)).as("n_ann"))
      .join(hits, Seq("probe_id"), "left")
      .withColumn("recall", coalesce(col("hits"), lit(0L)).cast("double") / k)
      .select(col("probe_id"), col("n_ann"),
        (col("recall") >= minRecall).as("probe_ok"),
        (avg(col("recall")).over(wAll) >= minMeanRecall).as("mean_ok"))
  }

  /** Within-label kNN graph: every vector's top-k cosine neighbours —
    * the neighbour-graph builder behind SemDeDup-style clustering and
    * graph-based corpus curation. Same two-regime hybrid as
    * [[embeddingNearDup]]: labels under `smallLabelMax` score all
    * within-label pairs exactly (both directions — neighbour lists are
    * asymmetric); larger labels take IVF-cell candidates from the
    * fit-once quantizer. Top-k per vector is a rank window over the
    * candidate scores, partitioned by vec_id. */
  def knnGraph(emb: DataFrame, k: Int, nCells: Int = 16, nProbe: Int = 3,
      seed: Long = 42L, smallLabelMax: Int = 4096,
      datasetTag: Option[String] = None): DataFrame = {
    GraftFunctions.ensureRegistered(emb.sparkSession)
    val cand = labelCandidates(emb, nCells, nProbe, seed, smallLabelMax,
        datasetTag)
      .select(col("vec_a").as("vec_id"), col("vec_b").as("nbr_id"))
      .distinct()
    val scored = cand
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(emb.select(col("vec_id").as("nbr_id"),
        col("embedding").as("nbr_emb")), Seq("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        expr("graft_cosine(embedding, nbr_emb)").as("cos"))
    val w = Window.partitionBy("vec_id").orderBy(desc("cos"), asc("nbr_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("rn"), col("nbr_id"),
        round(col("cos"), 6).as("score"))
  }

  /** Per-label norm statistics over the embedding column. */
  def normStats(emb: DataFrame): DataFrame =
    emb.select(col("label"), size(col("embedding")).as("dim"),
      l2Norm(col("embedding")).as("norm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        min(col("dim")).as("dim"),
        round(avg(col("norm")), 4).as("avg_norm"),
        round(min(col("norm")), 4).as("min_norm"),
        round(max(col("norm")), 4).as("max_norm"))
}
