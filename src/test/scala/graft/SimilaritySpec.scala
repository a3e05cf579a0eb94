package graft

import graft.engine.ml.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Similarity-search behavior (SURVEY §2.10): exact baseline invariants
  * and ANN recall against the brute-force ground truth. */
class SimilaritySpec extends AnyFunSuite with SparkFixture {

  private lazy val emb = Tables.embeddings(spark, sf).cache()

  test("cosine of a vector with itself is 1") {
    val selfCos = emb.select(
      Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .agg(min("c"), max("c")).head()
    assert(math.abs(selfCos.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(selfCos.getDouble(1) - 1.0) < 1e-9)
  }

  test("brute-force top-k: k rows per probe, descending scores, no self") {
    val probes = Similarity.probes(emb)
    val topk = Similarity.bruteForceTopK(emb, probes, 5).cache()
    val perProbe = topk.groupBy("probe_id").count().collect()
    assert(perProbe.forall(_.getLong(1) === 5))
    assert(perProbe.length === probes.count())
    // scores descend with rank within each probe
    val rows = topk.orderBy("probe_id", "rn").collect()
    rows.grouped(5).foreach { g =>
      val scores = g.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    assert(topk.filter(col("probe_id") === col("vec_id")).count() === 0)
  }

  test("persisted ground truth equals the live brute-force top-k (both metrics)") {
    val probes = Similarity.probes(emb)
    Seq("cosine" -> Similarity.bruteForceTopK(emb, probes, 5),
        "euclid" -> Similarity.bruteForceTopKEuclid(emb, probes, 5))
      .foreach { case (metric, live) =>
        val stored = Similarity.groundTruthFor(emb, s"spec_gt_$metric", 5,
          metric)
        assert(stored.collect().map(_.toSeq).toSet ===
          live.collect().map(_.toSeq).toSet, metric)
      }
  }

  test("ANN recall ≥ 0.8 of exact euclidean top-5") {
    import org.apache.spark.sql.expressions.Window
    val probes = Similarity.probes(emb)
    // exact euclidean ground truth (same metric as the LSH family)
    val d2 = (Similarity.dot(col("probe_emb"), col("probe_emb"))
      + Similarity.dot(col("embedding"), col("embedding"))
      - lit(2.0) * Similarity.dot(col("probe_emb"), col("embedding")))
    val w = Window.partitionBy("probe_id").orderBy(asc("d2"), asc("vec_id"))
    val exact = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), d2.as("d2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annTopK(emb, probes, 5)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.8, s"ANN recall $recall vs exact euclidean top-5")
  }

  test("IVF ANN: recall ≥ 0.7 of exact cosine top-5, probing 6/16 cells") {
    val probes = Similarity.probes(emb)
    val exact = Similarity.bruteForceTopK(emb, probes, 5)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, probes, 5)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.7, s"IVF recall $recall (probing 6 of 16 cells)")
    // every probe still returns a full top-k
    assert(ivf.size === exact.size)
  }

  test("ANN is deterministic under the fixed seed") {
    val probes = Similarity.probes(emb)
    val r1 = Similarity.annTopK(emb, probes, 5).collect().toSeq
    val r2 = Similarity.annTopK(emb, probes, 5).collect().toSeq
    assert(r1 === r2)
  }

  test("a tagged ANN call fits its own model for a new vector dimension") {
    val spark2 = spark
    import spark2.implicits._
    val tag = s"spec_ann_dim_${System.nanoTime()}"
    Seq(4, 8).foreach { dim =>
      val rnd = new scala.util.Random(dim)
      val vecs = (0L until 24L)
        .map(i => (i, Seq.fill(dim)(rnd.nextFloat())))
        .toDF("vec_id", "embedding")
      val probes = vecs.filter(col("vec_id") < 3).select(
        col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
      val tagged = Similarity.annTopK(vecs, probes, 3, datasetTag = Some(tag))
      val fresh = Similarity.annTopK(vecs, probes, 3)
      assert(tagged.collect().toSeq === fresh.collect().toSeq, s"dim $dim")
    }
  }

  test("norm stats: 64 dims, all labels present, norms positive") {
    val stats = Similarity.normStats(emb).collect()
    assert(stats.length === emb.select("label").distinct().count())
    stats.foreach { r =>
      assert(r.getInt(2) === 64)
      assert(r.getDouble(3) > 0)
      assert(r.getDouble(4) <= r.getDouble(5)) // min ≤ max
    }
  }

  test("embedding near-dup: pairs ordered, scores within [threshold, 1]") {
    val dups = Similarity.embeddingNearDup(emb, 0.8).collect()
    dups.foreach { r =>
      assert(r.getLong(1) < r.getLong(2))
      assert(r.getDouble(3) >= 0.8 && r.getDouble(3) <= 1.0 + 1e-9)
    }
  }

  test("quantizer roundtrip: saved centroids reproduce the fit exactly") {
    val path = s"${sys.props("java.io.tmpdir")}/graft_test/quant_${System.nanoTime()}"
    val fitted = Similarity.fitCentroids(emb, 16, 42L)
    Similarity.saveQuantizer(spark, fitted, path)
    val loaded = Similarity.loadQuantizer(spark, path)
    assert(loaded.cells.length === fitted.cells.length)
    fitted.cells.zip(loaded.cells).foreach { case (a, b) =>
      assert(a.toSeq === b.toSeq) }
    assert(loaded.whiten.length === fitted.whiten.length)
    fitted.whiten.zip(loaded.whiten).foreach { case (a, b) =>
      assert(a.toSeq === b.toSeq) }
    // query path with stored centroids ≡ fit-on-the-fly path
    val probes = Similarity.probes(emb)
    val viaStore = Similarity.ivfTopKWith(emb, probes, 5, loaded)
      .collect().map(_.toSeq).toSet
    val viaFit = Similarity.ivfTopK(emb, probes, 5)
      .collect().map(_.toSeq).toSet
    assert(viaStore === viaFit)
  }

  test("bucketed near-dup finds every planted duplicate (IVF candidates)") {
    // identical vectors land in identical quantizer cells, so the
    // cell-bucketed candidate generation must recover all planted pairs.
    // smallLabelMax = 0 forces every label through the IVF-cell regime
    // (the default hybrid would answer this corpus exactly).
    val base = emb.limit(20)
    val planted = base.select("vec_id").collect().map(_.getLong(0))
      .map(id => (id, id + 100000L)).toSet
    val withCopies = base.unionByName(
      base.withColumn("vec_id", col("vec_id") + 100000L))
    val found = Similarity.embeddingNearDup(withCopies, 0.99,
        smallLabelMax = 0)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.subsetOf(found),
      s"missed planted dups: ${planted.diff(found)}")
  }

  test("hybrid near-dup: small labels are answered exactly (all pairs)") {
    // with every label under the cap the candidate set is all pairs per
    // label, so results must equal the brute-force within-label compute
    val exact = emb.as("a").join(emb.as("b"),
        col("a.label") === col("b.label") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label"), col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= 0.4)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hybrid = Similarity.embeddingNearDup(emb, 0.4)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 0.4 is the corpus knee: the comparison must be over a REAL pair
    // set, not two empty sets (the r12 vacuous-oracle lesson).
    assert(exact.nonEmpty, "knee threshold produced no pairs — fixture drifted")
    assert(hybrid === exact)
  }

  test("rank-based near pairs: top-k per label, descending, non-empty") {
    val k = 3
    val top = Similarity.embeddingNearPairsTopK(emb, k).collect()
    assert(top.nonEmpty)
    val byLabel = top.groupBy(_.get(0))
    assert(byLabel.keySet === emb.select("label").distinct().collect()
      .map(_.get(0)).toSet)
    byLabel.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq === (1 to sorted.length))
      assert(sorted.length <= k)
      // scores non-increasing down the ranks
      val scores = sorted.map(_.getDouble(4)).toSeq
      assert(scores === scores.sorted.reverse)
      sorted.foreach(r => assert(r.getLong(2) < r.getLong(3)))
    }
  }

  test("quantizer project fails fast on a dim-mismatched query") {
    val q = Similarity.Quantizer(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(Array(1.0, 0.0)))
    intercept[IllegalArgumentException] {
      q.project(Seq(1.0f, 2.0f, 3.0f))
    }
    assert(q.project(Seq(3.0f, 4.0f)).length === 2)
  }

  test("knn graph: k neighbours per vector, no self, within label") {
    val k = 3
    val g = Similarity.knnGraph(emb, k).cache()
    val perVec = g.groupBy("vec_id").count().collect()
    assert(perVec.forall(_.getLong(1) === k))
    assert(perVec.length === emb.count())
    assert(g.filter(col("vec_id") === col("nbr_id")).count() === 0)
    // every edge stays inside its label group
    val labels = emb.select(col("vec_id"), col("label"))
    assert(g.join(labels, Seq("vec_id"))
      .join(labels.select(col("vec_id").as("nbr_id"),
        col("label").as("nbr_label")), Seq("nbr_id"))
      .filter(col("label") =!= col("nbr_label")).count() === 0)
    // forced-IVF regime keeps high recall of the exact graph
    val exact = g.select("vec_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.knnGraph(emb, k, smallLabelMax = 0)
      .select("vec_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.6, s"forced-IVF knn recall $recall")
    g.unpersist()
  }

  test("quantizerFor: fit-once cache and persisted centroids agree") {
    val tag = s"qtest_${System.nanoTime()}"
    val first = Similarity.quantizerFor(emb, tag, 8, 7L)
    // second call must hit the in-memory cache — same arrays, no refit
    val second = Similarity.quantizerFor(emb, tag, 8, 7L)
    assert(first eq second)
    // and the persisted copy under the warehouse reloads identically
    val fp = graft.engine.io.Artifacts.fingerprintOf(emb)
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val path = s"$warehouse/graft_quantizers/${tag}_${fp}_8_7_w1"
    val loaded = Similarity.loadQuantizer(spark, path)
    assert(loaded.cells.length === first.cells.length)
    first.cells.zip(loaded.cells).foreach { case (a, b) =>
      assert(a.toSeq === b.toSeq) }
    first.whiten.zip(loaded.whiten).foreach { case (a, b) =>
      assert(a.toSeq === b.toSeq) }
  }

  test("loadQuantizer decodes stored files once; a rewrite decodes again") {
    val path = s"${sys.props("java.io.tmpdir")}/graft_test/qload_${System.nanoTime()}"
    Similarity.saveQuantizer(spark, Similarity.fitCentroids(emb, 8, 3L), path)
    val (first, _) = jobsOf(Similarity.loadQuantizer(spark, path))
    assert(first.cells.length === 8)
    val (again, jobs) = jobsOf(Similarity.loadQuantizer(spark, path))
    assert(jobs === 0, s"a second load of one path launched $jobs jobs")
    assert(again eq first)
    // a refit with another cell count, saved at the same path
    Similarity.saveQuantizer(spark, Similarity.fitCentroids(emb, 4, 3L), path)
    assert(Similarity.loadQuantizer(spark, path).cells.length === 4)
  }

  test("cell-partitioned IVF index ≡ the scan-and-filter IVF path") {
    val tag = s"idxtest_${System.nanoTime()}"
    val probes = Similarity.probes(emb)
    val idx = Similarity.cellIndexFor(emb, tag)
    val indexed = Similarity.ivfTopKIndexed(spark, idx, probes, 5)
      .collect().map(_.toSeq).toSet
    val scanned = Similarity.ivfTopKCached(emb, probes, 5, tag)
      .collect().map(_.toSeq).toSet
    assert(indexed === scanned)
    // the pruned read touches only the probed cells
    val pruned = spark.read.parquet(idx)
      .filter(col("cell").isin(0, 1))
      .queryExecution.executedPlan.toString()
    assert(pruned.contains("PartitionFilters"), pruned)
  }

  test("an indexed search loads its quantizer without a hidden-path warning") {
    val idx = Similarity.cellIndexFor(emb, s"quiet_${System.nanoTime()}")
    val ignored = hiddenPathWarnings(
      Similarity.ivfTopKIndexed(spark, idx, Similarity.probes(emb), 5)
        .collect())
    assert(ignored.isEmpty, ignored.mkString("\n"))
  }

  test("write-time multi-probe replication trades storage for probes") {
    val tag = s"repltest_${System.nanoTime()}"
    val probes = Similarity.probes(emb)
    // full replication: every cell holds every vector, so probing ONE
    // cell must reproduce brute force exactly — the strongest check of
    // the explode/dedup/pruning plumbing
    val nCells = 4
    val full = Similarity.cellIndexFor(emb, tag, nCells = nCells,
      replication = nCells)
    val oneProbe = Similarity.ivfTopKIndexed(spark, full, probes, 5,
      nProbe = 1).collect().map(_.toSeq).toSet
    val brute = Similarity.bruteForceTopK(emb, probes, 5)
      .collect().map(_.toSeq).toSet
    assert(oneProbe === brute)
    // storage really is replicated: row count = replication × corpus
    assert(spark.read.parquet(full).count() === nCells * emb.count())
    // compaction target: one file per cell directory (the warehouse
    // path may carry a file: scheme — resolve to a local path first)
    val localDir = new java.io.File(full.stripPrefix("file:"))
    val files = localDir.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty && files.forall(_ === 1),
      s"expected one compacted file per cell, got ${files.toSeq}")
  }

  test("incremental append: touched cells only, contents ≡ union, search ≡ scan path") {
    // a SMALL batch (2% of ids) so some cells stay untouched and the
    // touched-cells-only property is observable at the file level
    val base = emb.filter(col("vec_id") % 50 =!= 0)
    val batch = emb.filter(col("vec_id") % 50 === 0)
    val tag = s"appendtest_${System.nanoTime()}"
    // a plain mutable index (not the build-once artifact) so the append
    // is observable at the file level
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_append")
      .toString
    Similarity.writeCellIndex(base, dir, tag)
    def snapshot(): Map[String, Set[(String, Long, Long)]] =
      new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(cd => cd.getName ->
          cd.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length(), f.lastModified())).toSet)
        .toMap
    val before = snapshot()
    val touched = Similarity.appendCellIndex(spark, dir, batch)
    val after = snapshot()
    val touchedNames = touched.map(c => s"cell=$c").toSet
    assert(touched.nonEmpty && touchedNames.size < before.size,
      s"batch should land in a strict subset of cells: $touched")
    // untouched cell directories byte-identical (names, sizes, mtimes)
    before.keySet.diff(touchedNames).foreach { c =>
      assert(after(c) === before(c), s"untouched $c was rewritten")
    }
    // touched directories kept every pre-existing file and gained new
    // segment files — append, never rewrite
    touchedNames.foreach { c =>
      val b = before.getOrElse(c, Set.empty[(String, Long, Long)])
      assert(b.subsetOf(after(c)), s"$c lost a pre-existing file")
      assert(after(c).size > b.size, s"$c gained no segment file")
    }
    // contents: (cell, vec_id) equals an INDEPENDENT nearest-cell
    // assignment of base ∪ batch under the stored (base-fit) quantizer
    val centroids = Similarity.loadQuantizer(spark, s"$dir/_quantizer")
    // independent recomputation of the SPHERICAL assignment:
    // L2-normalize, whiten with the STORED rows, nearest centroid in
    // that space — the same function project() claims to compute
    def cellOf(v: Seq[Float]): Int = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      val unit = v.map(x => if (n > 0) x / n else x.toDouble)
      val p = centroids.whiten.map(row =>
        row.zip(unit).map { case (a, b) => a * b }.sum)
      centroids.cells.zipWithIndex.map { case (c, i) =>
        (i, c.zip(p).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.minBy(_._2)._1
    }
    val expected = emb.select("vec_id", "embedding").collect()
      .map(r => (cellOf(r.getSeq[Float](1)), r.getLong(0))).toSet
    val got = spark.read.parquet(dir).select("cell", "vec_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got === expected)
    // search over the appended index == the scan-and-filter IVF path
    // over the union with the same frozen quantizer
    val probes = Similarity.probes(emb)
    val viaIndex = Similarity.ivfTopKIndexed(spark, dir, probes, 5)
      .collect().map(_.toSeq).toSet
    val viaScan = Similarity.ivfTopKWith(emb, probes, 5, centroids)
      .collect().map(_.toSeq).toSet
    assert(viaIndex === viaScan)
  }

  test("fitCentroids is invariant to physical partitioning") {
    val a = Similarity.fitCentroids(emb, 8, 42L)
    val b = Similarity.fitCentroids(emb.repartition(13), 8, 42L)
    a.cells.zip(b.cells).foreach { case (x, y) =>
      assert(x.toSeq === y.toSeq) }
    a.whiten.zip(b.whiten).foreach { case (x, y) =>
      assert(x.toSeq === y.toSeq) }
  }

  test("index compaction: one file per cell, untouched cells " +
      "byte-identical, search results identical") {
    // a SMALL batch (2% of ids) so some cells accumulate no second
    // segment — those must survive compaction byte-identical
    val base = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 50 =!= 0)
    val batch = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 50 === 0)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_idx_compact").toString
    Similarity.writeCellIndex(base, idx, s"compacttest_${System.nanoTime()}")
    Similarity.appendCellIndex(spark, idx, batch)
    val out = s"${sys.props("java.io.tmpdir")}/graft_sim_spec/compacted"
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    def cellFiles(p: String) = fs
      .listStatus(new org.apache.hadoop.fs.Path(p))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(c => c.getPath.getName -> fs.listStatus(c.getPath)
        .filter(f => f.getPath.getName.endsWith(".parquet"))
        .map(_.getPath).sortBy(_.getName)).toMap
    val idxCells = cellFiles(idx)
    val coldCells = idxCells.filter(_._2.length == 1).keys.toSeq
    assert(coldCells.nonEmpty,
      "need at least one single-segment cell to pin the untouched path")
    val (before, after) = Similarity.compactCellIndex(spark, idx, out)
    // the append left >1 segment file in touched cells; compaction
    // must shrink the file count while every cell lands on one file
    assert(before > after, s"no compaction: $before -> $after")
    val cells = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
    assert(cells.nonEmpty)
    cells.foreach { c =>
      assert(fs.listStatus(c.getPath)
        .count(f => f.getPath.getName.endsWith(".parquet")) == 1, c.getPath)
    }
    // threshold contract: a cell compaction had no reason to touch is
    // COPIED byte-for-byte — same file name, same bytes
    def bytesOf(p: org.apache.hadoop.fs.Path): Array[Byte] = {
      val in = fs.open(p)
      try {
        val len = fs.getFileStatus(p).getLen.toInt
        val buf = new Array[Byte](len)
        in.readFully(0, buf)
        buf
      } finally in.close()
    }
    val outCells = cellFiles(out)
    coldCells.foreach { cell =>
      val (src, dst) = (idxCells(cell).head, outCells(cell).head)
      assert(src.getName === dst.getName, s"$cell renamed by compaction")
      assert(java.util.Arrays.equals(bytesOf(src), bytesOf(dst)),
        s"$cell rewritten despite being under the segment threshold")
    }
    // rows preserved and search EXACTLY unchanged (same quantizer,
    // same contents — compaction may only re-bin bytes)
    assert(spark.read.parquet(out).count() == emb.count())
    val probes = Similarity.probes(emb)
    def res(p: String) = Similarity.ivfTopKIndexed(spark, p, probes, 5)
      .collect().map(_.toSeq).toSet
    assert(res(out) === res(idx))
  }

  test("re-rank tier: int8-then-exact equals exact scan recall tier") {
    // stage-1 widening + exact re-score must carry the true top-k
    // through: with m large enough to cover the probed cells entirely,
    // the re-ranked result equals the plain IVF result at the same
    // nProbe (the int8 stage only shrinks the candidate set)
    val probes = Similarity.probes(emb)
    val rerank = Similarity.ivfTopKRerank(emb, probes, 3, sf,
        nProbe = 16, m = 100000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = Similarity.ivfTopKCached(emb, probes, 3, sf, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rerank === exact)
  }

  test("batch IVF probing every cell equals brute force exactly") {
    // with nProbe = nCells the candidate set is the whole corpus, so
    // the shuffle-equi-join path must reproduce brute force bit-for-bit
    val probes = Similarity.batchProbes(emb)
    val batch = Similarity.ivfTopKBatch(emb, probes, 3, sf,
        nCells = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    val brute = Similarity.bruteForceTopK(emb, probes, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(batch === brute)
  }
}
