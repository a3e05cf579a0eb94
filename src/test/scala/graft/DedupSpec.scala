package graft

import graft.engine.ml.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Near-dup behavior on planted duplicates (SURVEY §2.10, §5.2): the
  * hash-seeded ops have no SQL oracle, so recall/precision on a corpus
  * with KNOWN duplicates is the correctness check. */
class DedupSpec extends AnyFunSuite with SparkFixture {

  /** documents ∪ near-copies of the first `n` docs (doc_id + 100000,
    * one word changed → Jaccard ≈ 0.9+) ∪ exact copies (doc_id + 200000). */
  private def planted(n: Int): (DataFrame, Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val docs = Tables.documents(spark, sf)
    val base = docs.limit(n).cache()
    val nearCopies = base
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text",
        concat(substring(col("text"), 1, 40), lit("zq "),
          expr("substring(text, 44)")))
    val exactCopies = base.withColumn("doc_id", col("doc_id") + 200000L)
    val ids = base.select("doc_id").collect().map(_.getLong(0)).toSeq
    (docs.unionByName(nearCopies).unionByName(exactCopies),
      ids.map(i => (i, i + 100000L)), ids.map(i => (i, i + 200000L)))
  }

  test("exact dedup keeps exactly one doc per digest, the lowest id") {
    val (corpus, _, exactPairs) = planted(20)
    val kept = Dedup.exact(corpus)
    // every exact copy's digest collapses onto the original id
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    exactPairs.foreach { case (orig, copy) =>
      assert(keptIds.contains(orig) && !keptIds.contains(copy),
        s"expected $orig kept and $copy dropped")
    }
    // digests unique in the output
    assert(kept.select("digest").distinct().count() === kept.count())
    // idempotent: output ⊆ input, re-dedup is a no-op
    assert(kept.count() ===
      corpus.select(md5(col("text"))).distinct().count())
  }

  test("MinHash-LSH finds planted near+exact dups with high recall") {
    val (corpus, nearPairs, exactPairs) = planted(20)
    val found = Dedup.nearMinHash(corpus, 0.7)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wanted = (nearPairs ++ exactPairs).toSet
    val recall = wanted.count(found.contains).toDouble / wanted.size
    assert(recall >= 0.8, s"recall $recall over ${wanted.size} planted pairs")
  }

  test("jaccard verification gives exact values (precision filter)") {
    val (corpus, nearPairs, _) = planted(10)
    val state = Dedup.signatures(corpus)
    val cand = spark.createDataFrame(
      nearPairs.map { case (a, b) => (a, b) })
      .toDF("doc_a", "doc_b")
    val verified = Dedup.jaccardVerify(cand, state, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    nearPairs.foreach { case p @ (a, b) =>
      val j = verified.getOrElse(p, 0.0)
      assert(j > 0.6 && j < 1.0, s"pair $p jaccard $j not in (0.6, 1)")
    }
  }

  test("SimHash is deterministic and collapses exact copies to 0 hamming") {
    val (corpus, _, exactPairs) = planted(10)
    val h1 = Dedup.simHash(corpus).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h2 = Dedup.simHash(corpus).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 === h2)
    exactPairs.foreach { case (a, b) =>
      assert(h1(a) === h1(b), s"exact copies $a/$b differ in simhash")
    }
    val found = Dedup.nearSimHash(corpus, 3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactRecall =
      exactPairs.count(found.contains).toDouble / exactPairs.size
    assert(exactRecall >= 0.9, s"simhash exact-dup recall $exactRecall")
  }

  test("ngram jaccard pairs are symmetric-free, thresholded, exact") {
    val (corpus, nearPairs, _) = planted(10)
    val pairs = Dedup.ngramJaccardPairs(corpus, 0.5)
    val asMap = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    asMap.keys.foreach { case (a, b) => assert(a < b) }
    // planted near-copies share all but ~3 bigrams → J well above 0.5
    val hit = nearPairs.count(asMap.contains)
    assert(hit >= (nearPairs.size * 0.9).toInt,
      s"only $hit of ${nearPairs.size} planted near pairs found")
    asMap.values.foreach(j => assert(j >= 0.5 && j <= 1.0))
  }

  test("hot-bucket cap bounds a degenerate corpus and counts the drops") {
    // 1200 near-identical one-sentence docs: every band hash and every
    // prefix token lands in one giant bucket — uncapped this is a
    // ~1.4M-pair candidate flood (the 100 TB quadratic trapdoor)
    val spark2 = spark
    import spark2.implicits._
    val degenerate = (0 until 1200)
      .map(i => (i.toLong, "all work and no play makes a dull engine " +
        "the same sentence every time", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val acc = Dedup.droppedBuckets(spark)
    acc.reset()
    val sigs = Dedup.signatures(degenerate)
    val nBand = Dedup.lshCandidates(sigs, maxBucket = 50).count()
    assert(nBand === 0L, s"capped band join still emitted $nBand pairs")
    assert(acc.value > 0, "no dropped-bucket count recorded for bands")
    acc.reset()
    val nPref = Dedup.ngramJaccardPairs(degenerate, 0.8, maxBucket = 50)
      .count()
    assert(nPref === 0L, s"capped prefix join still emitted $nPref pairs")
    assert(acc.value > 0, "no dropped-bucket count recorded for prefixes")
    Dedup.unpersistTracked()
  }

  test("another thread's unpersistTracked leaves this thread's caches") {
    val cached = Dedup.cacheTracked(
      spark.range(11).selectExpr("id * 13 + 5 AS tracked_by_this_thread"))
    try {
      val other = new Thread(() => Dedup.unpersistTracked())
      other.start()
      other.join(60000)
      assert(!other.isAlive)
      assert(cached.storageLevel != StorageLevel.NONE,
        "another thread's sweep freed this thread's tracked cache")
    } finally Dedup.unpersistTracked()
    assert(cached.storageLevel === StorageLevel.NONE)
  }

  test("a cold keepListFor build leaves the caller's tracked caches") {
    val cached = Dedup.cacheTracked(
      spark.range(7).selectExpr("id * 17 + 3 AS tracked_before_the_build"))
    try {
      val docs = Tables.documents(spark, sf)
      val tag = s"keeplist_scope_${System.nanoTime()}" // a fresh key: cold
      assert(Dedup.keepListFor(docs, tag, 0.8).count() === docs.count())
      assert(cached.storageLevel != StorageLevel.NONE,
        "the keep-list build freed a cache it did not make")
    } finally Dedup.unpersistTracked()
  }

  test("resolvePairs: components collapse transitively to min doc_id") {
    val spark2 = spark
    import spark2.implicits._
    // chain 1-2, 2-3 plus island 5-6; docs 4 and 7 are pairless
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val docs = (1L to 7L).toDF("doc_id")
    val resolved = Dedup.resolvePairs(pairs, docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolved === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // the distributed propagation regime reaches the same fixpoint
    val distributed = Dedup.resolvePairs(pairs, docs,
        collectThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed === resolved)
    Dedup.unpersistTracked()
  }

  test("resolvePairs with no pairs keeps every document") {
    val spark2 = spark
    import spark2.implicits._
    val docs = (1L to 5L).toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val resolved = Dedup.resolvePairs(noPairs, docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolved === (1L to 5L).map(i => i -> i).toMap)
    Dedup.unpersistTracked()
  }

  test("resolvePairs keep-list drops exactly the planted copies") {
    val (corpus, nearPairs, exactPairs) = planted(15)
    val pairs = Dedup.ngramJaccardPairs(corpus, 0.5)
      .select("doc_a", "doc_b")
    val resolved = Dedup.resolvePairs(pairs, corpus.select("doc_id"))
    val dropped = resolved.filter(col("doc_id") =!= col("keep_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // every planted copy (near at +100000, exact at +200000) resolves
    // onto its original and is dropped; no original is dropped
    val copies = (nearPairs ++ exactPairs).map(_._2).toSet
    val originals = nearPairs.map(_._1).toSet
    assert(copies.subsetOf(dropped),
      s"planted copies not dropped: ${copies.diff(dropped)}")
    assert(originals.intersect(dropped).isEmpty,
      s"originals wrongly dropped: ${originals.intersect(dropped)}")
    // row contract: one row per doc, keep_id ≤ doc_id
    assert(resolved.count() === corpus.count())
    assert(resolved.filter(col("keep_id") > col("doc_id")).count() === 0)
    Dedup.unpersistTracked()
  }

  test("stored-signature near-dup equals the fresh-signature path") {
    val docs = Tables.documents(spark, sf)
    val fresh = Dedup.nearMinHash(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.unpersistTracked()
    val stored = Dedup.nearMinHash(docs, 0.8,
        datasetTag = Some("spec_store"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.unpersistTracked()
    assert(stored === fresh)
  }

  test("incremental screen equals the full re-pair restricted to batch") {
    // the exactness contract: incrementalNearDups(existing, batch) must
    // find exactly the full pair set's pairs that touch the batch
    val docs = Tables.documents(spark, sf)
    val full = Dedup.ngramJaccardPairs(docs, 0.05)
      .filter(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.unpersistTracked()
    val inc = Dedup.incrementalNearDups(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0), 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.unpersistTracked()
    assert(inc === full,
      s"missing=${full.diff(inc)} extra=${inc.diff(full)}")
  }
}
