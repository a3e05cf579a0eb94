package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 pins for the cluster-quality indices (the last two
  * formula-bearing vec_ keys without a recomputation test): Davies–
  * Bouldin and simplified silhouette, rebuilt from raw sf0.001
  * embeddings in plain Scala, mirroring the queries' exact
  * quantization points (per-dim DECIMAL(20,10) centroid sums,
  * DECIMAL(24,12) squared terms, sequential distance folds). The
  * greedy MMR selection of sim_search_mmr is rebuilt the same way,
  * with its own cosine loop.
  */
class PinsVecSpec extends AnyFunSuite with SparkFixture {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def r(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  private def bd(x: Double, s: Int): BigDecimal =
    BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP)

  private lazy val vecs: Array[(Long, String, Array[Double])] =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect().map(rr => (rr.getLong(0), rr.get(1).toString,
        rr.getSeq[Float](2).map(_.toDouble).toArray))

  /** Per-(label, dim) centroid, mirroring Centroids.labelCentroids:
    * exact DECIMAL(20,10) sum of the double dim values, then one
    * double division by the count. */
  private lazy val centroids: Map[String, Array[Double]] = {
    vecs.groupBy(_._2).view.mapValues { g =>
      val dim = g.head._3.length
      Array.tabulate(dim) { i =>
        g.map(v => bd(v._3(i), 10)).sum.toDouble / g.length
      }
    }.toMap
  }

  test("vec_davies_bouldin matches a direct scatter/separation ratio") {
    // per-cluster scatter: mean of sqrt(sum of quantized sq diffs)
    val scat = vecs.groupBy(_._2).view.mapValues { g =>
      val c = centroids(g.head._2)
      val dists = g.map { v =>
        val d2 = v._3.zip(c).map { case (x, cc) =>
          bd((x - cc) * (x - cc), 12)
        }.sum
        bd(math.sqrt(d2.toDouble), 12)
      }
      dists.sum.toDouble / g.length
    }.toMap
    val labels = centroids.keys.toSeq.sorted
    val maxR = labels.map { k =>
      val rs = labels.filter(_ != k).map { l =>
        val m = math.sqrt(centroids(k).zip(centroids(l))
          .map { case (a, b) => bd((a - b) * (a - b), 12) }
          .sum.toDouble)
        (scat(k) + scat(l)) / m
      }
      bd(rs.max, 12)
    }
    val db = r(maxR.sum.toDouble / labels.length, 6)
    val row = q("vec_davies_bouldin").collect().head
    assert(row.getAs[Long]("k_clusters") == labels.length)
    assert(math.abs(row.getAs[Double]("davies_bouldin") - db) < 1e-5)
    // DB is a positive ratio; lower is better but it is never <= 0
    assert(db > 0.0)
  }

  test("vec_silhouette_simplified matches a direct a/b recomputation") {
    // d2 to every centroid: SEQUENTIAL left fold, like the HOF
    def d2(v: Array[Double], c: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < v.length) {
        val t = v(i) - c(i); s += t * t; i += 1
      }
      s
    }
    val sils = vecs.map { case (_, label, v) =>
      val a2 = d2(v, centroids(label))
      val b2 = centroids.collect {
        case (l, c) if l != label => d2(v, c)
      }.min
      val sil =
        if (math.max(math.sqrt(a2), math.sqrt(b2)) == 0.0) BigDecimal(0)
        else bd((math.sqrt(b2) - math.sqrt(a2)) /
          math.max(math.sqrt(a2), math.sqrt(b2)), 12)
      (sil, if (b2 < a2) 1L else 0L)
    }
    val n = sils.length.toLong
    val mean = r(sils.map(_._1).sum.toDouble / n, 6)
    val mis = sils.map(_._2).sum
    val row = q("vec_silhouette_simplified").collect().head
    assert(row.getAs[Long]("n") == n)
    assert(math.abs(row.getAs[Double]("mean_silhouette") - mean) < 1e-5)
    assert(row.getAs[Long]("misplaced") == mis)
    assert(row.getAs[Double]("misplaced_share") ==
      ((2 * BigInt(mis) * 1000000 + n) / (2 * BigInt(n))).toDouble /
        1000000.0)
    // silhouette lives in [-1, 1]
    assert(mean >= -1.0 && mean <= 1.0)
  }

  test("sim_search_mmr matches a direct greedy MMR over each probe's " +
      "top 16") {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      for (i <- a.indices) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // best first: higher score, then lower vec_id
    def better(x: (Long, Double), y: (Long, Double)): Boolean =
      x._2 > y._2 || (x._2 == y._2 && x._1 < y._1)
    val probes = vecs.groupBy(_._2).values.map(_.minBy(_._1)).toSeq
      .sortBy(_._1)
    val emb = vecs.map(v => v._1 -> v._3).toMap
    val want = probes.flatMap { case (pid, _, pe) =>
      val pool = vecs.filter(_._1 != pid).map(v => (v._1, cos(pe, v._3)))
        .sortWith(better).take(16)
      val picks = scala.collection.mutable.ArrayBuffer(pool.head)
      while (picks.size < 5) {
        val scored = pool.filterNot(c => picks.exists(_._1 == c._1))
          .map { case (id, c) =>
            (id, 0.5 * c - 0.5 * picks.map(p => cos(emb(id), emb(p._1))).max)
          }
        picks += scored.sortWith(better).head
      }
      picks.zipWithIndex.map { case ((id, sc), i) =>
        (pid, i + 1L, id, r(sc, 6))
      }
    }
    val got = q("sim_search_mmr").collect().map(rr =>
      (rr.getLong(0), rr.getLong(1), rr.getLong(2), rr.getDouble(3))).toSeq
    assert(want.size == 5 * probes.size)
    assert(got.map(g => (g._1, g._2, g._3)) == want.map(w => (w._1, w._2, w._3)))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._4 - w._4) < 1e-9, s"$g vs $w")
    }
    // the greedy pass diversifies: not every probe keeps the plain
    // cosine top 5
    assert(probes.exists { case (pid, _, pe) =>
      val top5 = vecs.filter(_._1 != pid).map(v => (v._1, cos(pe, v._3)))
        .sortWith(better).take(5).map(_._1).toSet
      want.filter(_._1 == pid).map(_._3).toSet != top5
    })
  }
}
