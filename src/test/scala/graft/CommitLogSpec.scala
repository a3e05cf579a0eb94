package graft

import graft.engine.io.CommitLog
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

/** The concurrent-writer contract of the optimistic commit log: exactly
  * one of two racing writers wins each version, the loser retries
  * against the winner's snapshot, and NO reader can observe a torn
  * snapshot at any point (commit records appear atomically with full
  * content, and only fully-staged data is ever referenced). */
class CommitLogSpec extends AnyFunSuite with SparkFixture {

  private def freshRoot(name: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_commitlog_spec/$name"
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    CommitLog.init(spark, p)
    p
  }

  test("two racing writers: exactly one v(n+1), loser lands v(n+2)") {
    val root = freshRoot("race")
    import spark.implicits._
    CommitLog.commit(spark, root, "base") { (dir, _) =>
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v").write.parquet(dir)
    }
    // both writers observe base=1, stage, and race for v2; the claim
    // is hard-link-atomic so exactly one wins, the other MUST re-stage
    // against the winner's snapshot and land v3
    val start = new CountDownLatch(1)
    // both stage callbacks must be ENTERED before either returns —
    // this forces both writers to observe base=1 and genuinely race
    // the v2 claim (without it, scheduling could serialize them and
    // the conflict path would go untested)
    val bothStaged = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(2)
    val staged = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val futures = (0 to 1).map { i =>
      pool.submit(new java.util.concurrent.Callable[CommitLog.Commit] {
        def call(): CommitLog.Commit = {
          start.await(10, TimeUnit.SECONDS)
          CommitLog.commit(spark, root, s"writer$i") { (dir, base) =>
            val n = staged.merge(s"writer$i", 1, (a, b) => a + b)
            // derivation depends on the base — add one row to it
            CommitLog.readVersion(spark, root, base)
              .unionByName(Seq((100L + i, 1.0)).toDF("k", "v"))
              .write.parquet(dir)
            if (n == 1) { // first attempt: rendezvous before claiming
              bothStaged.countDown()
              assert(bothStaged.await(60, TimeUnit.SECONDS),
                "second writer never staged")
            }
          }
        }
      })
    }
    start.countDown()
    val results = futures.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()

    val cs = CommitLog.commits(spark, root)
    assert(cs.map(_.version) == Seq(1, 2, 3), cs)
    // both writers committed, in some order, each exactly once
    assert(results.map(_.version).sorted == Seq(2, 3))
    assert(cs.map(_.action).toSet == Set("base", "writer0", "writer1"))
    // the v3 writer's base was v2 (it re-derived after losing), so the
    // final snapshot contains BOTH writers' rows — lost-update is the
    // bug this protocol exists to prevent
    assert(cs.find(_.version == 3).get.baseVersion == 2)
    val finalKeys = CommitLog.readLatest(spark, root)
      .select("k").as[Long].collect().sorted.toSeq
    assert(finalKeys == Seq(1L, 2L, 100L, 101L))
    // the loser staged twice (once against v1, once against v2)
    assert(staged.values.stream().mapToInt(_.intValue).sum == 3, staged)
  }

  test("no torn snapshot: every commit record resolves to complete data") {
    val root = freshRoot("torn")
    import spark.implicits._
    (1 to 4).foreach { i =>
      CommitLog.commit(spark, root, s"c$i") { (dir, _) =>
        Seq.tabulate(i * 10)(j => (j.toLong, i.toDouble))
          .toDF("k", "v").write.parquet(dir)
      }
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLog.commits(spark, root).foreach { c =>
      // referenced data dir finished writing BEFORE the claim: Spark's
      // _SUCCESS marker is present and the read returns the full count
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/${c.dataDir}/_SUCCESS")), c)
      assert(CommitLog.readVersion(spark, root, c.version).count() ==
        c.version * 10L)
    }
    // a crashed writer's orphan staging dir is unreachable via the log
    val orphan = s"$root/data/orphan-dead-writer"
    Seq((9L, 9.0)).toDF("k", "v").write.parquet(orphan)
    assert(CommitLog.commits(spark, root).size == 4)
    assert(CommitLog.readLatest(spark, root).count() == 40)
  }

  test("a stage that throws leaves no staging dir and no commit") {
    val root = freshRoot("failed_stage")
    import spark.implicits._
    val boom = intercept[IllegalStateException] {
      CommitLog.commit(spark, root, "broken") { (dir, _) =>
        Seq((1L, 1.0)).toDF("k", "v").write.parquet(dir)
        throw new IllegalStateException("stage failed")
      }
    }
    assert(boom.getMessage == "stage failed")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val data = new org.apache.hadoop.fs.Path(s"$root/data")
    val left = if (fs.exists(data)) fs.listStatus(data).map(_.getPath.getName)
      else Array.empty[String]
    assert(left.isEmpty, left.mkString(", "))
    assert(CommitLog.commits(spark, root).isEmpty)
  }

  test("a file:// root: commits land in the listed log, not under the cwd") {
    import spark.implicits._
    val local = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft_commitlog_spec/file_uri")
      .getAbsolutePath
    val root = s"file://$local"
    // where a string Paths.get of the URI would put the log: relative,
    // under the working directory
    val strayLog = new java.io.File(s"file:$local")
    org.apache.commons.io.FileUtils.deleteDirectory(strayLog)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    CommitLog.init(spark, root)
    val c1 = CommitLog.commit(spark, root, "snapshot") { (dir, _) =>
      Seq((1L, 1.0)).toDF("k", "v").write.parquet(dir)
    }
    val c2 = CommitLog.commit(spark, root, "append") { (dir, base) =>
      CommitLog.readVersion(spark, root, base)
        .unionByName(Seq((2L, 2.0)).toDF("k", "v")).write.parquet(dir)
    }
    assert(c1.version == 1 && c2.version == 2)
    assert(CommitLog.latest(spark, root).map(_.action).contains("append"))
    assert(CommitLog.readLatest(spark, root).as[(Long, Double)]
      .collect().toSet == Set((1L, 1.0), (2L, 2.0)))
    assert(new java.io.File(local, "_commits/v00000002.json").isFile)
    assert(!strayLog.exists(), s"commit log leaked under the cwd: $strayLog")
  }

  test("vacuum keeps newest N readable, expires old data + stale orphans") {
    val root = freshRoot("vacuum")
    import spark.implicits._
    (1 to 3).foreach { i =>
      CommitLog.commit(spark, root, s"c$i") { (dir, _) =>
        Seq((i.toLong, i.toDouble)).toDF("k", "v").write.parquet(dir)
      }
    }
    val orphan = s"$root/data/orphan-stale"
    Seq((9L, 9.0)).toDF("k", "v").write.parquet(orphan)
    val expired = CommitLog.vacuum(spark, root, keep = 2, orphanGraceMs = 0L)
    assert(expired == Seq(1))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(orphan)))
    // kept versions read intact; the expired one fails loudly
    assert(CommitLog.readVersion(spark, root, 2).count() == 1)
    assert(CommitLog.readVersion(spark, root, 3).count() == 1)
    intercept[Exception] {
      CommitLog.readVersion(spark, root, 1).count()
    }
    // history (the log itself) is preserved — only data expired
    assert(CommitLog.commits(spark, root).map(_.version) == Seq(1, 2, 3))
  }

  test("shallow clone is metadata-only, diverges independently, " +
      "and clone-side vacuum never reaps shared source data") {
    val src = freshRoot("clone_src")
    val dst = s"${sys.props("java.io.tmpdir")}/graft_commitlog_spec/clone_dst"
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dst), true)
    import spark.implicits._
    CommitLog.commit(spark, src, "snap") { (dir, _) =>
      Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").write.parquet(dir)
    }
    CommitLog.cloneTable(spark, src, dst, 1)
    // metadata-only: the clone has NO data directory of its own
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dst/data")))
    // the clone reads the source snapshot through its own log
    assert(CommitLog.readVersion(spark, dst, 1).count() == 2)
    // divergence: clone inserts, source unaffected and vice versa
    CommitLog.commit(spark, dst, "ins") { (dir, base) =>
      CommitLog.readVersion(spark, dst, base)
        .unionByName(Seq((3L, 3.0)).toDF("k", "v")).write.parquet(dir)
    }
    CommitLog.commit(spark, src, "del") { (dir, base) =>
      CommitLog.readVersion(spark, src, base)
        .filter($"k" =!= 1L).write.parquet(dir)
    }
    assert(CommitLog.readLatest(spark, dst).count() == 3)
    assert(CommitLog.readLatest(spark, src).count() == 1)
    // clone-side vacuum with keep=1 expires the clone's base version
    // record but MUST NOT delete the source's shared files
    CommitLog.vacuum(spark, dst, keep = 1, orphanGraceMs = 0L)
    assert(CommitLog.readVersion(spark, src, 1).count() == 2)
  }

  test("changes() fails loudly when a column is re-added with a " +
      "different type across the range") {
    val root = freshRoot("typeflip")
    import spark.implicits._
    CommitLog.commit(spark, root, "base") { (dir, _) =>
      Seq((1L, 10)).toDF("k", "x").write.parquet(dir) // x: INT
    }
    CommitLog.commit(spark, root, "drop_x") { (dir, _) =>
      Seq(Tuple1(1L)).toDF("k").write.parquet(dir)
    }
    CommitLog.commit(spark, root, "readd_x_as_string") { (dir, _) =>
      Seq((1L, "ten")).toDF("k", "x").write.parquet(dir) // x: STRING
    }
    val ex = intercept[IllegalArgumentException] {
      CommitLog.changes(spark, root, 1, 3, Seq("k")).collect()
    }
    assert(ex.getMessage.contains("x"), ex.getMessage)
    assert(ex.getMessage.contains("type"), ex.getMessage)
    // the consistent sub-range still works
    assert(CommitLog.changes(spark, root, 1, 2, Seq("k")).count() > 0)
  }
}
