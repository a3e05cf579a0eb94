package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.engine.Memo
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.engine.Memo]], the engine's one bounded in-JVM memo. */
class MemoSpec extends AnyFunSuite {

  test("the cap holds and the least recently used entry goes first") {
    val memo = new Memo[Int, String](3)
    (1 to 3).foreach(i => memo.put(i, s"v$i"))
    assert(memo.get(1) === Some("v1")) // 1 is now the most recent
    assert(memo.getOrElseUpdate(4)("v4") === "v4")
    assert(memo.size === 3)
    assert(memo.get(2) === None)
    assert(memo.getOrElseUpdate(1)(fail("recomputed a kept entry")) === "v1")
    (5 to 100).foreach(i => memo.getOrElseUpdate(i)(s"v$i"))
    assert(memo.size === 3)
    assert((98 to 100).map(memo.get) === (98 to 100).map(i => Some(s"v$i")))
  }

  test("a compute blocked on one key does not block another key") {
    val memo = new Memo[String, Int](8)
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = new Thread(() => {
      memo.getOrElseUpdate("a") {
        started.countDown()
        release.await(60, TimeUnit.SECONDS)
        1
      }
      ()
    })
    slow.start()
    try {
      assert(started.await(30, TimeUnit.SECONDS))
      @volatile var got = 0
      val fast = new Thread(() => got = memo.getOrElseUpdate("b")(2))
      fast.start()
      fast.join(10000)
      assert(!fast.isAlive, "key b waited for the compute of key a")
      assert(got === 2)
      assert(memo.get("a") === None)
    } finally release.countDown()
    slow.join(30000)
    assert(memo.get("a") === Some(1))
  }

  test("a compute that throws stores nothing") {
    val memo = new Memo[String, Int](8)
    val e = intercept[IllegalStateException](
      memo.getOrElseUpdate("k")(throw new IllegalStateException("boom")))
    assert(e.getMessage === "boom")
    assert(memo.get("k") === None)
    assert(memo.size === 0)
    assert(memo.getOrElseUpdate("k")(5) === 5)
  }
}
