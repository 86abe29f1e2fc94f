package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.util.{BoundedMemo, CorpusMemo}

class BoundedMemoSpec extends AnyFunSuite {

  test("builds once per key and returns the cached value after") {
    var builds = 0
    val m = new BoundedMemo[Int, String](2, _ => ())
    assert(m.getOrBuild(1) { builds += 1; "a" } == "a")
    assert(m.getOrBuild(1) { builds += 1; "never" } == "a")
    assert(builds == 1)
  }

  test("evicts least-recently-used beyond the bound and releases it") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[String]
    val m = new BoundedMemo[Int, String](2, evicted += _)
    m.getOrBuild(1)("a"); m.getOrBuild(2)("b")
    m.getOrBuild(1)("a2") // touch 1 → 2 becomes eldest
    m.getOrBuild(3)("c")  // bound exceeded → evict 2
    assert(evicted.toSeq == Seq("b"))
    // 1 survived the eviction (access order, not insertion order)
    var rebuilt = false
    m.getOrBuild(1) { rebuilt = true; "a3" }
    assert(!rebuilt)
  }

  test("a build failure does not poison the key") {
    val m = new BoundedMemo[Int, String](2, _ => ())
    intercept[RuntimeException] {
      m.getOrBuild(9) { throw new RuntimeException("boom") }
    }
    assert(m.getOrBuild(9)("ok") == "ok")
  }

  test("distinct keys build concurrently, not serialized behind one lock") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val m = new BoundedMemo[Int, String](4, _ => ())
    // each build blocks until BOTH builds have started — this can only
    // complete if distinct keys run outside any shared monitor
    val gate = new CountDownLatch(2)
    def slowBuild(v: String): String = {
      gate.countDown()
      assert(gate.await(5, TimeUnit.SECONDS), "distinct-key builds serialized")
      v
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val f1 = pool.submit[String](() => m.getOrBuild(1)(slowBuild("a")))
      val f2 = pool.submit[String](() => m.getOrBuild(2)(slowBuild("b")))
      assert(f1.get(10, TimeUnit.SECONDS) == "a")
      assert(f2.get(10, TimeUnit.SECONDS) == "b")
    } finally pool.shutdownNow()
  }

  test("same-key contention still builds exactly once") {
    import java.util.concurrent.{Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val builds = new AtomicInteger(0)
    val m = new BoundedMemo[Int, String](4, _ => ())
    val pool = Executors.newFixedThreadPool(8)
    try {
      val fs = (1 to 8).map(_ => pool.submit[String] { () =>
        m.getOrBuild(42) { Thread.sleep(50); builds.incrementAndGet(); "v" }
      })
      fs.foreach(f => assert(f.get(10, TimeUnit.SECONDS) == "v"))
      assert(builds.get() == 1, s"built ${builds.get()} times")
    } finally pool.shutdownNow()
  }

  // CorpusMemo's key policy: (session object, corpus dir, extra params)

  test("CorpusMemo: the same session and corpus build once") {
    var builds = 0
    val m = new CorpusMemo[String]()
    val t = Tables(TestSpark.spark, TestSpark.sfDir)
    assert(m.getOrBuild(t) { builds += 1; "a" } == "a")
    // an equal Tables value built elsewhere is the same key
    assert(m.getOrBuild(Tables(TestSpark.spark, TestSpark.sfDir)) {
      builds += 1; "never" } == "a")
    assert(builds == 1)
    // a different corpus under the same session is a different key
    assert(m.getOrBuild(Tables(TestSpark.spark, "/elsewhere"))("b") == "b")
  }

  test("CorpusMemo: spark.newSession() rebuilds (Bench's cold fixture confirmation)") {
    var builds = 0
    val m = new CorpusMemo[String]()
    val t = Tables(TestSpark.spark, TestSpark.sfDir)
    m.getOrBuild(t) { builds += 1; "shared" }
    val fresh = Tables(TestSpark.spark.newSession(), TestSpark.sfDir)
    assert(m.getOrBuild(fresh) { builds += 1; "fresh" } == "fresh")
    assert(builds == 2)
    // the original session's entry is untouched
    assert(m.getOrBuild(t)("never") == "shared")
  }

  test("CorpusMemo: different extra parameters build separately") {
    var builds = 0
    val m = new CorpusMemo[String]()
    val t = Tables(TestSpark.spark, TestSpark.sfDir)
    def get(extra: Any): String = m.getOrBuild(t, extra) { builds += 1; s"v$extra" }
    assert(get((5, 50)) == "v(5,50)")
    assert(get((5, 60)) == "v(5,60)")
    assert(get(0.6) == "v0.6")
    assert(get((5, 50)) == "v(5,50)" && get(0.6) == "v0.6")
    assert(builds == 3)
  }
}
