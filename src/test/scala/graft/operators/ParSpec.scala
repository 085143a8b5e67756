package graft.operators

import graft.SparkSpec

/** The global in-flight cap (r19, round-18 verdict ask #5): nested
  * Par.run (compactAll → per-family compaction → member writes) must
  * never exceed `graft.par.globalMaxConcurrent` RUNNING thunks, and a
  * coordinating worker (blocked joining its nested run) must not count
  * — otherwise nesting either deadlocks or multiplies widths. */
class ParSpec extends SparkSpec {

  test("nested Par.run never exceeds the global cap and observes it") {
    withConfs(Par.GlobalMaxConcurrentConf -> "3",
        Par.MaxConcurrentConf -> "4") {
      Par.resetRunningGauge()
      val leaf = new java.util.concurrent.atomic.AtomicInteger(0)
      val leafMax = new java.util.concurrent.atomic.AtomicInteger(0)
      def leafThunk(): Unit = {
        val n = leaf.incrementAndGet()
        leafMax.getAndUpdate(m => math.max(m, n))
        Thread.sleep(30)
        leaf.decrementAndGet()
        ()
      }
      // 3 outer × 4 inner = 12 leaves; outer thunks coordinate only
      Par.run(spark, (1 to 3).map(_ => () =>
        Par.run(spark, (1 to 4).map(_ => () => leafThunk()))))
      assert(leafMax.get() <= 3,
        s"observed ${leafMax.get()} concurrently running leaf thunks " +
          "above the global cap of 3")
      assert(Par.maxObservedRunning <= 3,
        s"gauge saw ${Par.maxObservedRunning} running thunks above the cap")
      // the cap must not serialize everything either: with 3 permits
      // and 12 sleeping leaves, at least 2 ran together
      assert(leafMax.get() >= 2,
        s"no overlap at all under cap 3 (max ${leafMax.get()}) — " +
          "the coordinator is holding permits it should release")
    }
  }

  test("a failing nested thunk still propagates after the cap dance") {
    withConfs(Par.GlobalMaxConcurrentConf -> "2") {
      val e = intercept[RuntimeException] {
        Par.run(spark, Seq(
          () => Par.run(spark, Seq(
            () => (), () => throw new RuntimeException("inner boom"))),
          () => Thread.sleep(10)))
      }
      assert(e.getMessage == "inner boom")
    }
  }
}
