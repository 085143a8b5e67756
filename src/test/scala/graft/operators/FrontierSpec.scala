package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** The durability knob must be semantics-invisible: every pinned
  * pipeline returns the same rows whether the frontier lives in
  * executor-local blocks (default) or in a fault-tolerant checkpoint
  * (`graft.pin.reliable=true` — the cluster-scale mode, where losing
  * an executor after the pin must not lose the frame). A
  * [[Frontier.pinPartitioned]] pin carries its layout to consumers in
  * both modes without touching the conf of the session it shares. */
class FrontierSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def inReliableMode[A](body: => A): A =
    withConfs(Frontier.ReliableConf -> "true")(body)

  test("reliable pin checkpoints instead of localCheckpoint, same rows") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val pinned = inReliableMode(Frontier.pin(df))
    // a reliable checkpoint registers a checkpoint dir and truncates
    // lineage into files there (not executor block storage)
    val ckptDir = spark.sparkContext.getCheckpointDir
    assert(ckptDir.nonEmpty)
    // the checkpoint is EAGER: its rdd-* files exist on (fault-
    // tolerant) storage before any consumer runs — `pinned.rdd` itself
    // is a fresh plan wrapper, so the evidence is the written files
    val root = new java.io.File(new java.net.URI(ckptDir.get).getPath)
    val level1 = Option(root.listFiles()).toSeq.flatten
    val rddDirs = (level1 ++ level1.flatMap(f => Option(f.listFiles()).toSeq.flatten))
      .filter(_.getName.startsWith("rdd-"))
    assert(rddDirs.nonEmpty, s"no checkpointed RDD files under $ckptDir")
    assert(pinned.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("p01 (all four pin sites live) is row-identical in reliable mode") {
    // p01 exercises the CorpusPrep frontiers + Packing's two-phase
    // scan pin; q18 (detectHotKeys) and p02 (deterministicShuffle)
    // route through the same helper
    val default = SparkEntry.queries("p01_corpus_prep")(spark, sf)
      .collect().toSeq
    val reliable = inReliableMode(
      SparkEntry.queries("p01_corpus_prep")(spark, sf).collect().toSeq)
    assert(default == reliable,
      s"reliable mode changed p01: ${default.size} vs ${reliable.size} rows")
  }

  test("reliable pin evaluates the pinned lineage exactly once") {
    // checkpoint(eager=true) alone runs the plan twice (the eager
    // action + the checkpoint-write job); pin() persists around the
    // checkpoint so the write job reads cached blocks instead. An
    // accumulator-counting UDF observes every evaluation.
    val acc = spark.sparkContext.longAccumulator("frontier-evals")
    val counted = udf { (x: Long) => acc.add(1L); x }
    val df = spark.range(0, 100, 1, 4).select(counted(col("id")).as("id"))
    val pinned = inReliableMode(Frontier.pin(df))
    assert(acc.value == 100L,
      s"pinned lineage ran ${acc.value / 100.0} times, expected once")
    assert(pinned.count() == 100L)
    assert(acc.value == 100L, "a consumer re-evaluated the pinned lineage")
  }

  test("reliable pin fails fast without a checkpoint dir off-local") {
    // pure-guard contract: a cluster master must configure shared
    // checkpoint storage; only local masters may fall back to an
    // auto-created temp dir
    intercept[IllegalArgumentException] {
      Frontier.requireCheckpointDir(isLocal = false, dirConfigured = false)
    }
    Frontier.requireCheckpointDir(isLocal = false, dirConfigured = true)
    Frontier.requireCheckpointDir(isLocal = true, dirConfigured = false)
  }

  test("deterministicShuffle keeps its purity contract in reliable mode") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, i * 3L)).toDF("doc_id", "n")
    val expected = Sampling.deterministicShuffle(df, col("doc_id"), "fs1")
      .select("doc_id", "shuffle_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = inReliableMode(
      Sampling.deterministicShuffle(df.repartition(7), col("doc_id"), "fs1")
        .select("doc_id", "shuffle_pos").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    assert(got == expected)
  }

  test("a pinPartitioned in flight leaves the shared session adaptive") {
    import FrontierSpec.{entered, release}
    val gate = udf { (x: Long) =>
      entered.countDown(); release.await(60, TimeUnit.SECONDS); x }
    val df = spark.range(0, 8, 1, 2).select(gate(col("id")).as("k"))
      .repartition(2, col("k"))
    val pinner = new Thread(() => { Frontier.pinPartitioned(df); () })
    pinner.start()
    try {
      assert(entered.await(60, TimeUnit.SECONDS), "the pin job never ran")
      // the pin's materializing job is blocked in the UDF right now
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      val fresh = spark.range(0, 100, 1, 4).groupBy(col("id") % 3).count()
      assert(fresh.queryExecution.executedPlan
        .isInstanceOf[AdaptiveSparkPlanExec])
    } finally {
      release.countDown()
      pinner.join()
    }
  }

  test("a consumer keyed like the pin plans no exchange and no sort") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val src = (1 to 200).map(i => (i % 17L, i.toLong)).toDF("k", "v")
      .repartition(5, col("k")).sortWithinPartitions("k")
    def check(pinned: org.apache.spark.sql.DataFrame): Unit = {
      val agg = pinned.groupBy("k").agg(count(lit(1)).as("n"), max("v"))
      assert(agg.collect().map(_.getLong(1)).sum == 200L)
      val plan = agg.queryExecution.executedPlan
      assert(collect(plan) { case e: ShuffleExchangeLike => e }.isEmpty, plan)
      assert(collect(plan) { case s: SortExec => s }.isEmpty, plan)
    }
    check(Frontier.pinPartitioned(src))
    check(inReliableMode(Frontier.pinPartitioned(src)))
  }
}

object FrontierSpec {
  // task closures reach these statically (a latch is not serializable)
  val entered = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}
