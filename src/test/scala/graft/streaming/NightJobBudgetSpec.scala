package graft.streaming

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.{AnnIndex, Dedup, Generations, KnnGraphIndex, LexIndex, Tombstones}

/** The nightly loop's Spark job budget, counted rather than timed: a
  * night with a takedown and the fold-in `compactAll` over all four
  * maintained families (near-dup, ANN, graph, lexical) each run at most
  * a pinned number of jobs. Job counts are deterministic for a fixed
  * fixture, so unlike wall clock this gate has no noise: a change that
  * adds a pin, a probe or a per-family pass shows up as a count. The
  * ceilings are the counts measured when the gate was introduced;
  * lower them when a change removes jobs. */
class NightJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Ceilings: one takedown night, then one `compactAll`. */
  private val NightJobsMax = 131
  private val CompactJobsMax = 76

  /** Drain the asynchronous listener bus (`waitUntilEmpty` is
    * private[spark], hence reflection), so every job of the measured
    * call is counted and none of an earlier one is. */
  private def drainBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethods.find(_.getName.endsWith("listenerBus"))
      .get.invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .get.invoke(bus)
    ()
  }

  /** The call sites of the Spark jobs `body` starts. Only jobs carrying
    * the local property set around `body` count — Spark hands local
    * properties to the threads `Par` starts — so no job another thread
    * of this JVM runs meanwhile can leak in. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val tag = "graft.test.jobBudget"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null)) {
          sites.add(e.stageInfos.map(_.name).lastOption.getOrElse("?")); ()
        }
    }
    val sc = spark.sparkContext
    drainBus()
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "on")
    try { body; drainBus(); sites.toArray(Array.empty[String]).toSeq }
    finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Job sites by count, for a failure message. */
  private def bySite(sites: Seq[String]): String =
    sites.groupBy(identity).toSeq.sortBy(-_._2.size)
      .map { case (s, xs) => s"${xs.size}× $s" }.mkString("; ")

  test("a takedown night and compactAll over all four families stay " +
      "within their Spark job budgets") {
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 40).localCheckpoint()
    val arts = StreamingNightlyIngest.Artifacts("graft_njb_nd",
      "graft_njb_ann", "graft_njb_anncorpus", "graft_njb_budget",
      new java.io.File(sys.props("java.io.tmpdir"),
        "graft_njb_shards").getAbsolutePath)
    Generations.destroy(spark, arts.annCorpusTable, Seq("vecs"))
    Generations.destroy(spark,
      StreamingNightlyIngest.deletedTable(arts), Seq("ids"))
    Generations.destroy(spark, arts.budgetTable, Seq("state"))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(arts.shardPath))
    val families = Seq(arts.ndIndex, arts.annIndex,
      StreamingNightlyIngest.graphName(arts),
      StreamingNightlyIngest.lexName(arts))
    // no erasure state from an earlier run in this JVM: it would add
    // replay-bar joins and so change the counts
    families.foreach(Tombstones.destroy(spark, _))
    val texts = corpus.select(col("doc_id"), col("text"))
    val vecs = corpus.select(col("doc_id"))
      .withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    Dedup.writeNearDupIndex(texts, arts.ndIndex, numBuckets = 4)
    AnnIndex.writeAnnIndex(vecs, arts.annIndex, nCells = 4, m = 8, ksub = 16)
    StreamingNightlyIngest.writeCorpus(spark, arts, vecs)
    KnnGraphIndex.writeKnnGraph(vecs, StreamingNightlyIngest.graphName(arts),
      k = 5, nCells = 4, nprobe = 4, edgeBuffer = 8)
    LexIndex.writeLexIndex(texts, StreamingNightlyIngest.lexName(arts),
      numBuckets = 4)

    val victims = corpus.select("doc_id").orderBy("doc_id").limit(2)
      .collect().map(_.getLong(0)).toSeq
    val batch = (0 until 6).map { i =>
      (1000000900L + i,
        s"budget night fixture $i with vocabulary omega$i psi chi phi " +
          "upsilon tau sigma rho pi omicron xi nu", "en", 90L)
    }.toDF("doc_id", "text", "lang", "n_chars")
      .withColumn("embedding", StreamingNightlyIngest.synthEmbedding)

    val night = jobsOf {
      StreamingNightlyIngest.nightStep(arts, batch, budget = 100000L,
        salt = "njb", batchId = 0L, deletes = Some(victims.toDF("doc_id")))
      ()
    }
    val compact = jobsOf(StreamingNightlyIngest.compactAll(spark, arts))
    info(s"takedown night: ${night.size} jobs; compactAll: " +
      s"${compact.size} jobs")
    assert(night.size <= NightJobsMax, s"a takedown night ran " +
      s"${night.size} Spark jobs (budget $NightJobsMax): ${bySite(night)}")
    assert(compact.size <= CompactJobsMax, s"compactAll ran " +
      s"${compact.size} Spark jobs (budget $CompactJobsMax): " +
      bySite(compact))
    // the fixture did exercise all four families' erasure path
    families.foreach { f =>
      assert(Tombstones.erasedCount(spark, f) == 2L,
        s"$f did not apply the takedown")
    }
  }
}
