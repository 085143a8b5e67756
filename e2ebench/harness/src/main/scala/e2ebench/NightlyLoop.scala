package e2ebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Dedup, Generations, LexIndex, Par}
import graft.streaming.StreamingNightlyIngest

/** nightly_loop: write-heavy. The maintained families are built the way
  * the nightly hybrid rows build them (near-dup, ANN plus raw-vector
  * corpus, lexical), then seeded nights run one `nightStep` each until
  * the timed window closes, and the loop ends with `compactAll`. The
  * first timed night is the first in the process, as for a nightly batch
  * job started fresh each night. */
object NightlyLoop {
  val BatchSize = 120
  val Budget = 100000L // the p-rows' per-stratum token budget
  val Salt = "e2eb"
  val TokensPerShard = 256L
  val TakedownSize = 2
  val ParityQueries = 8

  final case class Night(id: Long, docs: Array[Corpus.Doc],
      deletes: Seq[Long])

  /** Night `n`'s batch: 40% near-copies of corpus docs (the fixture's
    * " dup" edit), 20% exact replays of earlier nights' docs under new
    * ids (fresh docs on the first night), and fresh docs, plus a
    * takedown set drawn from docs already in the corpus. Every night
    * has the same make-up, so nights are comparable samples. */
  def night(n: Int, seed: Long, base: Array[Corpus.Doc],
      earlier: Seq[Corpus.Doc], live: Seq[Long]): Night = {
    val r = new java.util.SplittableRandom(seed * 1000003L + n)
    val idBase = (n + 1).toLong * 1000000000L
    val docs = Array.tabulate(BatchSize) { i =>
      val text =
        if (i < BatchSize * 2 / 5) Corpus.nearCopy(base(r.nextInt(base.length)).text)
        else if (i < BatchSize * 3 / 5 && earlier.nonEmpty)
          earlier(r.nextInt(earlier.size)).text
        else Corpus.text(r)
      Corpus.Doc(idBase + i, text, base(r.nextInt(base.length)).lang,
        s"night$n", text.length.toLong)
    }
    val deletes =
      Seq.fill(TakedownSize)(live(r.nextInt(live.size))).distinct
    Night(idBase, docs, deletes)
  }

  def run(spark: SparkSession, a: Main.Args, rec: Recorder, t0: Long): Unit = {
    import spark.implicits._
    val base = Corpus.docs(a.seed, a.docs)
    val baseDf = Corpus.frame(spark, base.toSeq).cache()
    val arts = StreamingNightlyIngest.Artifacts("e2eb_nd", "e2eb_ann",
      "e2eb_anncorpus", "e2eb_budget",
      new java.io.File(a.work, "shards").getAbsolutePath)
    val lexName = StreamingNightlyIngest.lexName(arts)
    rec.span("setup.base_builds") {
      val vecs = baseDf.select(col("doc_id"))
        .withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      Tags.withOp(spark, "base") {
        Par.run(spark, Seq(
          () => Dedup.writeNearDupIndex(
            baseDf.select(col("doc_id"), col("text")), arts.ndIndex),
          () => AnnIndex.writeAnnIndex(vecs, arts.annIndex, nCells = 8,
            m = 8, ksub = 16),
          () => StreamingNightlyIngest.writeCorpus(spark, arts, vecs),
          () => LexIndex.writeLexIndex(
            baseDf.select(col("doc_id"), col("text")), lexName)))
      }
    }

    val earlier = mutable.ArrayBuffer[Corpus.Doc]()
    val admitted = mutable.LinkedHashMap[Long, String]()
    val deleted = mutable.LinkedHashSet[Long]()
    var live = base.map(_.doc_id).toVector
    var kept = 0L

    def step(n: Int): Double = {
      val nt = night(n, a.seed, base, earlier.toSeq, live)
      val batch = Corpus.frame(spark, nt.docs.toSeq)
        .withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
      val dels = Some(nt.deletes.toDF("doc_id"))
      val s = Recorder.nowMs
      val keptDf = Tags.withOp(spark, s"night-$n") {
        rec.span("night", s"night-$n") {
          rec.span("nightStep", s"night-$n") {
            StreamingNightlyIngest.nightStep(arts, batch, budget = Budget,
              salt = Salt, tokensPerShard = TokensPerShard, batchId = n,
              deletes = dels)
          }
        }
      }
      val ms = Recorder.nowMs - s
      // bookkeeping for the checks, outside the timed call (the kept
      // frame is already materialized)
      val keptIds = keptDf.select("doc_id").as[Long].collect().toSet
      if (rec.trace) {
        // the night's near-dup survivors: its docs the probe appended to
        // the near-dup index's signature table
        val sigs = spark.table(Generations.resolve(spark, arts.ndIndex, "sigs"))
        rec.sample("night.survivor_docs", sigs.filter(col("doc_id")
          .between(nt.id, nt.id + BatchSize - 1)).count().toDouble)
      }
      kept += keptIds.size
      val byId = nt.docs.map(d => d.doc_id -> d.text).toMap
      keptIds.toSeq.sorted.foreach(id => admitted(id) = byId(id))
      nt.deletes.foreach(deleted += _)
      earlier ++= nt.docs
      live = (live ++ keptIds.toSeq.sorted).filterNot(nt.deletes.toSet)
      rec.sample("night.batch_docs", nt.docs.length)
      rec.sample("night.kept_docs", keptIds.size)
      ms
    }

    rec.put("setup_s", (System.nanoTime() - t0) / 1e9)

    // timed nights: at least one, then another only while it is expected
    // (at the last night's duration) to end inside the window
    val start = System.nanoTime()
    var n = 1
    var nightMs = 0.0
    var lastMs = 0.0
    while (n == 1 ||
        (System.nanoTime() - start) / 1e6 + lastMs <= a.seconds * 1000.0) {
      rec.attempted.increment()
      try {
        val ms = step(n)
        lastMs = ms
        rec.sample("latency_ms", ms)
        nightMs += ms
      } catch { case e: Exception => rec.fail(s"night $n: $e") }
      n += 1
    }
    rec.put("nights", n - 1)

    rec.attempted.increment()
    val cs = Recorder.nowMs
    Tags.withOp(spark, "compact") {
      rec.span("compactAll", "compact") {
        StreamingNightlyIngest.compactAll(spark, arts)
      }
    }
    val compactMs = Recorder.nowMs - cs
    rec.put("compact_ms", compactMs)
    // the loop's useful rate: docs kept per second of nights and closing
    // compaction together
    rec.put("throughput_per_s", kept / ((nightMs + compactMs) / 1000.0))
    rec.put("window_s", (System.nanoTime() - start) / 1e9)

    // checks, outside the timed window; together they are one more
    // attempted operation (the final state)
    rec.attempted.increment()
    val ck = System.nanoTime()
    Tags.withOp(spark, "check") {
      // (a) the maintained lexical index probes exactly like a one-shot
      // build over base ∪ admitted − deleted (the p10 parity)
      val survivors = (base.map(d => d.doc_id -> d.text) ++ admitted.toSeq)
        .filterNot(p => deleted(p._1))
      val oneShot = "e2eb_oneshot_lex"
      LexIndex.writeLexIndex(survivors.toSeq.toDF("doc_id", "text"), oneShot)
      val r = new java.util.SplittableRandom(a.seed + 7)
      val qs = Seq.fill(ParityQueries)(survivors(r.nextInt(survivors.length)))
        .toDF("doc_id", "text")
      val cols = Seq("qid", "doc_id", "lex_rank", "lex_scaled").map(col)
      def probe(index: String) = LexIndex.probeLexIndex(spark, index, qs,
        kEach = 20).select(cols: _*).collect().toSet
      val maintained = probe(lexName)
      val fresh = probe(oneShot)
      val lexOk = maintained == fresh && fresh.nonEmpty
      if (!lexOk)
        rec.fail(s"maintained lexical index differs from a one-shot build " +
          s"(${maintained.diff(fresh).size} rows only maintained, " +
          s"${fresh.diff(maintained).size} only one-shot)")
      // (b) the shard layout holds exactly the admitted, non-deleted docs
      val layout = spark.read.parquet(arts.shardPath)
        .select("doc_id").distinct().count()
      val expect = admitted.keys.count(id => !deleted(id))
      rec.put("check.layout_docs", layout)
      rec.put("check.expected_layout_docs", expect)
      if (layout != expect && lexOk)
        rec.fail(s"shard layout holds $layout docs, expected $expect")
    }
    rec.put("check_s", (System.nanoTime() - ck) / 1e9)
    rec.put("kept_total", kept)
    rec.put("deleted_total", deleted.size)
    baseDf.unpersist()
  }
}
