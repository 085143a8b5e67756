package e2ebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, HybridRetrieval, LexIndex}
import graft.streaming.StreamingNightlyIngest

/** hybrid_serve: read-only. Lexical and ANN indexes over the corpus,
  * then two clients in a closed loop, each request the production serve
  * of the nightly hybrid rows: MaxScore lexical top-20 plus ANN top-20
  * on the source document's synthetic vector, fused by RRF and collected
  * to the driver. */
object HybridServe {
  val Clients = 2
  val WarmupPerClient = 4
  val CheckSample = 6
  val Lex = "e2eb_serve_lex"
  val Arts = StreamingNightlyIngest.Artifacts("e2eb_serve_nd",
    "e2eb_serve_ann", "e2eb_serve_anncorpus", "e2eb_serve_budget", "")
  val Embed = expr(graft.functions.VectorFunctions.portableSynthEmbedding(
    "doc_id", 16))

  final case class Query(qid: Long, text: String)

  /** A 2–8 token query taken from a seeded corpus document. The corpus
    * has the fixture's 30-word vocabulary, so every term is common and
    * the MaxScore probe takes its full-probe fallback. */
  def queries(docs: Array[Corpus.Doc], seed: Long, n: Int): Array[Query] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eedL)
    Array.fill(n) {
      val d = docs(r.nextInt(docs.length))
      val words = d.text.split(' ')
      Query(d.doc_id, Array.fill(2 + r.nextInt(7))(
        words(r.nextInt(words.length))).mkString(" "))
    }
  }

  def run(spark: SparkSession, a: Main.Args, rec: Recorder, t0: Long): Unit = {
    import spark.implicits._
    val docs = Corpus.docs(a.seed, a.docs)
    val docsDf = Corpus.frame(spark, docs.toSeq).cache()
    rec.span("setup.build_indexes") {
      val vecs = docsDf.select(col("doc_id")).withColumn("embedding", Embed)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      // the p-rows' build parameters (CorpusPrep's nightly loop base)
      graft.operators.Par.run(spark, Seq(
        () => rec.span("operators.LexIndex.write") {
          LexIndex.writeLexIndex(docsDf.select(col("doc_id"), col("text")), Lex)
        },
        () => rec.span("operators.AnnIndex.write") {
          AnnIndex.writeAnnIndex(vecs, Arts.annIndex, nCells = 8, m = 8,
            ksub = 16)
        },
        () => StreamingNightlyIngest.writeCorpus(spark, Arts, vecs)))
    }
    val corpus = StreamingNightlyIngest.corpus(spark, Arts)

    def legs(q: Query): (DataFrame, DataFrame) = {
      val qdf = Seq((q.qid, q.text)).toDF("doc_id", "text")
      val lex = LexIndex.probeLexIndexMaxScore(spark, Lex, qdf, kEach = 20)
      val qv = qdf.select(col("doc_id")).withColumn("embedding", Embed)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val vec = AnnIndex.probeQueries(spark, Arts.annIndex, qv,
          rerank = corpus, k = 20)
        .select(col("qid"), col("vec_id").as("doc_id"),
          col("rank").as("vec_rank"))
      (lex, vec)
    }
    def fuse(lex: DataFrame, vec: DataFrame): DataFrame =
      HybridRetrieval.rrfFuse(lex, vec, 10).orderBy("qid", "rank")

    /** One request; the untraced path is the production serve (one
      * fused collect), the traced path collects each leg separately. */
    def serve(q: Query, req: String): Array[Row] = Tags.withOp(spark, req) {
      if (!rec.trace) { val (lex, vec) = legs(q); fuse(lex, vec).collect() }
      else rec.span("request", req) {
        val (lex, vec) = legs(q)
        val l = rec.span("serve.lex", req)(lex.collect())
        val v = rec.span("serve.ann", req)(vec.collect())
        val f = fuse(
          spark.createDataFrame(spark.sparkContext.parallelize(l.toSeq, 1),
            lex.schema),
          spark.createDataFrame(spark.sparkContext.parallelize(v.toSeq, 1),
            vec.schema))
        val out = rec.span("serve.fuse", req)(f.collect())
        // Catalyst phases (analysis, optimization, planning) of the
        // request's three Datasets
        rec.sample("serve.catalyst_ms", Seq(lex, vec, f).map(
          _.queryExecution.tracker.phases.values.map(_.durationMs).sum).sum)
        out
      }
    }

    def valid(rows: Array[Row]): Boolean =
      rows.nonEmpty && rows.length <= 10 &&
        rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length)

    // warm-up: the same request mix, untimed, inside set-up
    val warm = queries(docs, a.seed + 1, Clients * WarmupPerClient)
    val tw = System.nanoTime()
    rec.span("setup.warmup") {
      runClients(warm, deadlineNs = Long.MaxValue) { (q, i) =>
        serve(q, s"warm-$i") }
    }
    rec.put("warmup_s", (System.nanoTime() - tw) / 1e9)
    rec.put("setup_s", (System.nanoTime() - t0) / 1e9)

    // timed closed loop
    val qs = queries(docs, a.seed, 100000)
    val start = System.nanoTime()
    val deadline = start + a.seconds * 1000000000L
    val done = runClients(qs, deadline) { (q, i) =>
      val s = Recorder.nowMs
      rec.attempted.increment()
      try {
        if (!valid(serve(q, s"req-$i")))
          rec.fail(s"request $i (qid ${q.qid}): malformed fused ranks")
      } catch { case e: Exception => rec.fail(s"request $i: $e") }
      val ms = Recorder.nowMs - s
      rec.sample("latency_ms", ms)
    }
    val windowS = (System.nanoTime() - start) / 1e9
    rec.put("window_s", windowS)
    rec.put("completed", done)
    rec.put("throughput_per_s", done / windowS)

    // outside the timed window: the lexical leg of a seeded sample must
    // equal the full probe (the bit-identical MaxScore contract). With
    // the fixture's vocabulary both calls run the full probe, so this
    // guards the fallback only.
    Tags.withOp(spark, "check") {
      queries(docs, a.seed + 2, CheckSample).foreach { q =>
        val qdf = Seq((q.qid, q.text)).toDF("doc_id", "text")
        val cols = Seq("qid", "doc_id", "lex_rank", "lex_scaled").map(col)
        val bounded = LexIndex.probeLexIndexMaxScore(spark, Lex, qdf,
          kEach = 20).select(cols: _*).collect().toSet
        val full = LexIndex.probeLexIndex(spark, Lex, qdf, kEach = 20)
          .select(cols: _*).collect().toSet
        rec.attempted.increment()
        if (bounded != full || full.isEmpty)
          rec.fail(s"lexical leg of qid ${q.qid} '${q.text}' differs from " +
            s"the full probe (${bounded.size} vs ${full.size} rows)")
      }
    }
    docsDf.unpersist()
  }

  /** Closed loop: each client takes the next query only after its
    * previous request returned; stops taking new ones at the deadline.
    * Returns the number of completed requests. */
  def runClients(qs: Array[Query], deadlineNs: Long)(
      f: (Query, Int) => Unit): Int = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < qs.length && System.nanoTime() < deadlineNs) {
          f(qs(i), i)
          done.incrementAndGet()
          i = next.getAndIncrement()
        }
      }, s"e2ebench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    done.get()
  }
}
