package e2ebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.pipeline.{Enrich, StandIn}
import graft.sources.StubJetStream
import graft.streaming.StreamingEnrich

/** stream_enrich: posts go through `StreamingEnrich.runNats` (parse,
  * enrich, (uri, cid) dedup, subject-routed sink) between two stub
  * JetStream streams, all with the entry point's defaults: the 1 s
  * processing-time trigger and the connector's `maxAckPending` of 100.
  *
  * An open loop from one generator thread: a steady phase at a fixed
  * rate, timed from each post's due time, then a burst published all at
  * once and timed until the consumer's backlog is empty and every
  * expected output is published. About 5% of posts are redelivered with
  * the same (uri, cid) a few seconds later; about 1% are malformed
  * JSON. */
object StreamEnrich {
  val Rate = 30.0 // posts/s, the middle of the reference's per-pod band
  val Burst = 500 // the reference's autoscaling catch-up backlog per pod
  val WarmBurst = 100
  val WarmSteadyS = 4
  val RedeliverShare = 0.05
  val PoisonShare = 0.01
  val RedeliverDelayMs = 3000.0
  val DrainTimeoutMs = 90000L
  val In = "e2ebench-posts"
  val Out = "e2ebench-enriched"
  val Consumer = "e2ebench"
  val InSubject = "bluesky.posts.>"

  final case class Post(uri: String, cid: String, text: String,
      json: String, poison: Boolean)
  final case class Send(dueMs: Double, post: Post, redelivery: Boolean)

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    }

  /** `n` posts of one phase from the corpus texts, in seeded order;
    * `created_at` is filled in with the due time at send. */
  def posts(phase: String, seed: Long, texts: Array[String],
      n: Int): Array[Post] = {
    val r = new java.util.SplittableRandom(seed * 31L + phase.hashCode)
    Array.tabulate(n) { i =>
      val uri = s"at://did:plc:e2eb$seed/app.bsky.feed.post/$phase-$i"
      val cid = s"bafy$phase$i"
      val text = texts(r.nextInt(texts.length))
      val poison = r.nextDouble() < PoisonShare
      val json =
        if (poison) s"""{"uri": "$uri", "cid": "$cid", "text": "${esc(text)}"""
        else s"""{"uri":"$uri","cid":"$cid","author":"user${i % 97}.bsky.social","text":"${esc(text)}","created_at":"%s"}"""
      Post(uri, cid, text, json, poison)
    }
  }

  /** Sends at `rate` posts/s from offset 0 (or all at offset 0 when
    * `rate` is infinite); about 5% of valid posts are sent again
    * `delayMs` later with the same (uri, cid). */
  def schedule(ps: Array[Post], rate: Double, seed: Long,
      delayMs: Double): Array[Send] = {
    val r = new java.util.SplittableRandom(seed * 17L + ps.length)
    val first = ps.zipWithIndex.map { case (p, i) =>
      Send(if (rate.isInfinite) 0.0 else i * 1000.0 / rate, p, false) }
    val again = first.filter(s => !s.post.poison &&
        r.nextDouble() < RedeliverShare)
      .map(s => s.copy(dueMs = s.dueMs + delayMs, redelivery = true))
    (first ++ again).sortBy(_.dueMs)
  }

  /** The posts the pipeline must publish, keyed by `uri:cid`, with the
    * subject each must be routed to: valid JSON, non-blank text, a
    * sentiment confidence of at least the gate, first with its key. */
  def expected(sends: Seq[Send]): Map[String, String] = {
    val seen = mutable.LinkedHashMap[String, String]()
    sends.foreach { s =>
      val p = s.post
      val key = s"${p.uri}:${p.cid}"
      if (!p.poison && p.text.trim.nonEmpty && !seen.contains(key)) {
        val (sent, conf, _) = StandIn.sentiment(p.text)
        if (conf >= StandIn.SentimentThreshold)
          seen(key) = s"bluesky.enriched.$sent.${StandIn.topics(p.text)._2}"
        else seen(key) = null
      }
    }
    seen.collect { case (k, v) if v != null => k -> v }.toMap
  }

  def run(spark: SparkSession, a: Main.Args, rec: Recorder, t0: Long): Unit = {
    val texts = Corpus.docs(a.seed, a.docs).map(_.text)
    StubJetStream.drop(In)
    StubJetStream.drop(Out)
    val in = StubJetStream.ensure(In, Seq(InSubject))
    val out = StubJetStream.ensure(Out, Seq("bluesky.enriched.>"))
    @volatile var phase = "warm"
    val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val st = p.stateOperators.headOption
        val parse = Option(p.observedMetrics.get("graft_parse"))
        progress.add(Map(
          "phase" -> phase,
          "batch" -> p.batchId,
          "rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
            k -> v.longValue }.toMap,
          "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
          "state_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
          "state_update_ms" -> st.map(_.allUpdatesTimeMs).getOrElse(0L),
          "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
          "num_pending" -> p.sources.headOption
            .flatMap(s => Option(s.metrics.get("numPending")))
            .map(_.toLong).getOrElse(0L),
          "poison" -> parse.map(_.getAs[Long]("poison_total")).getOrElse(0L),
          "parsed" -> parse.map(_.getAs[Long]("rows_total")).getOrElse(0L)))
      }
    }
    if (rec.trace) spark.streams.addListener(listener)

    val raw = spark.readStream.format("stub-nats")
      .option("stream", In).option("subject", InSubject)
      .option("consumer", Consumer).load()
    val ckpt = new java.io.File(a.work, "checkpoint").getAbsolutePath
    val query = rec.span("setup.start_query") {
      StreamingEnrich.runNats(spark, raw, ckpt, Out)
    }
    val allSends = mutable.ArrayBuffer[Send]()
    val dueEpoch = mutable.HashMap[String, Double]() // steady key -> due
    val lateMs = mutable.ArrayBuffer[Double]()

    /** The generator: publishes each send at its due time (epoch ms =
      * `startEpoch` + offset); records lateness and publish cost. */
    def generate(sends: Array[Send], timed: Boolean): Unit = {
      val startEpoch = System.currentTimeMillis().toDouble + 50.0
      val startNs = System.nanoTime() + 50000000L
      sends.foreach { s =>
        val due = startEpoch + s.dueMs
        val wakeNs = startNs + (s.dueMs * 1e6).toLong
        var now = System.nanoTime()
        while (now < wakeNs) {
          LockSupport.parkNanos(wakeNs - now)
          now = System.nanoTime()
        }
        val sendMs = startEpoch + (now - startNs) / 1e6
        val json =
          if (s.post.poison) s.post.json
          else s.post.json.replace("%s",
            java.time.Instant.ofEpochMilli(
              (startEpoch + s.dueMs - (if (s.redelivery) RedeliverDelayMs
                else 0.0)).toLong).toString)
        val p0 = System.nanoTime()
        rec.span("sources.publish") {
          in.publish(s"bluesky.posts.${s.post.cid}", json, null)
        }
        if (timed) {
          rec.sample("generator.publish_us", (System.nanoTime() - p0) / 1e3)
          lateMs += sendMs - due
        }
        if (!s.redelivery && timed)
          dueEpoch(s"${s.post.uri}:${s.post.cid}") = due
      }
    }

    def outputs: Map[String, graft.sources.StubMsg] =
      out.allMessages.map(m => m.msgId -> m).toMap

    /** Waits until the query has consumed the whole input stream (its
      * source offset reached the stream's last sequence, so the
      * consumer's `numPending` is 0) and every expected key is
      * published; returns the epoch ms it saw that, or -1. */
    def drain(keys: Iterable[String]): Double = {
      val deadline = System.currentTimeMillis() + DrainTimeoutMs
      val target = in.lastSeq
      var missing = keys.toSet
      while (System.currentTimeMillis() < deadline) {
        val now = System.currentTimeMillis().toDouble
        val consumed = Option(query.lastProgress)
          .flatMap(_.sources.headOption).flatMap(s => Option(s.endOffset))
          .map(_.trim.toLong).getOrElse(0L)
        if (consumed >= target) {
          val have = out.allMessages.iterator.map(_.msgId).toSet
          missing = missing.filterNot(have)
          if (missing.isEmpty) return now
        }
        Thread.sleep(5)
      }
      System.err.println(s"[e2ebench] drain timed out: ${missing.size} " +
        s"expected outputs missing, input at $target")
      -1.0
    }

    // ---- warm-up (set-up): a burst, then a short steady run ----------
    val tw = System.nanoTime()
    rec.span("setup.warmup") {
      val wb = schedule(posts("wb", a.seed, texts, WarmBurst),
        Double.PositiveInfinity, a.seed, 0.0)
      val ws = schedule(posts("ws", a.seed, texts, (WarmSteadyS * Rate).toInt),
        Rate, a.seed, RedeliverDelayMs)
      Seq(wb, ws).foreach { sends =>
        allSends ++= sends
        generate(sends, timed = false)
        drain(expected(sends).keys)
      }
    }
    rec.put("warmup_s", (System.nanoTime() - tw) / 1e9)
    rec.put("setup_s", (System.nanoTime() - t0) / 1e9)

    // ---- steady phase -------------------------------------------------
    phase = "steady"
    val steady = schedule(posts("st", a.seed, texts, (a.seconds * Rate).toInt),
      Rate, a.seed, RedeliverDelayMs)
    allSends ++= steady
    rec.span("phase.steady")(generate(steady, timed = true))
    val steadyKeys = expected(steady).keys
    drain(steadyKeys)
    val outNow = outputs
    rec.put("steady_pairs", steadyKeys.toSeq.sorted.flatMap(k =>
      outNow.get(k).map(m => Seq(dueEpoch(k), m.publishedAtMs.toDouble))))
    rec.put("generator.late_ms", lateMs.toSeq)

    // ---- burst phase --------------------------------------------------
    phase = "burst"
    val burst = schedule(posts("bu", a.seed, texts, Burst),
      Double.PositiveInfinity, a.seed, 0.0)
    allSends ++= burst
    // Start the burst 200 ms before a trigger boundary. An idle
    // processing-time trigger fires on multiples of its interval (1 s,
    // the runNats default), so the drain carries a fixed pickup wait
    // instead of a random one of up to a second.
    val now = System.currentTimeMillis()
    Thread.sleep((now / 1000 + 2) * 1000 - 200 - now)
    val burstStart = System.currentTimeMillis().toDouble
    rec.span("phase.burst") {
      generate(burst, timed = false)
      val end = drain(expected(burst).keys)
      if (end < 0) rec.fail("the burst did not drain")
      else {
        rec.put("burst_drain_s", (end - burstStart) / 1000.0)
        rec.put("throughput_per_s", burst.length / ((end - burstStart) / 1000.0))
      }
    }
    phase = "done"
    query.stop()
    query.awaitTermination()
    if (rec.trace) spark.streams.removeListener(listener)

    // ---- output checks: every expected post exactly once, routed to
    //      its subject; nothing else published ---------------------------
    val timedSends = steady ++ burst
    rec.attempted.add(timedSends.length)
    val expectAll = expected(allSends.toSeq)
    val stored = out.allMessages
    val byKey = stored.groupBy(_.msgId)
    timedSends.map(_.post).distinctBy(p => s"${p.uri}:${p.cid}").foreach { p =>
      val key = s"${p.uri}:${p.cid}"
      val got = byKey.getOrElse(key, Nil)
      expectAll.get(key) match {
        case Some(subject) =>
          if (got.size != 1) rec.fail(s"$key published ${got.size} times")
          else if (got.head.subject != subject)
            rec.fail(s"$key routed to ${got.head.subject}, expected $subject")
        case None =>
          if (got.nonEmpty) rec.fail(s"$key published but not expected")
      }
    }
    val sentKeys = allSends.map(s => s"${s.post.uri}:${s.post.cid}").toSet
    val stray = stored.count(m => !sentKeys(m.msgId))
    if (stray > 0) rec.fail(s"$stray published messages match no sent post")
    val dups = out.duplicateTotal.sum
    if (dups > 0) rec.fail(s"sink saw $dups duplicate publishes")
    rec.put("sinks.published", out.publishedTotal.sum)
    rec.put("sinks.duplicates", dups)
    rec.put("sinks.publish_timeouts", out.timeoutTotal.sum)
    rec.put("expected_outputs", expectAll.size)
    rec.put("valid_posts", allSends.filter(s => !s.post.poison && !s.redelivery)
      .map(_.post.uri).distinct.size)

    if (rec.trace) {
      rec.put("progress", progress.asScala.toSeq)
      // sources: one batch's fetch at the stream length reached by now
      val last = in.lastSeq
      val fr = new java.util.SplittableRandom(a.seed)
      (0 until 200).foreach { _ =>
        val lo = fr.nextLong(math.max(1L, last - 100))
        val f0 = System.nanoTime()
        rec.span("sources.fetch")(in.fetch(lo, lo + 100, InSubject))
        rec.sample("sources.fetch_us", (System.nanoTime() - f0) / 1e3)
      }
      // pipeline: the per-model timers over the run's valid posts
      import spark.implicits._
      val valid = allSends.filter(s => !s.post.poison && !s.redelivery)
        .map(_.post.text).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val timers = Enrich.StageTimers(spark)
      rec.span("pipeline.enrichTyped") {
        Tags.withOp(spark, "enrich-timers") {
          Enrich.enrichTyped(spark, valid.toSeq.toDF("doc_id", "text"),
            Some(timers)).count()
        }
      }
      rec.put("pipeline.sentiment_ns_per_row",
        timers.sentimentNs.value.toDouble / math.max(1, valid.size))
      rec.put("pipeline.topic_ns_per_row",
        timers.topicNs.value.toDouble / math.max(1L, timers.rows.value))
    }
    StubJetStream.drop(In)
    StubJetStream.drop(Out)
  }
}
