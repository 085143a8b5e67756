package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.pipeline.{Enrich, StandIn}

class StreamingEnrichSpec extends SparkSpec {
  import spark.implicits._

  private def post(uri: String, cid: String, text: String,
      extra: String = ""): String =
    s"""{"uri":"$uri","cid":"$cid","author":"a.test","text":"$text",
        "created_at":"2024-01-01T00:00:00Z"$extra}""".replaceAll("\n\\s*", "")

  test("end-to-end: stream of posts → enriched partitioned parquet") {
    val listener = new MetricsListener
    spark.streams.addListener(listener)
    val mem = MemoryStream[String](spark)
    val out = Files.createTempDirectory("senrich_out").toString
    val ckpt = Files.createTempDirectory("senrich_ckpt").toString
    mem.addData(
      post("at://1", "c1", "m m m museum join join join join stream"),
      post("at://2", "c2", "u u u unusual window window window window"),
      post("at://1", "c1", "m m m museum join join join join stream"), // dup (uri,cid)
      """{not valid json at all""", // poison pill
      post("at://3", "c3", ""))     // blank text → filtered
    val q = StreamingEnrich.runParquet(spark, mem.toDF(), ckpt, out,
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(60000)
    val written = spark.read.parquet(out)
    // dup dropped, poison dropped, blank dropped → 2 rows survive
    assert(written.count() == 2)
    // subject partitioning materialized as directories
    assert(written.columns.contains("sentiment") && written.columns.contains("top_topic"))
    val shape = written.select("uri", "sentiment_data.sentiment",
      "topics_data.top_topic", "processor").collect()
    assert(shape.forall(_.getString(3) == "graft-spark"))
    // observability: parse counted all 5, poison counted 1
    spark.streams.removeListener(listener)
    assert(listener.count("posts_processed_total") == 5)
    assert(listener.count("errors_json_parse_total") == 1)
  }

  test("text probe falls back to content/body when text is absent") {
    val mem = MemoryStream[String](spark)
    mem.addData(
      """{"uri":"at://c","cid":"x","content":"m m m join join join join","created_at":"2024-01-01T00:00:00Z"}""",
      """{"uri":"at://b","cid":"y","body":"u u u window window window window","created_at":"2024-01-01T00:00:00Z"}""")
    val df = StreamingEnrich.pipeline(mem.toDF())
    val q = df.writeStream.format("memory").queryName("probe_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("probe_out").select("uri", "top_topic").collect()
    assert(got.length == 2)
  }

  test("replayed batch does not duplicate output (idempotent dedup)") {
    val mem = MemoryStream[String](spark)
    // same (uri,cid) arriving in two separate micro-batches within the
    // watermark window → second occurrence dropped
    val df = StreamingEnrich.pipeline(mem.toDF())
    val q = df.writeStream.format("memory").queryName("replay_out")
      .outputMode("append").start()
    mem.addData(post("at://r", "rc", "m m m join join join join"))
    q.processAllAvailable()
    mem.addData(post("at://r", "rc", "m m m join join join join"))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("replay_out").count() == 1)
  }

  test("stream-static broadcast join decorates without shuffling the stream") {
    val mem = MemoryStream[String](spark)
    val dim = StreamingEnrich.topicCategories(spark)
    val df = StreamingEnrich.withTopicCategory(
      StreamingEnrich.pipeline(mem.toDF()), dim)
    val q = df.writeStream.format("memory").queryName("dim_out")
      .outputMode("append").start()
    mem.addData(post("at://d1", "dc1", "m m m museum join join join join"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("dim_out").select("top_topic", "category").collect()
    assert(got.length == 1)
    assert(got(0).getString(1) == got(0).getString(0).takeWhile(_ != '_'))
    // the equivalent batch plan broadcasts the dim — the stream side
    // must never shuffle for a dimension decoration
    val batchPlan = graft.pipeline.Enrich.enrichColumns(
        Seq((1L, "m m m join join join join")).toDF("doc_id", "text"))
      .join(broadcast(dim), Seq("top_topic"), "left")
      .queryExecution.executedPlan.toString
    assert(batchPlan.contains("BroadcastHashJoin"), batchPlan)
    assert(!batchPlan.contains("Exchange hashpartitioning"), batchPlan)
  }

  test("poison pills never fail the stream and are not emitted") {
    val mem = MemoryStream[String](spark)
    val df = StreamingEnrich.pipeline(mem.toDF())
    val q = df.writeStream.format("memory").queryName("poison_out")
      .outputMode("append").start()
    mem.addData("""{"broken""", "", "null", "[1,2,3]")
    q.processAllAvailable()
    mem.addData(post("at://ok", "okc", "m m m join join join join"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("poison_out").select("uri").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("at://ok"))
  }

  test("runNats() publishes the wire format through the JetStream-shaped sink") {
    import graft.sources.StubJetStream
    StubJetStream.drop("enriched-out")
    val mem = MemoryStream[String](spark)
    val ckpt = Files.createTempDirectory("senrich_nats_ckpt").toString
    mem.addData(
      post("at://1", "c1", "m m m museum join join join join stream"),
      post("at://1", "c1", "m m m museum join join join join stream"), // dup
      """{not valid json""")
    val q = StreamingEnrich.runNats(spark, mem.toDF(), ckpt, "enriched-out",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(60000)
    val stream = StubJetStream.info("enriched-out").get
    val msgs = stream.allMessages
    // dup skipped by the writer's sent-id window, poison dropped → 1 msg
    assert(msgs.map(_.msgId) == Seq("at://1:c1"), msgs.mkString(","))
    assert(stream.duplicateTotal.sum == 0L)
    assert(msgs.head.subject.startsWith("bluesky.enriched."), msgs.head.subject)
    assert(msgs.head.data.contains("\"uri\":\"at://1\""), msgs.head.data)
    assert(msgs.head.data.contains("\"processor\":\"graft-spark\""))
    // a replay of the same wire rows is absorbed by the sink's msg-id
    // window (effectively-once): same stream, fresh checkpoint
    val mem2 = MemoryStream[String](spark)
    mem2.addData(post("at://1", "c1", "m m m museum join join join join stream"))
    val ckpt2 = Files.createTempDirectory("senrich_nats_ckpt2").toString
    val q2 = StreamingEnrich.runNats(spark, mem2.toDF(), ckpt2, "enriched-out",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q2.awaitTermination(60000)
    assert(StubJetStream.info("enriched-out").get.allMessages.size == 1)
  }

  /** A stub-nats input stream `name-posts` read through two seq-range
    * partitions, and a fresh output stream `name-enriched` with a 60 s
    * duplicate window. */
  private def natsStreams(name: String) = {
    import graft.sources.StubJetStream
    Seq(s"$name-posts", s"$name-enriched").foreach(StubJetStream.drop)
    val in = StubJetStream.ensure(s"$name-posts", Seq("bluesky.posts.>"))
    val out = StubJetStream.ensure(s"$name-enriched",
      Seq("bluesky.enriched.>"), duplicateWindowMs = 60000L)
    val raw = spark.readStream.format("stub-nats")
      .option("stream", s"$name-posts").option("subject", "bluesky.posts.>")
      .option("numPartitions", "2").load()
    (in, out, raw)
  }

  test("runNats: the writer's sent-id window publishes each post once") {
    import graft.sources.{SentIds, StubJetStream}
    val (in, out, raw) = natsStreams("window")
    var now = 1000000L
    out.clock = () => now
    def pub(i: Int): Unit = in.publish("bluesky.posts.x",
      post(s"at://w$i", s"wc$i", "m m m museum join join join join stream"), null)
    def published(i: Int): Int = out.allMessages.count(_.msgId == s"at://w$i:wc$i")
    val ckpt = Files.createTempDirectory("senrich_window_ckpt").toString
    val listener = new MetricsListener
    spark.streams.addListener(listener)
    try {
      // one batch of six rows over two seq-range partitions, (0,3] and
      // (3,6]: post 1's copies at seq 1 and seq 6 are written by two
      // different tasks
      pub(1); (2 to 5).foreach(pub); pub(1)
      var q = StreamingEnrich.runNats(spark, raw, ckpt, "window-enriched")
      q.processAllAvailable()
      assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq == Seq(6L))
      assert((1 to 5).map(published) == Seq.fill(5)(1))
      assert(out.duplicateTotal.sum == 0L)
      // a later batch's copy of post 2 is skipped too
      pub(2); q.processAllAvailable()
      assert(published(2) == 1 && out.allMessages.size == 5)
      assert(SentIds.of(out).skipped.sum == 2L)
      // past the window the id is free again, at the writer and server
      now += 60000L
      pub(3); q.processAllAvailable()
      assert(published(3) == 2)
      // publish fails past maxRetries (3): the writer releases post 7's
      // reservation and the task fails the batch; the restarted query
      // replays the batch and publishes post 7 exactly once
      out.failNextPublishes = 4
      pub(7)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(published(7) == 0)
      q = StreamingEnrich.runNats(spark, raw, ckpt, "window-enriched")
      q.processAllAvailable()
      q.stop()
      assert(published(7) == 1)
      assert(out.timeoutTotal.sum == 4L)
      // no repeat ever reached the server; the skips surface as metrics
      assert(out.duplicateTotal.sum == 0L)
      assert(q.lastProgress.sink.metrics.get("skippedDuplicateRows") == "2")
      eventually(timeout(Span(10, Seconds))) {
        assert(listener.gauge("publish_duplicates_skipped_total") == 2L)
      }
    } finally {
      spark.streams.removeListener(listener)
      spark.streams.active.foreach(_.stop())
      StubJetStream.drop("window-posts")
      StubJetStream.drop("window-enriched")
    }
  }

  test("runNats: one stage, no state, and later epochs compile no code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
    import graft.sources.StubJetStream
    val (in, _, raw) = natsStreams("epochs")
    val q = StreamingEnrich.runNats(spark, raw,
      Files.createTempDirectory("senrich_epochs_ckpt").toString,
      "epochs-enriched")
    def epoch(i: Int): Unit = {
      (0 until 1 + i % 3).foreach(j => in.publish("bluesky.posts.x",
        post(s"at://e$i-$j", s"ec$i-$j", "u u u unusual window window window window"),
        null))
      q.processAllAvailable()
    }
    try {
      (1 to 2).foreach(epoch)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val batches = q.recentProgress.count(_.numInputRows > 0)
      (3 to 8).foreach(epoch)
      assert(q.recentProgress.count(_.numInputRows > 0) - batches == 6)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
        "an epoch compiled new code: a per-epoch literal reached codegen")
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assert(plan.collect { case e: Exchange => e }.isEmpty, plan.treeString)
      assert(plan.collect { case s: StateStoreWriter => s }.isEmpty, plan.treeString)
    } finally {
      q.stop()
      StubJetStream.drop("epochs-posts")
      StubJetStream.drop("epochs-enriched")
    }
  }

  /** ~200 posts over the marker alphabet: all three sentiments, gated
    * and ungated rows, blank texts, and every text-probe fallback. */
  private def tiePosts: Seq[String] = {
    val r = new java.util.SplittableRandom(20240101L)
    val frags = StandIn.SentimentMarkers.map(_.toString).toSeq ++
      StandIn.TopicMarkers ++ Seq("post", "the", "é", "漢", "🙂", " ", "\\t")
    def text(): String = Seq.fill(r.nextInt(40))(frags(r.nextInt(frags.length)))
      .mkString(" ")
    (0 until 200).map { i =>
      val t = text()
      val field = i % 10 match {
        case 0 => s""""text":"   ","content":"$t""""
        case 1 => s""""record":{"text":"$t"}"""
        case 2 => s""""content":"$t""""
        case 3 => s""""text":"","body":"$t""""
        case 4 => s""""message":"$t""""
        case 5 if i % 20 == 5 => """"text":"  """"
        case _ => s""""text":"$t""""
      }
      s"""{"uri":"at://tie$i","cid":"c$i","author":"a","created_at":"2024-01-01T00:00:00Z",$field}"""
    } :+ """{"uri":"at://tie-bad""""
  }

  test("stream path is bit-identical to the Column path, one classifier call per row") {
    val posts = tiePosts
    val timers = Enrich.StageTimers(spark)
    val mem = MemoryStream[String](spark)
    val q = StreamingEnrich.pipeline(mem.toDF(), Some(timers))
      .writeStream.format("memory").queryName("tie_out")
      .outputMode("append").start()
    posts.grouped(70).foreach { b => mem.addData(b); q.processAllAvailable() }
    // the executed per-epoch plan holds the classifier exactly once
    val lastPlan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.optimizedPlan
    val calls = lastPlan.collect { case op =>
      op.expressions.map(_.collect {
        case u: ScalaUDF if u.udfName.contains("classify") => u }.size).sum }.sum
    q.stop()
    assert(calls == 1, lastPlan.treeString)

    val fields = Seq("sentiment", "confidence", "p_negative", "p_neutral",
      "p_positive", "topics", "top_topic", "top_confidence", "subject")
    def byUri(df: org.apache.spark.sql.DataFrame) =
      df.select("uri", fields: _*).collect()
        .map(r => r.getString(0) -> r.toSeq.tail).toMap
    val valid = StreamingEnrich.parse(posts.toDF("value"))
      .filter(col("_corrupt").isNull)
    // the Column path's columns, types and nullability, in its order
    val colSchema = Enrich.enrichColumns(valid).schema.fields.toSeq
    assert(StreamingEnrich.enrich(StreamingEnrich.parse(mem.toDF()))
      .schema.fields.toSeq.take(colSchema.length) == colSchema)
    val want = byUri(Enrich.enrichColumns(valid))
    val got = byUri(spark.table("tie_out"))
    assert(got.keySet == want.keySet)
    assert(want.values.map(_.head).toSet == StandIn.SentimentLabels.toSet)
    want.foreach { case (uri, w) =>
      got(uri).zip(w).foreach {
        case (g: Double, e: Double) =>
          assert(java.lang.Double.doubleToRawLongBits(g) ==
            java.lang.Double.doubleToRawLongBits(e), s"$uri: $g vs $e")
        case (g, e) => assert(g == e, uri)
      }
    }
    // once per row: sentiment on every non-blank valid post, topics and
    // the row counter on every gated one, no more
    val nonBlank = valid.filter(length(trim(Enrich.extractText(valid))) > 0)
      .count()
    assert(want.size > 50 && want.size < nonBlank)
    assert(timers.sentimentNs.count == nonBlank)
    assert(timers.topicNs.count == want.size)
    assert(timers.rows.value == want.size)
  }

  test("per-epoch plan stays small: the enrichment tree is not inlined") {
    val mem = MemoryStream[String](spark)
    val analyzed = StreamingEnrich.wireFormat(
      StreamingEnrich.pipeline(mem.toDF())).queryExecution.analyzed
    var n = 0
    analyzed.foreach(_.expressions.foreach(_.foreach(_ => n += 1)))
    // 1,357 nodes when the Column tree was inlined; 294 with one call
    assert(n <= 450, s"$n expression nodes:\n${analyzed.treeString}")
  }
}
