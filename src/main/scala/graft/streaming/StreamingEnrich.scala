package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.pipeline.Enrich

/** The reference's streaming pipeline under Structured Streaming
  * (SURVEY.md §2.1/§2.5): message stream → JSON parse with poison-pill
  * tolerance → enrichment → idempotent dedup → subject-partitioned sink.
  *
  * Source/sink are abstract: any (value: string) stream works —
  * MemoryStream in tests, file/rate sources in dev, a NATS DataSource
  * V2 connector where a client jar exists (SURVEY.md §7 step 6; the
  * consumer's max_ack_pending=100 maps to maxOffsetsPerTrigger /
  * maxFilesPerTrigger, its queue-group load balancing to Spark's
  * task scheduling).
  *
  * Delivery semantics (§2.5): checkpointed offsets give at-least-once
  * replay (T1). [[runNats]] keeps no dedup state: each micro-batch is
  * stateless and publishes with `Nats-Msg-Id = uri:cid`, where the
  * sink writer's sent-id window (one per output stream, spanning the
  * stream's 600 s `duplicate_window`) skips an id it already published
  * and the JetStream window stores a cross-restart repeat once (T2/S6,
  * nats_client.py:99,246-260), as in the reference. [[pipeline]] keeps
  * `dropDuplicatesWithinWatermark` on (uri, cid) for sinks without such
  * a window ([[runParquet]]). Malformed JSON lands in `_corrupt`, is
  * counted via `observe`, and never fails the stream (T8 poison pills).
  *
  * Trigger: [[runNats]] starts micro-batches on a fixed
  * [[BatchInterval]] grid (250 ms, four per second), and a batch that
  * overruns its slot is followed at once. A post waits for the next
  * slot, not for a 1 s tick; a backlog drains one `maxAckPending` batch
  * per slot, so its drain time is set by the grid and the last batch,
  * not by the sum of every batch's fork-bound checkpoint writes (with
  * `ProcessingTime(0)` a 500-post burst drained in 0.8-1.7 s from run
  * to run). A batch is one stage and compiles no new code:
  * `processed_at` is a per-row wall clock, not `current_timestamp()`,
  * whose per-epoch literal made whole-stage codegen compile fresh code
  * every batch.
  *
  * Enrichment path: every entry point here ([[pipeline]], [[runNats]],
  * [[runParquet]], and `AuthorStats` over [[enrich]]) classifies a post
  * with the compiled per-row call ([[Enrich.classifyCall]]), not the
  * Column tree the batch rows use. A batch query plans and codegens
  * its tree once; a stream re-plans and re-codegens the whole plan on
  * every micro-batch, so the stream keeps its per-epoch plan small and
  * puts the model behind one call.
  */
object StreamingEnrich {

  /** Superset probe schema: the declared RawPost fields plus every
    * alternate text field the reference probes (service.py:152-172),
    * plus the corrupt-record column. Unknown fields of the original
    * JSON survive via the retained raw `value` (P5 passthrough). */
  val PostSchema: StructType = StructType(Seq(
    StructField("uri", StringType),
    StructField("cid", StringType),
    StructField("author", StringType),
    StructField("text", StringType),
    StructField("created_at", StringType),
    StructField("record", StructType(Seq(StructField("text", StringType)))),
    StructField("content", StringType),
    StructField("body", StringType),
    StructField("message", StringType),
    StructField("_corrupt", StringType)))

  val DedupWindow = "600 seconds" // reference duplicate_window (config.py:27)
  val Processor = "graft-spark"

  /** [[runNats]]'s default micro-batch grid. Longer than a 100-row
    * batch takes on 4 cores (~150-200 ms), so batches keep the grid;
    * a divisor of 1 s, so every whole second is a slot boundary. */
  val BatchInterval: Trigger = Trigger.ProcessingTime(250L)

  /** Epoch seconds read per row when the row is processed, as the
    * reference stamps `processed_at` (`time.time()`, nats_client.py:231).
    * Nondeterministic, so never folded: `current_timestamp()` becomes a
    * new literal in every epoch, and the generated code with it. */
  private val wallClock =
    udf(() => System.currentTimeMillis() / 1000.0)
      .asNondeterministic().asNonNullable().withName("wall_clock")

  /** Parse a (value: string) stream; malformed JSON → `_corrupt`. */
  def parse(raw: DataFrame, valueCol: String = "value"): DataFrame =
    raw.withColumn("js", from_json(col(valueCol), PostSchema,
        Map("columnNameOfCorruptRecord" -> "_corrupt")))
      .select(col(valueCol).as("raw_value"), col("js.*"))
      // observability (A1/A4): parse totals + poison count surface per
      // micro-batch through StreamingQueryProgress.observedMetrics
      .observe("graft_parse",
        count(lit(1)).as("rows_total"),
        sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("poison_total"))

  /** Enrichment + EnrichedPost shape (types.py:36-41): nested sentiment
    * / topics structs, processed_at epoch seconds, processor tag.
    *
    * Each valid post is classified by ONE compiled call
    * ([[Enrich.classifyCall]], unnested by `inline`), not by the
    * inlined [[Enrich.enrichColumns]] tree: every micro-batch gets a
    * fresh IncrementalExecution that re-optimizes and re-codegens the
    * whole plan, and the Column tree made that ~1,350 expression nodes
    * per epoch for batches of a few dozen posts. Output columns, types
    * and values are the Column path's (StreamingEnrichSpec pins all
    * three). `timers`, when given, count the classifier's calls and
    * time its two models. */
  def enrich(parsed: DataFrame,
      timers: Option[Enrich.StageTimers] = None): DataFrame = {
    val valid = parsed.filter(col("_corrupt").isNull)
    valid.select(col("*"),
        inline(Enrich.classifyCall(Enrich.extractText(valid), timers)))
      .withColumn("sentiment_data", struct(
        col("sentiment").as("sentiment"),
        col("confidence").as("confidence"),
        struct(col("p_negative").as("negative"),
          col("p_neutral").as("neutral"),
          col("p_positive").as("positive")).as("probabilities")))
      .withColumn("topics_data", struct(
        col("topics").as("topics"),
        col("top_topic").as("top_topic"),
        col("top_confidence").as("top_confidence")))
      .withColumn("processed_at", wallClock())
      .withColumn("processor", lit(Processor))
  }

  /** Full pipeline: parse → enrich → event-time watermark + idempotent
    * (uri, cid) dedup within the reference's 600s window. */
  def pipeline(raw: DataFrame,
      timers: Option[Enrich.StageTimers] = None): DataFrame =
    enrich(parse(raw), timers)
      .withColumn("event_ts", to_timestamp(col("created_at")))
      .withWatermark("event_ts", DedupWindow)
      .dropDuplicatesWithinWatermark("uri", "cid")

  /** Stream-static broadcast join (SURVEY.md §2.6's idiomatic
    * extension): decorate the enriched stream with a static dimension
    * keyed on top_topic. The dim is broadcast to every task — the
    * stream side stays narrow (no shuffle, no state), so this costs
    * the same at 100 TB/day as at test scale. Left join: an unmapped
    * topic must not drop the post. */
  def withTopicCategory(enriched: DataFrame, topicDim: DataFrame): DataFrame =
    enriched.join(broadcast(topicDim), Seq("top_topic"), "left")

  /** Canonical static dim for [[withTopicCategory]]: tweet-topic-21
    * labels → coarse category (the label's leading word, e.g.
    * "arts_&_culture" → "arts"). */
  def topicCategories(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.pipeline.StandIn.TopicLabels.toSeq
      .map(l => (l, l.takeWhile(_ != '_')))
      .toDF("top_topic", "category")
  }

  /** Wire projection (F12, nats_client.py:235-253): the exact rows the
    * JetStream sink publishes — routing `subject` (P6), compact-JSON
    * `value` carrying the EnrichedPost shape, and the `uri:cid`
    * idempotency key the sink sends as the Nats-Msg-Id analog. */
  def wireFormat(enriched: DataFrame): DataFrame =
    enriched.select(
      col("subject"),
      to_json(struct(col("uri"), col("cid"), col("sentiment_data"),
        col("topics_data"), col("processed_at"), col("processor")))
        .as("value"),
      concat_ws(":", col("uri"), col("cid")).as("msg_id"))

  /** Production entry point: parse → enrich → publish to the
    * JetStream-shaped sink (NatsWriteBuilder) with per-row subject
    * routing, retry/backoff and the msg-id dedup window — the full
    * reference loop (service.py main loop + nats_client publish). Each
    * micro-batch is stateless and starts on the [[BatchInterval]] grid;
    * the sink's msg-id window, not a state store, drops repeats. The
    * `format` is the connector's DataSourceRegister short name:
    * "stub-nats" here, a real client-backed provider under the same
    * contract in a deployment with the NATS jar. */
  def runNats(spark: SparkSession, raw: DataFrame, checkpointDir: String,
      outStream: String,
      trigger: Trigger = BatchInterval,
      format: String = "stub-nats"): StreamingQuery =
    wireFormat(enrich(parse(raw))).writeStream
      .format(format)
      .option("stream", outStream)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Dev/warehouse sink: subject-partitioned parquet, checkpointed.
    * partitionBy(sentiment, top_topic) is the filesystem equivalent of
    * the reference's `bluesky.enriched.{sentiment}.{top_topic}`
    * subject routing (nats_client.py:237-240). */
  def runParquet(spark: SparkSession, raw: DataFrame, checkpointDir: String,
      outDir: String, trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    pipeline(raw).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append")
          .partitionBy("sentiment", "top_topic")
          .parquet(outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
