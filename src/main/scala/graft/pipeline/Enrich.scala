package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's enrichment DAG, re-expressed as declarative Spark
  * columns (SURVEY.md §2 operator rows P1-P6, F1-F12):
  *
  *   text-extract (coalesce) → blank-filter → sentiment → confidence
  *   gate (≥0.4) → topic (multi-label ≥0.5 + top-1 + union fix-up) →
  *   enrich projection → subject routing
  *
  * Two equivalent physical paths, chosen by how often the caller's
  * plan is built:
  *  - [[enrichColumns]]: pure built-in Column expressions, one
  *    WholeStageCodegen span with no shuffle. The batch rows (e01,
  *    e03-e08) use it: a batch query is planned and code-generated
  *    once, so the ~1,300-node expression tree is paid once per query
  *    and the oracle SQL mirrors it node for node.
  *  - [[classify]]: the same DAG as one compiled Scala call per text.
  *    [[enrichTyped]] runs it in `mapPartitions` (e02, the deployment
  *    shape of a real ONNX session), and the stream
  *    (`StreamingEnrich.enrich`) runs it through [[classifyCall]],
  *    because Structured Streaming re-optimizes and re-codegens the
  *    whole plan every micro-batch: one call node costs that per-epoch
  *    re-planning nothing, where the inlined Column tree made it the
  *    largest share of a small batch.
  *  Both paths are bit-identical (EnrichSpec, StreamingEnrichSpec).
  */
object Enrich {
  import StandIn._

  /** P1: first non-blank of the candidate text fields that exist in the
    * schema (reference probes text, record.text, content, body, message
    * — service.py:152-172). */
  def extractText(df: DataFrame): Column = {
    val fields = df.schema.fieldNames.toSet
    val candidates = Seq(
      Some(col("text")).filter(_ => fields("text")),
      Some(col("record.text")).filter(_ => fields("record")),
      Some(col("content")).filter(_ => fields("content")),
      Some(col("body")).filter(_ => fields("body")),
      Some(col("message")).filter(_ => fields("message"))).flatten
    val nonBlank = candidates.map(c => when(length(trim(c)) > 0, c))
    coalesce(nonBlank :+ lit(""): _*)
  }

  /** Occurrence counts via the non-regex `replace` built-in (plain
    * UTF8String substring removal, codegen'd) — the regexp_replace
    * variant compiled a Pattern per marker and blew the e04/e05 bench
    * up ~30× (round-1 verdict item 1). `replace` removes non-overlapping
    * occurrences left-to-right, identical to the indexOf loop in
    * [[StandIn.countSub]] and to DuckDB's replace(). */
  private def countChar(t: Column, c: Char): Column =
    length(t) - length(replace(t, lit(c.toString), lit("")))

  private def countSub(t: Column, m: String): Column =
    (length(t) - length(replace(t, lit(m), lit("")))).divide(lit(m.length)).cast("long")

  /** Full enrichment over a frame with columns (doc_id, text…); returns
    * the gated, enriched projection. Column names double as the oracle
    * SQL's names. */
  def enrichColumns(docs: DataFrame): DataFrame = {
    val txt = extractText(docs)
    val base = docs
      .withColumn("etext", txt)
      .filter(length(trim(col("etext"))) > 0) // P2 blank filter

    // F2-F5 sentiment: weights = 1 + marker-char count, rational probs
    val w = SentimentMarkers.indices.map(i =>
      (lit(1) + countChar(col("etext"), SentimentMarkers(i))).as(s"w$i"))
    val withW = base.select(col("*") +: w: _*)
    val tot = (col("w0") + col("w1") + col("w2")).cast("double")
    val sentiment =
      when(col("w0") >= col("w1") && col("w0") >= col("w2"), SentimentLabels(0))
        .when(col("w1") >= col("w2"), SentimentLabels(1))
        .otherwise(SentimentLabels(2))
    val withSent = withW
      .withColumn("sentiment", sentiment)
      .withColumn("confidence", greatest(col("w0"), col("w1"), col("w2")) / tot)
      .withColumn("p_negative", col("w0") / tot)
      .withColumn("p_neutral", col("w1") / tot)
      .withColumn("p_positive", col("w2") / tot)
      // P3: the gate sits BEFORE topic columns so a costly topic model
      // never runs on sub-threshold rows (plan-order parity, SURVEY §4)
      .filter(col("confidence") >= lit(SentimentThreshold))

    // F6-F11 topics
    val cnts = TopicMarkers.indices.map(i =>
      countSub(col("etext"), TopicMarkers(i)).as(s"c$i"))
    val withC = withSent.select(col("*") +: cnts: _*)
    val g = greatest(TopicMarkers.indices.map(i => col(s"c$i")): _*)
    // concat of conditional singleton arrays, NOT filter(array(...), _):
    // the higher-order-function lambda is a codegen barrier that split
    // the DAG into interpreted row-at-a-time eval between two codegen
    // stages (caught by EnrichSpec's no-fallback plan assertion)
    val selected = concat(TopicLabels.indices.map(i =>
      when(col(s"c$i") >= TopicK, array(lit(TopicLabels(i))))
        .otherwise(lit(Array.empty[String]))): _*)
    val top = TopicLabels.indices.tail.foldLeft(
      when(col("c0") === col("g"), TopicLabels(0))) { (acc, i) =>
        acc.when(col(s"c$i") === col("g"), TopicLabels(i))
    }
    withC
      .withColumn("g", g)
      .withColumn("top_topic", top)
      .withColumn("top_confidence", col("g") / (col("g") + lit(TopicK)).cast("double"))
      .withColumn("sel", selected)
      // F11: top_topic always ∈ topics, even below threshold
      .withColumn("topics",
        when(array_contains(col("sel"), col("top_topic")), col("sel"))
          .otherwise(concat(col("sel"), array(col("top_topic")))))
      // P4: topic-non-null gate (service.py:123-127). In the reference
      // the classifier returns None only for blank text, which the P2
      // blank filter has already removed — so P4 is subsumed, exactly
      // as in the reference's own flow. It is deliberately NOT spelled
      // `filter($"topics".isNotNull)`: PushDownPredicates substitutes
      // the whole topic expression tree into a pre-projection Filter
      // and NullPropagation then expands `CASE ... IS NOT NULL`, which
      // measured 823 duplicated replace() calls in one Filter node
      // (186 KB plan, ~4 s fixed cost per e04/e05 run, and ~40 extra
      // full-text scans per row at scale). EnrichSpec asserts the
      // non-null invariant and the plan-size budget instead.
      .withColumn("topics_str", array_join(col("topics"), ","))
      // P6 subject routing
      .withColumn("subject",
        concat_ws(".", lit("bluesky.enriched"), col("sentiment"), col("top_topic")))
      .drop("g" +: "sel" +: "etext" +:
        (SentimentMarkers.indices.map(i => s"w$i") ++
         TopicMarkers.indices.map(i => s"c$i")): _*)
  }

  /** Flat output row of the typed path (mirrors EnrichedPost minus the
    * wall-clock processed_at, types.py:36-41). */
  final case class EnrichedDoc(
      doc_id: Long, sentiment: String, confidence: Double,
      p_negative: Double, p_neutral: Double, p_positive: Double,
      topics_str: String, top_topic: String, top_confidence: Double,
      subject: String)

  /** A6 per-model latency: distributed accumulators timing each
    * inference stage inside the typed path (reference metrics.py:48-59,
    * labels `sentiment`/`topic`). Batch durations (per-post analog)
    * come from StreamingQueryProgress already. */
  final case class StageTimers(
      sentimentNs: org.apache.spark.util.LongAccumulator,
      topicNs: org.apache.spark.util.LongAccumulator,
      rows: org.apache.spark.util.LongAccumulator)
  object StageTimers {
    def apply(spark: SparkSession): StageTimers = StageTimers(
      spark.sparkContext.longAccumulator("graft.sentiment_ns"),
      spark.sparkContext.longAccumulator("graft.topic_ns"),
      spark.sparkContext.longAccumulator("graft.enriched_rows"))
  }

  /** One text's enrichment: the columns [[enrichColumns]] adds, in its
    * order, minus the `topics_str` and `subject` derived from them. */
  final case class Classified(sentiment: String, confidence: Double,
      probs: Array[Double], topTopic: String, topConfidence: Double,
      topics: Seq[String]) {
    def topicsStr: String = topics.mkString(",")
    def subject: String = s"bluesky.enriched.$sentiment.$topTopic"
  }

  /** The per-text classifier both per-row callers share: P2 blank
    * filter, sentiment, the P3 confidence gate, then topics. None for a
    * blank or sub-threshold text. Blank means what `length(trim(t)) > 0`
    * rejects in the Column path: only spaces (Spark's `trim` strips
    * ASCII 32 alone). */
  def classify(text: String,
      timers: Option[StageTimers] = None): Option[Classified] =
    if (text == null || text.forall(_ == ' ')) None
    else {
      val t0 = if (timers.isDefined) System.nanoTime() else 0L
      val (lab, conf, probs) = StandIn.sentiment(text)
      timers.foreach(_.sentimentNs.add(System.nanoTime() - t0))
      if (conf < SentimentThreshold) None
      else {
        val t1 = if (timers.isDefined) System.nanoTime() else 0L
        val (tops, top, tconf) = StandIn.topics(text)
        timers.foreach { t =>
          t.topicNs.add(System.nanoTime() - t1)
          t.rows.add(1)
        }
        Some(Classified(lab, conf, probs, top, tconf, tops))
      }
    }

  /** The mapPartitions deployment shape: batched, per-executor pure
    * model, no shuffle. Bit-identical to [[enrichColumns]]. */
  def enrichTyped(spark: SparkSession, docs: DataFrame,
      timers: Option[StageTimers] = None): Dataset[EnrichedDoc] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.grouped(64).flatMap { batch => // batch like a real ONNX session would
          batch.flatMap { case (id, text) =>
            classify(text, timers).map(c => EnrichedDoc(id, c.sentiment,
              c.confidence, c.probs(0), c.probs(1), c.probs(2), c.topicsStr,
              c.topTopic, c.topConfidence, c.subject))
          }
        }
      }
  }

  /** The columns [[enrichColumns]] adds, with its names, types and
    * nullability, as the element of [[classifyCall]]'s array. */
  private val ClassifiedSchema: StructType = StructType(Seq(
    StructField("sentiment", StringType, nullable = false),
    StructField("confidence", DoubleType),
    StructField("p_negative", DoubleType),
    StructField("p_neutral", DoubleType),
    StructField("p_positive", DoubleType),
    StructField("top_topic", StringType),
    StructField("top_confidence", DoubleType),
    StructField("topics", ArrayType(StringType), nullable = false),
    StructField("topics_str", StringType, nullable = false),
    StructField("subject", StringType, nullable = false)))

  /** [[classify]] as one call node: a 0-or-1-element array of
    * [[ClassifiedSchema]] rows, to be unnested with `inline`. A
    * Generate runs its generator exactly once per input row. A struct
    * UDF behind `filter(isNotNull)` would not: PushDownPredicates
    * substitutes the call into the Filter and the model runs twice.
    * Keep the call the generator's direct input, too: over an
    * attribute, InferFiltersFromGenerate adds the same kind of
    * duplicating filter. */
  def classifyCall(text: Column, timers: Option[StageTimers] = None): Column =
    udf(new UDF1[String, Seq[Row]] {
      override def call(t: String): Seq[Row] =
        classify(t, timers).map(c => Row(c.sentiment, c.confidence,
          c.probs(0), c.probs(1), c.probs(2), c.topTopic, c.topConfidence,
          c.topics, c.topicsStr, c.subject)).toList
    }, ArrayType(ClassifiedSchema, containsNull = false))
      .asNonNullable()
      .withName("classify")(text)

  // ------------------------------------------------------------------
  // DuckDB oracle SQL for the same DAG, generated from the same
  // label/marker tables so Spark and SQL can't drift apart.
  // ------------------------------------------------------------------

  private def sqlCountChar(t: String, c: Char): String =
    s"(length($t) - length(replace($t, '$c', '')))"
  private def sqlCountSub(t: String, m: String): String =
    s"((length($t) - length(replace($t, '$m', ''))) // ${m.length})"

  /** CTE prefix ending in `enriched` with the same column names the
    * Column path emits. */
  def oracleCte(table: String = "documents"): String = {
    val ws = SentimentMarkers.zipWithIndex
      .map { case (c, i) => s"1 + ${sqlCountChar("text", c)} AS w$i" }
      .mkString(", ")
    val cs = TopicMarkers.zipWithIndex
      .map { case (m, i) => s"${sqlCountSub("text", m)} AS c$i" }
      .mkString(", ")
    val cList = TopicMarkers.indices.map(i => s"c$i").mkString(", ")
    val selCases = TopicLabels.zipWithIndex
      .map { case (l, i) => s"CASE WHEN c$i >= $TopicK THEN '$l' END" }
      .mkString(", ")
    val topCase = TopicLabels.zipWithIndex
      .map { case (l, i) => s"WHEN c$i = g THEN '$l'" }
      .mkString("CASE ", " ", " END")
    s"""WITH base AS (
         SELECT doc_id, text FROM $table WHERE length(trim(text)) > 0),
       sw AS (SELECT doc_id, text, $ws FROM base),
       sent AS (
         SELECT doc_id, text,
           CASE WHEN w0 >= w1 AND w0 >= w2 THEN '${SentimentLabels(0)}'
                WHEN w1 >= w2 THEN '${SentimentLabels(1)}'
                ELSE '${SentimentLabels(2)}' END AS sentiment,
           greatest(w0, w1, w2) / CAST(w0 + w1 + w2 AS DOUBLE) AS confidence,
           w0 / CAST(w0 + w1 + w2 AS DOUBLE) AS p_negative,
           w1 / CAST(w0 + w1 + w2 AS DOUBLE) AS p_neutral,
           w2 / CAST(w0 + w1 + w2 AS DOUBLE) AS p_positive
         FROM sw),
       gated AS (SELECT * FROM sent WHERE confidence >= $SentimentThreshold),
       tc AS (SELECT *, $cs FROM gated),
       tg AS (SELECT *, greatest($cList) AS g FROM tc),
       tsel AS (SELECT *,
           list_filter([$selCases], x -> x IS NOT NULL) AS sel,
           $topCase AS top_topic,
           g / CAST(g + $TopicK AS DOUBLE) AS top_confidence
         FROM tg),
       enriched AS (
         SELECT doc_id, sentiment, confidence, p_negative, p_neutral,
           p_positive,
           array_to_string(CASE WHEN list_contains(sel, top_topic) THEN sel
                ELSE list_append(sel, top_topic) END, ',') AS topics_str,
           top_topic, top_confidence,
           'bluesky.enriched.' || sentiment || '.' || top_topic AS subject
         FROM tsel)"""
  }
}
