package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Observability side-DAG (SURVEY.md §2.4 A1-A9) as a
  * StreamingQueryListener: Structured Streaming already computes the
  * reference's hand-rolled 20-second rate window (A7) —
  * `inputRowsPerSecond` / `processedRowsPerSecond` per progress event —
  * and source lag (A9) comes from the offsets in each progress.
  * Poison-pill and volume counters (A1/A4) arrive via the `observe`
  * metrics the parse stage attaches.
  */
final class MetricsListener extends StreamingQueryListener {

  val counters = new ConcurrentHashMap[String, LongAdder]()
  @volatile var lastInputRowsPerSecond: Double = 0.0
  @volatile var lastProcessedRowsPerSecond: Double = 0.0
  @volatile var batches: Long = 0L
  /** A9: latest observed source backlog (consumer num_pending — the
    * reference's HPA autoscaling signal, nats_client.py:288-301). */
  @volatile var backlogNumPending: Long = 0L
  /** Highest backlog seen over the query's life. */
  @volatile var maxBacklogNumPending: Long = 0L

  private def inc(name: String, by: Long): Unit =
    counters.computeIfAbsent(name, _ => new LongAdder).add(by)

  def count(name: String): Long =
    Option(counters.get(name)).map(_.sum()).getOrElse(0L)

  /** Cumulative gauges (sink metrics report running totals). */
  val gauges = new ConcurrentHashMap[String, java.lang.Long]()
  def gauge(name: String): Long =
    Option(gauges.get(name)).map(_.longValue()).getOrElse(0L)

  override def onQueryStarted(event: QueryStartedEvent): Unit =
    inc("queries_started", 1)

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    batches += 1
    inc("rows_input_total", p.numInputRows)
    lastInputRowsPerSecond = p.inputRowsPerSecond
    lastProcessedRowsPerSecond = p.processedRowsPerSecond
    val om = p.observedMetrics
    if (om.containsKey("graft_parse")) {
      val row = om.get("graft_parse")
      inc("posts_processed_total", row.getAs[Long]("rows_total"))
      inc("errors_json_parse_total", row.getAs[Long]("poison_total"))
    }
    // A9: source backlog gauge from connector-reported source metrics
    p.sources.foreach { s =>
      Option(s.metrics) .flatMap(m => Option(m.get("numPending"))).foreach { v =>
        backlogNumPending = v.toLong
        maxBacklogNumPending = math.max(maxBacklogNumPending, backlogNumPending)
      }
    }
    // A4 taxonomy + published totals from the sink's ReportsSinkMetrics
    // (cumulative → gauges). publish_failed surfaces as a task/query
    // failure, matching the reference, which raises after exhausting
    // retries. Redeliveries the writer's sent-id window skipped never
    // reach the server, so they count apart from its duplicate acks.
    Option(p.sink.metrics).foreach { m =>
      Option(m.get("publishedRows")).foreach(v => gauges.put("posts_published_total", v.toLong))
      Option(m.get("duplicateRows")).foreach(v => gauges.put("publish_duplicates_total", v.toLong))
      Option(m.get("skippedDuplicateRows")).foreach(v => gauges.put("publish_duplicates_skipped_total", v.toLong))
      Option(m.get("publishTimeouts")).foreach(v => gauges.put("errors_publish_timeout_total", v.toLong))
    }
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
    inc("queries_terminated", 1)
}
