package graft.sources

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** JetStream-shaped sink (SURVEY.md §2.1 S4/S5/S6).
  *
  * Write-side semantics replicated from the reference:
  *  - output-stream DDL: create-if-missing with limits retention,
  *    max_msgs = 5M, and the 600 s `duplicate_window`
  *    (nats_client.py:81-102)
  *  - per-row publish to the row's `subject` with the
  *    `Nats-Msg-Id = uri:cid` idempotency header analog
  *    (nats_client.py:246-253) — JetStream-side dedup makes replays
  *    effectively-once (T2/S6); duplicate acks are logged and still
  *    counted as published (:255-260)
  *  - retry ≤ max_retries with linear backoff RETRY_DELAY·attempt on
  *    publish timeout, then fail the task (→ Spark task retry → batch
  *    replay) (nats_client.py:242-281)
  *  - ack-stream verification: the PubAck must name the stream we
  *    published to (:254)
  *
  * The writer's sent-id window ([[SentIds]]) sits in front of the
  * server's: before publishing a row with a `msg_id`, a writer reserves
  * the id in its process's window for the output stream, and skips the
  * row (counted in [[NatsCommit.duplicates]]) when the id is already
  * reserved. A stateless stream (`StreamingEnrich.runNats`) relies on
  * it: a redelivered post, or a second copy in the same batch, never
  * reaches the server. A replayed batch or a retried task hits this
  * window first — rows it already published are skipped, and the row
  * whose publish failed was released, so it publishes once. Only a
  * repeat across a process restart reaches the server, whose window
  * stores it once and acks it as a duplicate, as in the reference.
  *
  * Input rows must carry `subject`, `value` and optionally `msg_id`
  * string columns (extra columns are ignored).
  */
final class NatsWriteBuilder(options: Map[String, String], schema: StructType)
    extends WriteBuilder {
  override def build(): Write = new Write {
    override def toStreaming: StreamingWrite = new NatsStreamingWrite(options, schema)
    override def toBatch: BatchWrite = new NatsBatchWrite(options, schema)
  }
}

private object NatsWrite {
  /** S4: ensure the output stream exists (create-if-missing DDL). */
  def ensureStream(options: Map[String, String]): String = {
    val stream = options.getOrElse("stream",
      throw new IllegalArgumentException("option 'stream' is required"))
    val subjectPrefix = options.getOrElse("subjectprefix",
      options.getOrElse("subjectPrefix", "bluesky.enriched"))
    StubJetStream.ensure(stream, Seq(s"$subjectPrefix.>"),
      maxMsgs = options.getOrElse("maxmsgs", "5000000").toLong,
      duplicateWindowMs =
        options.getOrElse("duplicatewindowms", "600000").toLong)
    stream
  }

  def factory(options: Map[String, String], schema: StructType): NatsWriterFactory = {
    val stream = ensureStream(options)
    NatsWriterFactory(stream,
      subjectIdx = schema.fieldIndex("subject"),
      valueIdx = schema.fieldIndex("value"),
      msgIdIdx = if (schema.fieldNames.contains("msg_id"))
        schema.fieldIndex("msg_id") else -1,
      maxRetries = options.getOrElse("maxretries", "3").toInt,
      retryDelayMs = options.getOrElse("retrydelayms", "50").toLong)
  }
}

final class NatsStreamingWrite(options: Map[String, String], schema: StructType)
    extends StreamingWrite with Logging {
  private val fac = NatsWrite.factory(options, schema)
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = fac
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val (pub, dup) = messages.collect { case NatsCommit(p, d) => (p, d) }
      .foldLeft((0L, 0L)) { case ((p, d), (p2, d2)) => (p + p2, d + d2) }
    logInfo(s"epoch $epochId: published=$pub duplicates=$dup")
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    logWarning(s"epoch $epochId aborted; the sent-id window skips its published rows on replay")
}

final class NatsBatchWrite(options: Map[String, String], schema: StructType)
    extends BatchWrite {
  private val fac = NatsWrite.factory(options, schema)
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = fac
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final case class NatsCommit(published: Long, duplicates: Long)
  extends WriterCommitMessage

final case class NatsWriterFactory(stream: String, subjectIdx: Int,
    valueIdx: Int, msgIdIdx: Int, maxRetries: Int, retryDelayMs: Long)
    extends StreamingDataWriterFactory with DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new NatsDataWriter(this)
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new NatsDataWriter(this)
}

/** The msg-ids one process published to one output stream within the
  * stream's duplicate window, oldest first, measured on the stream's
  * clock. One window per stream handle: a dropped and re-created
  * stream starts empty. */
final class SentIds {
  private val reservedAt = mutable.LinkedHashMap[String, Long]()
  /** Rows skipped because their id was already reserved. */
  val skipped = new LongAdder

  /** Reserves `id` at `now`; false (and counted as skipped) when it is
    * already reserved inside the window. Ids older than the window
    * are evicted first. */
  def reserve(id: String, now: Long, windowMs: Long): Boolean = synchronized {
    while (reservedAt.nonEmpty && now - reservedAt.head._2 >= windowMs)
      reservedAt.remove(reservedAt.head._1)
    reservedAt.get(id) match {
      case Some(at) if now - at < windowMs =>
        skipped.increment()
        false
      case _ =>
        reservedAt.remove(id) // re-inserted at the back: reservation order
        reservedAt(id) = now
        true
    }
  }

  /** Drops a reservation whose publish failed, so a retry publishes. */
  def release(id: String): Unit = synchronized { reservedAt.remove(id); () }
}

object SentIds {
  // keyed by handle identity; weak, so a dropped stream's window goes
  // with it
  private val windows = new java.util.WeakHashMap[StubStream, SentIds]()
  def of(stream: StubStream): SentIds =
    windows.synchronized(windows.computeIfAbsent(stream, _ => new SentIds))
}

final class NatsDataWriter(f: NatsWriterFactory)
    extends DataWriter[InternalRow] with Logging {
  private var published = 0L
  private var duplicates = 0L
  private lazy val target: StubStream = StubJetStream.info(f.stream)
    .getOrElse(throw new IllegalStateException(s"stream ${f.stream} vanished"))
  private lazy val sent = SentIds.of(target)

  override def write(row: InternalRow): Unit = {
    val subject = row.getUTF8String(f.subjectIdx).toString
    val value = row.getUTF8String(f.valueIdx).toString
    val msgId = if (f.msgIdIdx >= 0 && !row.isNullAt(f.msgIdIdx))
      row.getUTF8String(f.msgIdIdx).toString else null
    if (msgId != null &&
        !sent.reserve(msgId, target.clock(), target.duplicateWindowMs)) {
      duplicates += 1 // published by an earlier row, batch or attempt
      return
    }
    try publish(subject, value, msgId)
    catch { case e: Throwable =>
      if (msgId != null) sent.release(msgId)
      throw e
    }
  }

  private def publish(subject: String, value: String, msgId: String): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try {
        val ack = target.publish(subject, value, msgId)
        // ack-stream verification (nats_client.py:254)
        if (ack.stream != f.stream)
          throw new IllegalStateException(
            s"publish acked by stream ${ack.stream}, expected ${f.stream}")
        if (ack.duplicate) duplicates += 1 // logged, still counted (S6)
        published += 1
        done = true
      } catch {
        case _: StubPublishTimeout if attempt < f.maxRetries =>
          attempt += 1
          Thread.sleep(f.retryDelayMs * attempt) // linear backoff
          logWarning(s"publish timeout, retrying (attempt $attempt)")
      }
    }
  }

  override def commit(): WriterCommitMessage = NatsCommit(published, duplicates)
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
