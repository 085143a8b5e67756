package graft.sources

import java.util.Optional

import scala.jdk.CollectionConverters._

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** NATS-JetStream-shaped DataSource V2 connector (SURVEY.md §2.1 S1 —
  * "the single biggest custom component"). Spark-facing machinery is
  * complete and real: TableProvider → MicroBatchStream with
  * sequence-number offsets, seq-range input partitions, admission
  * control (`max_ack_pending` ≈ maxRows read limit,
  * nats_client.py:154), commit-as-ack (explicit ack after a batch
  * succeeds, :212-213), `num_pending` source metrics for the backlog
  * gauge / HPA signal (:288-301), and a warn-only input-stream
  * existence probe (:71-79 — ingest owns creation). Only the wire
  * transport is the in-process [[StubJetStream]].
  *
  * Read schema: (subject, value, msg_id, seq, published_at,
  * num_delivered) — num_delivered > 1 exposes redeliveries (T3,
  * nats_client.py:173-184).
  *
  * Usage: `spark.readStream.format("stub-nats")
  *   .option("stream", "bluesky-posts")
  *   .option("subject", "bluesky.posts.>").load()`
  */
class NatsSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "stub-nats"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NatsTable.ReadSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new NatsTable(properties.asScala.toMap)
}

object NatsTable {
  val ReadSchema: StructType = StructType(Seq(
    StructField("subject", StringType),
    StructField("value", StringType),
    StructField("msg_id", StringType),
    StructField("seq", LongType),
    StructField("published_at", TimestampType),
    StructField("num_delivered", IntegerType)))
}

final class NatsTable(options: Map[String, String])
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.read.streaming.ReportsSinkMetrics {
  private val streamName = options.getOrElse("stream",
    throw new IllegalArgumentException("option 'stream' is required"))
  override def name(): String = s"stub-nats:$streamName"

  /** A1/A4 as sink metrics in StreamingQueryProgress.sink.metrics:
    * cumulative publish totals, server duplicate detections (still
    * counted as published, nats_client.py:255-260), publish timeouts,
    * and the redeliveries the writer's sent-id window skipped before
    * they reached the server. */
  override def metrics(): java.util.Map[String, String] =
    StubJetStream.info(streamName).map { s =>
      Map("publishedRows" -> s.publishedTotal.sum.toString,
        "duplicateRows" -> s.duplicateTotal.sum.toString,
        "skippedDuplicateRows" -> SentIds.of(s).skipped.sum.toString,
        "publishTimeouts" -> s.timeoutTotal.sum.toString).asJava
    }.getOrElse(java.util.Collections.emptyMap[String, String]())
  override def schema(): StructType = NatsTable.ReadSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.BATCH_WRITE).asJava

  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = NatsTable.ReadSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new NatsMicroBatchStream(options)
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new NatsWriteBuilder(options, info.schema())
}

/** Offset = JetStream stream sequence number (monotone, replayable). */
final case class NatsOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

object NatsOffset {
  /** The sequence of an offset Spark hands back: a restarted query
    * passes the offset log's entries as serialized offsets. */
  def seq(o: Offset): Long = o match {
    case NatsOffset(s) => s
    case other => other.json().toLong
  }
}

/** One seq-range split; `queue-group load balancing across replicas`
  * (S1) maps to these partitions being scheduled across executors. */
final case class NatsInputPartition(stream: String, subjectFilter: String,
    consumer: String, startExclusive: Long, endInclusive: Long)
  extends InputPartition

final class NatsMicroBatchStream(options: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with ReportsSourceMetrics with Logging {

  private val streamName = options("stream")
  private val subjectFilter = options.getOrElse("subject", ">")
  private val consumerName = options.getOrElse("consumer", "unified-processor")
  // reference max_ack_pending=100 caps in-flight messages (T4)
  private val maxAckPending =
    options.getOrElse("maxackpending", options.getOrElse("maxAckPending", "100")).toInt
  private val numPartitions =
    options.getOrElse("numpartitions", options.getOrElse("numPartitions", "4")).toInt

  // S3: input stream existence is probed, warned about, never created —
  // the upstream ingest service owns it (nats_client.py:71-79)
  if (StubJetStream.info(streamName).isEmpty)
    logWarning(s"Input stream $streamName not found; it should be " +
      "created by the ingest service")

  private def stream: StubStream =
    StubJetStream.ensure(streamName, Seq(subjectFilter))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxAckPending)

  // DeliverPolicy.ALL on a fresh consumer = start from the beginning;
  // a durable consumer resumes from its acked floor
  override def initialOffset(): Offset =
    NatsOffset(stream.consumer(consumerName).committed)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  // Trigger.AvailableNow: pin the end offset at query start, then
  // drain up to it in admission-controlled batches (the Kafka-source
  // contract — read limits still apply per batch)
  @volatile private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(stream.lastSeq)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val last = availableNowEnd.getOrElse(stream.lastSeq)
    val from = NatsOffset.seq(start)
    val capped = limit match {
      case rows: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        math.min(last, from + rows.maxRows())
      case _ => last
    }
    NatsOffset(math.max(capped, from))
  }

  override def reportLatestOffset(): Offset = NatsOffset(stream.lastSeq)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = NatsOffset.seq(start)
    val e = NatsOffset.seq(end)
    val total = e - s
    if (total <= 0) Array.empty
    else {
      val parts = math.min(numPartitions.toLong, total).toInt
      (0 until parts).map { i =>
        val lo = s + total * i / parts
        val hi = s + total * (i + 1) / parts
        NatsInputPartition(streamName, subjectFilter, consumerName, lo, hi)
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new NatsPartitionReader(p.asInstanceOf[NatsInputPartition])
    }

  /** Offset commit = explicit ack of everything in the batch
    * (nats_client.py:212-213): only after the micro-batch fully
    * succeeds, so failures redeliver (at-least-once, T1). */
  override def commit(end: Offset): Unit =
    stream.consumer(consumerName).ack(NatsOffset.seq(end))

  override def deserializeOffset(json: String): Offset = NatsOffset(json.toLong)
  override def stop(): Unit = ()

  /** A9: backlog gauge — surfaces in
    * StreamingQueryProgress.sources[i].metrics, the autoscaling signal
    * (reference HPA targets 500 pending/pod). */
  override def metrics(latestConsumedOffset: Optional[Offset]): java.util.Map[String, String] = {
    val committed = Option(latestConsumedOffset.orElse(null))
      .map(NatsOffset.seq)
      .getOrElse(stream.consumer(consumerName).committed)
    Map("numPending" -> math.max(0L, stream.lastSeq - committed).toString,
      "lastSeq" -> stream.lastSeq.toString).asJava
  }
}

final class NatsPartitionReader(p: NatsInputPartition)
    extends PartitionReader[InternalRow] {
  private val stream = StubJetStream.info(p.stream)
    .getOrElse(throw new IllegalStateException(s"stream ${p.stream} vanished"))
  private val consumer = stream.consumer(p.consumer)
  private val it =
    stream.fetch(p.startExclusive, p.endInclusive, p.subjectFilter).iterator
  private var cur: StubMsg = _

  override def next(): Boolean = { val has = it.hasNext; if (has) cur = it.next(); has }

  override def get(): InternalRow = {
    val delivered = consumer.recordDelivery(cur.seq) // T3 visibility
    InternalRow(
      UTF8String.fromString(cur.subject),
      UTF8String.fromString(cur.data),
      if (cur.msgId == null) null else UTF8String.fromString(cur.msgId),
      cur.seq,
      cur.publishedAtMs * 1000L, // micros
      delivered)
  }

  override def close(): Unit = ()
}
