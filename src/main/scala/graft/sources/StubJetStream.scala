package graft.sources

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** In-process JetStream model backing the DataSource V2 connector.
  *
  * No NATS client jar exists offline, so the *wire transport* is this
  * stub; everything above it — offsets, admission control, ack/commit,
  * idempotent publish, retry, DDL, lag — is the real connector
  * machinery (SURVEY.md §2.1 S1/S3/S4/S5/S6, §2.4 A9). The stub
  * reproduces the JetStream server behaviors the reference relies on:
  *
  *  - monotone per-stream sequence numbers (offsets for replay)
  *  - `Nats-Msg-Id` dedup within a `duplicate_window`
  *    (nats_client.py:99 — 600 s default; duplicate publishes are
  *    acked with `duplicate=true` and not stored, :255-260)
  *  - limits retention with discard-old at `max_msgs`
  *    (nats_client.py:92-96)
  *  - durable consumers: committed (acked) floor + per-sequence
  *    delivery counts (`num_delivered`, :173-184) + `num_pending`
  *    backlog (:288-301)
  *  - subject-token matching with the `>` wildcard
  *
  * Registry is JVM-global: in local[n] driver and executors share it;
  * a real deployment swaps this object for a NATS client without
  * touching the connector classes.
  */
object StubJetStream {
  private val streams = TrieMap[String, StubStream]()

  /** stream_info probe (S3: warn-only existence check). */
  def info(name: String): Option[StubStream] = streams.get(name)

  /** add_stream-if-missing (S4: output-stream DDL). */
  def ensure(name: String, subjects: Seq[String],
      maxMsgs: Long = 5000000L,
      duplicateWindowMs: Long = 600000L): StubStream =
    streams.getOrElseUpdate(name,
      new StubStream(name, subjects, maxMsgs, duplicateWindowMs))

  /** Test helper: drop all streams and consumers. Prefer [[drop]] in
    * suites — test suites share this JVM-global registry and run in
    * parallel, so a global clear here nukes streams another suite is
    * actively reading/writing ("stream vanished" mid-test). */
  def reset(): Unit = streams.clear()

  /** Test helper: drop one stream (and its consumers) by name, leaving
    * other suites' streams alone. */
  def drop(name: String): Unit = streams.remove(name)

  /** `subject.tokens.>`-style match: `>` matches 1+ trailing tokens. */
  def subjectMatches(pattern: String, subject: String): Boolean = {
    val p = pattern.split('.')
    val s = subject.split('.')
    var i = 0
    while (i < p.length) {
      if (p(i) == ">") return s.length > i
      if (p(i) != "*" && (i >= s.length || p(i) != s(i))) return false
      i += 1
    }
    s.length == p.length
  }
}

final case class StubMsg(seq: Long, subject: String, data: String,
    msgId: String, publishedAtMs: Long)

/** Publish acknowledgement (mirrors JetStream PubAck). */
final case class PubAck(stream: String, seq: Long, duplicate: Boolean)

final class StubPublishTimeout(msg: String) extends RuntimeException(msg)

final class StubStream(val name: String, val subjects: Seq[String],
    val maxMsgs: Long, val duplicateWindowMs: Long) {

  // stored messages, oldest first. Sequences are contiguous (only a
  // stored message takes one), so sequence s sits at s - first.seq and
  // discard-old is a removeHead.
  private val msgs = mutable.ArrayDeque[StubMsg]()
  private var seqCounter = 0L
  // msgId -> (original seq, publish time) for the duplicate window, in
  // publish order: ids older than the window leave from the front
  private val dupIndex = mutable.LinkedHashMap[String, (Long, Long)]()
  // cumulative publish counters (A1/A4: posts_published_total,
  // duplicate detections, publish_timeout occurrences)
  val publishedTotal = new java.util.concurrent.atomic.LongAdder
  val duplicateTotal = new java.util.concurrent.atomic.LongAdder
  val timeoutTotal = new java.util.concurrent.atomic.LongAdder
  /** Fault injection for retry tests: next N publishes time out. */
  @volatile var failNextPublishes: Int = 0
  /** Injectable clock so dedup-window expiry is testable. */
  @volatile var clock: () => Long = () => System.currentTimeMillis()

  def publish(subject: String, data: String, msgId: String): PubAck =
    synchronized {
      if (failNextPublishes > 0) {
        failNextPublishes -= 1
        timeoutTotal.increment()
        throw new StubPublishTimeout(s"publish to $name timed out (injected)")
      }
      require(subjects.isEmpty ||
        subjects.exists(StubJetStream.subjectMatches(_, subject)),
        s"subject $subject not bound to stream $name")
      val now = clock()
      while (dupIndex.nonEmpty && now - dupIndex.head._2._2 >= duplicateWindowMs)
        dupIndex.remove(dupIndex.head._1)
      if (msgId != null) dupIndex.get(msgId) match {
        case Some((seq, at)) if now - at < duplicateWindowMs =>
          duplicateTotal.increment()
          publishedTotal.increment() // "still counted as published" (S6)
          return PubAck(name, seq, duplicate = true) // not stored
        case _ =>
      }
      seqCounter += 1
      msgs += StubMsg(seqCounter, subject, data, msgId, now)
      if (msgId != null) {
        dupIndex.remove(msgId) // re-inserted at the back: publish order
        dupIndex(msgId) = (seqCounter, now)
      }
      while (msgs.length > maxMsgs) msgs.removeHead() // discard-old
      publishedTotal.increment()
      PubAck(name, seqCounter, duplicate = false)
    }

  def lastSeq: Long = synchronized(seqCounter)

  /** Messages with start < seq <= end whose subject matches. */
  def fetch(startExclusive: Long, endInclusive: Long,
      subjectFilter: String): Seq[StubMsg] = synchronized {
    if (msgs.isEmpty) Nil
    else {
      val first = msgs.head.seq
      val from = math.max(startExclusive + 1, first) - first
      val until = math.min(endInclusive, seqCounter) - first + 1
      if (from >= until) Nil
      else msgs.slice(from.toInt, until.toInt)
        .filter(m => StubJetStream.subjectMatches(subjectFilter, m.subject))
        .toList
    }
  }

  /** Message ids the duplicate window still tracks. */
  private[sources] def trackedMsgIds: Int = synchronized(dupIndex.size)

  def allMessages: Seq[StubMsg] = synchronized(msgs.toSeq)

  // ---- durable consumers ---------------------------------------------
  final class Consumer(val durable: String) {
    private var committedSeq = 0L
    // delivery counts above the acked floor only: an acked sequence
    // needs no count, its next delivery is a redelivery
    private val deliveries = mutable.HashMap[Long, Int]()
    def committed: Long = StubStream.this.synchronized(committedSeq)
    /** Explicit ack up to seq (offset commit). */
    def ack(seq: Long): Unit = StubStream.this.synchronized {
      if (seq > committedSeq) {
        committedSeq = seq
        deliveries.filterInPlace((s, _) => s > seq)
      }
    }
    /** Record a delivery; returns num_delivered (1 = first). A sequence
      * at or below the acked floor was delivered before: it reports 2,
      * a redelivery, without keeping a count. */
    def recordDelivery(seq: Long): Int = StubStream.this.synchronized {
      if (seq <= committedSeq) 2
      else {
        val n = deliveries.getOrElse(seq, 0) + 1
        deliveries(seq) = n
        n
      }
    }
    /** Sequences with a delivery count held. */
    private[sources] def trackedDeliveries: Int =
      StubStream.this.synchronized(deliveries.size)
    /** consumer_info.num_pending (A9 backlog gauge). */
    def numPending: Long = StubStream.this.synchronized {
      math.max(0L, seqCounter - committedSeq)
    }
  }

  private val consumers = mutable.HashMap[String, Consumer]()
  def consumer(durable: String): Consumer = synchronized {
    consumers.getOrElseUpdate(durable, new Consumer(durable))
  }
}
