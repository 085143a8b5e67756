package e2ebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Everything one run records. Samples and values are kept in both
  * modes; spans only when tracing, so the untraced run pays nothing
  * beyond a flag test per call. */
final class Recorder(val trace: Boolean) {
  private val samples = TrieMap[String, ConcurrentLinkedQueue[Double]]()
  private val values = TrieMap[String, Any]()
  private val failures = new ConcurrentLinkedQueue[String]()
  val attempted = new LongAdder
  val failed = new LongAdder

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, new ConcurrentLinkedQueue[Double]()).add(v)
  def put(name: String, v: Any): Unit = values(name) = v

  /** One failed operation, with the reason kept for the record (the
    * first 50 reasons are written out). */
  def fail(reason: String): Unit = {
    failed.increment()
    if (failures.size < 50) failures.add(reason)
  }

  // ---- spans ----------------------------------------------------------
  import Recorder.Span
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** A span around one call into a layer: name, start, end, parent span
    * (the innermost open span on this thread) and request id. */
  def span[T](name: String, req: String = "")(body: => T): T =
    if (!trace) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val s = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, req, s,
          System.nanoTime()))
        stack.set(parents)
      }
    }

  def toJson: String = org.json4s.jackson.Serialization.write(Map(
    "trace" -> trace,
    "attempted" -> attempted.sum,
    "failed" -> failed.sum,
    "failures" -> failures.asScala.toSeq,
    "samples" -> samples.map { case (k, q) => k -> q.asScala.toSeq }.toMap,
    "values" -> values.toMap,
    "spans" -> spans.asScala.toSeq.map(s => Seq(s.id, s.parent, s.name,
      s.req, s.startNs / 1e6, s.endNs / 1e6))))(org.json4s.DefaultFormats)
}

object Recorder {
  final case class Span(id: Long, parent: Long, name: String, req: String,
      startNs: Long, endNs: Long)

  def peakHeapMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Wall-clock milliseconds on the same clock the spans use. */
  def nowMs: Double = System.nanoTime() / 1e6
}

/** Spark jobs as a registered [[SparkListener]] sees them: submit and
  * end time, first task launch, the operation tag the harness set on the
  * submitting thread, the graft call site, and task totals. */
final class JobStats extends SparkListener {
  final class Job(val id: Int, val submitMs: Double, val op: String,
      val batch: String, val site: String) {
    @volatile var endMs = -1.0
    @volatile var firstTaskMs = -1.0
    val stages = new LongAdder
    val tasks = new LongAdder
    val runMs = new LongAdder
    val shuffleBytes = new LongAdder
    val inputBytes = new LongAdder
    val outputBytes = new LongAdder
    val spillBytes = new LongAdder
  }
  private val jobs = TrieMap[Int, Job]()
  private val stageJob = TrieMap[Int, Job]()
  // listener events carry epoch millis; spans use the monotonic clock
  private val offsetMs = Recorder.nowMs - System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // a job of a SQL execution (AQE runs stage jobs on its own thread
    // pool) takes the call site of the thread that started the query
    val site = Option(prop("spark.sql.execution.id")).filter(_.nonEmpty)
      .flatMap(id => execSite.get(id.toLong)).filter(_.nonEmpty)
      .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption
        .map(s => JobStats.graftFrame(s.details)).getOrElse(""))
    val j = new Job(e.jobId, e.time + offsetMs, prop(Tags.Op),
      prop("streaming.sql.batchId"), site)
    jobs(e.jobId) = j
    e.stageInfos.foreach(s => stageJob.putIfAbsent(s.stageId, j))
  }

  private val execSite = TrieMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      val own = JobStats.graftFrame(x.details)
      execSite(x.executionId) =
        if (own.nonEmpty) own
        else x.rootExecutionId.flatMap(execSite.get).getOrElse("")
    case _ =>
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageJob.get(e.stageInfo.stageId).foreach(_.stages.increment())

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    stageJob.get(e.stageId).foreach { j =>
      if (j.firstTaskMs < 0) j.firstTaskMs = e.taskInfo.launchTime + offsetMs
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks.increment()
      j.runMs.add(m.executorRunTime)
      j.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      j.inputBytes.add(m.inputMetrics.bytesRead)
      j.outputBytes.add(m.outputMetrics.bytesWritten)
      j.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time + offsetMs)

  /** The job table, once the listener bus has delivered every end event
    * (bounded wait: the bus is asynchronous). */
  def records: Seq[Seq[Any]] = {
    val deadline = System.currentTimeMillis() + 5000
    while (jobs.values.exists(_.endMs < 0) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    jobs.values.toSeq.sortBy(_.id).map(j => Seq(j.id, j.op, j.batch, j.site,
      j.submitMs, j.endMs, j.firstTaskMs, j.stages.sum, j.tasks.sum,
      j.runMs.sum, j.shuffleBytes.sum, j.inputBytes.sum, j.outputBytes.sum,
      j.spillBytes.sum))
  }
}

object JobStats {
  /** The operator a job belongs to: the class of the first `graft.`
    * frame in the stage's creation call site, skipping the `Frontier`
    * and `Par` helpers that only materialize or schedule the caller's
    * work. */
  def graftFrame(details: String): String =
    details.split('\n').iterator.map(_.trim)
      .filter(_.startsWith("graft."))
      .map(_.takeWhile(_ != '('))
      .map(f => f.split('.').dropRight(1).lastOption.getOrElse(f)
        .stripSuffix("$"))
      .find(c => c != "Frontier" && c != "Par")
      .getOrElse("")
}

/** Local property keys the harness sets on its threads. */
object Tags {
  val Op = "e2ebench.op"
  def withOp[T](spark: org.apache.spark.sql.SparkSession, op: String)(
      body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Op)
    sc.setLocalProperty(Op, op)
    try body finally sc.setLocalProperty(Op, prev)
  }
}
