package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Dataset, GraftColumnBridge}

/** Frontier pinning: materialize a multi-consumer (or
  * multi-job-consumed) DataFrame once so every consumer reads the same
  * rows without re-evaluating the upstream lineage.
  *
  * Two durability modes behind one session-conf knob
  * (`graft.pin.reliable`, default false):
  *
  *  - default: `localCheckpoint()` — lineage truncates into
  *    executor-local storage. Fast (no extra I/O beyond the block
  *    write), the right call on local[*] and for short-lived frames,
  *    but on a real cluster the blocks die with their executor: lose
  *    one machine after the pin and the frame is unrecoverable — the
  *    job fails and restarts from the source.
  *  - reliable: `checkpoint()` to the SparkContext checkpoint
  *    directory (fault-tolerant storage — HDFS/S3 on a cluster). An
  *    executor loss re-reads the checkpoint files instead of killing
  *    a 100 TB run. Costs one extra write+read of the frontier, which
  *    is exactly the durability premium a long pipeline wants to pay
  *    at the handful of places a wrong re-evaluation would corrupt
  *    results (range-partition boundaries, detected hot sets,
  *    dedup/decontamination frontiers).
  *
  * Both modes are EAGER (the frame materializes at the call), which is
  * what pinning requires: phase 2 of a two-phase scan must observe the
  * very partitioning phase 3 reads, and a sampled hot set must be
  * drawn once, not once per consumer.
  *
  * Reliable mode REQUIRES a checkpoint dir on a non-local master: the
  * dir must be shared storage every executor can read back, and a
  * silently auto-created driver-local temp dir would defeat the exact
  * fault tolerance the mode exists for (executors write their rdd-*
  * partitions to non-shared local disks; recovery reads then fail
  * after the very executor loss the mode guards against). Only a
  * local[*] master auto-creates a temp dir — same machine, so the
  * files are reachable — and registers it for deletion on JVM exit.
  */
object Frontier {

  /** Session-conf knob: set to "true" for reliable checkpoints. */
  val ReliableConf = "graft.pin.reliable"

  /** The fail-fast contract above, factored pure for testability:
    * a missing checkpoint dir is an ERROR unless the master is local. */
  private[graft] def requireCheckpointDir(isLocal: Boolean,
      dirConfigured: Boolean): Unit =
    require(isLocal || dirConfigured,
      s"$ReliableConf=true on a cluster master requires " +
        "spark.sparkContext.setCheckpointDir(<shared storage>): an " +
        "auto-created driver-local temp dir is not readable by remote " +
        "executors and would silently void the fault-tolerance the " +
        "reliable mode exists for")

  /** Synchronized (r18 advice): two concurrent reliable-mode pins (Par
    * threads) could both see no checkpoint dir and create two temp
    * dirs, the loser's orphaned until the shutdown hook. */
  private def ensureCheckpointDir(sc: SparkContext): Unit = synchronized {
    if (sc.getCheckpointDir.isEmpty) {
      requireCheckpointDir(sc.isLocal, dirConfigured = false)
      val dir = java.nio.file.Files.createTempDirectory("graft-reliable-pin")
      sys.addShutdownHook { // temp dirs must not outlive the test JVM
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        if (Files.exists(dir))
          Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
      }
      sc.setCheckpointDir(dir.toString)
    }
  }

  /** [[pin]], but the pinned frame CARRIES the partitioning and
    * ordering its materializing job produced, so consumers keyed the
    * same way (groupBy/window/sort-merge join/bucketed write on the
    * pinned key) plan WITHOUT a fresh Exchange or Sort (guide §2.4).
    * The pin runs adaptively under the caller's conf; the layout is
    * its final adaptive plan's (GraftColumnBridge.withFinalLayout — a
    * plain checkpoint under AQE reports UnknownPartitioning). */
  def pinPartitioned[T](ds: Dataset[T]): Dataset[T] =
    GraftColumnBridge.withFinalLayout(pin(ds), ds)

  /** Pin `ds` per the session's durability mode (see object doc).
    *
    * Reliable mode persists the dataset around the `checkpoint()`
    * call: an eager reliable checkpoint otherwise computes the lineage
    * TWICE (once for the eager action, once more when the checkpoint
    * files are written), and the frontiers this helper pins are
    * exactly the corpus-sized frames where paying the pipeline twice
    * hurts most. With the persist, the action populates the cache and
    * the checkpoint-write job re-reads blocks instead of re-running
    * the plan (FrontierSpec counts evaluations through an
    * accumulator); the cache is dropped once the checkpoint files
    * hold the frame. */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    val sc = spark.sparkContext
    // label the materialization job with the CALLER's site (guide §1.5
    // "label your jobs"): every pin otherwise reads "localCheckpoint at
    // Frontier.scala" in the UI/profilers and the dominant cost center
    // of the lifecycle operators is unattributable
    val site = Thread.currentThread.getStackTrace.iterator
      .drop(1)
      .find(f => !f.getClassName.startsWith("graft.operators.Frontier") &&
        !f.getClassName.startsWith("java.lang.Thread"))
      .map(f => s"${f.getFileName}:${f.getLineNumber}").getOrElse("?")
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"pin at $site")
    try {
      if (!spark.conf.get(ReliableConf, "false").toBoolean) ds.localCheckpoint()
      else {
        ensureCheckpointDir(sc)
        ds.persist()
        try ds.checkpoint()
        finally ds.unpersist(blocking = false)
      }
    } finally sc.setLocalProperty("spark.job.description", prev)
  }
}
