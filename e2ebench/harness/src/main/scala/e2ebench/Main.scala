package e2ebench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. One JVM runs one workload and writes
  * its raw record (samples, counters, spans, Spark jobs, check results)
  * as JSON; `e2ebench/run.py` turns the record into metrics.
  *
  * Usage: e2ebench.Main --workload <stream_enrich|nightly_loop|hybrid_serve>
  *   --seed <n> --seconds <s> --trace <0|1> --cores <n> --docs <n>
  *   --work <dir> --out <file>
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, docs: Int, work: File, out: File)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", m.getOrElse("cores", "4").toInt,
      m.getOrElse("docs", "5000").toInt, new File(need("work")),
      new File(need("out")))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"e2ebench-${a.workload}")
      // the engine's deployment wiring (the same confs Bench sets)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // isolation: every table, spill file and checkpoint of this run
      // lives under its own work directory
      .config("spark.sql.warehouse.dir",
        new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(a.work, "local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val rec = new Recorder(a.trace)
    val t0 = System.nanoTime()
    val spark = session(a)
    val jobs = if (a.trace) Some(new JobStats) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    rec.put("session_s", (System.nanoTime() - t0) / 1e9)
    try {
      a.workload match {
        case "stream_enrich" => StreamEnrich.run(spark, a, rec, t0)
        case "nightly_loop" => NightlyLoop.run(spark, a, rec, t0)
        case "hybrid_serve" => HybridServe.run(spark, a, rec, t0)
        case w => sys.error(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        rec.fail(s"workload aborted: $e")
        rec.put("aborted", true)
        e.printStackTrace()
    }
    rec.put("peak_heap_mb", Recorder.peakHeapMb)
    jobs.foreach(j => rec.put("jobs", j.records))
    Files.write(a.out.toPath, rec.toJson.getBytes(StandardCharsets.UTF_8))
    // The record is written and every table, checkpoint and spill file
    // lives under the run's work directory, which the caller deletes:
    // skip Spark's orderly shutdown, which costs seconds per run.
    Runtime.getRuntime.halt(0)
  }
}
