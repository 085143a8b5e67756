package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with each key set on the session conf, then restore
    * each key's old value, or unset a key that was unset before. */
  def withConfs[A](kvs: (String, String)*)(body: => A): A = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Drop a managed test table AND its warehouse directory. The
    * in-memory catalog dies with each JVM but the directory does not,
    * so a plain DROP TABLE IF EXISTS in a fresh JVM no-ops while the
    * next saveAsTable fails with LOCATION_ALREADY_EXISTS. */
  def dropTestTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(new java.net.URI(spark.sessionState.catalog
      .defaultTablePath(spark.sessionState.sqlParser
        .parseTableIdentifier(name)).getPath).getPath)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
      }
      rm(loc)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // every suite runs with the production extensions active
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
