package e2ebench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded synthetic corpus with the shape of the sf0.1 `documents`
  * fixture: 10–100 tokens per document drawn uniformly from the same
  * 30-word engine vocabulary (about 297 characters on average), the
  * fixture's language mix and 20 sources. As in the fixture, 5% of the
  * documents are near-copies of another one with " dup" appended. */
object Corpus {
  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  val Common: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")

  val DupShare = 0.05

  private val Langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  def text(r: java.util.SplittableRandom): String =
    Array.fill(10 + r.nextInt(91))(Common(r.nextInt(Common.length)))
      .mkString(" ")

  /** The fixture's near-copy edit. */
  def nearCopy(text: String): String = text + " dup"

  def docs(seed: Long, n: Int, idBase: Long = 0L): Array[Doc] = {
    val r = new java.util.SplittableRandom(seed)
    val texts = Array.fill(n)(text(r))
    (0 until n).foreach { i =>
      if (n > 1 && r.nextDouble() < DupShare) {
        val j = r.nextInt(n - 1)
        texts(i) = nearCopy(texts(if (j >= i) j + 1 else j))
      }
    }
    Array.tabulate(n) { i =>
      Doc(idBase + i, texts(i), Langs(r.nextInt(Langs.length)),
        s"src${i % 20}", texts(i).length.toLong)
    }
  }

  def frame(spark: SparkSession, ds: Seq[Doc]): DataFrame =
    spark.createDataFrame(ds)
}
