package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.streaming.StreamingNightlyIngest

/** The one on-disk layout stamp ([[Generations.FormatProp]]): every
  * maintained family's build, append and compaction leave it, and a
  * family whose manifest lost it is refused — loudly, naming the
  * rebuild — by its probe, its append and its compaction, none of
  * which may write anything first. A builder's swap is the upgrade. */
class LayoutStampSpec extends SparkSpec {

  /** One maintained family as the stamp sees it: its Generations name
    * and members, and the four lifecycle entry points. */
  private final case class Family(label: String, name: String,
      members: Seq[String], build: () => Unit, append: () => Unit,
      compact: () => Unit, probe: () => Unit)

  private def docs = Tables(spark, sf, "documents")
    .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
  private def emb = Tables(spark, sf, "embeddings")
    .select("vec_id", "embedding")

  private def stamp(name: String): Option[String] =
    Generations.manifestProp(spark, name, Generations.FormatProp)

  /** Everything a refused operation must leave alone: the pointer,
    * each member's materialized generations and current row count,
    * and a released writer lease. Read around the stamp check. */
  private def snapshot(f: Family) = {
    val gen = Generations.manifestProp(spark, f.name, Generations.GenProp)
    (gen, f.members.map { m =>
      (Generations.listGenerations(spark, f.name, m),
        gen.map(g => spark.table(
          Generations.physical(f.name, m, g.toLong)).count()))
    }, Generations.leaseStatus(spark, f.name).holder)
  }

  private def refused(f: Family, op: String)(run: => Unit): Unit = {
    val before = snapshot(f)
    val e = intercept[Throwable](run)
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).toSeq
    assert(msgs.exists(_.contains("rebuild")),
      s"${f.label} $op on an unstamped family did not name the rebuild: " +
        msgs.mkString(" / "))
    assert(snapshot(f) == before, s"${f.label} $op wrote before refusing")
  }

  test("every family's build, append and compaction stamp graft.format = 1; " +
      "an unstamped family refuses probe, append and compaction until rebuilt") {
    import spark.implicits._
    val arts = StreamingNightlyIngest.Artifacts("graft_stamp_nd",
      "graft_stamp_ann", "graft_stamp_corpus", "graft_stamp_budget",
      new java.io.File(sys.props("java.io.tmpdir"),
        "graft_stamp_shards").getAbsolutePath)
    def vecsOf(lo: Long, hi: Long) = docs
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
    val corpusVecs = vecsOf(0L, 60L)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val newVecs = vecsOf(100L, 110L)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val night = vecsOf(60L, 64L)
      .select("doc_id", "text", "lang", "n_chars", "embedding")
    val tombIndex = "graft_stamp_t"
    val families = Seq(
      Family("near-dup", arts.ndIndex, Dedup.maintenanceMembers,
        () => Dedup.writeNearDupIndex(
          docs.filter(col("doc_id") < 60).select("doc_id", "text"),
          arts.ndIndex, numBuckets = 2),
        () => Dedup.appendToNearDupIndex(
          docs.filter(col("doc_id").between(60, 69)).select("doc_id", "text"),
          arts.ndIndex),
        () => Dedup.compactNearDupIndex(spark, arts.ndIndex),
        () => Dedup.incrementalNearDupSurvivorsIndexed(spark, arts.ndIndex,
          docs.filter(col("doc_id") < 4).select("doc_id", "text")).collect()),
      Family("ANN", arts.annIndex, AnnIndex.maintenanceMembers,
        () => AnnIndex.writeAnnIndex(corpusVecs, arts.annIndex,
          nCells = 4, m = 8, ksub = 16),
        () => AnnIndex.appendToAnnIndex(newVecs, arts.annIndex),
        () => AnnIndex.compactAnnIndex(spark, arts.annIndex),
        () => AnnIndex.probeAnnIndex(spark, arts.annIndex, corpusVecs,
          col("vec_id") < 4, k = 5).collect()),
      Family("graph", "graft_stamp_graph", KnnGraphIndex.maintenanceMembers,
        () => KnnGraphIndex.writeKnnGraph(emb.filter(col("vec_id") < 100),
          "graft_stamp_graph", k = 5, nCells = 4, numBuckets = 2),
        () => KnnGraphIndex.appendToKnnGraph(
          emb.filter(col("vec_id").between(100, 109)), "graft_stamp_graph"),
        () => KnnGraphIndex.compactKnnGraph(spark, "graft_stamp_graph"),
        () => KnnGraphIndex.probeKnnGraph(spark, "graft_stamp_graph")
          .collect()),
      Family("lexical", "graft_stamp_lex", LexIndex.maintenanceMembers,
        () => LexIndex.writeLexIndex(
          docs.filter(col("doc_id") < 60).select("doc_id", "text"),
          "graft_stamp_lex", numBuckets = 2),
        () => LexIndex.appendToLexIndex(
          docs.filter(col("doc_id").between(60, 69)).select("doc_id", "text"),
          "graft_stamp_lex", batchId = "b1"),
        () => LexIndex.compactLexIndex(spark, "graft_stamp_lex"),
        () => LexIndex.probeLexIndex(spark, "graft_stamp_lex",
          docs.filter(col("doc_id") < 4).select("doc_id", "text"), 5)
          .collect()),
      // the corpus's in-place append is the nightly step's corpus leg;
      // the night carries a takedown so the compaction has one to reclaim
      Family("corpus", arts.annCorpusTable, Seq("vecs"),
        () => StreamingNightlyIngest.writeCorpus(spark, arts, corpusVecs),
        () => StreamingNightlyIngest.nightStep(arts, night,
          budget = 100000L, salt = "stamp",
          deletes = Some(Seq(5L).toDF("doc_id"))),
        () => StreamingNightlyIngest.compactCorpus(spark, arts),
        () => StreamingNightlyIngest.corpus(spark, arts).collect()),
      // a set with no builder is rebuilt by reset and re-add
      Family("tombstones", Tombstones.family(tombIndex), Seq("ids"),
        () => {
          Tombstones.destroy(spark, tombIndex)
          Tombstones.add(spark, tombIndex, Seq(1L, 2L).toDF("doc_id"),
            "doc_id")
        },
        () => Tombstones.add(spark, tombIndex, Seq(3L).toDF("doc_id"),
          "doc_id"),
        () => Tombstones.get(spark, tombIndex).foreach(cur =>
          Tombstones.clearApplied(spark, tombIndex, Frontier.pin(cur))),
        () => Tombstones.get(spark, tombIndex).foreach(_.collect())))

    def reset(): Unit = {
      families.foreach(f => Generations.destroy(spark, f.name, f.members))
      Seq(arts.ndIndex, arts.annIndex, "graft_stamp_graph", "graft_stamp_lex",
          tombIndex).foreach(Tombstones.destroy(spark, _))
      Seq(StreamingNightlyIngest.deletedTable(arts) -> "ids",
          arts.budgetTable -> "state")
        .foreach { case (n, m) => Generations.destroy(spark, n, Seq(m)) }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(arts.shardPath))
    }
    reset()

    // build, append and compaction each leave the stamp
    families.foreach { f =>
      f.build()
      assert(stamp(f.name).contains("1"), s"${f.label} build left no stamp")
      f.append()
      assert(stamp(f.name).contains("1"), s"${f.label} append lost the stamp")
      f.compact()
      assert(stamp(f.name).contains("1"),
        s"${f.label} compaction left no stamp")
      f.probe()
    }

    // stripped: probe, append and compaction refuse; a rebuild upgrades
    families.foreach { f =>
      spark.sql(s"ALTER TABLE ${Generations.manifest(f.name)} " +
        s"UNSET TBLPROPERTIES ('${Generations.FormatProp}')")
      refused(f, "probe")(f.probe())
      refused(f, "append")(f.append())
      refused(f, "compaction")(f.compact())
      f.build()
      assert(stamp(f.name).contains("1"), s"${f.label} rebuild left no stamp")
      f.probe()
    }
    reset()
  }
}
