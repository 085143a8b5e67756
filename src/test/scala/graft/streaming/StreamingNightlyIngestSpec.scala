package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{IndexLayoutChecks, SparkSpec, Tables}
import graft.operators.{AnnIndex, Dedup, Generations, Sharding, Tombstones}

/** The composed nightly-ingest loop's two contracts:
  *
  *  1. PARITY — N micro-batches through [[StreamingNightlyIngest.start]]
  *     (with compactEvery=1, so BOTH index compactions fold in) produce
  *     the same admitted sets, the same budget state, and the same
  *     shard layout as N sequential [[StreamingNightlyIngest.nightStep]]
  *     calls on a twin set of artifacts.
  *  2. LAYOUT — after the composed run (build + appends + compactions),
  *     both maintained indexes still honor their scan contracts: the
  *     near-dup probe reads its bucketed tables without an exchange,
  *     and the ANN probe's cell scan carries dynamic partition pruning.
  */
case class NightDoc(doc_id: Long, text: String, lang: String, n_chars: Long)

/** The CDC-shaped feed for the takedown leg: `op` = null/"add" ingests,
  * "delete" is the night's takedown set (doc_id only). */
case class OpNightDoc(doc_id: Long, text: String, lang: String,
  n_chars: Long, op: String)

class StreamingNightlyIngestSpec extends SparkSpec {
  import spark.implicits._

  private def mkArts(tag: String) = StreamingNightlyIngest.Artifacts(
    s"graft_sni_${tag}_nd", s"graft_sni_${tag}_ann",
    s"graft_sni_${tag}_anncorpus", s"graft_sni_${tag}_budget",
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sni_${tag}_shards").getAbsolutePath)

  private def reset(arts: StreamingNightlyIngest.Artifacts,
      corpus: DataFrame): Unit = {
    Generations.destroy(spark, arts.annCorpusTable, Seq("vecs"))
    Generations.destroy(spark,
      StreamingNightlyIngest.deletedTable(arts), Seq("ids"))
    Generations.destroy(spark, arts.budgetTable, Seq("state"))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(arts.shardPath))
    Dedup.writeNearDupIndex(
      corpus.select(col("doc_id"), col("text")), arts.ndIndex, numBuckets = 4)
    val vecs = corpus.select(col("doc_id"))
      .withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    AnnIndex.writeAnnIndex(vecs, arts.annIndex, nCells = 4, m = 8, ksub = 16)
    StreamingNightlyIngest.writeCorpus(spark, arts, vecs)
  }

  test("stream == sequential nights on every artifact; layouts hold after the run") {
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 120).localCheckpoint()

    // three nights: replays of corpus docs (near-dups of the index —
    // drop) + fresh docs (survive); night n+1 replays night n's fresh
    // docs too (drop iff the append landed)
    def fresh(night: Int, n: Int): Seq[NightDoc] =
      (0 until n).map { i =>
        NightDoc(night * 1000000000L + 500 + i,
          s"night $night novel document $i with distinct vocabulary " +
            s"alpha$night$i beta gamma delta epsilon zeta eta theta iota " +
            "kappa lambda mu nu xi omicron",
          if (i % 2 == 0) "en" else "de", 90L)
      }
    val replayRows = corpus.filter(col("doc_id") < 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    def replays(night: Int): Seq[NightDoc] = replayRows.map { case (id, t, l, c) =>
      NightDoc(night * 1000000000L + id, t + " zz edit pad", l, c)
    }.toSeq
    val batches: Seq[Seq[NightDoc]] = Seq(
      replays(1) ++ fresh(1, 6),
      replays(2) ++ fresh(1, 6).map(d => d.copy(doc_id = d.doc_id + 1000000000L))
        ++ fresh(2, 5),
      fresh(3, 4))

    val budget = 120L
    def embed(df: DataFrame): DataFrame =
      df.withColumn("embedding", StreamingNightlyIngest.synthEmbedding)

    // ---- path 1: sequential nightStep calls -------------------------
    val artsSeq = mkArts("seq")
    reset(artsSeq, corpus)
    val seqKept = batches.map { b =>
      StreamingNightlyIngest.nightStep(artsSeq, embed(b.toDF()), budget,
          salt = "snit")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    }

    // ---- path 2: the streaming loop, compacting every batch ---------
    val artsStr = mkArts("str")
    reset(artsStr, corpus)
    val got = scala.collection.mutable.Map[Long, Set[(Long, String, Long)]]()
    val mem = MemoryStream[NightDoc](spark)
    val q = StreamingNightlyIngest.start(spark, embed(mem.toDF()), artsStr,
        budget, salt = "snit", compactEvery = 1) { (kept, id) =>
      got(id) = kept.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    }
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    // parity: admitted sets night by night
    assert(got.size == batches.size)
    got.toSeq.sortBy(_._1).map(_._2).zip(seqKept).zipWithIndex.foreach {
      case ((g, e), i) => assert(g == e, s"night ${i + 1}: stream=$g seq=$e")
    }
    // the fixture exercised the gates: replays dropped (night 2's copy
    // of night 1's fresh docs too), budget bound somewhere
    assert(seqKept.head.nonEmpty)
    assert(!seqKept(1).exists(_._1 < 3000000000L + 500),
      s"night-2 replays should have dropped: ${seqKept(1)}")
    val admittedTokens = seqKept.flatten.groupBy(_._2)
      .map { case (l, ds) => l -> ds.map(_._3).sum }
    assert(admittedTokens.values.forall(_ <= budget))

    // parity: budget state tables identical (resolved through their
    // generation pointers — the state swaps atomically per night)
    def budgetState(t: String) = spark.table(
        Generations.resolve(spark, t, "state")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(budgetState(artsSeq.budgetTable) == budgetState(artsStr.budgetTable))

    // parity: shard layouts identical (manifest row sets)
    def manifestOf(path: String) = Sharding.manifest(
        spark.read.parquet(path).withColumn("shard", col("shard").cast("long")),
        "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val mSeq = manifestOf(artsSeq.shardPath)
    assert(mSeq == manifestOf(artsStr.shardPath))
    assert(mSeq.nonEmpty)

    // parity: ANN indexes answer identically after the composed run
    val rerank = StreamingNightlyIngest.corpus(spark, artsStr)
    def annProbe(arts: StreamingNightlyIngest.Artifacts) =
      AnnIndex.probeQueries(spark, arts.annIndex,
          rerank.filter(col("vec_id") < 4), rerank, k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(annProbe(artsStr) == annProbe(artsSeq))

    // layout contracts still hold on the compacted, appended indexes
    val probeBatch = corpus.filter(col("doc_id") < 5)
      .select((col("doc_id") + 9000000000L).as("doc_id"), col("text"))
      .localCheckpoint()
    IndexLayoutChecks.assertNearDupProbeLayout(spark, artsStr.ndIndex,
      probeBatch)
    IndexLayoutChecks.assertAnnProbePruned(
      AnnIndex.probeQueries(spark, artsStr.annIndex,
        rerank.filter(col("vec_id") < 4), rerank, k = 5, nprobe = 2))
  }

  test("in-stream drift check: drifted nights trigger a retrain that restores the signal") {
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 40).localCheckpoint()
    val arts = mkArts("drift")
    reset(arts, corpus)
    val gen0 = Generations.currentGen(spark, arts.annIndex).get
    // off-distribution vectors: the synthetic embedding shifted a full
    // unit per dim — far from every build-time centroid
    def embShifted(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("embedding", transform(
        StreamingNightlyIngest.synthEmbedding,
        x => (x + lit(1.0f)).cast("float")))
    def fresh(night: Int): Seq[NightDoc] = (0 until 15).map { i =>
      NightDoc(night * 1000000000L + 700 + i,
        s"drift night $night doc $i with vocabulary chi$night$i psi omega " +
          "alpha beta gamma delta epsilon zeta eta theta", "en", 90L)
    }
    val mem = MemoryStream[NightDoc](spark)
    // generous budget: every drifted doc must be ADMITTED so the
    // maintained corpus actually drifts
    val q = StreamingNightlyIngest.start(spark, embShifted(mem.toDF()),
        arts, budget = 100000L, salt = "drift",
        driftCheckEvery = 2, maxDrift = 1.2) { (_, _) => () }
    try {
      Seq(fresh(1), fresh(2)).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    // the check after batch 2 must have retrained: appends never bump
    // the generation (and compactEvery is off), so a bumped pointer IS
    // the retrain...
    assert(Generations.currentGen(spark, arts.annIndex).exists(_ > gen0),
      "drifted ingest did not trigger a retrain")
    // ...and the retrained model fits the drifted corpus again
    val ratio = AnnIndex.driftRatio(spark, arts.annIndex,
      StreamingNightlyIngest.corpus(spark, arts))
    assert(ratio < 1.2, s"signal not restored after retrain: $ratio")
  }

  test("takedown feed: deletions reach every artifact; erasure is durable across re-ingest, compaction and retrain") {
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 60).localCheckpoint()
    val arts = mkArts("del")
    reset(arts, corpus)
    def embed(df: DataFrame): DataFrame =
      df.withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
    def add(id: Long, t: String, lang: String) =
      OpNightDoc(id, t, lang, 90L, "add")
    def del(id: Long) = OpNightDoc(id, "", "xx", 0L, "delete")
    def freshText(tag: String) =
      s"takedown fixture $tag with vocabulary alpha$tag beta gamma delta " +
        "epsilon zeta eta theta iota kappa lambda mu"
    val b1 = (0 until 5).map(i => add(1000000500L + i, freshText(s"a$i"), "en"))
    // night 2: fresh adds + takedown of two night-1 docs + one
    // same-night add-then-delete (must end deleted everywhere)
    val b2 = (0 until 3).map(i => add(2000000600L + i, freshText(s"b$i"), "de")) ++
      Seq(add(2000000700L, freshText("c0"), "en"),
        del(1000000500L), del(1000000501L), del(2000000700L))
    val deleted = Set(1000000500L, 1000000501L, 2000000700L)

    val keptByNight = scala.collection.mutable.Map[Long, Set[Long]]()
    val mem = MemoryStream[OpNightDoc](spark)
    val q = StreamingNightlyIngest.start(spark, embed(mem.toDF()), arts,
        budget = 100000L, salt = "delt") { (kept, id) =>
      keptByNight(id) = kept.collect().map(_.getLong(0)).toSet
    }
    try {
      Seq(b1, b2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }

      // every night-1 doc admitted; night 2 admitted its adds
      // (including the later-deleted 2000000700 — ingest-then-delete)
      assert(keptByNight(0L) == b1.map(_.doc_id).toSet)
      assert(keptByNight(1L) ==
        b2.filter(_.op == "add").map(_.doc_id).toSet)

      // the durable registry holds exactly the takedown set
      val log = StreamingNightlyIngest.deletedIds(spark, arts)
        .collect().map(_.getLong(0)).toSet
      assert(log == deleted)

      // trainer layout: no assignment row of a deleted doc remains;
      // the surviving night-1/2 docs are all still there
      val layout = spark.read.parquet(arts.shardPath)
      assert(layout.filter(col("doc_id").isin(deleted.toSeq: _*)).isEmpty)
      val surviving = (b1.map(_.doc_id).toSet ++
        b2.filter(_.op == "add").map(_.doc_id).toSet) -- deleted
      assert(layout.select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet.intersect(surviving) == surviving)

      // near-dup index: a COPY of a deleted doc's text now survives a
      // probe (the original is invisible) — d21 in-stream
      import spark.implicits._
      val copy = Seq((9000000001L, freshText("a0")))
        .toDF("doc_id", "text").localCheckpoint()
      val surv = Dedup.incrementalNearDupSurvivorsIndexed(
        spark, arts.ndIndex, copy).collect().map(_.getLong(0)).toSet
      assert(surv == Set(9000000001L),
        s"copy of a deleted doc did not survive the nd probe: $surv")

      // ANN index: querying a deleted doc's own vector must not return
      // it (exhaustive probe, re-rank against the filtered corpus)
      val rerank = StreamingNightlyIngest.retrainCorpus(spark, arts)
      assert(rerank.filter(col("vec_id").isin(deleted.toSeq: _*)).isEmpty,
        "retrainCorpus still exposes deleted vectors")
      val queries = Seq(1000000500L).toDF("doc_id")
        .withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      // rerank = corpus ∪ queries (the probe contract) — the deleted
      // query's own vector comes from the query frame, not the corpus
      val hits = AnnIndex.probeQueries(spark, arts.annIndex, queries,
          rerank.unionByName(queries), k = 5, nprobe = 64, shortlist = 400)
        .collect().map(_.getLong(1)).toSet
      assert(hits.nonEmpty && hits.intersect(deleted).isEmpty,
        s"ANN probe returned a deleted vector: $hits")

      // night 3: re-crawl of a taken-down doc is barred by the registry
      val b3 = Seq(add(1000000500L, freshText("a0"), "en"),
        add(3000000800L, freshText("d0"), "en"))
      mem.addData(b3: _*); q.processAllAvailable()
      assert(keptByNight(2L) == Set(3000000800L),
        s"a taken-down doc re-entered on re-crawl: ${keptByNight(2L)}")
      assert(spark.read.parquet(arts.shardPath)
        .filter(col("doc_id") === 1000000500L).isEmpty)
    } finally q.stop()

    // physical reclamation: both compactions drop the rows and clear
    // the tombstone sets; the shard layout already reclaimed; the
    // corpus compaction completes TRUE erasure (no deleted embedding
    // left on disk) while keeping the registry as the re-entry bar
    Dedup.compactNearDupIndex(spark, arts.ndIndex)
    AnnIndex.compactAnnIndex(spark, arts.annIndex)
    StreamingNightlyIngest.compactCorpus(spark, arts)
    assert(StreamingNightlyIngest.corpus(spark, arts)
      .filter(col("vec_id").isin(deleted.toSeq: _*)).isEmpty,
      "corpus compaction left a deleted embedding on disk")
    assert(StreamingNightlyIngest.deletedIds(spark, arts)
      .collect().map(_.getLong(0)).toSet == deleted,
      "corpus compaction must keep the registry (the re-entry bar)")
    assert(Tombstones.get(spark, arts.ndIndex).isEmpty)
    assert(Tombstones.get(spark, arts.annIndex).isEmpty)
    assert(spark.table(Generations.resolve(spark, arts.ndIndex, "sigs"))
      .filter(col("doc_id").isin(deleted.toSeq: _*)).isEmpty)
    assert(spark.table(Generations.resolve(spark, arts.annIndex, "cells"))
      .filter(col("vec_id").isin(deleted.toSeq: _*)).isEmpty)

    // a retrain AFTER tombstones were cleared must not resurrect the
    // deleted vectors — the registry, not the tombstone set, is what
    // guards the retrain corpus
    AnnIndex.retrainAnnIndex(spark, arts.annIndex,
      StreamingNightlyIngest.retrainCorpus(spark, arts))
    assert(spark.table(Generations.resolve(spark, arts.annIndex, "cells"))
      .filter(col("vec_id").isin(deleted.toSeq: _*)).isEmpty,
      "retrain resurrected a deleted vector")

    // un-bar a mistaken takedown: the registry row goes, and a fresh
    // crawl of the doc ingests normally — content re-enters every
    // artifact (index physically reclaimed above, so the ifAbsent
    // appends see it as genuinely new)
    import spark.implicits._
    StreamingNightlyIngest.allowReingest(spark, arts,
      Seq(1000000500L).toDF("doc_id"))
    assert(StreamingNightlyIngest.deletedIds(spark, arts)
      .collect().map(_.getLong(0)).toSet == deleted - 1000000500L)
    def embed2(df: DataFrame): DataFrame =
      df.withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
    val k4 = StreamingNightlyIngest.nightStep(arts,
        embed2(Seq(NightDoc(1000000500L, freshText("a0"), "en", 90L)).toDF()),
        budget = 100000L, salt = "delt")
      .collect().map(_.getLong(0)).toSet
    assert(k4 == Set(1000000500L), s"un-barred doc did not re-enter: $k4")
    assert(!spark.read.parquet(arts.shardPath)
      .filter(col("doc_id") === 1000000500L).isEmpty)
    assert(spark.table(Generations.resolve(spark, arts.ndIndex, "sigs"))
      .filter(col("doc_id") === 1000000500L).count() > 0,
      "re-ingested doc missing from the near-dup index")
  }

  test("optional graph artifact: the loop advances it per night, takedowns reach it") {
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 40).localCheckpoint()
    val arts = mkArts("graph")
    reset(arts, corpus)
    import graft.operators.KnnGraphIndex
    val gName = StreamingNightlyIngest.graphName(arts)
    // opt in: build the graph over the baseline corpus vectors
    // (existence IS the opt-in — no Artifacts change)
    val baseVecs = corpus.select(col("doc_id"))
      .withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    KnnGraphIndex.writeKnnGraph(baseVecs, gName, k = 5, nCells = 4,
      nprobe = 4, edgeBuffer = 8)
    def embed(df: DataFrame): DataFrame =
      df.withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
    def freshText(tag: String) =
      s"graph night fixture $tag with vocabulary omega$tag psi chi phi " +
        "upsilon tau sigma rho pi omicron xi nu"
    def add(id: Long, t: String) = OpNightDoc(id, t, "en", 90L, "add")
    val b1 = (0 until 4).map(i => add(1000000700L + i, freshText(s"g$i")))
    val b2 = Seq(add(2000000800L, freshText("h0")),
      OpNightDoc(1000000700L, "", "xx", 0L, "delete"))
    val mem = MemoryStream[OpNightDoc](spark)
    val q = StreamingNightlyIngest.start(spark, embed(mem.toDF()), arts,
      budget = 100000L, salt = "gnight") { (_, _) => () }
    try {
      Seq(b1, b2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    // every admitted doc answers as a graph query; the deleted one is
    // invisible on both endpoints
    val probed = KnnGraphIndex.probeKnnGraph(spark, gName)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val qids = probed.map(_._1)
    assert(Set(1000000701L, 1000000702L, 1000000703L, 2000000800L)
      .subsetOf(qids), s"admitted docs missing from the graph: $qids")
    assert(!qids.contains(1000000700L) &&
      !probed.map(_._2).contains(1000000700L),
      "takedown did not reach the graph")
    // compaction folds in: physical reclamation, probe unchanged
    graft.operators.Dedup.compactNearDupIndex(spark, arts.ndIndex)
    graft.operators.AnnIndex.compactAnnIndex(spark, arts.annIndex)
    KnnGraphIndex.compactKnnGraph(spark, gName)
    assert(Tombstones.get(spark, gName).isEmpty)
    assert(KnnGraphIndex.probeKnnGraph(spark, gName)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == probed)
  }

  test("optional lexical artifact: the loop advances it per night, takedowns reach it, compaction equals a fresh build") {
    import graft.operators.LexIndex
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 40).localCheckpoint()
    val arts = mkArts("lex")
    reset(arts, corpus)
    val lexN = StreamingNightlyIngest.lexName(arts)
    // opt in: the family exists over the base corpus (existence IS the
    // opt-in — no Artifacts change, the graph leg's contract)
    LexIndex.writeLexIndex(corpus.select(col("doc_id"), col("text")),
      lexN, numBuckets = 4)
    def embed(df: DataFrame): DataFrame =
      df.withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
    def freshText(tag: String) =
      s"lex night fixture $tag with vocabulary omega$tag psi chi phi " +
        "upsilon tau sigma rho pi omicron xi nu"
    def add(id: Long, t: String) = OpNightDoc(id, t, "en", 90L, "add")
    val b1 = (0 until 4).map(i => add(1000000700L + i, freshText(s"g$i")))
    val b2 = Seq(add(2000000800L, freshText("h0")),
      OpNightDoc(1000000700L, "", "xx", 0L, "delete"))
    val mem = MemoryStream[OpNightDoc](spark)
    val q = StreamingNightlyIngest.start(spark, embed(mem.toDF()), arts,
      budget = 100000L, salt = "lnight") { (_, _) => () }
    try {
      Seq(b1, b2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    // the admitted night docs are retrievable through the maintained
    // index; the taken-down one lost candidacy (tombstone pending)
    val queries = Seq((9000000001L, freshText("g1")),
      (9000000002L, freshText("h0"))).toDF("doc_id", "text")
    def probe() = LexIndex.probeLexIndex(spark, lexN, queries, kEach = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pre = probe()
    val hits = pre.map(_._2)
    assert(Set(1000000701L, 2000000800L).subsetOf(hits),
      s"admitted docs missing from the lexical index: $hits")
    assert(!hits.contains(1000000700L), "takedown did not reach the lex index")
    // the fold-in compaction (the loop ran compactEvery = 0 here, so
    // drive compactAll directly) purges, and the compacted family is
    // behavior-identical to a FRESH build over the surviving corpus —
    // the s33 contract through the composed loop
    StreamingNightlyIngest.compactAll(spark, arts)
    assert(Tombstones.get(spark, lexN).isEmpty)
    val survivors = corpus.select(col("doc_id"), col("text"))
      .unionByName((b1.filter(_.doc_id != 1000000700L) ++ b2.take(1))
        .map(d => (d.doc_id, d.text)).toDF("doc_id", "text"))
    LexIndex.writeLexIndex(survivors, "graft_sni_lex_control", numBuckets = 4)
    val control = LexIndex.probeLexIndex(spark, "graft_sni_lex_control",
        queries, kEach = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).toSet
    val post = LexIndex.probeLexIndex(spark, lexN, queries, kEach = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).toSet
    assert(post == control,
      s"composed-loop lex index diverged from fresh build: $post vs $control")
  }

  test("update feed: op=update replaces in ONE night on every artifact; " +
      "the result equals a fresh build and redelivered nights converge") {
    import graft.operators.LexIndex
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 120).localCheckpoint()
    val arts = mkArts("upd")
    reset(arts, corpus)
    // opt the lexical artifact in (existence is the opt-in)
    LexIndex.writeLexIndex(corpus.select(col("doc_id"), col("text")),
      StreamingNightlyIngest.lexName(arts), numBuckets = 4)
    def embed(df: DataFrame): DataFrame =
      df.withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
    val revIds = Seq(20L, 21L, 22L)
    def revText(id: Long) = s"revised doc $id with replacement " +
      s"vocabulary zork$id yonder quill ember warden"
    val updates = revIds.map(id =>
      OpNightDoc(id, revText(id), "en", 70L, "update"))
    val adds = Seq(OpNightDoc(5000000000L, "update night addition with " +
      "vocabulary umber violet wisp granite", "en", 60L, "add"))
    val mem = MemoryStream[OpNightDoc](spark)
    val q = StreamingNightlyIngest.start(spark, embed(mem.toDF()), arts,
      budget = 100000L, salt = "updt") { (_, _) => () }
    try {
      mem.addData(updates ++ adds: _*); q.processAllAvailable()
    } finally q.stop()
    // probe queries: the replacement vocabulary (hits exactly the
    // revised docs iff the replace landed) + two regular corpus docs
    val queries = Seq(
        (9000000000L, "zork20 yonder quill ember warden"),
        (9000000001L, corpus.filter(col("doc_id") === 0L)
          .head().getString(1)),
        (9000000002L, corpus.filter(col("doc_id") === 3L)
          .head().getString(1)))
      .toDF("doc_id", "text").localCheckpoint()
    def probe(name: String) =
      LexIndex.probeLexIndex(spark, name, queries, kEach = 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .sortBy(t => (t._1, t._3)).toSeq
    val got = probe(StreamingNightlyIngest.lexName(arts))
    // 1. one-night visibility: the vocab query retrieves the revised
    //    docs (new text live tonight, not in three nights)
    val vocabHits = got.filter(_._1 == 9000000000L).map(_._2).toSet
    assert(revIds.toSet.subsetOf(vocabHits),
      s"revised docs not retrievable by their new text: $vocabHits")
    // 2. the whole family equals a FRESH BUILD over the revised corpus
    //    (replaced, not duplicated — stats fold any leak into every
    //    score)
    val revised = corpus.filter(!col("doc_id").isin(revIds: _*))
      .select(col("doc_id"), col("text"))
      .unionByName(revIds.map(id => (id, revText(id)))
        .toDF("doc_id", "text"))
      .unionByName(adds.map(a => (a.doc_id, a.text)).toDF("doc_id", "text"))
    LexIndex.writeLexIndex(revised, "graft_sni_upd_twin", numBuckets = 4)
    assert(got == probe("graft_sni_upd_twin"),
      "update night != fresh build over the revised corpus")
    // 3. corpus: each revised vec present exactly once; registry empty
    val cnt = StreamingNightlyIngest.corpus(spark, arts)
      .filter(col("vec_id").isin(revIds: _*)).count()
    assert(cnt == revIds.size, s"revised vectors in corpus: $cnt")
    assert(StreamingNightlyIngest.deletedIds(spark, arts).isEmpty,
      "a revision left a durable re-entry bar behind")
    // 4. redelivery of the SAME night (at-least-once): the replace
    //    re-runs against the already-updated state and converges —
    //    probe identical, shard keys identical (offsets of re-packed
    //    revisions may legitimately move; keys and token accounting
    //    must not)
    def shardKeys() = spark.read.parquet(arts.shardPath)
      .select(col("doc_id"), col("n_tokens")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val keys0 = shardKeys()
    StreamingNightlyIngest.nightStep(arts,
      embed(adds.toDF().drop("op")), budget = 100000L, salt = "updt",
      batchId = 0,
      revisions = Some(embed(updates.toDF().drop("op"))))
    assert(probe(StreamingNightlyIngest.lexName(arts)) == got,
      "redelivered update night diverged from the clean run")
    assert(shardKeys() == keys0,
      "redelivery changed the shard key set")
    LexIndex.destroy(spark, "graft_sni_upd_twin")
  }

  test("a revision failing the quality gate is REFUSED: the old version " +
      "stays live instead of being silently deleted") {
    import graft.operators.LexIndex
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 30).localCheckpoint()
    val arts = mkArts("revq")
    reset(arts, corpus)
    val lexN = StreamingNightlyIngest.lexName(arts)
    LexIndex.writeLexIndex(corpus.select(col("doc_id"), col("text")),
      lexN, numBuckets = 4)
    def embed(df: DataFrame): DataFrame =
      df.withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
    val oldText = corpus.filter(col("doc_id") === 21L).head().getString(1)
    // doc 20's revision passes the gate; doc 21's new crawl is blank —
    // the gate must refuse the REPLACE, not just drop the new text
    val revs = Seq(
      NightDoc(20L, "revised doc twenty with replacement vocabulary " +
        "zorkq yonder quill ember warden", "en", 70L),
      NightDoc(21L, "   ", "en", 3L))
    StreamingNightlyIngest.nightStep(arts,
      embed(Seq.empty[NightDoc].toDF()), budget = 100000L, salt = "revq",
      batchId = 7, revisions = Some(embed(revs.toDF())))
    val queries = Seq((9000000000L, oldText),
        (9000000001L, "zorkq yonder quill ember warden"))
      .toDF("doc_id", "text").localCheckpoint()
    val got = LexIndex.probeLexIndex(spark, lexN, queries, kEach = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((9000000000L, 21L)),
      "doc 21's OLD version stopped being retrievable — the failing " +
        "revision deleted it instead of being refused")
    assert(got.contains((9000000001L, 20L)),
      "the passing revision did not replace doc 20")
    // no registry bar, no corpus hole for the refused revision
    assert(StreamingNightlyIngest.deletedIds(spark, arts).isEmpty,
      "the refused revision left a durable re-entry bar")
    assert(StreamingNightlyIngest.corpus(spark, arts)
      .filter(col("vec_id") === 21L).count() == 1L,
      "the refused revision purged doc 21's vector")
  }

  test("allowReingest refuses while an index is only tombstoned (pre-compaction)") {
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 30).localCheckpoint()
    val arts = mkArts("unbar")
    reset(arts, corpus)
    import spark.implicits._
    val doc = Seq(NightDoc(5000000001L,
      "unbar fixture doc with vocabulary rho sigma tau upsilon phi chi " +
        "psi omega alpha beta gamma", "en", 90L)).toDF()
      .withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
    StreamingNightlyIngest.nightStep(arts, doc, budget = 100000L,
      salt = "unb")
    StreamingNightlyIngest.nightStep(arts,
      doc.limit(0), budget = 100000L, salt = "unb",
      deletes = Some(Seq(5000000001L).toDF("doc_id")))
    // tombstones still pending physical reclamation → refuse
    intercept[IllegalArgumentException] {
      StreamingNightlyIngest.allowReingest(spark, arts,
        Seq(5000000001L).toDF("doc_id"))
    }
    // index compactions alone are NOT enough: the raw-vector corpus
    // still physically holds the embedding (the registry only filters
    // reads), and un-barring now would let the stale vector shadow a
    // re-ingested doc's new one (the corpus append anti-joins vec_id)
    Dedup.compactNearDupIndex(spark, arts.ndIndex)
    AnnIndex.compactAnnIndex(spark, arts.annIndex)
    intercept[IllegalArgumentException] {
      StreamingNightlyIngest.allowReingest(spark, arts,
        Seq(5000000001L).toDF("doc_id"))
    }
    // after corpus reclamation the same call succeeds
    StreamingNightlyIngest.compactCorpus(spark, arts)
    StreamingNightlyIngest.allowReingest(spark, arts,
      Seq(5000000001L).toDF("doc_id"))
    assert(StreamingNightlyIngest.deletedIds(spark, arts).isEmpty)
  }

  test("loop retention: clean compaction nights keep an as-of window; a takedown night purges it") {
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 60).localCheckpoint()
    val arts = mkArts("retain")
    reset(arts, corpus)
    def embed(df: DataFrame): DataFrame =
      df.withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
    def add(id: Long, t: String) = OpNightDoc(id, t, "en", 90L, "add")
    // mutually DISSIMILAR night docs: the as-of assertion needs night
    // 3's text to near-dup nothing from nights 1-2
    val t1 = "first night document kappa lambda mu nu xi omicron pi rho sigma tau"
    val t2 = "second night unique story quux corge grault garply waldo fred plugh xyzzy"
    val t3 = "third night completely different saga zig zag zork blorb frotz gnusto rezrov"
    val mem = MemoryStream[OpNightDoc](spark)
    val q = StreamingNightlyIngest.start(spark, embed(mem.toDF()), arts,
        budget = 100000L, salt = "ret", compactEvery = 2,
        retainGenerations = 2) { (_, _) => () }
    try {
      import spark.implicits._
      mem.addData(add(1000000800L, t1)); q.processAllAvailable() // night 1
      mem.addData(add(2000000800L, t2)); q.processAllAvailable() // night 2 + compact
      // the clean compaction retained its predecessor
      assert(Generations.listGenerations(spark, arts.ndIndex, "sigs")
        .size == 2)
      mem.addData(add(3000000800L, t3)); q.processAllAvailable() // night 3
      val g0 = Generations.currentGen(spark, arts.ndIndex).get - 1
      // night 3's append touched only the CURRENT generation: its
      // copy drops live but survives against the frozen snapshot
      val copy = Seq((9000000800L, t3)).toDF("doc_id", "text")
      assert(Dedup.incrementalNearDupSurvivorsIndexed(
        spark, arts.ndIndex, copy).isEmpty)
      assert(Dedup.incrementalNearDupSurvivorsIndexed(
          spark, arts.ndIndex, copy, asOf = Some(g0))
        .collect().map(_.getLong(0)).toSet == Set(9000000800L))
      // night 4 carries a takedown: its fold-in compaction applies the
      // pending tombstone, so it PURGES the window instead of erroring
      mem.addData(OpNightDoc(1000000800L, "", "xx", 0L, "delete"))
      q.processAllAvailable()
      assert(Generations.listGenerations(spark, arts.ndIndex, "sigs")
        .size == 1,
        "a takedown night's compaction must collapse the as-of window")
      assert(Tombstones.get(spark, arts.ndIndex).isEmpty,
        "the purge compaction did not apply-and-clear the tombstone")
    } finally q.stop()
  }

  test("a first-ever delete-only night (no shards yet) is a clean no-op, not a crash") {
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 20).localCheckpoint()
    val arts = mkArts("delonly")
    reset(arts, corpus)
    import spark.implicits._
    val empty = corpus.withColumn("embedding",
      StreamingNightlyIngest.synthEmbedding).limit(0)
    // the CDC feed's first batch can be delete-only — applyDeletions
    // hits the never-written shard layout before any shards exist
    StreamingNightlyIngest.nightStep(arts, empty, budget = 1000L,
      salt = "del", deletes = Some(Seq(7L).toDF("doc_id")))
    assert(StreamingNightlyIngest.deletedIds(spark, arts)
      .collect().map(_.getLong(0)).toSet == Set(7L))
    // a takedown with no ingest behind it still reaches TRUE erasure:
    // compactCorpus rewrites the raw-vector corpus without the id
    val n = StreamingNightlyIngest.corpus(spark, arts).count()
    assert(!StreamingNightlyIngest.corpus(spark, arts)
      .filter(col("vec_id") === 7L).isEmpty)
    StreamingNightlyIngest.compactCorpus(spark, arts)
    assert(StreamingNightlyIngest.corpus(spark, arts).count() == n - 1)
    assert(StreamingNightlyIngest.corpus(spark, arts)
      .filter(col("vec_id") === 7L).isEmpty,
      "compactCorpus left the deleted embedding physically on disk")
  }

  test("replayed nights converge: crashed and re-delivered batches leave every artifact as one clean run") {
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 80).localCheckpoint()
    def embed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
    def keptSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val budget = 200L

    // night 1 + night 2 fixtures; night 2 carries a WITHIN-BATCH
    // duplicate pair (same text, two ids) — the case a bare
    // self-exclusion replay would collapse
    def doc(id: Long, t: String, lang: String) = NightDoc(id, t, lang, 90L)
    val b1 = (0 until 5).map(i => doc(1000000500L + i,
      s"first night novel document $i alpha beta gamma delta epsilon " +
        s"zeta$i eta theta iota kappa", if (i % 2 == 0) "en" else "de"))
    val dupText = "second night twin text nu xi omicron pi rho sigma tau " +
      "upsilon phi chi psi omega"
    val b2 = Seq(
      doc(2000000500L, dupText, "en"), doc(2000000501L, dupText, "en")) ++
      (0 until 4).map(i => doc(2000000600L + i,
        s"second night fresh doc $i with lambda$i mu nu xi omicron pi " +
          "rho sigma tau upsilon", "de"))

    // ---- twin that never crashes ------------------------------------
    // BOTH pipelines opt into the lex leg: the composed loop's
    // crash-replay convergence must hold for all four maintained
    // artifacts, including the one whose append is not a generation
    // swap (the lex batch fence does the converging there).
    import graft.operators.LexIndex
    val clean = mkArts("rpclean")
    reset(clean, corpus)
    LexIndex.writeLexIndex(corpus.select(col("doc_id"), col("text")),
      StreamingNightlyIngest.lexName(clean), numBuckets = 4)
    val ck1 = keptSet(StreamingNightlyIngest.nightStep(clean,
      embed(b1.toDF()), budget, "rp", batchId = 0))
    val ck2 = keptSet(StreamingNightlyIngest.nightStep(clean,
      embed(b2.toDF()), budget, "rp", batchId = 1))
    assert(ck2.count(_._1 < 2000000502L) == 2,
      s"fixture must keep the within-batch twin pair: $ck2")

    // ---- crashing pipeline ------------------------------------------
    val arts = mkArts("rp")
    reset(arts, corpus)
    LexIndex.writeLexIndex(corpus.select(col("doc_id"), col("text")),
      StreamingNightlyIngest.lexName(arts), numBuckets = 4)
    val k1 = keptSet(StreamingNightlyIngest.nightStep(arts,
      embed(b1.toDF()), budget, "rp", batchId = 0))
    // post-commit replay of night 1 (foreachBatch re-delivery after a
    // crash that happened AFTER everything landed)
    val k1r = keptSet(StreamingNightlyIngest.nightStep(arts,
      embed(b1.toDF()), budget, "rp", batchId = 0))
    assert(k1r == k1, "post-commit replay changed the admitted set")
    // night 2 crashes mid-step: the near-dup append lands, the budget
    // commit does not (the injected point is the budget manifest flip)
    Generations.failpoint = Some("before-flip")
    try intercept[IllegalStateException] {
      StreamingNightlyIngest.nightStep(arts, embed(b2.toDF()), budget,
        "rp", batchId = 1)
    } finally Generations.failpoint = None
    // re-delivery converges
    val k2 = keptSet(StreamingNightlyIngest.nightStep(arts,
      embed(b2.toDF()), budget, "rp", batchId = 1))
    assert(k2 == ck2, s"crashed-then-replayed night diverged: $k2 vs $ck2")
    assert(k1 == ck1)

    // every artifact equals the clean twin's
    def budgetOf(a: StreamingNightlyIngest.Artifacts) =
      StreamingNightlyIngest.budgetState(spark, a.budgetTable)
    assert(budgetOf(arts) == budgetOf(clean))
    def ndRows(a: StreamingNightlyIngest.Artifacts) =
      spark.table(Generations.resolve(spark, a.ndIndex, "sigs"))
        .groupBy("doc_id").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ndRows(arts) == ndRows(clean),
      "near-dup index contents diverged (duplicate signature rows?)")
    def annRows(a: StreamingNightlyIngest.Artifacts) =
      spark.table(Generations.resolve(spark, a.annIndex, "cells"))
        .groupBy("vec_id").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(annRows(arts) == annRows(clean),
      "ANN index contents diverged (duplicate code rows?)")
    def manifestOf(a: StreamingNightlyIngest.Artifacts) = Sharding.manifest(
        spark.read.parquet(a.shardPath)
          .withColumn("shard", col("shard").cast("long")), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(manifestOf(arts) == manifestOf(clean),
      "shard layout diverged (duplicate assignment rows?)")
    // the lex leg converged too: postings row multiset equal (no
    // duplicate postings from the re-delivered append), stats deltas
    // exactly once, and the probe-visible behavior identical
    def lexRows(a: StreamingNightlyIngest.Artifacts) =
      spark.table(Generations.resolve(spark,
          StreamingNightlyIngest.lexName(a), "postings"))
        .groupBy("doc_id").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lexRows(arts) == lexRows(clean),
      "lex postings diverged (duplicate rows from the replayed append?)")
    def lexStats(a: StreamingNightlyIngest.Artifacts) =
      spark.table(Generations.resolve(spark,
          StreamingNightlyIngest.lexName(a), "stats"))
        .agg(sum(col("n_docs")), sum(col("total_tokens"))).head()
    assert(lexStats(arts) == lexStats(clean),
      "lex stats diverged (replayed delta applied twice?)")
    def lexProbe(a: StreamingNightlyIngest.Artifacts) =
      LexIndex.probeLexIndex(spark, StreamingNightlyIngest.lexName(a),
          corpus.filter(col("doc_id") < 4).select(col("doc_id"), col("text")),
          kEach = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getLong(3))).toSet
    assert(lexProbe(arts) == lexProbe(clean),
      "lex probe diverged between crashed-replayed and clean pipelines")
  }

  test("policy-driven maintenance: healthy families do not trigger, fragmentation and a takedown's erasure debt do (named reasons), and the sweep compacts only where due") {
    import graft.operators.{IndexMaintenance, Tombstones}
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 120).localCheckpoint()
    val arts = mkArts("pol")
    reset(arts, corpus)
    def night(id: Long, docs: Seq[NightDoc],
        deletes: Option[Seq[Long]] = None): Unit = {
      import spark.implicits._
      StreamingNightlyIngest.nightStep(arts,
        docs.toDF().withColumn("embedding",
          StreamingNightlyIngest.synthEmbedding),
        budget = 100000L, salt = "pol", tokensPerShard = 256L, batchId = id,
        deletes = deletes.map(_.toDF("doc_id")))
      ()
    }
    def mkDocs(nightNo: Int, n: Int): Seq[NightDoc] =
      (0 until n).map(i => NightDoc(nightNo * 1000000000L + 500 + i,
        s"policy night $nightNo novel doc $i with vocabulary " +
          s"pol$nightNo$i alpha beta gamma delta epsilon zeta eta theta",
        "en", 80L))
    def gens() = Seq(arts.ndIndex, arts.annIndex)
      .map(f => Generations.currentGen(spark, f).get)

    // one clean night: every family healthy under the DEFAULT policy —
    // the sweep decides not-due for all and compacts NOTHING
    night(0, mkDocs(1, 5))
    val g0 = gens()
    val d0 = StreamingNightlyIngest.maintenanceSweep(spark, arts)
    assert(d0.nonEmpty && d0.forall(!_._2.due),
      s"healthy families flagged due: $d0")
    assert(gens() == g0, "a not-due sweep still compacted something")
    assert(!StreamingNightlyIngest.corpusErasureDue(spark, arts),
      "corpus owes reclamation with no takedown ever")

    // two more append nights fragment the bucketed members; a tight
    // fragmentation policy fires with the named reason, and the sweep
    // runs exactly the due families' compactions (generation advanced
    // iff due)
    night(1, mkDocs(2, 5))
    night(2, mkDocs(3, 5))
    val g1 = gens()
    val tight = IndexMaintenance.Policy(maxFilesPerBucket = 2.0,
      maxPendingTombstones = 1L)
    val d1 = StreamingNightlyIngest.maintenanceSweep(spark, arts, tight)
    val dueMap = d1.toMap
    assert(dueMap(arts.ndIndex).due &&
      dueMap(arts.ndIndex).reasons.exists(_.contains("fragmentation")),
      s"three appends did not trip the tight fragmentation bound: $d1")
    d1.zip(g1).zip(gens()).foreach { case (((f, d), before), after) =>
      assert((after > before) == d.due,
        s"$f: due=${d.due} but generation $before -> $after")
    }

    // a takedown night accrues erasure debt on every maintained family
    // AND the raw-vector corpus; the DEFAULT policy fires the
    // compliance reason, the sweep reclaims, both gauges reset
    val victims = Seq(1000000500L, 1000000501L)
    night(3, mkDocs(4, 3), deletes = Some(victims))
    assert(StreamingNightlyIngest.corpusErasureDue(spark, arts),
      "takedown did not flag the corpus for reclamation")
    val d2 = StreamingNightlyIngest.maintenanceSweep(spark, arts)
    assert(d2.forall { case (_, d) =>
      d.due && d.reasons.exists(_.contains("erasure debt")) },
      s"takedown debt did not fire on every family: $d2")
    Seq(arts.ndIndex, arts.annIndex).foreach(f =>
      assert(Tombstones.pendingCount(spark, f) == 0L,
        s"$f still owes reclamation after the sweep"))
    assert(!StreamingNightlyIngest.corpusErasureDue(spark, arts),
      "corpus still flagged after compactCorpus")
    // the reclaimed embeddings are physically gone from the corpus
    val vt = Generations.resolve(spark, arts.annCorpusTable, "vecs")
    assert(spark.table(vt)
      .filter(col("vec_id").isin(victims.map(x => x: Any): _*)).count() == 0,
      "deleted vectors still physically in the corpus after the sweep")
    // and the freshly maintained family reads healthy again
    val d3 = StreamingNightlyIngest.maintenanceSweep(spark, arts)
    assert(d3.forall(!_._2.due), s"freshly compacted families due: $d3")
  }

  test("start(maintenancePolicy): the streaming loop sweeps per batch instead of a fixed cadence") {
    import graft.operators.Tombstones
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 120).localCheckpoint()
    val arts = mkArts("polstr")
    reset(arts, corpus)
    intercept[IllegalArgumentException] {
      StreamingNightlyIngest.start(spark, corpus, arts, 100L, "x",
        compactEvery = 1, maintenancePolicy =
          Some(graft.operators.IndexMaintenance.Policy()))((_, _) => ())
    }
    val mem = MemoryStream[OpNightDoc](spark)
    val q = StreamingNightlyIngest.start(spark,
        mem.toDF().withColumn("embedding",
          StreamingNightlyIngest.synthEmbedding),
        arts, budget = 100000L, salt = "pol",
        maintenancePolicy =
          Some(graft.operators.IndexMaintenance.Policy()))((_, _) => ())
    try {
      // batch 0 ingests two novel docs; batch 1 takes one down — the
      // per-batch sweep must reclaim the debt without any compactEvery
      mem.addData(
        OpNightDoc(5000000001L, "stream policy doc one alpha beta gamma" +
          " delta epsilon zeta", "en", 60L, null),
        OpNightDoc(5000000002L, "stream policy doc two alpha beta gamma" +
          " delta epsilon eta", "en", 60L, null))
      q.processAllAvailable()
      mem.addData(OpNightDoc(5000000001L, "", "en", 0L, "delete"))
      q.processAllAvailable()
    } finally q.stop()
    Seq(arts.ndIndex, arts.annIndex).foreach(f =>
      assert(Tombstones.pendingCount(spark, f) == 0L,
        s"$f: the in-loop sweep did not reclaim the takedown debt"))
    assert(!StreamingNightlyIngest.corpusErasureDue(spark, arts),
      "the in-loop sweep did not reclaim the corpus")
  }

  test("allowReingest refuses while the lexical family still holds the " +
      "takedown; compacting it lifts the refusal and the doc re-enters") {
    import graft.operators.LexIndex
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 40).localCheckpoint()
    val arts = mkArts("relex")
    reset(arts, corpus)
    val lexN = StreamingNightlyIngest.lexName(arts)
    Seq(arts.ndIndex, arts.annIndex, lexN).foreach(Tombstones.destroy(spark, _))
    LexIndex.writeLexIndex(corpus.select(col("doc_id"), col("text")),
      lexN, numBuckets = 4)
    val victim = corpus.select("doc_id").orderBy("doc_id").head().getLong(0)
    // night 0 ingests a fresh doc and takes the victim down everywhere
    StreamingNightlyIngest.nightStep(arts,
      Seq(NightDoc(1000000950L, "relex fixture doc with vocabulary omega " +
          "psi chi phi upsilon tau sigma rho", "en", 70L)).toDF()
        .withColumn("embedding", StreamingNightlyIngest.synthEmbedding),
      budget = 100000L, salt = "relex", batchId = 0L,
      deletes = Some(Seq(victim).toDF("doc_id")))
    // every family but the lexical one reclaims the takedown
    Dedup.compactNearDupIndex(spark, arts.ndIndex)
    AnnIndex.compactAnnIndex(spark, arts.annIndex)
    StreamingNightlyIngest.compactCorpus(spark, arts)
    assert(Tombstones.pendingCount(spark, lexN) == 1L)
    val e = intercept[IllegalArgumentException] {
      StreamingNightlyIngest.allowReingest(spark, arts,
        Seq(victim).toDF("doc_id"))
    }
    assert(e.getMessage.contains("physical reclamation"), e.getMessage)
    assert(StreamingNightlyIngest.deletedIds(spark, arts)
      .filter(col("doc_id") === victim).count() == 1L,
      "a refused allowReingest un-barred the doc")
    // the lexical compaction lifts the refusal
    LexIndex.compactLexIndex(spark, lexN)
    StreamingNightlyIngest.allowReingest(spark, arts,
      Seq(victim).toDF("doc_id"))
    assert(StreamingNightlyIngest.deletedIds(spark, arts)
      .filter(col("doc_id") === victim).isEmpty)
    // and the re-crawled doc lands in the lexical family again
    StreamingNightlyIngest.nightStep(arts,
      Seq(NightDoc(victim, "relex recrawl of the taken down doc with " +
          "vocabulary kappa lambda mu nu xi omicron", "en", 70L)).toDF()
        .withColumn("embedding", StreamingNightlyIngest.synthEmbedding),
      budget = 100000L, salt = "relex", batchId = 1L)
    assert(spark.table(Generations.resolve(spark, lexN, "doclen"))
      .filter(col("doc_id") === victim).count() == 1L,
      "the re-admitted doc did not re-enter the lexical index")
  }
}
