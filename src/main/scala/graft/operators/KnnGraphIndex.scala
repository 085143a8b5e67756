package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** The k-NN GRAPH as a MAINTAINED artifact — completing the lifecycle
  * matrix: the near-dup index, the ANN index, the shard layout and the
  * takedown registry all have build/probe/append/compact/delete;
  * [[Similarity.knnGraph]] only had build. A corpus-scale graph is
  * exactly the artifact you cannot afford to rebuild nightly (work ≈
  * nprobe·n²/nCells), so maintenance is the difference between a
  * usable substrate and a batch job.
  *
  * Four [[Generations]] members, swapped as one generation:
  *  - `model` (cell, centroid): the frozen IVF coarse quantizer —
  *    appends assign against build-time centroids, the same
  *    drift-then-retrain story as [[AnnIndex]];
  *  - `vecs` (vec_id, embedding, cell), bucketed+sorted on vec_id —
  *    raw vectors + cell, written LAST on append, so presence here
  *    means "batch fully applied" (the near-dup index's sigs
  *    discipline);
  *  - `probes` (vec_id, cell), bucketed+sorted on vec_id: each
  *    vector's nprobe nearest cells, exploded — the REVERSE-direction
  *    candidate source on append (who would have probed the new
  *    vector's cell?);
  *  - `edges` (qid, vec_id, cos), bucketed+sorted on qid: ≥ k
  *    exact-cosine edges per qid. Appends only ADD rows (old vectors
  *    gain edges toward new arrivals); the probe takes top-k per qid
  *    at read time, and compaction re-tightens the table back to
  *    k + edgeBuffer rows per qid (the deletion-tolerance margin —
  *    see [[writeKnnGraph]]).
  *
  * ==Layout (the d12 discipline applied to the graph)==
  *
  * The edge table is `bucketBy(numBuckets, qid).sortBy(qid)` — three
  * properties fall out, each load-bearing at 100 TB:
  *
  *  1. SLICE PROBES PRUNE. `probeKnnGraph(pred)` pushes the qid
  *     predicate into the parquet scan; per-file sorting keeps
  *     row-group qid min/max ranges tight, so a range/equality slice
  *     reads only its row groups instead of the corpus-wide edge
  *     table (previously 0.16 s → 4.7 s at 10× for a FIXED slice —
  *     a full-table scan per lookup at scale).
  *  2. PROBES ARE EXCHANGE-FREE. The bucketed scan IS hash-partitioned
  *     on qid, which satisfies the probe-time top-k aggregation's
  *     distribution — no shuffle between scan and answer.
  *  3. THE APPEND FENCE STOPS SCALING WITH THE CORPUS' SHUFFLE. The
  *     replay-fence anti-join scopes the stored side through a
  *     broadcast semi-join on the batch's own qids first, so the edge
  *     table is scanned in place (one narrow column-pruned pass) and
  *     never shuffled; the anti-join runs batch-sized vs batch-sized.
  *
  * `probes`/`vecs` get the same treatment on vec_id (their fence key).
  * KnnGraphIndexSpec walks the probe and fence plans and asserts zero
  * ShuffleExchange above every graph-table scan.
  *
  * Append cost is batch-sized: forward candidates = batch-probes ⋈
  * (vecs ∪ batch) on cell; reverse candidates = stored probes ⋈
  * batch cells — both BROADCAST the batch side, so the corpus-sized
  * tables stream in place and candidates stay bounded by
  * nprobe·|batch|·|cell|, never a corpus rebuild or corpus shuffle.
  * The exact re-rank's embedding universe is scoped (broadcast
  * semi-join) to the endpoints the pair set actually touches, so its
  * joins are batch-sized on both sides. Every append effect is fenced
  * for replay (edges/probes anti-join their targets, vecs is the
  * applied marker) and the writer lease is held across the mutation,
  * as in [[AnnIndex.appendToAnnIndex]].
  *
  * Correctness gates: at nprobe = nCells the maintained graph is
  * EXACT — s26 hash-checks build+append against the exact k-NN graph
  * over the union, s27 the post-deletion probe against the exact
  * graph over the remaining vectors. Production points carry the
  * recall contract (s25's pattern).
  */
object KnnGraphIndex {

  private[operators] val Members = Seq("model", "vecs", "probes", "edges")

  /** The family's member list for [[IndexMaintenance.health]] sweeps —
    * the same list every writer passes to [[Generations]]. */
  val maintenanceMembers: Seq[String] = Members
  private val KProp = "graft.graph.k"
  private val NProbeProp = "graft.graph.nprobe"
  private val DimProp = "graft.graph.dim"
  private val BufProp = "graft.graph.edgebuffer"
  /** Mean distance-to-assigned-centroid at build time — the drift
    * baseline, the graph twin of [[AnnIndex.BaseDistProp]]. */
  val BaseDistProp = "graft.graph.basedist"

  /** Margin between the float-scored (cosine_sim) candidate pool and
    * the chain-exact re-rank that picks the stored edges: the true
    * top-(k+edgeBuffer) must sit inside the float top-(… + margin).
    * 15 is [[Similarity.knnGraph]]'s established s24-hash-green
    * margin (float-vs-double cosine disagree only within ulp ties). */
  private val SelectBuffer = 15

  private def t(spark: SparkSession, name: String, member: String): String =
    Generations.resolve(spark, name, member)

  private def loadCentroids(spark: SparkSession,
      name: String): Array[Array[Float]] =
    spark.table(t(spark, name, "model")).orderBy("cell").collect()
      .map(_.getSeq[Float](1).toArray)

  private def geometry(spark: SparkSession,
      name: String): (Int, Int, Int, Int) = {
    def p(key: String) = Generations.manifestProp(spark, name, key)
      .getOrElse(sys.error(s"graph index $name missing $key")).toInt
    (p(KProp), p(NProbeProp), p(DimProp), p(BufProp))
  }

  /** Exact chain-cosine edges for a (qid, vec_id) pair set, capped at
    * `cap` per qid — [[Similarity.exactReRank]] over a universe
    * carrying both endpoints' raw vectors. */
  private def exactEdges(universe: DataFrame, pairs: DataFrame,
      dim: Int, cap: Int): DataFrame =
    Similarity.exactReRank(universe, pairs, dim, cap)
      .select("qid", "vec_id", "cos")

  /** Build the maintained graph (a generation swap). `edgeBuffer` is
    * the DELETION-TOLERANCE margin: the edge table stores the best
    * k + edgeBuffer edges per vertex (probes still answer top-k).
    * Storing only k would make deletion depletive — a tombstoned
    * neighbor leaves k−1 stored edges and the next-best vector can
    * never be promoted without recomputation; with the buffer, the
    * probe stays EXACTLY the top-k over surviving vectors for up to
    * edgeBuffer deletions (any exact answer after D ≤ edgeBuffer
    * deletions has overall rank ≤ k + D, hence is stored). s27 pins
    * this bound in DuckDB; compaction re-tightens to k + edgeBuffer
    * from what remains. `numBuckets` fixes the bucket layout above —
    * appends and compactions reuse it from the catalog; the default
    * suits test-scale corpora ([[Dedup.writeNearDupIndex]]'s
    * convention), a cluster deployment sizes it to the corpus. */
  def writeKnnGraph(emb: DataFrame, name: String, k: Int = 10,
      nCells: Int = 16, nprobe: Int = 2, edgeBuffer: Int = 0,
      numBuckets: Int = 8): Unit = {
    require(k > 0, s"k must be positive, got $k")
    require(nCells > 0, s"nCells must be positive, got $nCells")
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    require(edgeBuffer >= 0, s"edgeBuffer must be >= 0, got $edgeBuffer")
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val spark = emb.sparkSession
    import spark.implicits._
    VectorFunctions.register(spark)
    val first = emb.select(size(col("embedding"))).take(1)
    require(first.nonEmpty, "cannot build a graph over an empty corpus")
    val dim = first(0).getInt(0)
    val trained = Similarity.trainCentroids(emb, nCells)
    require(trained.nonEmpty, "centroid training produced no cells")
    val cents = spark.sparkContext.broadcast(trained)
    val cellOf = udf((v: Seq[Float]) =>
      Similarity.nearestCell(v.toArray, cents.value))
    val probesOf = udf((v: Seq[Float]) =>
      Similarity.nearestCells(v.toArray, cents.value, nprobe))
    val vecs = Frontier.pin(emb.select(col("vec_id"),
      col("embedding"), cellOf(col("embedding")).as("cell")))
    val probes = Frontier.pin(emb.select(col("vec_id"),
      explode(probesOf(col("embedding"))).as("cell")))
    // the ONE corpus-corpus shuffle in the engine (work ≈
    // nprobe·n²/nCells with nCells ∝ n), via the ONE-PASS candidate
    // generator: cosine is scored inside the cell join and only the
    // narrow (qid, vec_id, cos) triple reaches an exchange — routing
    // the pair set through exactEdges instead re-shuffled every
    // candidate WITH its embedding (107 s vs ~7 s at M=30, see
    // Similarity.cellCandidates). The float-scored pool is widened by
    // SelectBuffer before the chain-exact re-rank picks the stored
    // k + edgeBuffer (the s24 selection-margin convention).
    val cands = Similarity.cellCandidates(emb, cents, nprobe)
    val pool = Similarity.topKPerQuery(cands,
      k + edgeBuffer + SelectBuffer).select("qid", "vec_id")
    val edges = exactEdges(emb.select(col("vec_id"), col("embedding")),
      pool, dim, k + edgeBuffer)
    // a rebuild redefines the contents: the pending set against the
    // replaced generation is stale, not erased (Tombstones.rebuild)
    Tombstones.rebuild(spark, name, Members, "vec_id") { lease =>
    // the four member writes and the drift gauge are independent jobs
    // inside the atomic swap — overlapped per guide §2.6 (Par doc)
    var baseDist = 0.0
    Par.run(spark, Seq(
      () => trained.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
        .toDF("cell", "centroid").coalesce(1)
        .write.format("parquet")
        .saveAsTable(Generations.physical(name, "model", lease.gen)),
      // each write pins its task count to the bucket count: the
      // bucketed write then lands exactly ONE sorted file per bucket
      // (tightest row-group pruning), and AQE cannot coalesce the
      // upstream exchange into a single serial writer task — the same
      // trap SCALE.md's round-11 shard-write profile caught, measured as
      // a 107 s edges write at M=30 (vs ~7 s pinned)
      () => vecs.repartition(numBuckets, col("vec_id"))
        .write.format("parquet")
        .bucketBy(numBuckets, "vec_id").sortBy("vec_id")
        .saveAsTable(Generations.physical(name, "vecs", lease.gen)),
      () => probes.repartition(numBuckets, col("vec_id"))
        .write.format("parquet")
        .bucketBy(numBuckets, "vec_id").sortBy("vec_id")
        .saveAsTable(Generations.physical(name, "probes", lease.gen)),
      () => edges.repartition(numBuckets, col("qid"))
        .write.format("parquet")
        .bucketBy(numBuckets, "qid").sortBy("qid")
        .saveAsTable(Generations.physical(name, "edges", lease.gen)),
      () => baseDist = AnnIndex.meanCentroidDist(
        emb.select(col("vec_id"), col("embedding")), cents)))
    Map(
      KProp -> k.toString, NProbeProp -> nprobe.toString,
      DimProp -> dim.toString, BufProp -> edgeBuffer.toString,
      BaseDistProp -> baseDist.toString)
    }
  }

  /** The when-to-RETRAIN signal for the graph's frozen coarse
    * quantizer — the [[AnnIndex.driftRatio]] twin: mean
    * distance-to-assigned-centroid of `emb` over the build-time
    * baseline. ~1.0 = the corpus still looks like the one the cells
    * were trained on; a degenerate zero baseline reads as
    * always-drifted rather than NaN-disabling the retrain. */
  def graphDriftRatio(spark: SparkSession, name: String,
      emb: DataFrame): Double = {
    val base = Generations.manifestProp(spark, name, BaseDistProp)
      .flatMap(_.toDoubleOption)
      .getOrElse(sys.error(s"graph index $name missing $BaseDistProp"))
    val cents = spark.sparkContext.broadcast(loadCentroids(spark, name))
    if (!(base > 0.0)) Double.PositiveInfinity
    else AnnIndex.meanCentroidDist(
      emb.select(col("vec_id"), col("embedding")), cents) / base
  }

  /** The closed drift loop for the graph (s16's pattern): measure,
    * retrain past the threshold. The retrain is a full
    * [[writeKnnGraph]] over `emb` with the stamped geometry AND the
    * current bucket layout — a generation swap, so probes racing it
    * stay consistent, and stale tombstones clear with the rebuild
    * (callers pass an already-filtered corpus, e.g. the nightly
    * loop's registry-filtered retrainCorpus). Returns whether it
    * retrained. */
  def retrainKnnGraphIfDrifted(spark: SparkSession, name: String,
      emb: DataFrame, maxDrift: Double = 1.25): Boolean = {
    val ratio = graphDriftRatio(spark, name, emb)
    if (ratio <= maxDrift) false
    else {
      val (k, nprobe, _, buf) = geometry(spark, name)
      val nCells = loadCentroids(spark, name).length
      val nb = Generations.bucketSpecOf(spark, t(spark, name, "edges"))
        .numBuckets
      writeKnnGraph(emb, name, k, nCells, nprobe, buf, nb)
      true
    }
  }

  /** Neighbors of the qids matching `pred` (all by default): top-k per
    * qid over the stored edge rows, tombstoned endpoints invisible
    * immediately ([[tombstoneGraph]]) — a deleted vector neither
    * answers as a query nor appears as anyone's neighbor. A qid
    * predicate pushes into the sorted bucketed scan (row-group
    * pruning), and the top-k aggregation consumes the bucketed
    * partitioning directly — a slice probe does slice-sized work and
    * the plan has no shuffle at all. */
  /** `asOf = Some(g)`: answer from generation `g`'s frozen edge
    * snapshot ([[Generations.resolveAsOf]] — in-place appends only
    * touch the current generation, so a retained past one is the
    * graph exactly as superseded). The tombstone exclusion below
    * stays CURRENT even then: erasure overrides history. */
  /** `candPred`: FILTERED graph serving — a predicate over the
    * NEIGHBOR `vec_id` (tenancy scope, licensing shard) applied to
    * the stored adjacency BEFORE the top-k cut, riding the same
    * `edgeBuffer` margin deletions do: where a vertex's stored
    * k + edgeBuffer edges contain ≥ k admissible neighbors the answer
    * is EXACTLY the filtered top-k (the s27 bound with exclusions in
    * place of deletions); past the buffer the answer is the best
    * stored admissible — the inherent contract of a MATERIALIZED
    * graph, whose edges were cut at build time (contrast the
    * cell-scan ANN probe, which filters before its shortlist is ever
    * formed, `AnnIndex.probeAnnIndex`). Size `edgeBuffer` to the
    * selectivity the serving layer must survive. */
  def probeKnnGraph(spark: SparkSession, name: String,
      pred: org.apache.spark.sql.Column = lit(true),
      asOf: Option[Long] = None,
      candPred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val (k, _, _, _) = geometry(spark, name)
    val et = asOf.fold(t(spark, name, "edges"))(g =>
      Generations.resolveAsOf(spark, name, "edges", g))
    val base = spark.table(et).filter(pred)
    val live = Tombstones.get(spark, name).fold(base) { tt =>
      val ids = broadcast(tt.select(col("vec_id")).distinct())
      base.join(ids.withColumnRenamed("vec_id", "qid"), Seq("qid"),
          "left_anti")
        .join(ids, Seq("vec_id"), "left_anti")
    }
    val cand = candPred.fold(live)(live.filter)
    Similarity.topKPerQuery(cand.select("qid", "vec_id", "cos"), k)
  }

  /** The replay fence, shared by every append effect: drop rows of
    * `fresh` already present in `stored`. The stored side is scoped
    * FIRST through a broadcast semi-join on `scopeKey` (a batch-sized
    * key set), so the corpus-sized table is scanned in place — one
    * narrow column-pruned pass, zero Exchange — and the anti-join then
    * runs batch-sized vs batch-sized. KnnGraphIndexSpec walks this
    * plan and asserts it shuffle-free. */
  private[operators] def fenced(fresh: DataFrame, stored: DataFrame,
      scopeKey: String, fenceKeys: Seq[String]): DataFrame = {
    val scope = broadcast(fresh.select(scopeKey).distinct())
    val landed = stored.select(fenceKeys.map(col): _*)
      .join(scope, Seq(scopeKey), "left_semi")
    fresh.join(landed, fenceKeys, "left_anti")
  }

  /** The append's pinned dataflow frontiers, in production order. */
  private[operators] final case class GraphAppendStages(
    toAdd: DataFrame, newVecs: DataFrame, newProbes: DataFrame,
    pairs: DataFrame, newEdges: DataFrame)

  /** Compute phase of [[appendToKnnGraph]]. Returns None when the
    * (fenced) batch is empty. Caller holds the family's writer lease. */
  private[operators] def appendStages(spark: SparkSession, name: String,
      batch: DataFrame, ifAbsent: Boolean): Option[GraphAppendStages] = {
    val (k, nprobe, dim, buf) = geometry(spark, name)
    val vt = t(spark, name, "vecs")
    // replay fence, batch side: vec_ids already in the applied marker
    // drop. The stored side is scoped through a broadcast semi-join on
    // the batch's own ids FIRST, so the corpus-sized vecs table is
    // scanned in place, never shuffled
    // barReplayed: a replay after an erasure compaction purged this
    // batch's taken-down vecs would find them absent from vecs and
    // re-admit them — barred by the pending set or the durable erased
    // registry (the LexIndex replay-resurrection fix, r13 advice,
    // applied uniformly to every ifAbsent append)
    val toAdd = Frontier.pin(
      if (ifAbsent) Tombstones.barReplayed(
        fenced(batch, spark.table(vt), "vec_id", Seq("vec_id")),
        name, "vec_id")
      else batch)
    if (toAdd.isEmpty) return None
    val cents = spark.sparkContext.broadcast(loadCentroids(spark, name))
    val cellOf = udf((v: Seq[Float]) =>
      Similarity.nearestCell(v.toArray, cents.value))
    val probesOf = udf((v: Seq[Float]) =>
      Similarity.nearestCells(v.toArray, cents.value, nprobe))
    // both pins derive only from the pinned toAdd — independent
    // materializations, overlapped (guide §2.6 / Par doc)
    var newVecs: DataFrame = null
    var newProbes: DataFrame = null
    Par.run(spark, Seq(
      () => newVecs = Frontier.pin(toAdd.select(
        col("vec_id"), col("embedding"), cellOf(col("embedding")).as("cell"))),
      () => newProbes = Frontier.pin(toAdd.select(
        col("vec_id"), explode(probesOf(col("embedding"))).as("cell")))))
    val oldVecs = spark.table(vt)
    // r19 (guide §3.2 "reduce the big side before shuffling it" — here,
    // before the exact re-rank's joins): candidates are SCORED with the
    // float cosine INSIDE the cell joins (the build's one-pass
    // cellCandidates pattern — arrays never shuffle: every join below
    // is broadcast- or bucket-colocated) and cut to the float
    // top-(k + buf + SelectBuffer) per qid BEFORE the pair set is
    // pinned. The exact re-rank then touches a bounded pool instead of
    // every cell-mate pair — at scale the forward fan per new vector is
    // nprobe·|cell| ≈ nprobe·n/nCells and was all re-ranked; now ≤
    // k + buf + SelectBuffer rows per qid survive. Exactness is the
    // build's own selection-margin argument (s24/s26 hash-green): the
    // true top-(k+buf) sits inside the float top-(…+SelectBuffer),
    // float-vs-double cosine disagreeing only within ulp ties.
    // forward: each new vector probes its cells over old ∪ new — the
    // BATCH side broadcasts (with its query embeddings), so the
    // corpus-sized vecs scan streams in place, cosine computed in the
    // join stage, only the narrow (qid, vec_id, cos) triple survives
    val qprobes = newProbes
      .join(newVecs.select(col("vec_id"), col("embedding").as("qe")),
        "vec_id")
      .select(col("vec_id").as("qid"), col("cell"), col("qe"))
    val fwd = oldVecs.select(col("vec_id"), col("cell"),
        col("embedding").as("e"))
      .unionByName(newVecs.select(col("vec_id"), col("cell"),
        col("embedding").as("e")))
      .join(broadcast(qprobes), Seq("cell"))
      .withColumn("cos", expr("cosine_sim(qe, e)"))
    // reverse: stored vectors whose probe set covers a new cell — the
    // stored probes⋈vecs join rides the shared vec_id bucketing
    // (exchange-free), the batch side broadcasts with its embeddings
    val rev = spark.table(t(spark, name, "probes"))
      .select(col("vec_id"), col("cell"))
      .join(oldVecs.select(col("vec_id"), col("embedding").as("qe")),
        "vec_id")
      .select(col("vec_id").as("qid"), col("cell"), col("qe"))
      .join(broadcast(newVecs.select(col("vec_id"), col("cell"),
        col("embedding").as("e"))), Seq("cell"))
      .withColumn("cos", expr("cosine_sim(qe, e)"))
    // forward qids (batch) and reverse qids (stored) are disjoint, so
    // one per-qid pool cut over the union prunes both directions
    val pairs = Frontier.pin(
      Similarity.topKPerQuery(
        fwd.select("qid", "vec_id", "cos")
          .unionByName(rev.select("qid", "vec_id", "cos"))
          .filter(col("qid") =!= col("vec_id"))
          .distinct(),
        k + buf + SelectBuffer)
        .select("qid", "vec_id"))
    // the exact re-rank only needs embeddings of endpoints the pair
    // set actually touches — scope the corpus side down to them
    // (broadcast semi-join), so the re-rank joins are batch-sized on
    // BOTH sides instead of shuffling every stored embedding
    val touched = broadcast(pairs.select(col("qid").as("vec_id"))
      .unionByName(pairs.select("vec_id")).distinct())
    // pinned: the re-rank joins the universe once per endpoint side —
    // without the pin each side would re-scan the corpus parquet
    val universe = Frontier.pin(
      oldVecs.select(col("vec_id"), col("embedding"))
        .unionByName(toAdd.select(col("vec_id"), col("embedding")))
        .join(touched, Seq("vec_id"), "left_semi"))
    val newEdges = Frontier.pin(exactEdges(universe, pairs, dim, k + buf))
    Some(GraphAppendStages(toAdd, newVecs, newProbes, pairs, newEdges))
  }

  /** Write phase of [[appendToKnnGraph]]: each effect idempotent for
    * at-least-once replays — edges and probes anti-join their targets
    * (stored sides scoped by broadcast semi-joins: scanned in place,
    * never shuffled); vecs (the applied marker) goes LAST so a torn
    * append heals on the next delivery. Appends reuse each table's
    * bucket/sort spec from the catalog, landing bucket-aligned sorted
    * files next to the existing ones (the d13 discipline). */
  private[operators] def applyAppend(spark: SparkSession, name: String,
      st: GraphAppendStages): Unit = {
    val vt = t(spark, name, "vecs")
    val pt = t(spark, name, "probes")
    val et = t(spark, name, "edges")
    def appendTo(df: DataFrame, table: String): Unit = {
      Generations.appendBucketed(df, table)
      spark.catalog.refreshTable(table)
    }
    // edges and probes are mutually independent (disjoint tables, both
    // anti-join their own targets) and overlap (guide §2.6 / Par doc);
    // the vecs applied-marker MUST still land strictly last
    Par.run(spark, Seq(
      () => appendTo(
        fenced(st.newEdges, spark.table(et), "qid", Seq("qid", "vec_id")),
        et),
      () => appendTo(
        fenced(st.newProbes, spark.table(pt), "vec_id", Seq("vec_id")),
        pt)))
    appendTo(st.newVecs, vt)
  }

  /** Append a batch of new vectors: the batch gains forward edges
    * (its nprobe cells' occupants, including batch-mates), existing
    * vectors gain reverse edges toward batch members landing in a cell
    * they probe. Rows only — no stored row is rewritten; compaction
    * re-tightens. `ifAbsent` (the replay fence) skips vec_ids already
    * in `vecs`. */
  def appendToKnnGraph(batch: DataFrame, name: String,
      ifAbsent: Boolean = true): Unit = {
    val spark = batch.sparkSession
    VectorFunctions.register(spark)
    Generations.leased(spark, name, Members) {
      appendStages(spark, name, batch, ifAbsent)
        .foreach(st => applyAppend(spark, name, st))
    }
  }

  /** Re-tighten the edge table to k + edgeBuffer rows per qid and make
    * deletions physical (tombstoned endpoints' rows reclaimed, vectors
    * dropped from vecs/probes, set cleared) — one generation swap
    * preserving the bucket layout; probes are hash-identical across
    * the transition.
    *
    * `numBuckets = Some(n)` RESIZES the layout inside the same swap
    * (the r11 ask): without it a corpus grown 100× keeps its
    * build-time bucket count — per-bucket files grow unbounded,
    * row-group pruning coarsens, probe parallelism caps at the stale
    * count. The compaction already rewrites every row through pinned
    * repartitions, so the resize costs nothing extra; all four members
    * move together under the one pointer flip and the slice-probe /
    * zero-exchange contracts hold at the NEW count (LayoutSpec +
    * KnnGraphIndexSpec re-walk them after a resize). */
  def compactKnnGraph(spark: SparkSession, name: String,
      gcKeep: Int = 1, numBuckets: Option[Int] = None): Unit = {
    numBuckets.foreach(n =>
      require(n > 0, s"numBuckets must be positive, got $n"))
    val (k, nprobe, dim, buf) = geometry(spark, name)
    val nb = numBuckets.getOrElse(
      Generations.bucketSpecOf(spark, t(spark, name, "edges")).numBuckets)
    // tombstoned deletions become physical here (Tombstones.compaction)
    Tombstones.compaction(spark, name, Members, "vec_id", gcKeep) {
        (lease, applied) =>
    val tombs = applied.map(broadcast)
    def minus(df: DataFrame) = tombs.fold(df)(ids =>
      df.join(ids, Seq("vec_id"), "left_anti"))
    val edges0 = spark.table(t(spark, name, "edges"))
    val liveEdges = tombs.fold(edges0)(ids =>
      edges0.join(ids.withColumnRenamed("vec_id", "qid"), Seq("qid"),
          "left_anti")
        .join(ids, Seq("vec_id"), "left_anti"))
    // single-consumer frames: each feeds exactly its own member write,
    // so the old eager pins here were pure overhead (one extra
    // materialization + read-back per member) — the writes read the
    // still-live OLD generation directly. The four writes are
    // independent and overlap (guide §2.6 / Par doc).
    val tight = Similarity
      .topKPerQuery(liveEdges.select("qid", "vec_id", "cos"), k + buf)
      .select("qid", "vec_id", "cos")
    val vecs = minus(spark.table(t(spark, name, "vecs")))
    val probes = minus(spark.table(t(spark, name, "probes")))
    val model = spark.table(t(spark, name, "model"))
    Par.run(spark, Seq(
      () => model.write.format("parquet")
        .saveAsTable(Generations.physical(name, "model", lease.gen)),
      // task count pinned to the bucket count — one sorted file per
      // bucket, and no AQE coalescing into a serial writer (see
      // writeKnnGraph's note)
      () => vecs.repartition(nb, col("vec_id")).write.format("parquet")
        .bucketBy(nb, "vec_id").sortBy("vec_id")
        .saveAsTable(Generations.physical(name, "vecs", lease.gen)),
      () => probes.repartition(nb, col("vec_id")).write.format("parquet")
        .bucketBy(nb, "vec_id").sortBy("vec_id")
        .saveAsTable(Generations.physical(name, "probes", lease.gen)),
      () => tight.repartition(nb, col("qid")).write.format("parquet")
        .bucketBy(nb, "qid").sortBy("qid")
        .saveAsTable(Generations.physical(name, "edges", lease.gen))))
    // carry the drift baseline across the swap — the quantizer is
    // unchanged, so the stamped baseline must survive compaction
    val baseDist = Generations.manifestProp(spark, name, BaseDistProp)
      .getOrElse(sys.error(s"graph index $name missing $BaseDistProp"))
    Map(
      KProp -> k.toString, NProbeProp -> nprobe.toString,
      DimProp -> dim.toString, BufProp -> buf.toString,
      BaseDistProp -> baseDist)
    }
  }

  /** Record deletions — the [[Tombstones.takedown]] contract (probes
    * anti-join both endpoints; physical at the next compaction). */
  def tombstoneGraph(spark: SparkSession, name: String,
      ids: DataFrame): Unit =
    Tombstones.takedown(spark, name, Members, ids, "vec_id")

}
