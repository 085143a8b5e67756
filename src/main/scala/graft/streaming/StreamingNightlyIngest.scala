package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.TextFunctions
import graft.operators.{AnnIndex, Dedup, Frontier, Generations, IndexMaintenance, KnnGraphIndex, LexIndex, Packing, Par, Sampling, Sharding, Tombstones}

/** The COMPOSED nightly-ingest loop: every maintained artifact this
  * engine keeps — the near-dup index, the ANN index + raw-vector
  * corpus, the optional maintained k-NN graph and lexical inverted
  * index (existence is the opt-in for both), the per-stratum
  * token-budget state, and the trainer shard layout — advanced
  * against the SAME batch in one `foreachBatch` step. [[StreamingNearDupIngest]], [[StreamingAnnIngest]] and
  * [[StreamingShardIngest]] each prove their loop alone; a production
  * pipeline runs them together, in dependency order, per batch:
  *
  *   quality gate → near-dup probe (survivors appended to the index)
  *     → token-budget gate (persisted per-stratum totals, so night
  *       N+1's scan RESUMES night N's — not a fresh budget per batch)
  *     → ANN append of the admitted docs' vectors
  *     → pack (offsets continuing from the layout's current end)
  *     → shard append (sealed shards untouched).
  *
  * Ordering rationale: dedup sees every quality-passing doc (a doc
  * over budget tonight must still be in the index, or its copy
  * re-enters tomorrow); the budget gate sees only dedup survivors (a
  * duplicate must not consume budget); the trainer-facing artifacts
  * (ANN index, shards) see only ADMITTED docs — what a retrieval user
  * or a trainer mounts is exactly the kept corpus.
  *
  * Per batch the work is batch-sized end to end: the corpus-sized
  * index sides never re-shuffle (the d12/s09 layout contracts, held by
  * the same probe/append paths the standalone loops use), the budget
  * state is one row per stratum, and the shard append rewrites one
  * boundary shard. `compactEvery` folds every index compaction in —
  * each is a [[graft.operators.Generations]] pointer swap, safe
  * mid-stream because foreachBatch sequences batches strictly.
  *
  * Replaying N micro-batches ≡ N sequential [[nightStep]] calls
  * (StreamingNightlyIngestSpec replays both paths and compares every
  * artifact), which is what makes the composition oracle-checkable:
  * p07 registers the two-night batch replay and hash-checks the final
  * shard manifest against a DuckDB chain of the same stages.
  */
object StreamingNightlyIngest extends org.apache.spark.internal.Logging {

  /** Artifact names for one composed pipeline instance. `budgetTable`
    * is the persisted per-stratum running-total state (one row per
    * stratum — the q30 scan's resume point); `annCorpusTable` holds
    * raw vectors for ANN re-rank (codes live in the index). */
  final case class Artifacts(ndIndex: String, annIndex: String,
    annCorpusTable: String, budgetTable: String, shardPath: String)

  /** Deterministic synthetic 16-dim embedding keyed on `doc_id` — the
    * vector column doc-keyed fixtures attach so the composed loop can
    * exercise the ANN leg (documents and embeddings are separate
    * fixture tables; a real pipeline's embedder sits here). */
  def synthEmbedding: org.apache.spark.sql.Column =
    expr("transform(sequence(0, 15), j -> " +
      "CAST(CAST(pmod(hash(doc_id, j), 997) AS FLOAT) / CAST(499.0 AS FLOAT)" +
      " - CAST(1.0 AS FLOAT) AS FLOAT))")

  /** The budget-state family's member under [[Generations]] — the
    * totals swap behind the same atomic pointer the indexes use (a
    * plain overwrite would have a no-table window; a crash there
    * would reset every stratum's budget to zero and silently
    * over-admit on the next night). */
  private val BudgetMembers = Seq("state")

  /** Per-stratum (current, previous) totals — previous is what a
    * fenced replay resumes from (empty before the first night). */
  def budgetState(spark: SparkSession,
      budgetTable: String): Map[String, (Long, Long)] =
    Generations.currentGen(spark, budgetTable) match {
      case None => Map.empty
      case Some(_) =>
        spark.table(Generations.resolve(spark, budgetTable, "state"))
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }

  /** The persisted per-stratum totals (empty on first night). */
  def usedBudget(spark: SparkSession, budgetTable: String): Map[String, Long] =
    budgetState(spark, budgetTable).map { case (l, (u, _)) => l -> u }

  /** The applied-batch fence, riding the budget manifest's atomic
    * property set (it flips in the SAME catalog update as the state
    * pointer, so "totals advanced" and "batch recorded" can never be
    * observed apart). */
  val LastBatchProp = "graft.nightly.lastbatch"

  /** The pipeline's durable takedown registry — an append-only log of
    * deleted doc_ids, derived from the corpus-table name so [[Artifacts]]
    * stays source-compatible. Three consumers: the quality gate bars
    * logged ids from re-entering (a taken-down doc must not come back
    * via re-crawl — erasure is durable, not until-next-compaction),
    * [[retrainCorpus]] filters them out of every drift measurement and
    * retrain input (so a retrain can never resurrect a deleted vector
    * after the index's own tombstones were cleared by a rebuild), and
    * the corpus compaction rewrites the raw-vector table without them.
    * Size ∝ total takedowns ever — rare events; at 100 TB the log is a
    * small broadcast side. */
  def deletedTable(arts: Artifacts): String = s"${arts.annCorpusTable}_deleted"

  /** The registry is a [[Generations]] family (one member, `ids`):
    * every mutation writes a NEW generation table and swaps the
    * pointer in one catalog call. A plain overwrite would have a
    * drop-create window in which a crash deletes the WHOLE registry —
    * lifting every re-entry bar at once, the exact no-table failure
    * the budget state was moved behind the pointer for. */
  private val RegistryMembers = Seq("ids")

  private def deletedLog(spark: SparkSession,
      arts: Artifacts): Option[DataFrame] =
    Generations.currentGen(spark, deletedTable(arts)).map(_ =>
      spark.table(Generations.resolve(spark, deletedTable(arts), "ids")))

  /** The registry's contents (empty frame when no takedown ever ran) —
    * the read surface specs and operators share. */
  def deletedIds(spark: SparkSession, arts: Artifacts): DataFrame =
    deletedLog(spark, arts).getOrElse(
      spark.range(0).select(col("id").as("doc_id")))

  private def writeRegistry(spark: SparkSession, arts: Artifacts,
      contents: DataFrame): Unit = {
    val t = deletedTable(arts)
    val pinned = Frontier.pin(contents)
    Generations.swap(spark, t, RegistryMembers) { lease =>
      pinned.coalesce(1).write.format("parquet")
        .saveAsTable(Generations.physical(t, "ids", lease.gen))
      Map.empty
    }
  }

  /** The raw-vector corpus is ALSO a [[Generations]] family (member
    * `vecs`): it is the only place raw vectors live (the index holds
    * codes), so losing it is unrecoverable — a plain-overwrite
    * [[compactCorpus]] would risk exactly that in its drop-create
    * window. Nightly appends write INTO the current generation's
    * physical table in place (parquet job commits are all-or-nothing,
    * and the anti-join fences replays), the compaction swaps a new
    * generation — the same write discipline as the indexes. */
  private val CorpusMembers = Seq("vecs")

  /** Create or replace the raw-vector corpus (a generation swap). */
  def writeCorpus(spark: SparkSession, arts: Artifacts,
      vecs: DataFrame, props: Map[String, String] = Map.empty): Unit = {
    val pinned = Frontier.pin(vecs)
    Generations.swap(spark, arts.annCorpusTable, CorpusMembers) { lease =>
      pinned.write.format("parquet")
        .saveAsTable(
          Generations.physical(arts.annCorpusTable, "vecs", lease.gen))
      props
    }
  }

  /** The corpus as it currently resolves (still-registered deletions
    * INCLUDED until [[compactCorpus]] — drift/retrain must go through
    * [[retrainCorpus]] instead). */
  def corpus(spark: SparkSession, arts: Artifacts): DataFrame =
    spark.table(Generations.resolve(spark, arts.annCorpusTable, "vecs"))

  /** The ANN corpus as every drift/retrain consumer must see it:
    * minus the takedown registry. */
  def retrainCorpus(spark: SparkSession, arts: Artifacts): DataFrame = {
    val cur = corpus(spark, arts)
    deletedLog(spark, arts).fold(cur)(d =>
      cur.join(d.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_anti"))
  }

  /** Reverse a mistaken takedown: remove `ids` from the durable
    * registry so the next crawl of those docs ingests normally. This
    * un-BARS only — it does not resurrect anything (the content is
    * already gone from every artifact; it must re-arrive through the
    * feed). REQUIRES the indexes' physical reclamation first (run the
    * compactions): while an id is merely tombstoned, its old index
    * rows still exist physically, so a re-ingested copy would be
    * skipped by the `ifAbsent` appends and the doc would stay
    * invisible to probes forever — the require below makes the safe
    * sequence (takedown → compact → allowReingest) the only sequence.
    * Rewrite cost ∝ registry size (small — ids only). */
  def allowReingest(spark: SparkSession, arts: Artifacts,
      ids: DataFrame): Unit =
    deletedLog(spark, arts).foreach { cur =>
      val del = ids.select(col(ids.columns.head).cast("long").as("doc_id"))
      val fams = families(spark, arts)
      val stillTombstoned = fams.exists(f =>
        Tombstones.get(spark, f.name).exists(t =>
          !t.join(del.select(col("doc_id").as(f.idCol)), Seq(f.idCol),
            "left_semi").isEmpty))
      require(!stillTombstoned,
        "allowReingest before physical reclamation: compact every " +
          "maintained index first, or a re-ingested copy would be " +
          "skipped by the ifAbsent appends and stay invisible to probes")
      // the raw-vector corpus reclaims at compactCorpus, not at the
      // index compactions: if the embedding is still physically in the
      // corpus table, un-barring the id would (a) re-expose the stale
      // vector to retrainCorpus and (b) make the corpus append's
      // vec_id anti-join drop the re-ingested doc's NEW embedding —
      // corpus re-rank data permanently diverging from the ANN index
      val stillInCorpus = !corpus(spark, arts)
        .join(del.select(col("doc_id").as("vec_id")), Seq("vec_id"),
          "left_semi").isEmpty
      require(!stillInCorpus,
        "allowReingest before corpus reclamation: run compactCorpus " +
          "first, or the stale embedding would shadow the re-ingested " +
          "doc's new vector (corpus append anti-joins on vec_id)")
      writeRegistry(spark, arts, cur.join(del, Seq("doc_id"), "left_anti"))
      // the INDEX-LEVEL erased registries (the r14 replay-resurrection
      // bar: each index's ifAbsent appends anti-join them) must lift
      // together with the pipeline-level one, or the re-crawl this
      // method exists to allow would be silently skipped by every
      // index append. readmit is a no-op on families with no registry.
      fams.foreach(f => Tombstones.readmit(spark, f.name, del))
    }

  /** PHYSICAL erasure for the raw-vector corpus table — the one
    * artifact [[applyDeletions]] touches only logically (the registry
    * filters it at every read). Indexes reclaim at their compactions
    * and the shard layout at deletion time; this rewrite completes
    * true erasure: after it, no deleted doc's embedding exists on
    * disk anywhere in the pipeline. The registry itself is KEPT — it
    * is the durable re-entry bar, and ids are all it stores. Cost is
    * one corpus rewrite, which is why it rides the compaction cadence
    * instead of the per-night path. */
  def compactCorpus(spark: SparkSession, arts: Artifacts): Unit = {
    if (deletedLog(spark, arts).isEmpty) return
    // registry generation captured BEFORE the rewrite: a takedown
    // landing mid-rewrite advances the registry past this stamp, so
    // the next policy sweep still sees debt (a post-rewrite capture
    // could mark that takedown clean without having reclaimed it)
    val rg = Generations.currentGen(spark, deletedTable(arts)).getOrElse(0L)
    writeCorpus(spark, arts, retrainCorpus(spark, arts),
      props = Map(CleanRegistryGenProp -> rg.toString))
  }

  /** Corpus-family manifest stamp: the takedown registry's generation
    * as of the last [[compactCorpus]] — the corpus's erasure-debt
    * gauge, metadata-only like [[IndexMaintenance]]'s. The registry is
    * append-forever (ids are the durable re-entry bar), so "registry
    * nonempty" can never gauge debt; "registry MUTATED since the last
    * corpus reclamation" can: [[applyDeletions]] bumps the registry's
    * generation, so a stamp older than the registry means takedowns
    * whose raw vectors are still physically in the corpus. */
  val CleanRegistryGenProp = "graft.nightly.cleanRegistryGen"

  /** Whether the raw-vector corpus owes a physical reclamation pass —
    * catalog metadata only (two generation pointers and one manifest
    * property). A registry mutation by [[allowReingest]] also fires
    * this once; the resulting [[compactCorpus]] is a no-op rewrite
    * (the readmitted ids were already reclaimed), accepted for the
    * gauge's metadata-only cost. */
  def corpusErasureDue(spark: SparkSession, arts: Artifacts): Boolean =
    Generations.currentGen(spark, deletedTable(arts)) match {
      case None => false
      case Some(rg) =>
        !Generations.manifestProp(spark, arts.annCorpusTable,
            CleanRegistryGenProp)
          .map(_.toLong).exists(_ >= rg)
    }

  /** The pipeline's OPTIONAL maintained k-NN graph: if a
    * [[graft.operators.KnnGraphIndex]] family with this derived name
    * exists, the nightly loop advances it too — admitted vectors
    * appended per night, takedowns tombstoned, compactions folded in —
    * with no [[Artifacts]] change (existence IS the opt-in; build it
    * with `KnnGraphIndex.writeKnnGraph(corpusVecs, graphName(arts))`
    * before starting the loop). */
  def graphName(arts: Artifacts): String = s"${arts.annIndex}_graph"

  private def graphExists(spark: SparkSession, arts: Artifacts): Boolean =
    Generations.currentGen(spark, graphName(arts)).isDefined

  /** The optional maintained LEXICAL index ([[LexIndex]], the hybrid-
    * retrieval serve shape) — existence IS the opt-in, exactly like the
    * graph: build the family before the loop (typically over the base
    * corpus) and every night advances it with the ADMITTED docs' text,
    * takedowns tombstone it, and the fold-in compaction purges it. */
  def lexName(arts: Artifacts): String = s"${arts.ndIndex}_lex"

  private def lexExists(spark: SparkSession, arts: Artifacts): Boolean =
    Generations.currentGen(spark, lexName(arts)).isDefined

  /** One maintained index family of a pipeline instance: its
    * [[Generations]] name and members, the id column its tombstones
    * carry, and its compaction body (taking `gcKeep`). */
  private final case class Family(name: String, members: Seq[String],
      idCol: String, compact: Int => Unit)

  /** The pipeline's maintained index families — near-dup and ANN
    * always, the graph and lexical ones when they exist. The one list
    * takedowns, compactions, the maintenance sweep and re-admission
    * all walk, so no step can skip a family another step maintains. */
  private def families(spark: SparkSession, arts: Artifacts): Seq[Family] =
    Seq(
      Some(Family(arts.ndIndex, Dedup.maintenanceMembers, "doc_id",
        k => Dedup.compactNearDupIndex(spark, arts.ndIndex, gcKeep = k))),
      Some(Family(arts.annIndex, AnnIndex.maintenanceMembers, "vec_id",
        k => AnnIndex.compactAnnIndex(spark, arts.annIndex, gcKeep = k))),
      Option.when(graphExists(spark, arts))(
        Family(graphName(arts), KnnGraphIndex.maintenanceMembers, "vec_id",
          k => KnnGraphIndex.compactKnnGraph(spark, graphName(arts),
            gcKeep = k))),
      Option.when(lexExists(spark, arts))(
        Family(lexName(arts), LexIndex.maintenanceMembers, "doc_id",
          k => LexIndex.compactLexIndex(spark, lexName(arts), gcKeep = k)))
    ).flatten

  /** A family's compaction `gcKeep`: pending tombstones purge (1 — the
    * erasure-vs-retention guard's choice, see [[start]]'s retention
    * scaladoc); a clean family keeps `retainGenerations`. */
  private def compactFamily(spark: SparkSession, f: Family,
      retainGenerations: Int): Unit =
    f.compact(if (Tombstones.pendingCount(spark, f.name) > 0) 1
      else retainGenerations)

  /** Apply one night's takedown set to EVERY maintained artifact:
    * tombstone every maintained index family (logical effect at the
    * next probe, physical at its next compaction), append the ids to
    * the durable registry, and physically remove their rows from the
    * trainer shard layout (bounded rewrite of affected shard
    * directories only — surviving offsets keep their holes). Budget
    * already consumed by a deleted doc is NOT refunded: the
    * per-stratum scan is a monotone prefix over history, and
    * un-spending it would re-admit docs that were rejected because the
    * deleted one was cheaper — history is append-only. Every effect
    * here is idempotent, so a crashed night's replay converges. */
  def applyDeletions(arts: Artifacts, ids: DataFrame,
      assignSchema: org.apache.spark.sql.types.StructType): Unit = {
    val spark = ids.sparkSession
    val del = Frontier.pin(
      ids.select(col(ids.columns.head).cast("long").as("doc_id")).distinct())
    if (del.isEmpty) return
    // the per-artifact effects of one takedown, all idempotent
    // (distinct-merged tombstones, keyed registry union, keyed shard
    // delete) over the one pinned set — disjoint targets, overlapped
    // per guide §2.6 (Par doc); a crash mid-block replays to the same
    // converged state whatever the interleaving
    Par.run(spark, families(spark, arts).map(f => () =>
      Tombstones.takedown(spark, f.name, f.members,
        del.select(col("doc_id").as(f.idCol)), f.idCol)) ++ Seq(
      () => writeRegistry(spark, arts, deletedLog(spark, arts)
        .fold(del.toDF())(cur => cur.unionByName(del).distinct())),
      () => Sharding.deleteFromShards(spark, arts.shardPath, del,
        schema = Some(assignSchema))))
    ()
  }

  /** One night as a plain function — shared by the streaming loop and
    * any batch scheduler (p07 calls it directly). `batch` carries
    * (doc_id, text, lang, n_chars, embedding); returns the ADMITTED
    * set (doc_id, lang, n_tokens) after all artifacts advanced.
    *
    * REPLAY CONVERGENCE (`batchId ≥ 0`): foreachBatch re-delivers the
    * last batch after a crash, so a night may run again after any
    * prefix of its effects landed. Every effect is made per-batch
    * idempotent, so a replay converges to exactly the state a single
    * clean run produces:
    *
    *  - the near-dup probe EXCLUDES the batch's own ids from the
    *    history side (a crashed attempt's append must not change the
    *    survivor set — including within-batch duplicate pairs) and the
    *    append is `ifAbsent` by doc_id (bucketed anti-join, index side
    *    in place);
    *  - the budget gate is fenced by [[LastBatchProp]]: if this batch
    *    already advanced the totals, the kept set is recomputed from
    *    the stored PREVIOUS totals (the state carries both) and the
    *    commit is skipped;
    *  - the ANN cells append is `ifAbsent` by vec_id against the codes
    *    table, the raw-vector append anti-joins the corpus table —
    *    each side fenced by its own target, so a crash between them
    *    still converges;
    *  - the shard append is keyed-idempotent on doc_id (a replay's
    *    recomputed offsets differ, but its keys all drop → no-op).
    */
  /** `revisions`: the night's DOCUMENT UPDATES (op = "update" on the
    * CDC feed) — full rows like `batch`'s, re-crawls of CHANGED docs.
    * A revision is a ONE-NIGHT REPLACE (the r15 ask; previously a
    * changed doc needed takedown night → compaction → readmit →
    * re-ingest, three nights): before the ingest, the old versions
    * leave every artifact ([[applyDeletions]] — tombstones + durable
    * registry + shard rows), the erasure is made PHYSICAL immediately
    * ([[compactAll]] — the `ifAbsent` appends key admission on
    * presence, so the purge must precede the re-ingest), the re-entry
    * bars lift ([[allowReingest]] — a revision is a replace, not an
    * erasure), and the new versions then ride the night's normal
    * admission path (quality gate, dedup, budget, every index). Budget
    * already consumed by the old version is NOT refunded (history is
    * append-only, the takedown rule); the new version consumes budget
    * like any arrival. An update night pays its compactions eagerly —
    * the deliberate price of one-night visibility; batch revisions
    * together and the cost is one compaction per family per night.
    *
    * FAILURE SEMANTICS of a replace (r16 advice): revisions are
    * PRE-FILTERED through the quality predicate BEFORE the old
    * versions are purged — a re-crawl whose new text fails the gate is
    * REFUSED (the old version stays live and retrievable), never a
    * silent takedown. Downstream admission can still drop the new
    * version — dedup (the revised text now collides with another doc)
    * or budget exhaustion — and THOSE failures do delete the document
    * for the night: both are corpus-level decisions unknowable before
    * the purge (dedup's history probe must not see the old version;
    * budget is a global scan), and keeping the old version after its
    * physical purge would need an un-erasure no artifact supports.
    * Operators wanting replace-or-keep under dedup/budget must stage
    * revisions through a dry-run night.
    *
    * Replay convergence: every link in the replace chain is already
    * idempotent (tombstone add is distinct-merged, the compactions
    * purge-or-no-op, allowReingest subtracts, the appends are fenced),
    * so a crashed update night — including one that died AFTER the new
    * version landed, leaving it live — re-runs to exactly the clean
    * night's state: the replay re-tombstones whatever version is
    * live, purges it, and re-ingests the same revision rows
    * (DurableLab's upd kill pair proves both windows cross-process). */
  def nightStep(arts: Artifacts, batch: DataFrame, budget: Long,
      salt: String, seqBudget: Int = 256,
      tokensPerShard: Long = 2048L, batchId: Long = -1L,
      deletes: Option[DataFrame] = None,
      revisions: Option[DataFrame] = None): DataFrame = {
    val spark = batch.sparkSession
    val delIds = deletes.map(d => Frontier.pin(
      d.select(col(d.columns.head).cast("long").as("doc_id")).distinct()))
    // 0. the REPLACE: purge the revised docs' OLD versions from every
    //    artifact before the night's admission path runs (see the
    //    scaladoc above), then fold the new versions into the batch.
    //    Pre-filtered through the SAME quality predicate as step 1
    //    (r16 advice): a revision whose new text would fail the gate
    //    is refused — its old version must stay live, so it must not
    //    reach the purge. The predicate is a pure per-row function of
    //    the revision, so replays converge identically.
    val revs = revisions.map(rv => Frontier.pin(rv
      .filter(length(trim(col("text"))) > 0)
      .filter(TextFunctions.quality(col("text"), col("n_chars")) >= 0.5)))
    revs.foreach { rv =>
      val revIds = Frontier.pin(rv.select(col("doc_id").cast("long")
        .as("doc_id")).distinct())
      if (!revIds.isEmpty) {
        import spark.implicits._
        val schema0 = Sharding.shardAssignments(Packing.packPlan(
          Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens"),
          "doc_id", "n_tokens", seqBudget), tokensPerShard).schema
        applyDeletions(arts, revIds, schema0)
        compactAll(spark, arts)
        allowReingest(spark, arts, revIds)
      }
    }
    val batch1 = revs.fold(batch)(rv =>
      batch.unionByName(rv.select(batch.columns.map(col): _*)))
    // 1. quality gate — p01's stage-1 predicate, narrow — plus the
    //    takedown bar: ids in the durable registry must not re-enter.
    //    The bar excludes TONIGHT's own takedown set: a same-night
    //    add+delete must ingest-then-delete on every attempt — if a
    //    crashed attempt already logged tonight's ids, a replay that
    //    barred them would shift the budget scan and diverge from the
    //    clean run (subtracting `delIds` makes the gate a pure
    //    function of the batch + PREVIOUS nights' registry).
    val barred = (deletedLog(spark, arts), delIds) match {
      case (Some(log), Some(d)) =>
        Some(log.select("doc_id").join(d, Seq("doc_id"), "left_anti"))
      case (log, _) => log.map(_.select("doc_id"))
    }
    val quality = Frontier.pin(barred.fold(batch1)(d =>
        batch1.join(d, Seq("doc_id"), "left_anti"))
      .filter(length(trim(col("text"))) > 0)
      .filter(TextFunctions.quality(col("text"), col("n_chars")) >= 0.5))
    val batchIds = quality.select("doc_id")
    // 2. near-dup probe + append (the d12/d13 loop): survivors of the
    //    batch vs everything previously ingested; ALL survivors are
    //    appended so tomorrow's copies of tonight's over-budget docs
    //    still dedup. Probe and append run in THIS session so the
    //    append's cache refresh reaches the next probe.
    val survIds = Dedup.incrementalNearDupSurvivorsIndexed(
      spark, arts.ndIndex, quality.select(col("doc_id"), col("text")),
      excludeIds = Some(batchIds))
    val survivors = Frontier.pin(
      quality.join(survIds.select("doc_id"), Seq("doc_id")))
    Dedup.appendToNearDupIndex(
      survivors.select(col("doc_id"), col("text")), arts.ndIndex,
      ifAbsent = true)
    val withTokens = Frontier.pin(survivors.select(col("doc_id"),
      col("lang"), col("embedding"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")))
    // 3. token-budget gate, RESUMING the persisted per-stratum scan;
    //    under a fenced replay the carryover is the PREVIOUS totals,
    //    so the kept set recomputes identically
    val replayed = batchId >= 0 &&
      Generations.manifestProp(spark, arts.budgetTable, LastBatchProp)
        .map(_.toLong).contains(batchId)
    val state = budgetState(spark, arts.budgetTable)
    val carry = state.map { case (l, (used, prev)) =>
      l -> (if (replayed) prev else used) }
    val kept = Frontier.pin(Sampling.tokenBudgetSample(withTokens,
        col("doc_id"), col("lang"), col("n_tokens"), budget, salt,
        carryover = carry)
      .select(col("doc_id"), col("stratum").as("lang"), col("n_tokens")))
    if (!replayed) {
      // every survivor consumes budget (the scan is one monotone
      // prefix over nights); persist the advanced totals — one row per
      // stratum, previous totals alongside for replay recompute
      val advanced = withTokens.groupBy(col("lang"))
        .agg(sum(col("n_tokens")).as("t")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val merged = (carry.keySet ++ advanced.keySet).toSeq.sorted.map(s =>
        (s, carry.getOrElse(s, 0L) + advanced.getOrElse(s, 0L),
          carry.getOrElse(s, 0L)))
      import spark.implicits._
      Generations.swap(spark, arts.budgetTable, BudgetMembers) { blease =>
        merged.toDF("lang", "used", "prev_used").coalesce(1)
          .write.format("parquet")
          .saveAsTable(
            Generations.physical(arts.budgetTable, "state", blease.gen))
        if (batchId >= 0) Map(LastBatchProp -> batchId.toString)
        else Map.empty
      }
    }
    // 4. ANN index + raw-vector corpus gain the ADMITTED docs; each
    //    append fenced by its own target table
    // pinned once: three sinks consume it (ANN append, optional graph
    // append, corpus append) — re-evaluating the join per sink would
    // triple the upstream work
    val admittedVecs = Frontier.pin(
      withTokens.join(kept.select("doc_id"), "doc_id")
        .select(col("doc_id").as("vec_id"), col("embedding")))
    // The five artifact advances consume only the pinned frames and
    // target disjoint tables/paths, each individually fenced — they
    // overlap (guide §2.6 / Par doc). The lex append's four crash
    // windows stay strictly ordered INSIDE its own thunk; cross-family
    // replay convergence never depended on inter-family order (every
    // link is idempotent, see the scaladoc above). The takedown stays
    // strictly AFTER the block (ingest-then-delete).
    val corpusT = Generations.resolve(spark, arts.annCorpusTable, "vecs")
    var assignSchema: org.apache.spark.sql.types.StructType = null
    Par.run(spark, Seq(
      () => AnnIndex.appendToAnnIndex(admittedVecs, arts.annIndex,
        ifAbsent = true),
      // the optional maintained graph advances with the same admitted
      // vectors (ifAbsent — its vecs marker fences replays on its own)
      () => if (graphExists(spark, arts))
        KnnGraphIndex.appendToKnnGraph(admittedVecs, graphName(arts)),
      // the optional maintained lexical index advances with the same
      // admitted set — retrieval-facing like the ANN leg, so it serves
      // exactly the kept corpus. ALWAYS appended ifAbsent keyed by the
      // night id: the lexical append is the one non-swap mutation, so a
      // retried night without the fence would double-count postings,
      // doclen and stats — and compaction would rebuild stats from the
      // duplicated doclen, making the drift permanent. Direct batch
      // callers must therefore supply a real per-night batchId (the
      // streaming path always does).
      () => if (lexExists(spark, arts)) {
        require(batchId >= 0, "a loop with the lexical leg opted in " +
          "needs a distinct batchId per night (the lex append is fenced " +
          "on it): pass batchId to nightStep on the direct path")
        LexIndex.appendToLexIndex(
          survivors.join(kept.select("doc_id"), "doc_id")
            .select(col("doc_id"), col("text")),
          lexName(arts), batchId = s"night-$batchId",
          ifAbsent = true)
      },
      () => {
        admittedVecs.join(spark.table(corpusT).select("vec_id"),
            Seq("vec_id"), "left_anti")
          .write.format("parquet").mode("append")
          .saveAsTable(corpusT)
        spark.catalog.refreshTable(corpusT)
      },
      // 5. pack the admitted set in doc_id order, offsets continuing
      //    from the layout's current end; 6. append to the shard layout
      //    (keyed-idempotent — see above)
      () => {
        val base = StreamingShardIngest.layoutEnd(spark, arts.shardPath)
        val packed = Packing.packPlan(kept.select(col("doc_id"),
            col("n_tokens")), "doc_id", "n_tokens", seqBudget)
          .select(col("doc_id"), col("n_tokens"),
            (col("start_tok") + base).as("start_tok"))
        val assign = Sharding.shardAssignments(packed, tokensPerShard)
        assignSchema = assign.schema
        if (base == 0L) Sharding.writeShards(assign, arts.shardPath)
        else Sharding.appendShards(assign, arts.shardPath,
          idempotentOn = Some("doc_id"))
      }))
    // 7. the night's takedown set, applied LAST (ingest-then-delete:
    //    a doc both added and deleted tonight ends deleted)
    delIds.foreach(d => applyDeletions(arts, d, assignSchema))
    kept
  }

  /** Fold-in compaction of EVERY maintained artifact — the body of the
    * loop's `compactEvery` step, callable by batch schedulers too
    * (p10 runs it after its takedown night). A family with pending
    * tombstones purges (gcKeep = 1 — the erasure-vs-retention guard's
    * choice, see [[start]]'s retention scaladoc); clean families keep
    * `retainGenerations` as an as-of window. */
  def compactAll(spark: SparkSession, arts: Artifacts,
      retainGenerations: Int = 1): Unit =
    // per-family compactions touch disjoint families (their own swaps,
    // leases, tombstone sets) — overlapped per guide §2.6 (Par doc)
    Par.run(spark, families(spark, arts).map(f => () =>
      compactFamily(spark, f, retainGenerations)) :+
      (() => compactCorpus(spark, arts)))

  /** POLICY-DRIVEN maintenance — [[compactAll]] with the WHEN decided
    * per family by [[IndexMaintenance]] instead of a fixed cadence:
    * sweep every maintained family's health (metadata-only — file
    * listing, stamped counts, lease; no data jobs), apply the policy,
    * log the named reasons, and run that family's own compaction body
    * only where due — fragmentation OR erasure debt. The raw-vector
    * corpus rides its own metadata gauge ([[corpusErasureDue]]).
    * Compactions are behavior-invisible (the s33/d13 hash rows and the
    * p14 driver row, which proves the policy-driven loop's final
    * artifacts hash-equal the fixed-cadence loop's end to end), so
    * moving WHEN from the operator's calendar to the artifact's
    * measured state changes efficiency and compliance timing, never
    * results. Returns the per-family decisions for callers that audit;
    * `onDecision` defaults to the engine log.
    *
    * Reference anchor: JetStream enforces stream limits broker-side
    * over its persisted streams
    * (`/root/reference/src/nats_client.py:81-102`) — policy lives with
    * the artifact, not in the operator's eyeballs. */
  def maintenanceSweep(spark: SparkSession, arts: Artifacts,
      policy: IndexMaintenance.Policy = IndexMaintenance.Policy(),
      retainGenerations: Int = 1,
      onDecision: (String, IndexMaintenance.FamilyHealth,
        IndexMaintenance.Decision) => Unit = logDecision)
      : Seq[(String, IndexMaintenance.Decision)] = {
    // decisions + logging stay sequential (metadata-only, ordered
    // audit trail); the due families' compaction bodies are per-family
    // independent and overlap (guide §2.6 / Par doc)
    val decided = families(spark, arts).map { f =>
      val h = IndexMaintenance.health(spark, f.name, f.members)
      val d = IndexMaintenance.compactionDue(h, policy)
      onDecision(f.name, h, d)
      (f.name, d, () => compactFamily(spark, f, retainGenerations))
    }
    Par.run(spark,
      decided.collect { case (_, d, compact) if d.due => compact } ++
        (if (corpusErasureDue(spark, arts))
          Seq(() => compactCorpus(spark, arts)) else Nil))
    decided.map { case (f, d, _) => f -> d }
  }

  private def logDecision(family: String,
      h: IndexMaintenance.FamilyHealth,
      d: IndexMaintenance.Decision): Unit =
    if (d.due)
      logInfo(s"[maintenance] $family gen ${h.generation} compaction " +
        s"due: ${d.reasons.mkString("; ")}")
    else
      logInfo(s"[maintenance] $family gen ${h.generation} healthy " +
        f"(${h.maxFilesPerBucket}%.1f files/bucket, " +
        s"${h.pendingTombstones} pending)")

  /** Drive the composed loop from a streaming (doc_id, text, lang,
    * n_chars, embedding) frame. `sink(kept, batchId)` receives each
    * night's admitted set. `compactEvery = n` compacts EVERY maintained
    * index after every n-th batch (generation swaps — reader-safe
    * mid-stream). `driftCheckEvery = n` closes the ANN drift loop
    * in-stream: after every n-th batch, [[AnnIndex.driftRatio]] is
    * measured over the maintained raw-vector corpus and a retrain runs
    * iff it exceeds `maxDrift` — the full signal→actuator cycle s16
    * proves in batch, folded into the nightly cadence (the retrain is
    * itself a generation swap, so probes racing it stay consistent). */
  /** If the streaming frame carries an `op` column (the q36 CDC feed
    * shape), each batch splits into the night's ingest (`op` null or
    * "add") and its takedown set (`op` = "delete", doc_id only) —
    * deletions ride the same ordered stream as the data, so a
    * takedown can never be applied before the night that ingested the
    * doc. Without an `op` column every row ingests (unchanged). */
  /** `retainGenerations = K ≥ 2` keeps an as-of window on the index
    * families at the compaction cadence ([[Generations
    * .resolveAsOf]] — each retained generation is the index frozen as
    * of a past compaction night). Erasure composes by CHOICE, not by
    * error: a fold-in compaction that will apply pending tombstones
    * purges (gcKeep = 1, satisfying [[Tombstones
    * .requireErasurePurges]] instead of tripping it), so takedown
    * nights collapse the retained history — a pinned snapshot lives
    * at most until the next takedown's compaction — and clean nights
    * resume the window. The raw-vector corpus never retains: its
    * nightly appends are in-place (generations advance only at
    * [[compactCorpus]], which exists solely to erase). */
  /** `maintenancePolicy = Some(p)` replaces the fixed `compactEvery`
    * cadence with the policy-driven [[maintenanceSweep]] after EVERY
    * batch: the sweep itself is metadata-only (cheap at any cadence),
    * and compactions run only where a family's measured state says
    * they are due — fragmentation or erasure debt, with the reasons in
    * the engine log. Mutually exclusive with `compactEvery` (two
    * compaction schedulers on one loop would race each other's
    * generation GC windows for no benefit). */
  def start(spark: SparkSession, docs: DataFrame, arts: Artifacts,
      budget: Long, salt: String, seqBudget: Int = 256,
      tokensPerShard: Long = 2048L, compactEvery: Int = 0,
      driftCheckEvery: Int = 0, maxDrift: Double = 1.25,
      retainGenerations: Int = 1,
      maintenancePolicy: Option[IndexMaintenance.Policy] = None)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    require(retainGenerations >= 1,
      s"retainGenerations must be >= 1, got $retainGenerations")
    require(maintenancePolicy.isEmpty || compactEvery == 0,
      "choose ONE compaction scheduler: a fixed compactEvery cadence " +
        "or a maintenancePolicy-driven sweep, not both")
    val hasOp = docs.columns.contains("op")
    val step: (Dataset[Row], Long) => Unit = (batch, batchId) => {
      val b = batch.persist()
      try {
        // op ∈ {null/add, update, delete}: updates are full rows (the
        // re-crawled revision) and run the one-night replace path;
        // deletes are doc_id-only and apply LAST (ingest-then-delete),
        // so a doc updated AND deleted tonight ends deleted
        val (adds, dels, upds) =
          if (hasOp)
            (b.toDF().filter(col("op").isNull ||
               (col("op") =!= "delete" && col("op") =!= "update"))
               .drop("op"),
             Some(b.toDF().filter(col("op") === "delete").select("doc_id")),
             Some(b.toDF().filter(col("op") === "update").drop("op")))
          else (b.toDF(), None, None)
        sink(nightStep(arts, adds, budget, salt, seqBudget,
          tokensPerShard, batchId, deletes = dels, revisions = upds),
          batchId)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactAll(b.sparkSession, arts, retainGenerations)
        maintenancePolicy.foreach(p =>
          maintenanceSweep(b.sparkSession, arts, p, retainGenerations))
        if (driftCheckEvery > 0 && (batchId + 1) % driftCheckEvery == 0) {
          // drift and retrain see the corpus MINUS the takedown
          // registry — a retrain must never resurrect a deleted vector
          AnnIndex.retrainAnnIndexIfDrifted(b.sparkSession, arts.annIndex,
            retrainCorpus(b.sparkSession, arts), maxDrift)
          if (graphExists(b.sparkSession, arts))
            KnnGraphIndex.retrainKnnGraphIfDrifted(b.sparkSession,
              graphName(arts), retrainCorpus(b.sparkSession, arts), maxDrift)
          ()
        }
      } finally b.unpersist()
    }
    docs.writeStream.outputMode("append").foreachBatch(step).start()
  }
}
