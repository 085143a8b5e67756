package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared crash-atomic PENDING-DELETION store behind the four
  * maintained index families ([[Dedup]] near-dup, [[AnnIndex]],
  * [[KnnGraphIndex]], [[LexIndex]]), and the erasure lifecycle they
  * all follow: a one-member [[Generations]] family
  * `<index>_tombstones` whose `ids` table holds the ids deleted
  * logically but not yet physically reclaimed.
  *
  * Why a family and not a plain table: tombstone mutation used to be
  * merge-then-`mode("overwrite")`, and an overwrite-saveAsTable is
  * DROP-AND-RECREATE — a crash mid-write loses the whole pending
  * erasure set, and probes would resurrect taken-down ids until
  * re-tombstoned. That is exactly the drop-create window the takedown
  * registry and the raw-vector corpus were moved behind the generation
  * pointer for ([[graft.streaming.StreamingNightlyIngest]]); the
  * tombstone sets were the last mutable artifact still outside it.
  * Here every mutation writes a NEW generation and flips the pointer
  * in one catalog call: a crash before the flip leaves the prior set
  * intact and visible, after it the merged set — at no point is the
  * pending-deletion state absent (TombstoneSpec injects a crash in
  * both windows and asserts exactly that).
  *
  * Emptiness rides the manifest's atomic property set
  * ([[EmptyProp]], flipped in the SAME catalog call as the pointer),
  * so [[get]] answers "no pending deletions" from catalog metadata
  * alone — no per-probe data job.
  *
  * ==The envelope contract==
  *
  * An index family states only its members, its id column and its
  * write body; the three envelopes below own the erasure policy:
  *
  *  - [[takedown]]: merge the ids into the pending set while holding
  *    the INDEX family's writer lease, so a takedown cannot land
  *    mid-compaction and be cleared without ever being applied.
  *  - [[rebuild]]: capture the pending set (pinned) before the swap's
  *    `begin`, swap, then [[clearStale]] exactly that capture — a
  *    rebuild redefines the contents, so the old set is STALE, not
  *    erased, and a takedown racing the flip stays pending.
  *  - [[compaction]]: refuse `gcKeep > 1` while an erasure is pending
  *    ([[requireErasurePurges]]), capture the pending set before
  *    `begin`, hand it to the write body (which drops its rows), swap,
  *    then [[clearApplied]] exactly that capture — recorded as erased,
  *    a racing takedown left pending for the next pass.
  *
  * Probes and `ifAbsent` appends read the same store: probes anti-join
  * [[get]], appends apply [[barReplayed]].
  *
  * The reference has no persisted deletion state (its dedup window is
  * in-process, `/root/reference/src/nats_client.py:246-260`); a
  * persisted 100 TB artifact's erasure set must survive a crashed
  * writer, hence the pointer discipline.
  */
private[graft] object Tombstones {

  private val Members = Seq("ids")

  /** Test-only injection point inside [[clearApplied]], fired AFTER the
    * erased-registry write but BEFORE the clearing swap acquires the
    * tombstone family's lease — the residual race window (r13 advice):
    * the caller's index lease is already released, so a concurrent
    * takedown can commit here. Specs inject one and assert it
    * survives. */
  @volatile private[graft] var clearRaceHook: Option[() => Unit] = None

  /** "The current generation holds zero ids" — stamped atomically with
    * the pointer so emptiness never needs a data read. */
  val EmptyProp = "graft.tombstones.empty"

  /** Pending-set SIZE, stamped atomically with the pointer — the
    * erasure-debt gauge ([[pendingCount]]): between compactions of a
    * long-lived deployment the set only grows, and an operator
    * watching [[Generations.leaseStatus]] should see how much
    * reclamation the next compaction owes without paying a data job. */
  val PendingProp = "graft.tombstones.pending"

  /** Mutations writing a merged set LARGER than this spread it across
    * `spark.sql.shuffle.partitions` tasks instead of one file: the
    * accumulated pending set is unbounded between compactions, and a
    * `coalesce(1)` of it would serialize every mutation through a
    * single task at exactly the deployment sizes where takedown
    * batches are largest (the `Sharding` >10k-fallback discipline
    * applied to the erasure store). Below it, one file keeps the
    * common case — takedown-sized sets — listing-cheap to anti-join. */
  private[graft] val SingleFileMax = 100000L

  def family(index: String): String = s"${index}_tombstones"

  /** The pending-deletion set of `index`, or None when empty/absent.
    * Catalog-metadata-only when empty — probes pay no extra job. */
  def get(spark: SparkSession, index: String): Option[DataFrame] =
    idsOf(spark, family(index))

  /** The current `ids` of an ids family, None when empty or absent. */
  private def idsOf(spark: SparkSession, fam: String): Option[DataFrame] =
    Generations.currentGen(spark, fam)
      .filterNot(_ =>
        Generations.manifestProp(spark, fam, EmptyProp).contains("true"))
      .map(g => spark.table(Generations.physical(fam, "ids", g)))

  /** The merged set's write: one file at takedown sizes, a partitioned
    * multi-task write past [[SingleFileMax]] (see its note). */
  private def writeIds(merged: DataFrame, n: Long, table: String): Unit = {
    val spark = merged.sparkSession
    val shaped =
      if (n > SingleFileMax)
        merged.repartition(spark.sessionState.conf.numShufflePartitions,
          col(merged.columns.head))
      else merged.coalesce(1)
    shaped.write.format("parquet").saveAsTable(table)
  }

  /** Rewrite ids family `fam` as `next` of its current set (None when
    * empty or absent) — one generation swap whose new set is computed
    * UNDER the family's writer lease: two concurrent mutations then
    * serialize cleanly, and neither can pin a set that predates the
    * other's commit (a subtraction would silently wipe a takedown
    * committed in between; a merge would re-add a subtracted id). The
    * new set is pinned so its count and its write share one
    * evaluation, and the count is stamped with the pointer. */
  private def rewrite(spark: SparkSession, fam: String)(
      next: Option[DataFrame] => DataFrame): Unit =
    Generations.swap(spark, fam, Members) { lease =>
      val set = Frontier.pin(next(idsOf(spark, fam)))
      val n = set.count() // pinned: the count re-reads the checkpoint
      writeIds(set, n, Generations.physical(fam, "ids", lease.gen))
      Map(EmptyProp -> (n == 0L).toString, PendingProp -> n.toString)
    }

  /** Merge `ids` (first column, cast to long) into ids family `fam`,
    * distinct — idempotent. A new set's column is `idCol`; an existing
    * set keeps its own. */
  private def merge(spark: SparkSession, fam: String, ids: DataFrame,
      idCol: String): Unit = rewrite(spark, fam) { cur =>
    val add = ids.select(col(ids.columns.head).cast("long").as(idCol))
      .distinct()
    cur.fold(add)(c =>
      c.unionByName(add.select(col(idCol).as(c.columns.head))).distinct())
  }

  /** Remove `ids` (first column, cast to long) from ids family `fam`;
    * a no-op when the family is empty or absent. */
  private def subtract(spark: SparkSession, fam: String,
      ids: DataFrame): Unit =
    if (idsOf(spark, fam).isDefined) rewrite(spark, fam) {
      case Some(cur) =>
        val idCol = cur.columns.head
        cur.join(ids.select(col(ids.columns.head).cast("long").as(idCol)),
          Seq(idCol), "left_anti")
      // emptied by a concurrent writer: the empty set takes its column
      // from the caller's frame, never a hardcoded 'id' — the family
      // carries the index's id column (doc_id/vec_id), and a direct
      // reader of the empty set must see the same schema
      case None => spark.range(0).select(lit(0L).as(ids.columns.head))
    }

  /** Merge `ids` (first column, cast to long, named `idCol`) into the
    * pending set — idempotent. Callers hold their index family's
    * writer lease around this ([[takedown]]), serializing it against
    * compaction; the tombstone family's own lease guards the swap. */
  def add(spark: SparkSession, index: String, ids: DataFrame,
      idCol: String): Unit = merge(spark, family(index), ids, idCol)

  // ------------------------------------------------------------------
  // The lifecycle envelopes (see the object doc)
  // ------------------------------------------------------------------

  /** The pending set of `index` as distinct `idCol` values, pinned: the
    * snapshot an envelope takes before its swap's `begin`. Pinned so it
    * survives the tombstone family's own generation GC and is re-read
    * by the write body and both clearing writes. */
  private def capture(spark: SparkSession, index: String,
      idCol: String): Option[DataFrame] =
    get(spark, index).map(t => Frontier.pin(t.select(col(idCol)).distinct()))

  /** DELETE from a maintained index family: record `ids` (first column)
    * as pending tombstones, named `idCol`, under the family's writer
    * lease. Immediate at every probe, physical at the family's next
    * [[compaction]]; idempotent (distinct-merged); crash-atomic (a
    * crash mid-write cannot lose the pending set). */
  def takedown(spark: SparkSession, index: String, members: Seq[String],
      ids: DataFrame, idCol: String): Unit =
    Generations.leased(spark, index, members)(add(spark, index, ids, idCol))

  /** A family REBUILD: `write` builds the next generation of `index`
    * under [[Generations.swap]]; the pending set captured before it
    * is stale afterwards and is cleared ([[clearStale]]) — only that
    * capture, so a takedown racing the flip stays pending. */
  def rebuild(spark: SparkSession, index: String, members: Seq[String],
      idCol: String, gcKeep: Int = 1)(
      write: Generations.Lease => Map[String, String]): Unit = {
    val stale = capture(spark, index, idCol)
    Generations.swap(spark, index, members, gcKeep)(write)
    stale.foreach(clearStale(spark, index, _))
  }

  /** A family COMPACTION — where tombstoned deletions become physical.
    * Refuses to retain history while an erasure is pending
    * ([[requireErasurePurges]]), captures the pending set before the
    * swap's `begin` and hands it to `write` (None when nothing is
    * pending), which must drop those ids' rows from the next
    * generation; after the flip exactly that capture is recorded as
    * erased and cleared ([[clearApplied]]). A crash between flip and
    * clear leaves no-op tombstones for the next pass (probes anti-join
    * ids whose rows are gone), so the pair needs no atomicity. */
  def compaction(spark: SparkSession, index: String, members: Seq[String],
      idCol: String, gcKeep: Int)(
      write: (Generations.Lease, Option[DataFrame]) => Map[String, String])
      : Unit = {
    requireErasurePurges(spark, index, gcKeep)
    val applied = capture(spark, index, idCol)
    Generations.swap(spark, index, members, gcKeep)(write(_, applied))
    applied.foreach(clearApplied(spark, index, _))
  }

  /** Remove exactly the ids a compaction APPLIED, leaving any
    * tombstone that landed after the caller captured its snapshot
    * pending for the next maintenance pass. A whole-set reset would be
    * safe only while no other writer can mutate the set; the index
    * writers release their lease at the generation flip, so a takedown
    * arriving in the flip→clear window would be wiped UNAPPLIED by a
    * blanket clear — a silently lost right-to-erasure.
    * `applied` must be a PINNED frame (the capture survives the
    * tombstone family's own generation GC, and is re-read by both
    * writes below). Itself a swap; a crash before its flip leaves
    * applied-but-uncleared ids, harmless as ever (probes anti-join ids
    * whose rows are already gone).
    *
    * Two r13-advice disciplines:
    *
    *  - the remaining set is computed INSIDE the swap callback
    *    ([[rewrite]]), under the tombstone family's writer lease. The caller's index lease is
    *    already free here, so a concurrent takedown can commit a new
    *    id between entry and our swap; a pre-lease anti-join would pin
    *    a set that predates it and the flip would silently wipe that
    *    takedown unapplied — the narrow remnant of the exact race this
    *    method exists to close. Under the lease, any takedown either
    *    committed before our `begin` (visible to the re-read, so it
    *    survives the subtraction) or blocks until our flip (survives
    *    trivially).
    *  - the applied set is first recorded in the durable ERASED
    *    registry ([[registerErased]]), so "this id was physically
    *    purged" outlives the pending set it is being removed from. A
    *    crash between the two writes leaves ids both registered AND
    *    pending — harmless (each side anti-joins independently); the
    *    reverse order would open a window where an erasure is neither
    *    pending nor registered and an `ifAbsent` replay could re-admit
    *    it. */
  def clearApplied(spark: SparkSession, index: String,
      applied: DataFrame): Unit = {
    registerErased(spark, index, applied)
    clearStale(spark, index, applied)
  }

  /** [[clearApplied]] WITHOUT the erased-registry write — the REBUILD
    * path's clear: a rebuild defines the index's contents from scratch
    * over the corpus it was handed, so the pre-rebuild pending set is
    * STALE (it targets a replaced generation), not APPLIED — the docs
    * may be fully present in the fresh generation, and registering
    * them as erased would wrongly bar their future `ifAbsent` appends.
    * Only a compaction — which physically purges the pending rows —
    * may claim the erasure happened ([[clearApplied]]). Same
    * under-lease subtraction discipline. */
  private def clearStale(spark: SparkSession, index: String,
      applied: DataFrame): Unit = {
    clearRaceHook.foreach(_.apply())
    subtract(spark, family(index), applied)
  }

  /** The erasure-debt gauge: how many ids await physical reclamation.
    * Catalog metadata only — every mutation stamps [[PendingProp]].
    * Surfaced so an operator watching a family
    * ([[Generations.leaseStatus]]) also sees how much the next
    * compaction owes. */
  def pendingCount(spark: SparkSession, index: String): Long =
    stampedCount(spark, family(index))

  /** The [[PendingProp]] stamp of an ids family (0 when it was never
    * written; every write stamps it). */
  private def stampedCount(spark: SparkSession, fam: String): Long =
    Generations.currentGen(spark, fam).fold(0L)(_ =>
      Generations.manifestProp(spark, fam, PendingProp).getOrElse(
        sys.error(s"ids family '$fam' has no $PendingProp stamp")).toLong)

  /** ERASURE OVERRIDES HISTORY — the guard every tombstone-applying
    * compaction calls before a swap that would RETAIN generations
    * (`gcKeep ≥ 2`, the as-of read window): the compaction is the
    * moment tombstoned deletions become physical, and a retained
    * pre-erasure generation would keep the deleted rows on disk (and
    * [[Generations.resolveAsOf]]-readable) for another swap cycle —
    * the exact outcome a takedown exists to prevent. Refusing loudly
    * makes the safe composition the only composition: run the erasure
    * compaction with `gcKeep = 1` (purging retained history), then
    * resume retention on later swaps. Free on the default path (the
    * check runs only when `gcKeep > 1`), metadata-only when the
    * pending stamp exists. */
  private def requireErasurePurges(spark: SparkSession, index: String,
      gcKeep: Int): Unit =
    if (gcKeep > 1) {
      val pending = pendingCount(spark, index)
      require(pending == 0L,
        s"erasure compaction on '$index' cannot retain history: " +
          s"gcKeep=$gcKeep with $pending pending tombstone(s) would " +
          "keep deleted rows on disk (and as-of-readable) for another " +
          "swap cycle — run the erasure with gcKeep=1, then resume " +
          "retention on later swaps")
    }

  /** Remove the family entirely — fixture/test reset, the
    * [[Generations.destroy]] twin. The erased registry goes with it
    * (destroy is the full-reset path; a production deployment never
    * destroys — it [[readmit]]s). */
  def destroy(spark: SparkSession, index: String): Unit = {
    Generations.destroy(spark, family(index), Members)
    Generations.destroy(spark, erasedFamily(index), Members)
  }

  // ------------------------------------------------------------------
  // The durable ERASED registry
  // ------------------------------------------------------------------
  //
  // "This id's rows were physically purged from the index" must
  // OUTLIVE the pending tombstone that caused the purge: a compaction
  // consolidates the per-batch bookkeeping an `ifAbsent` replay fence
  // keys on (the lex stats fence row vanishes, doclen loses the purged
  // docs), so a micro-batch replayed after the compaction — the JVM
  // died between the maintenance callback and the stream checkpoint
  // commit — finds neither the fence nor the docs and would classify
  // the erased docs as admitted, re-inserting rows whose takedown was
  // already made physical (r13 advice). The pending set cannot carry
  // this ("pending" ends at clearApplied, which is exactly when the
  // window opens); a registry of applied erasures can. Ids only —
  // the same footprint argument as the nightly pipeline's takedown
  // registry (StreamingNightlyIngest), which plays this role at
  // pipeline level; this one covers indexes maintained outside it.
  //
  // Policy: an erased id stays barred from `ifAbsent` (replay-capable)
  // appends until an operator explicitly [[readmit]]s it — re-ingesting
  // previously erased content is a deliberate act, never a replay
  // side effect. Plain (ifAbsent = false) appends are unaffected.

  def erasedFamily(index: String): String = s"${index}_erased"

  /** The registry's contents, or None when empty/absent —
    * catalog-metadata-only when empty ([[EmptyProp]], the [[get]]
    * fast path). */
  def erasedSet(spark: SparkSession, index: String): Option[DataFrame] =
    idsOf(spark, erasedFamily(index))

  /** Merge `ids` (first column, cast to long) into the erased
    * registry — a [[Generations]] swap, idempotent (distinct-merged),
    * with the merge computed UNDER the registry's writer lease (the
    * [[clearApplied]] discipline: two concurrent registrations must
    * both survive). Rewrite cost ∝ registry size — ids only, the
    * accepted takedown-registry footprint. */
  private def registerErased(spark: SparkSession, index: String,
      ids: DataFrame): Unit =
    merge(spark, erasedFamily(index), ids, "doc_id")

  /** Registry SIZE — [[pendingCount]]'s twin for the erased side,
    * catalog-metadata-only (every registry write stamps the count). */
  def erasedCount(spark: SparkSession, index: String): Long =
    stampedCount(spark, erasedFamily(index))

  /** RE-ADMISSION: remove `ids` from the erased registry so a future
    * ingest of those docs lands normally — the explicit operator act
    * re-ingesting erased content requires (the nightly registry's
    * removeFromRegistry policy, at index level). Computed under the
    * registry's lease, same as [[registerErased]]. */
  def readmit(spark: SparkSession, index: String, ids: DataFrame): Unit =
    subtract(spark, erasedFamily(index), ids)

  /** The replay bar every `ifAbsent` append applies to its admitted
    * set: anti-join `batch` against the PENDING set (a takedown whose
    * compaction hasn't run yet — the replay arrived before the purge)
    * and the ERASED registry (the purge and its clearApplied already
    * ran — the post-compaction resurrection window, r13 advice). Both
    * sides are id-only frames, broadcast-sized at takedown scale;
    * no-op (no join added) when both are empty/absent. */
  def barReplayed(batch: DataFrame, index: String,
      idCol: String): DataFrame = {
    val spark = batch.sparkSession
    (get(spark, index).toSeq ++ erasedSet(spark, index).toSeq)
      .foldLeft(batch)((b, ts) => b.join(
        ts.select(col(ts.columns.head).cast("long").as(idCol)),
        Seq(idCol), "left_anti"))
  }
}
