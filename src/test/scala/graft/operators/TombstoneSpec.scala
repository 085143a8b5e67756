package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Deletion lifecycle of the maintained indexes (d21/s23's in-engine
  * contract): a tombstone's effect is IMMEDIATE and LOGICAL at every
  * probe, PHYSICAL at the next compaction (rows reclaimed, set
  * cleared, probes unchanged across the transition), and a rebuild
  * clears stale tombstones rather than letting them suppress the
  * fresh generation's entries. */
class TombstoneSpec extends SparkSpec {

  test("near-dup: tombstone hides immediately; compaction reclaims and clears; probes stable") {
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 200)
    val name = "graft_tomb_nd"
    Dedup.writeNearDupIndex(docs, name, numBuckets = 4)
    val copies = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
      .localCheckpoint()
    // before deletion: exact copies all drop
    assert(Dedup.incrementalNearDupSurvivorsIndexed(spark, name, copies)
      .isEmpty)
    import spark.implicits._
    Dedup.tombstoneNearDup(spark, name, Seq.range(0L, 10L).toDF("doc_id"))
    def survivors() =
      Dedup.incrementalNearDupSurvivorsIndexed(spark, name, copies)
        .collect().map(_.getLong(0)).toSet
    val logical = survivors()
    // copies of deleted docs may still match a retained near-dup, so
    // assert the two-sided CONTRACT, not a fixed set: nothing beyond
    // the deleted range survives, and at least the genuinely unique
    // deleted docs do
    assert(logical.nonEmpty, "deleting the originals freed no copies")
    assert(logical.forall(id => id - 1000000000L < 10L),
      s"a copy of a RETAINED doc survived: $logical")
    // physical reclamation: compaction drops the rows and clears the set
    Dedup.compactNearDupIndex(spark, name)
    assert(Tombstones.get(spark, name).isEmpty,
      "compaction did not clear the tombstone set")
    val bt = Generations.resolve(spark, name, "buckets")
    val st = Generations.resolve(spark, name, "sigs")
    assert(spark.table(bt).filter(col("doc_id") < 10).count() == 0L)
    assert(spark.table(st).filter(col("doc_id") < 10).count() == 0L)
    // the transition is probe-invisible
    assert(survivors() == logical,
      "probe changed across logical->physical deletion")
    // tombstoning is idempotent and mergeable
    Dedup.tombstoneNearDup(spark, name, Seq(10L, 11L).toDF("doc_id"))
    Dedup.tombstoneNearDup(spark, name, Seq(11L, 12L).toDF("doc_id"))
    assert(Tombstones.get(spark, name).get.count() == 3L)
    // a rebuild clears stale tombstones: the fresh index's entries
    // must not be suppressed by deletions against the old one
    Dedup.writeNearDupIndex(docs, name, numBuckets = 4)
    assert(Tombstones.get(spark, name).isEmpty)
    assert(Dedup.incrementalNearDupSurvivorsIndexed(spark, name, copies)
      .isEmpty, "stale tombstones suppressed a rebuilt index")
  }

  test("ANN: tombstone hides immediately; compaction reclaims and clears; probes stable") {
    val emb = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val name = "graft_tomb_ann"
    AnnIndex.writeAnnIndex(emb, name)
    val pred = col("vec_id") < 4
    def probe() = AnnIndex.probeAnnIndex(spark, name, emb, pred, k = 10,
        nprobe = 16, shortlist = 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val before = probe()
    assert(before.nonEmpty)
    // delete the CURRENT top-1 neighbors of every query — maximal
    // visibility: every query's result must change
    import spark.implicits._
    val top1 = before.filter(_._3 == 1).map(_._2).toSeq
    AnnIndex.tombstoneAnn(spark, name, top1.toDF("vec_id"))
    val logical = probe()
    assert(logical.forall(r => !top1.contains(r._2)),
      "a deleted vector still appears in probe results")
    assert(logical != before)
    // physical reclamation via compaction; probe unchanged across it
    AnnIndex.compactAnnIndex(spark, name)
    assert(Tombstones.get(spark, name).isEmpty)
    val ct = Generations.resolve(spark, name, "cells")
    assert(spark.table(ct)
      .filter(col("vec_id").isin(top1: _*)).count() == 0L)
    assert(probe() == logical,
      "probe changed across logical->physical deletion")
    // retrain (a rebuild) also clears stale tombstones
    AnnIndex.tombstoneAnn(spark, name, Seq(500L).toDF("vec_id"))
    AnnIndex.retrainAnnIndex(spark, name,
      emb.join(top1.toDF("vec_id"), Seq("vec_id"), "left_anti"))
    assert(Tombstones.get(spark, name).isEmpty,
      "retrain did not clear stale tombstones")
  }

  // The r10 verdict's finding #1: tombstone sets were the one mutable
  // artifact still written by plain overwrite (drop-and-recreate — a
  // crash mid-write could silently lose the PENDING erasure set and
  // probes would resurrect taken-down ids). All three indexes now
  // mutate through the crash-atomic [[Tombstones]] generation swap;
  // this test kills the writer in BOTH crash windows and asserts the
  // erasure state is never lost, for the near-dup store (the ANN and
  // graph stores are the same code path — Tombstones.add/clearApplied).
  test("tombstone mutation is crash-atomic: prior erasure set survives a killed writer") {
    import spark.implicits._
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    val name = "graft_tomb_crash"
    Dedup.writeNearDupIndex(docs, name, numBuckets = 4)
    def set() = Tombstones.get(spark, name)
      .fold(Set.empty[Long])(_.collect().map(_.getLong(0)).toSet)
    Dedup.tombstoneNearDup(spark, name, Seq(1L, 2L).toDF("doc_id"))
    assert(set() == Set(1L, 2L))
    // crash BEFORE the pointer flip: the merge died mid-write — the
    // PRIOR set must still be fully visible (the exact erasure-loss
    // window the old overwrite had)
    Generations.failpoint = Some("before-flip")
    intercept[IllegalStateException] {
      Dedup.tombstoneNearDup(spark, name, Seq(3L).toDF("doc_id"))
    }
    Generations.failpoint = None
    assert(set() == Set(1L, 2L),
      "a crashed tombstone merge lost or half-applied the erasure set")
    // neither lease is wedged: the retry merges cleanly
    Dedup.tombstoneNearDup(spark, name, Seq(3L).toDF("doc_id"))
    assert(set() == Set(1L, 2L, 3L))
    // crash AFTER the flip: the merged set is already live
    Generations.failpoint = Some("after-flip")
    intercept[IllegalStateException] {
      Dedup.tombstoneNearDup(spark, name, Seq(4L).toDF("doc_id"))
    }
    Generations.failpoint = None
    assert(set() == Set(1L, 2L, 3L, 4L))
    // a crashed CLEAR leaves the applied set in place (harmless no-op
    // anti-joins of already-reclaimed ids), never a half state; the
    // compaction that follows clears it for real
    Generations.failpoint = Some("before-flip")
    intercept[IllegalStateException] {
      Tombstones.get(spark, name).foreach(cur =>
        Tombstones.clearApplied(spark, name, Frontier.pin(cur)))
    }
    Generations.failpoint = None
    assert(set() == Set(1L, 2L, 3L, 4L))
    Dedup.compactNearDupIndex(spark, name)
    assert(Tombstones.get(spark, name).isEmpty)
    // the whole sequence left the index probeable
    assert(spark.table(Generations.resolve(spark, name, "buckets"))
      .filter(col("doc_id").isin(1L, 2L, 3L, 4L)).count() == 0L)
  }

  // The r11 verdict's finding #2: add/clear wrote the whole merged set
  // through coalesce(1) — a single-task write of an UNBOUNDED artifact
  // (between compactions the pending set only grows). Past
  // SingleFileMax the write must spread across tasks, and the stamped
  // pendingCount gauge must surface the erasure debt without a data
  // job either way.
  test("a large pending set writes multi-task; pendingCount gauges erasure debt") {
    import spark.implicits._
    val name = "graft_tomb_big"
    Tombstones.destroy(spark, name)
    // small set: one file, count stamped
    Tombstones.add(spark, name, Seq(1L, 2L, 3L).toDF("doc_id"), "doc_id")
    assert(Tombstones.pendingCount(spark, name) == 3L)
    val fam = Tombstones.family(name)
    def files() = spark.table(Generations.resolve(spark, fam, "ids"))
      .select(input_file_name()).distinct().count()
    assert(files() == 1L, "a takedown-sized set should stay one file")
    // large set: the merged write must not serialize through one task
    val big = spark.range(Tombstones.SingleFileMax + 50000L)
      .select(col("id").as("doc_id"))
    Tombstones.add(spark, name, big, "doc_id")
    val n = Tombstones.SingleFileMax + 50000L // 1..3 are inside the range
    assert(Tombstones.pendingCount(spark, name) == n)
    assert(files() > 1L,
      "an over-threshold pending set still wrote through a single task")
    assert(Tombstones.get(spark, name).get.count() == n)
    // the gauge is metadata-only and clears with the set
    Tombstones.get(spark, name).foreach(cur =>
      Tombstones.clearApplied(spark, name, Frontier.pin(cur)))
    assert(Tombstones.pendingCount(spark, name) == 0L)
    assert(Tombstones.get(spark, name).isEmpty)
    Tombstones.destroy(spark, name)
  }

  test("erasure overrides history: pending tombstones refuse retention; as-of probes exclude deletions") {
    // the tombstone targets are SYNTHETIC unique docs (the corpus has
    // natural intra-corpus near-dups, so a copy of a corpus doc can
    // match a second, un-tombstoned doc and legitimately drop)
    val uniq = spark.range(10)
      .select((col("id") + 500000L).as("doc_id"),
        concat(lit("tomb asof unique doc "), col("id").cast("string"),
          lit(" quux corge grault garply waldo fred plugh xyzzy thud"))
          .as("text"))
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 200)
      .unionByName(uniq)
    val name = "graft_tomb_asof"
    Dedup.writeNearDupIndex(docs, name, numBuckets = 4)
    Dedup.compactNearDupIndex(spark, name, gcKeep = 2) // open a window
    val g0 = Generations.currentGen(spark, name).get - 1
    val copies = uniq
      .select((col("doc_id") + 1000000000L - 500000L).as("doc_id"),
        col("text"))
      .localCheckpoint()
    assert(Dedup.incrementalNearDupSurvivorsIndexed(spark, name, copies,
      asOf = Some(g0)).isEmpty)
    import spark.implicits._
    Dedup.tombstoneNearDup(spark, name,
      Seq.range(500000L, 500010L).toDF("doc_id"))
    // the tombstone exclusion is CURRENT even for historical reads:
    // a taken-down doc stops counting as duplicate evidence in as-of
    // probes too — erasure beats reproducibility
    assert(Dedup.incrementalNearDupSurvivorsIndexed(spark, name, copies,
        asOf = Some(g0))
      .collect().map(_.getLong(0)).toSet ==
      Seq.range(0L, 10L).map(_ + 1000000000L).toSet)
    // the erased evidence stays erased at the live probe too, and the
    // compaction that makes the erasure PHYSICAL refuses to
    // retain pre-erasure generations — gcKeep >= 2 would keep the
    // deleted rows on disk (and as-of-readable) for another cycle
    val e = intercept[IllegalArgumentException] {
      Dedup.compactNearDupIndex(spark, name, gcKeep = 2)
    }
    assert(e.getMessage.contains("cannot retain history"), e.getMessage)
    // the sanctioned sequence purges ALL retained history with the
    // erasure; the pre-erasure snapshot is unreachable afterwards
    Dedup.compactNearDupIndex(spark, name)
    assert(Generations.listGenerations(spark, name, "sigs").size == 1)
    intercept[RuntimeException] {
      Generations.resolveAsOf(spark, name, "sigs", g0)
    }
    assert(Dedup.incrementalNearDupSurvivorsIndexed(spark, name, copies)
      .collect().map(_.getLong(0)).toSet ==
      Seq.range(0L, 10L).map(_ + 1000000000L).toSet,
      "deleted docs resurfaced as duplicate evidence after the purge")
  }

  test("clearApplied subtracts exactly the applied set: a takedown racing the flip->clear window survives") {
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    val name = "graft_tomb_race"
    import spark.implicits._
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    // the compaction's captured snapshot: {3, 4}
    LexIndex.tombstoneLex(spark, name, Seq(3L, 4L).toDF("doc_id"))
    val captured = Frontier.pin(
      Tombstones.get(spark, name).get.select("doc_id"))
    // ...a takedown lands AFTER the capture (the flip->clear window)
    LexIndex.tombstoneLex(spark, name, Seq(5L).toDF("doc_id"))
    // the blanket clear would wipe 5 unapplied; clearApplied must not
    Tombstones.clearApplied(spark, name, captured)
    val pending = Tombstones.get(spark, name)
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    assert(pending == Set(5L),
      s"racing takedown lost or stale ids kept: $pending")
    // and the surviving tombstone still has its logical effect
    val q = docs.filter(col("doc_id") === 5L).select(
      (col("doc_id") + 9000000000L).as("doc_id"), col("text"))
    val hits = LexIndex.probeLexIndex(spark, name, q, kEach = 10)
      .collect().map(_.getLong(1)).toSet
    assert(!hits.contains(5L), "tombstoned doc 5 still retrievable")
    LexIndex.destroy(spark, name)
  }

  test("a takedown racing clearApplied's OWN capture->swap window survives (r13 advice)") {
    // the narrower remnant of the flip->clear race: the index lease is
    // already free when clearApplied runs, so a takedown can commit
    // between clearApplied's entry and its clearing swap. remaining is
    // computed UNDER the tombstone family's lease, so the late id is
    // visible to the subtraction and stays pending.
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    val name = "graft_tomb_race2"
    import spark.implicits._
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    LexIndex.tombstoneLex(spark, name, Seq(3L, 4L).toDF("doc_id"))
    val captured = Frontier.pin(
      Tombstones.get(spark, name).get.select("doc_id"))
    Tombstones.clearRaceHook = Some(() =>
      LexIndex.tombstoneLex(spark, name, Seq(5L).toDF("doc_id")))
    try Tombstones.clearApplied(spark, name, captured)
    finally Tombstones.clearRaceHook = None
    val pending = Tombstones.get(spark, name)
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    assert(pending == Set(5L),
      s"takedown racing clearApplied's swap was lost: $pending")
    // and the applied set was durably registered as erased
    val erased = Tombstones.erasedSet(spark, name)
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    assert(erased == Set(3L, 4L), s"erased registry wrong: $erased")
    LexIndex.destroy(spark, name)
  }

  test("a crash between erased-registration and the clearing swap leaves the harmless both-sides state; the retry converges") {
    // clearApplied is two swaps on two families, registry FIRST: a
    // crash between them leaves ids both registered AND pending —
    // each side anti-joins independently, so nothing resurfaces and
    // nothing is lost — and the retried clearApplied converges. The
    // reverse order would open a window where an erasure is neither
    // pending nor registered (the resurrection window, r13 advice).
    val name = "graft_tomb_crash2"
    import spark.implicits._
    Tombstones.destroy(spark, name)
    def pending() = Tombstones.get(spark, name)
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    def erased() = Tombstones.erasedSet(spark, name)
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    Tombstones.add(spark, name, Seq(7L, 8L).toDF("doc_id"), "doc_id")
    val captured = Frontier.pin(
      Tombstones.get(spark, name).get.select("doc_id"))
    // crash INSIDE the registry swap (before its flip): nothing changed
    Generations.failpoint = Some("before-flip")
    intercept[IllegalStateException] {
      Tombstones.clearApplied(spark, name, captured)
    }
    Generations.failpoint = None
    assert(pending() == Set(7L, 8L), "pending set mutated by a crashed registration")
    assert(erased().isEmpty, "half-committed registry visible")
    // crash BETWEEN the registry commit and the clearing swap
    Tombstones.clearRaceHook =
      Some(() => throw new IllegalStateException("injected between-swaps crash"))
    try intercept[IllegalStateException] {
      Tombstones.clearApplied(spark, name, captured)
    } finally Tombstones.clearRaceHook = None
    assert(erased() == Set(7L, 8L), "registration lost")
    assert(pending() == Set(7L, 8L), "pending cleared before the clearing swap")
    // the retry converges to the final state
    Tombstones.clearApplied(spark, name, captured)
    assert(pending().isEmpty && erased() == Set(7L, 8L))
    Tombstones.destroy(spark, name)
  }

  test("erased registry: clearApplied registers durably, registration is idempotent, readmit removes") {
    val name = "graft_tomb_reg"
    import spark.implicits._
    Tombstones.destroy(spark, name)
    def erased() = Tombstones.erasedSet(spark, name)
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    Tombstones.add(spark, name, Seq(1L, 2L).toDF("doc_id"), "doc_id")
    val captured = Frontier.pin(
      Tombstones.get(spark, name).get.select("doc_id"))
    Tombstones.clearApplied(spark, name, captured)
    assert(Tombstones.get(spark, name).isEmpty, "pending not cleared")
    assert(erased() == Set(1L, 2L), s"applied set not registered: ${erased()}")
    // a retried clearApplied (crash-after-register replay) is a no-op
    Tombstones.clearApplied(spark, name, captured)
    assert(erased() == Set(1L, 2L), s"re-registration not idempotent")
    // the empty-registry fast path answers from catalog metadata alone
    Tombstones.readmit(spark, name, Seq(1L).toDF("doc_id"))
    assert(erased() == Set(2L), s"readmit(1) left: ${erased()}")
    Tombstones.readmit(spark, name, Seq(2L).toDF("doc_id"))
    assert(Tombstones.erasedSet(spark, name).isEmpty,
      "empty registry must read as None (EmptyProp fast path)")
    Tombstones.destroy(spark, name)
  }
}
