package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The maintenance advisor's contracts: gauges move with the
  * lifecycle (fresh ≈ 1 file/bucket, appends fragment, takedowns
  * accrue erasure debt, compaction resets both), the policy fires
  * with named reasons, and the probe is metadata-only (no data jobs
  * beyond the pre-stamp fallbacks). */
class IndexMaintenanceSpec extends SparkSpec {

  private def docs = Tables(spark, sf, "documents")
    .select(col("doc_id"), col("text")).filter(col("doc_id") < 300)

  private val LexMembers = LexIndex.maintenanceMembers

  test("gauges track the lifecycle; the policy fires with named reasons; compaction resets") {
    import spark.implicits._
    val name = "graft_t_maint"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    val h0 = IndexMaintenance.health(spark, name, LexMembers)
    assert(h0.maxFilesPerBucket <= 1.0,
      s"fresh build already fragmented: ${h0.members}")
    assert(h0.pendingTombstones == 0 && h0.erasedRegistry == 0)
    assert(!IndexMaintenance.compactionDue(h0).due,
      "fresh build immediately due for compaction")
    // three nightly appends: each lands a new file set per bucket
    (1 to 3).foreach(i => LexIndex.appendToLexIndex(
      docs.select((col("doc_id") + i * 1000000L).as("doc_id"), col("text")),
      name, batchId = s"n$i"))
    val h1 = IndexMaintenance.health(spark, name, LexMembers)
    assert(h1.maxFilesPerBucket >= 2.0,
      s"appends did not move the fragmentation gauge: ${h1.members}")
    val frag = IndexMaintenance.compactionDue(h1,
      IndexMaintenance.Policy(maxFilesPerBucket = 2.0))
    assert(frag.due && frag.reasons.exists(_.contains("fragmentation")),
      s"fragmentation did not fire: $frag")
    // a takedown accrues erasure debt — the compliance reason fires
    // under the default (compact-at-next-window) policy
    LexIndex.tombstoneLex(spark, name, Seq(1000001L, 1000002L).toDF("doc_id"))
    val h2 = IndexMaintenance.health(spark, name, LexMembers)
    assert(h2.pendingTombstones == 2)
    val debt = IndexMaintenance.compactionDue(h2)
    assert(debt.due && debt.reasons.exists(_.contains("erasure debt")),
      s"erasure debt did not fire: $debt")
    // the compaction the decision gates resets BOTH gauges — and the
    // erased registry records what was reclaimed
    LexIndex.compactLexIndex(spark, name)
    val h3 = IndexMaintenance.health(spark, name, LexMembers)
    assert(h3.maxFilesPerBucket <= 1.0,
      s"compaction did not defragment: ${h3.members}")
    assert(h3.pendingTombstones == 0 && h3.erasedRegistry == 2,
      s"debt not reclaimed/registered: $h3")
    assert(!IndexMaintenance.compactionDue(h3).due,
      "freshly compacted family still due")
    // the lease gauge reflects live writers
    assert(h3.lease.holder.isEmpty, s"stray lease: ${h3.lease}")
    LexIndex.destroy(spark, name)
  }

  test("health reads partitioned (non-bucketed) members too — the ANN cells table") {
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    AnnIndex.writeAnnIndex(emb, "graft_t_maint_ann")
    val h = IndexMaintenance.health(spark, "graft_t_maint_ann",
      Seq("cells", "model"))
    val cells = h.members.find(_.member == "cells").get
    assert(cells.buckets.isEmpty && cells.files > 0 && cells.bytes > 0,
      s"cells member not readable: $cells")
    // the partitioned member gauges files PER LEAF DIRECTORY (its
    // nCells >= 16 partition dirs), not the raw file count — so a
    // freshly built ANN family reads ~1.0 and the DEFAULT policy does
    // not flag it compaction-due forever (the endless-churn bug an
    // automated sweep would otherwise hit)
    assert(cells.leaves > 1, s"cells leaf dirs not gauged: $cells")
    assert(cells.filesPerBucket <= 2.0,
      s"fresh ANN family reads fragmented: $cells")
    assert(!IndexMaintenance.compactionDue(h).due,
      s"fresh ANN family due under the DEFAULT policy: " +
        s"${IndexMaintenance.compactionDue(h)}")
    // appends fragment each cell directory; the per-leaf gauge moves
    (1 to 2).foreach(i => AnnIndex.appendToAnnIndex(
      emb.filter(col("vec_id") < 64)
        .select((col("vec_id") + i * 1000000L).as("vec_id"),
          col("embedding")),
      "graft_t_maint_ann"))
    val h2 = IndexMaintenance.health(spark, "graft_t_maint_ann",
      Seq("cells", "model"))
    val cells2 = h2.members.find(_.member == "cells").get
    assert(cells2.filesPerBucket > cells.filesPerBucket,
      s"appends did not move the per-leaf gauge: $cells2 vs $cells")
  }

}
