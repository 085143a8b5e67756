package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The WHEN of index maintenance, unified across the four maintained
  * families (near-dup [[Dedup]], [[AnnIndex]], [[KnnGraphIndex]],
  * [[LexIndex]]): each has append/compact/delete, and each decays the
  * same two ways between compactions —
  *
  *  - FRAGMENTATION: every bucketed append lands a new file set next
  *    to the existing ones (bucketed scans union per-bucket file
  *    lists), so after N ingests each bucket is ~N small files:
  *    listing cost, open/seek overhead and per-file row-group stats
  *    all degrade. The gauge is files-per-bucket.
  *  - ERASURE DEBT: tombstones apply logically at every probe but the
  *    rows stay on disk until a compaction purges them; the pending
  *    count is how much reclamation the next compaction owes (and how
  *    long taken-down rows keep existing physically — at 100 TB this
  *    is a compliance clock, not just a perf one).
  *
  * At fleet scale nobody eyeballs these per index: an operator needs
  * one metadata-only health probe and a policy that says "compact
  * now" with reasons. This module is that probe + policy. Everything
  * reads catalog metadata and file-listing only — no data jobs — so a
  * scheduler can sweep thousands of families cheaply; the decision
  * gates a compaction the family already knows how to run, and
  * compactions are behavior-invisible (the s33/d13 hash rows), so
  * WHEN they run is purely an efficiency/compliance choice — exactly
  * what makes it safe to automate.
  *
  * The reference has no maintained artifacts to decay (its state is
  * in-process, `/root/reference/src/nats_client.py:246-260`); the
  * closest analogue is JetStream's own stream-limit enforcement,
  * which is likewise a broker-side policy over a persisted artifact.
  */
object IndexMaintenance {

  /** One member table's physical state: file count and bytes from the
    * filesystem listing, bucket count from the catalog (None for
    * partitioned-not-bucketed members like the ANN cells table),
    * `leaves` = the number of LEAF DIRECTORIES holding data files
    * (partition directories for a partitioned member, 1 for a plain
    * one) — the denominator when no bucket spec exists. */
  final case class MemberHealth(member: String, files: Long, bytes: Long,
      buckets: Option[Int], leaves: Long = 1L) {
    /** The fragmentation gauge: ~1.0 right after a compaction (one
      * file per bucket — or per partition directory for members laid
      * out by `partitionBy`, like the ANN cells table), +1 per append
      * since. Dividing a partitioned member's file count by its LEAF
      * count matters: the raw count grows with nCells, so a freshly
      * compacted ANN family would otherwise read as permanently
      * fragmented and an automated sweep would compact it forever. */
    def filesPerBucket: Double =
      files.toDouble / math.max(1L, buckets.map(_.toLong).getOrElse(leaves))
  }

  /** A family's full maintenance-relevant state, metadata-only. */
  final case class FamilyHealth(family: String, generation: Long,
      members: Seq[MemberHealth], pendingTombstones: Long,
      erasedRegistry: Long, lease: Generations.LeaseStatus) {
    def maxFilesPerBucket: Double =
      if (members.isEmpty) 0.0 else members.map(_.filesPerBucket).max
    def totalBytes: Long = members.map(_.bytes).sum
  }

  /** When to compact. `maxFilesPerBucket`: the fragmentation bound —
    * the default tolerates a week of nightly appends before the
    * per-bucket file list doubles listing work an eighth time.
    * `maxPendingTombstones`: the erasure-debt bound — 0 pending never
    * fires; the default fires on ANY pending takedown, treating
    * physical reclamation as due at the next maintenance window (the
    * compliance-first posture; raise it to batch takedowns). */
  final case class Policy(maxFilesPerBucket: Double = 8.0,
      maxPendingTombstones: Long = 1L)

  /** The decision, with its reasons — an automated sweep logs WHY a
    * compaction fired, or why not. */
  final case class Decision(due: Boolean, reasons: Seq[String])

  /** Metadata-only health probe of `family` with `members` (the same
    * member list its writers pass to [[Generations]]). File counts and
    * bytes come from one filesystem listing per member; pending and
    * erased counts from the stamped manifest properties; the lease
    * from the manifest. */
  def health(spark: SparkSession, family: String,
      members: Seq[String]): FamilyHealth = {
    val gen = Generations.currentGen(spark, family).getOrElse(
      sys.error(s"no such index family: $family"))
    val catalog = spark.sessionState.catalog
    val mh = members.map { m =>
      val t = Generations.physical(family, m, gen)
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(t)
      val meta = catalog.getTableMetadata(ident)
      val loc = new Path(meta.location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var files = 0L
      var bytes = 0L
      val leafDirs = scala.collection.mutable.HashSet.empty[String]
      if (fs.exists(loc)) {
        val it = fs.listFiles(loc, true)
        while (it.hasNext) {
          val st = it.next()
          val n = st.getPath.getName
          if (!n.startsWith("_") && !n.startsWith(".")) {
            files += 1; bytes += st.getLen
            leafDirs += st.getPath.getParent.toString
          }
        }
      }
      MemberHealth(m, files, bytes, meta.bucketSpec.map(_.numBuckets),
        leaves = math.max(1L, leafDirs.size.toLong))
    }
    FamilyHealth(family, gen, mh,
      pendingTombstones = Tombstones.pendingCount(spark, family),
      erasedRegistry = Tombstones.erasedCount(spark, family),
      lease = Generations.leaseStatus(spark, family))
  }

  /** The policy applied to a health snapshot. A held writer lease is
    * NOT a reason to skip: [[Generations.begin]] serializes — the
    * sweep's compaction just queues behind the live writer. */
  def compactionDue(h: FamilyHealth, p: Policy = Policy()): Decision = {
    val reasons = Seq(
      Option.when(h.maxFilesPerBucket > p.maxFilesPerBucket)(
        f"fragmentation: ${h.maxFilesPerBucket}%.1f files/bucket > " +
          f"${p.maxFilesPerBucket}%.1f"),
      Option.when(
          p.maxPendingTombstones > 0 &&
            h.pendingTombstones >= p.maxPendingTombstones)(
        s"erasure debt: ${h.pendingTombstones} pending takedown(s) " +
          "await physical reclamation"),
    ).flatten
    Decision(reasons.nonEmpty, reasons)
  }
}
