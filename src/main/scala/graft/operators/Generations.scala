package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions.col

/** Crash-atomic, reader-safe swaps for the maintained index families
  * ([[Dedup]] near-dup index, [[AnnIndex]]): GENERATION directories
  * plus an atomic pointer flip, replacing drop-and-rename (whose
  * drop→rename window leaves NO live table if the driver dies between
  * the two, and shows concurrent readers a missing index mid-swap).
  *
  * Layout: an index `name` with members `m ∈ {buckets, sigs}` (or
  * `{cells, model}`) is a family of physical tables `<name>_<m>_g<N>`
  * plus a zero-row manifest table `<name>_manifest` whose table
  * property `graft.gen = N` is the pointer. Every lifecycle step:
  *
  *  1. [[begin]]: acquire the WRITER LEASE (below), GC any orphaned
  *     generation (a crashed previous swap left either a half-written
  *     next gen — pointer never moved — or an unreclaimed old gen —
  *     pointer moved, GC didn't run; both are "any gen outside the
  *     keep window" and deleting them is always safe), then hand out
  *     the next generation number as a [[Lease]].
  *  2. The caller writes the new generation's tables COMPLETELY —
  *     data, bucket/partition spec, property stamps — while readers
  *     keep resolving the current generation untouched.
  *  3. [[commit]]: ONE `ALTER TABLE … SET TBLPROPERTIES` moves the
  *     pointer AND releases the lease (a single metastore call — the
  *     atom), then generations older than the keep window are GC'd. A
  *     crash before the flip leaves the old index live and complete;
  *     after it, the new one. At no point is the index absent or
  *     partially visible, which drop-and-rename cannot promise.
  *
  * One generation number covers ALL members of a family, so a swap
  * that must replace several tables together (near-dup buckets+sigs;
  * an [[AnnIndex.retrainAnnIndex]] replacing cells AND model, which
  * must never be seen mixed — codes from one model scored against
  * another silently mis-rank) is atomic as a unit.
  *
  * The reference's closest analogue is its rolling dedup-window
  * rebuild (`/root/reference/src/nats_client.py:246-260`), which is
  * in-process state and can simply be replaced; a persisted 100 TB
  * artifact needs the pointer discipline above.
  *
  * ==Writer lease (single-writer contract, self-enforcing)==
  *
  * ONE maintenance writer per family at a time. foreachBatch's strict
  * sequencing provides this for the streaming loops, but the contract
  * is now FENCED rather than assumed: [[begin]] stakes a lease
  * (`graft.gen.writer` token + expiry on the manifest) and a second
  * concurrent [[begin]] on the same family fails fast with a clean
  * error instead of GC'ing the first writer's half-written generation.
  * [[commit]] re-verifies the token before flipping, so a writer whose
  * lease was stolen (after expiry) cannot clobber the thief's swap.
  * Recovery: a writer that DIED releases its lease implicitly — an
  * in-process death is detected via the JVM-local liveness table; a
  * cross-process death waits out `leaseTtlMs` (default 15 min). The
  * read-check-acquire is serialized through a JVM lock, which is
  * exact for `local[*]` (this engine's deployment unit); a multi-JVM
  * metastore deployment additionally relies on the TTL, the same
  * compromise every non-CAS catalog lock makes.
  *
  * ==Readers and deferred GC==
  *
  * Readers are unrestricted — they resolve the pointer at operation
  * start and read a complete generation. A reader holding a
  * generation across a swap keeps its files only while the generation
  * stays inside the keep window: [[commit]]`(gcKeep = n)` retains the
  * newest `n` generations (stamped on the manifest so subsequent
  * [[begin]] debris-GC honors it too). `gcKeep = 1` is the compact
  * default — exactly one live generation, today's storage footprint;
  * `gcKeep ≥ 2` gives long-pause readers a full swap cycle of grace,
  * the standard snapshot-isolation widening.
  *
  * ==On-disk layout==
  *
  * Every [[commit]] stamps `graft.format = `[[Format]] in the same
  * catalog call as the pointer flip, and [[currentGen]] — the lookup
  * every probe, append and compaction resolves through — rejects a
  * family whose pointer carries a missing or different stamp, with an
  * error that says to rebuild it. The stamp names the whole layout of
  * every family at once: member set, schemas, bucket specs and
  * manifest properties. There are no per-family compatibility
  * branches; a layout is either the current one or refused (the
  * version-header discipline of Structured Streaming's offset and
  * commit logs). Bump [[Format]] in the change that alters any
  * family's persisted layout in a way the current readers or
  * appenders cannot consume; additive properties that read as absent
  * on older generations do not need a bump. [[begin]] reads the
  * pointer unchecked, so a builder's swap (`write…`) over a refused
  * family is the upgrade path; a family without a builder (a
  * tombstone set, a registry, budget state) is destroyed and
  * rewritten.
  */
object Generations {

  /** The pointer property on the manifest table. */
  val GenProp = "graft.gen"

  /** The on-disk layout stamp (see "On-disk layout" above). */
  val FormatProp = "graft.format"
  val Format = "1"

  /** Writer-lease token property (empty = unheld). */
  val WriterProp = "graft.gen.writer"

  /** Writer-lease expiry, epoch millis. */
  val WriterExpProp = "graft.gen.writer.exp"

  /** Writer-lease acquisition time, epoch millis — observability only
    * (how long has the current writer held the family?). */
  val WriterSinceProp = "graft.gen.writer.since"

  private val log =
    org.slf4j.LoggerFactory.getLogger("graft.operators.Generations")

  /** How many newest generations GC retains (stamped by [[commit]]). */
  val KeepProp = "graft.gen.keep"

  /** Default cross-process lease TTL. */
  val DefaultLeaseTtlMs: Long = 15 * 60 * 1000L

  /** A staked writer lease: the only capability that can [[commit]]
    * generation `gen` of family `name`. */
  final case class Lease(name: String, gen: Long, token: String)

  /** Leases issued by THIS JVM that are still live (writer between
    * begin and commit/abort). Liveness here is exact: an in-process
    * writer death (exception) removes its entry, so recovery never
    * waits out the TTL in the single-JVM deployment. */
  private val liveLeases =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Last token this JVM issued per family — distinguishes "our
    * crashed writer's stale lease" (steal immediately) from a foreign
    * JVM's lease (respect the TTL). */
  private val issuedByThisJvm =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val acquireLock = new Object

  /** Test-only crash injection for the swap protocol: set to
    * `Some("before-flip")` / `Some("after-flip")` and the next
    * [[commit]] dies at that point, as a crashed driver would. Specs
    * assert the index is never absent and probes stay hash-identical
    * across both crash windows. */
  @volatile private[graft] var failpoint: Option[String] = None
  /** Test-only: a triggered failpoint HALTS the JVM (exit 137)
    * instead of throwing — the CROSS-PROCESS crash injection
    * [[graft.tools.DurableLab]] uses against a persistent metastore.
    * An exception unwinds `finally` blocks (in-process liveness drops,
    * abort paths run); a real crashed driver does not — halt is the
    * honest simulation of that. */
  @volatile private[graft] var failpointHalt: Boolean = false
  /** Test-only: overrides every [[begin]]'s lease TTL so a
    * cross-process recovery test can wait out a crashed foreign
    * writer's lease in seconds instead of [[DefaultLeaseTtlMs]]. */
  @volatile private[graft] var leaseTtlOverrideMs: Option[Long] = None
  /** Test-only: forget a family's JVM-local lease bookkeeping, as if
    * the process holding it had died — the persisted manifest lease
    * remains, exercising the cross-process TTL/steal paths. */
  private[graft] def simulateProcessDeath(name: String): Unit = {
    liveLeases.remove(name)
    issuedByThisJvm.remove(name)
  }
  /** Test-only: the holding WRITER dies (exception escaped without
    * abort) but the process lives — liveness drops, issuance stays. */
  private[graft] def simulateWriterCrash(name: String): Unit = {
    liveLeases.remove(name)
    ()
  }
  private def crashPoint(p: String): Unit =
    if (failpoint.contains(p)) {
      if (failpointHalt) Runtime.getRuntime.halt(137)
      throw new IllegalStateException(s"injected crash at $p")
    }

  def manifest(name: String): String = s"${name}_manifest"

  def physical(name: String, member: String, gen: Long): String =
    s"${name}_${member}_g$gen"

  private def parse(spark: SparkSession, t: String): TableIdentifier =
    spark.sessionState.sqlParser.parseTableIdentifier(t)

  /** Current generation of `name`, or None when no index exists.
    * Throws when the family's layout stamp is not [[Format]]. */
  def currentGen(spark: SparkSession, name: String): Option[Long] = {
    val props = manifestProps(spark, name)
    val gen = props.get(GenProp).map(_.toLong)
    val format = props.get(FormatProp)
    if (gen.isDefined && !format.contains(Format))
      throw new IllegalStateException(s"index family '$name' has on-disk " +
        s"layout ${format.fold("(unstamped)")(f => s"$FormatProp = $f")}; " +
        s"this engine reads $FormatProp = $Format only — rebuild it with " +
        "its write… builder")
    gen
  }

  /** Resolve a logical member to its current physical table — the ONE
    * lookup every probe/append/stats path goes through. */
  def resolve(spark: SparkSession, name: String, member: String): String =
    currentGen(spark, name) match {
      case Some(g) => physical(name, member, g)
      case None => sys.error(s"no such index: $name " +
        s"(no ${manifest(name)} generation pointer — build it first)")
    }

  /** The generations of `member` still materialized in the catalog,
    * ascending — the current one plus whatever the keep window has
    * retained. The AS-OF read surface: a training run records the
    * generation it resolved ([[currentGen]]) and later audits/replays
    * against it via [[resolveAsOf]] while the retention window
    * (`gcKeep ≥ 2` on the family's swaps) keeps it alive. */
  def listGenerations(spark: SparkSession, name: String,
      member: String): Seq[Long] = {
    val c = spark.sessionState.catalog
    val prefix = s"${name}_${member}_g"
    val rx = ("^" + java.util.regex.Pattern.quote(prefix) + "(\\d+)$").r
    c.listTables(c.getCurrentDatabase, s"$prefix*").flatMap(_.table match {
      case rx(g) => Some(g.toLong)
      case _ => None
    }).sorted
  }

  /** Resolve a PAST generation of a member for an as-of read.
    * Pinned-generation reads are REPRODUCIBILITY, not archival: the
    * generation must still be inside the family's keep window, and the
    * error for one that is not says which generations remain.
    *
    * What a past generation IS: in-place appends only ever target the
    * CURRENT generation (they hold the lease but never flip), so the
    * moment generation g+1 is published, generation g stops receiving
    * writes — a retained past generation is a FROZEN snapshot of the
    * family exactly as it was when it was superseded. `asOf` the
    * current generation is simply the live tables. Swap cadence is
    * therefore snapshot cadence: a nightly compaction with
    * `gcKeep = K` keeps K nights of frozen history.
    *
    * Erasure overrides history — takedown compactions refuse to
    * retain pre-erasure generations at all
    * ([[Tombstones.requireErasurePurges]]), so an as-of read can
    * never resurrect a deleted doc. */
  def resolveAsOf(spark: SparkSession, name: String, member: String,
      gen: Long): String = {
    val cur = currentGen(spark, name).getOrElse(
      sys.error(s"no such index: $name " +
        s"(no ${manifest(name)} generation pointer — build it first)"))
    if (gen == cur) return physical(name, member, gen)
    require(gen >= 0 && gen < cur,
      s"as-of generation $gen of family '$name' does not exist yet " +
        s"(current: $cur)")
    val t = physical(name, member, gen)
    if (!spark.sessionState.catalog.tableExists(parse(spark, t)))
      sys.error(s"generation $gen of family '$name' was reclaimed " +
        "(outside the keep window — widen gcKeep on the family's swaps " +
        "to retain history for as-of reads); retained: " +
        listGenerations(spark, name, member).mkString("[", ", ", "]"))
    t
  }

  private def ensureManifest(spark: SparkSession, name: String): Unit = {
    val mt = manifest(name)
    if (!spark.sessionState.catalog.tableExists(parse(spark, mt))) {
      // first build: the manifest's DIRECTORY may survive a previous
      // JVM while the in-memory catalog entry did not
      dropTableAndLocation(spark, mt)
      spark.sql(s"CREATE TABLE $mt (gen INT) USING parquet")
    }
  }

  private def manifestProps(spark: SparkSession,
      name: String): Map[String, String] = {
    val c = spark.sessionState.catalog
    val mt = parse(spark, manifest(name))
    if (!c.tableExists(mt)) Map.empty
    else c.getTableMetadata(mt).properties
  }

  /** One `'k' = 'v'` clause of a SET TBLPROPERTIES statement. Keys are
    * charset-restricted and values quote-escaped: the flip is the ONE
    * catalog call that is the atomicity point, and an unescaped quote
    * in a future property must not be able to break it. */
  private def sqlPropKV(k: String, v: String): String = {
    require(k.matches("[A-Za-z0-9._-]+"), s"illegal property key: '$k' " +
      "(allowed: [A-Za-z0-9._-]+)")
    s"'$k' = '${v.replace("\\", "\\\\").replace("'", "\\'")}'"
  }

  private def setProps(spark: SparkSession, table: String,
      props: Map[String, String]): Unit = {
    val kv = props.map { case (k, v) => sqlPropKV(k, v) }.mkString(", ")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ($kv)")
  }

  /** The generations GC retains when `cur` is current: the newest
    * `keep` (missing ones are simply absent — retention never
    * resurrects). */
  private def keepSet(cur: Option[Long], keep: Int): Set[Long] =
    cur.map(c => (math.max(0L, c - keep + 1) to c).toSet).getOrElse(Set.empty)

  /** Open a swap: acquire the writer lease, reclaim debris of any
    * crashed previous swap, then return the [[Lease]] carrying the
    * generation number to build into. The kept generations (current,
    * plus any deferred-GC window stamped by the last commit) are
    * untouched — readers resolve them throughout the write that
    * follows.
    *
    * Throws `IllegalStateException` when another live writer holds the
    * family's lease: the second writer of an accidental concurrent
    * pair fails fast instead of GC'ing the first one's half-written
    * generation out from under it. */
  def begin(spark: SparkSession, name: String, members: Seq[String],
      leaseTtlMs: Long = DefaultLeaseTtlMs): Lease = acquireLock.synchronized {
    ensureManifest(spark, name)
    val props = manifestProps(spark, name)
    val held = props.get(WriterProp).filter(_.nonEmpty)
    held.foreach { tok =>
      val live = Option(liveLeases.get(name)).contains(tok)
      val ours = Option(issuedByThisJvm.get(name)).contains(tok)
      val exp = props.get(WriterExpProp).flatMap(_.toLongOption).getOrElse(0L)
      if (live)
        throw new IllegalStateException(s"concurrent maintenance writer on " +
          s"index family '$name': lease $tok is live in this process " +
          "(one writer per family — serialize compaction/retrain/append)")
      if (!ours && System.currentTimeMillis() < exp)
        throw new IllegalStateException(s"concurrent maintenance writer on " +
          s"index family '$name': lease $tok held by another process until " +
          s"epoch-ms $exp (steal after expiry, or widen leaseTtlMs)")
      // else: our crashed writer, or a foreign writer past its TTL —
      // the stale lease is debris, steal it. LOGGED: a steal means a
      // writer died (or outlived its TTL), which an operator watching
      // the family should know about rather than infer from silence.
      val since = props.get(WriterSinceProp).flatMap(_.toLongOption)
      log.warn(s"stealing stale writer lease $tok on index family " +
        s"'$name' (${if (ours) "this JVM's crashed writer"
          else s"foreign writer expired at epoch-ms $exp"}" +
        s"${since.fold("")(t => s", held since epoch-ms $t")})")
    }
    // unchecked: a builder's swap over a refused layout is the upgrade
    val cur = props.get(GenProp).map(_.toLong)
    val keep = props.get(KeepProp).flatMap(_.toIntOption).getOrElse(1)
    gcExcept(spark, name, members, keepSet(cur, keep))
    sweepStrayDirs(spark, name, members)
    val token = java.util.UUID.randomUUID().toString
    val now = System.currentTimeMillis()
    val ttl = leaseTtlOverrideMs.getOrElse(leaseTtlMs)
    setProps(spark, manifest(name), Map(
      WriterProp -> token,
      WriterExpProp -> (now + ttl).toString,
      WriterSinceProp -> now.toString))
    liveLeases.put(name, token)
    issuedByThisJvm.put(name, token)
    Lease(name, cur.map(_ + 1).getOrElse(0L), token)
  }

  /** Close a swap: flip the pointer atomically, then GC generations
    * older than the keep window. The flip is ONE catalog property
    * update — before it readers see the complete old generation, after
    * it the complete new one. `props` AND the lease release ride the
    * SAME update, so any metadata that must move atomically with the
    * pointer (e.g. the nightly loop's applied-batch fence) can never
    * be observed out of sync with it.
    *
    * `gcKeep` (≥ 1) retains the newest `gcKeep` generations: 1 (the
    * default) reclaims the old generation immediately — one
    * generation of storage, today's behavior; ≥ 2 defers reclamation
    * so a reader that resolved the old generation just before the
    * flip keeps its files for a full further swap cycle. The value is
    * stamped (`graft.gen.keep`) so the NEXT begin's debris-GC honors
    * the same window.
    *
    * Throws `IllegalStateException` when the lease was stolen (this
    * writer outlived its TTL and another process took over): the
    * flip is refused so the late writer cannot clobber the thief's
    * generation. */
  def commit(spark: SparkSession, lease: Lease, members: Seq[String],
      props: Map[String, String] = Map.empty, gcKeep: Int = 1): Unit = {
    require(gcKeep >= 1, s"gcKeep must be >= 1, got $gcKeep")
    val name = lease.name
    try {
      crashPoint("before-flip")
      ensureManifest(spark, name)
      val holder = manifestProps(spark, name).get(WriterProp).filter(_.nonEmpty)
      if (!holder.contains(lease.token))
        throw new IllegalStateException(s"lease ${lease.token} on index " +
          s"family '$name' was ${holder.fold("released")(t => s"stolen by $t")}" +
          " — this writer held it past its TTL; its generation is debris")
      setProps(spark, manifest(name), props ++ Map(
        GenProp -> lease.gen.toString, FormatProp -> Format,
        KeepProp -> gcKeep.toString,
        WriterProp -> "", WriterExpProp -> "0"))
      crashPoint("after-flip")
      gcExcept(spark, name, members, keepSet(Some(lease.gen), gcKeep))
      members.foreach(m =>
        spark.catalog.refreshTable(physical(name, m, lease.gen)))
    } finally {
      // in-process writer end (success, crash, or refusal): drop the
      // JVM liveness so recovery/begin never waits out the TTL
      liveLeases.remove(name, lease.token)
    }
  }

  /** The whole-swap shape every writer should use: [[begin]], run
    * `write` (which builds the new generation's tables and returns the
    * props to stamp atomically with the flip), [[commit]]. If `write`
    * THROWS, the lease is released ([[abort]]) before rethrowing — an
    * in-process write failure must not wedge the family's lease until
    * JVM restart (begin would refuse with "lease is live in this
    * process" forever). A failure inside commit itself needs no
    * release: its finally drops the JVM liveness, and the persisted
    * token is ours, so the next begin steals it without waiting. */
  def swap(spark: SparkSession, name: String, members: Seq[String],
      gcKeep: Int = 1)(write: Lease => Map[String, String]): Unit = {
    val lease = begin(spark, name, members)
    val props = try write(lease) catch {
      case e: Throwable => abort(spark, lease); throw e
    }
    commit(spark, lease, members, props, gcKeep)
  }

  /** An in-place mutation of the CURRENT generation under the family's
    * writer lease: [[begin]], run `body`, then [[abort]] (release
    * without a flip) whether or not it threw. Appends and takedowns
    * hold the lease this way so a concurrent compaction or rebuild
    * cannot publish a generation built from a scan that predates them;
    * table names resolved inside `body` cannot name a just-retired
    * generation. */
  def leased[A](spark: SparkSession, name: String,
      members: Seq[String])(body: => A): A = {
    val lease = begin(spark, name, members)
    try body finally abort(spark, lease)
  }

  /** The bucket spec of a bucketed member table, from the catalog —
    * appends and compaction rewrites reuse the layout it was built
    * with. */
  def bucketSpecOf(spark: SparkSession, table: String): BucketSpec =
    spark.sessionState.catalog.getTableMetadata(parse(spark, table))
      .bucketSpec.getOrElse(sys.error(s"$table is not a bucketed index table"))

  /** Append `df` to the bucketed member `table` under the table's own
    * bucket and sort spec: every append lands bucket-aligned sorted
    * files next to the existing ones, so bucketed scans stay
    * exchange-free after it. */
  def appendBucketed(df: DataFrame, table: String): Unit = {
    val sp = bucketSpecOf(df.sparkSession, table)
    val bc = sp.bucketColumnNames
    val w = df.write.format("parquet").mode("append")
      .bucketBy(sp.numBuckets, bc.head, bc.tail: _*)
    (sp.sortColumnNames match {
      case Nil => w
      case s => w.sortBy(s.head, s.tail: _*)
    }).saveAsTable(table)
  }

  /** A compaction's member rewrite: write `df` (the rows of bucketed
    * member `old`, read through [[bucketedReads]]) as table `nt`,
    * bucketed on `bcol` and sorted by `sortCols`. At the same bucket
    * count and column the forced-bucketed scan owns one bucket per
    * task, so the write is a narrow per-bucket file merge with no
    * exchange. A resize (`numBuckets`) or a new bucket column pays one
    * explicit hash exchange to the new layout, its task count pinned
    * so AQE cannot coalesce it into one serial writer. */
  def rewriteBucketed(df: DataFrame, old: String, nt: String, bcol: String,
      sortCols: Seq[String], numBuckets: Option[Int]): Unit = {
    val sp = bucketSpecOf(df.sparkSession, old)
    val nb = numBuckets.getOrElse(sp.numBuckets)
    require(nb > 0, s"numBuckets must be positive, got $nb")
    val shaped =
      if (nb == sp.numBuckets && sp.bucketColumnNames == Seq(bcol)) df
      else df.repartition(nb, col(bcol))
    shaped.write.format("parquet")
      .bucketBy(nb, bcol).sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(nt)
  }

  /** A clone of `spark` (same runtime confs) with bucketed scans
    * forced, for compactions that rewrite one bucket per task into one
    * file per bucket; the caller's shared session is never written. */
  def bucketedReads(spark: SparkSession): SparkSession = {
    val cs = GraftColumnBridge.cloneSession(spark)
    cs.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    cs
  }

  /** Abandon a swap without flipping: releases the lease (persisted
    * and in-process) and leaves debris reclamation to the next
    * [[begin]]. For writers that decide not to commit. */
  def abort(spark: SparkSession, lease: Lease): Unit = {
    try {
      val holder =
        manifestProps(spark, lease.name).get(WriterProp).filter(_.nonEmpty)
      if (holder.contains(lease.token))
        setProps(spark, manifest(lease.name),
          Map(WriterProp -> "", WriterExpProp -> "0"))
    } finally liveLeases.remove(lease.name, lease.token)
  }

  /** A property from the manifest's atomic property set (None when the
    * family or the property doesn't exist). */
  def manifestProp(spark: SparkSession, name: String,
      key: String): Option[String] =
    manifestProps(spark, name).get(key)

  /** Observable writer-lease state of a family — the operator's answer
    * to "is this family stuck behind a dead writer's TTL, or is a live
    * writer working?" (the one thing the TTL-based cross-process lease
    * cannot signal by itself: it fails silently-by-waiting).
    *
    *  - `holder = None`: unheld, a [[begin]] proceeds immediately.
    *  - `liveInThisJvm`: the writer is alive in THIS process (exact —
    *    in-process liveness is tracked, not inferred).
    *  - `issuedByThisJvm && !liveInThisJvm`: our crashed writer — the
    *    next [[begin]] steals without waiting.
    *  - foreign + `expiresInMs > 0`: a live-or-dead writer in another
    *    process; [[begin]] blocks until the TTL passes. If `heldForMs`
    *    keeps growing well past the family's normal swap time, the
    *    writer is likely dead and the operator can widen/steal
    *    deliberately instead of guessing.
    *  - foreign + `expiresInMs <= 0`: expired debris — the next
    *    [[begin]] steals (and logs the steal). */
  final case class LeaseStatus(holder: Option[String],
      heldForMs: Option[Long], expiresInMs: Option[Long],
      liveInThisJvm: Boolean, issuedByThisJvm: Boolean) {
    /** A new [[begin]] would proceed without error right now. */
    def acquirable: Boolean = holder.isEmpty ||
      (!liveInThisJvm && (issuedByThisJvm || expiresInMs.forall(_ <= 0)))
  }

  def leaseStatus(spark: SparkSession, name: String): LeaseStatus = {
    val props = manifestProps(spark, name)
    val holder = props.get(WriterProp).filter(_.nonEmpty)
    val now = System.currentTimeMillis()
    LeaseStatus(
      holder = holder,
      heldForMs = holder.flatMap(_ =>
        props.get(WriterSinceProp).flatMap(_.toLongOption).map(now - _)),
      expiresInMs = holder.flatMap(_ =>
        props.get(WriterExpProp).flatMap(_.toLongOption).map(_ - now)),
      liveInThisJvm =
        holder.exists(t => Option(liveLeases.get(name)).contains(t)),
      issuedByThisJvm =
        holder.exists(t => Option(issuedByThisJvm.get(name)).contains(t)))
  }

  /** Remove the whole family: every generation of every member plus
    * the manifest — the reset path for fixtures/tests (a production
    * deployment rebuilds THROUGH the pointer instead and never needs
    * this). */
  def destroy(spark: SparkSession, name: String,
      members: Seq[String]): Unit = {
    gcExcept(spark, name, members, Set.empty)
    sweepStrayDirs(spark, name, members)
    dropTableAndLocation(spark, manifest(name))
    liveLeases.remove(name)
    issuedByThisJvm.remove(name)
  }

  /** Drop every cataloged generation of the family outside `keep` —
    * always safe: anything outside the keep window is either pre-flip
    * debris or a post-window leftover. Member names are matched
    * exactly (`<name>_<m>_g<digits>`), so one index being a name-prefix
    * of another (`ann` vs `ann_app`) can never cross-delete. */
  private def gcExcept(spark: SparkSession, name: String,
      members: Seq[String], keep: Set[Long]): Unit = {
    val c = spark.sessionState.catalog
    val db = c.getCurrentDatabase
    members.foreach { m =>
      val prefix = s"${name}_${m}_g"
      val rx = ("^" + java.util.regex.Pattern.quote(prefix) + "(\\d+)$").r
      c.listTables(db, s"$prefix*").foreach { ti =>
        ti.table match {
          case rx(g) if !keep.contains(g.toLong) =>
            dropTableAndLocation(spark, ti.table)
          case _ => ()
        }
      }
    }
  }

  /** Delete generation DIRECTORIES that have no catalog entry: the
    * in-memory catalog dies with the JVM but the warehouse does not,
    * so a fresh session rebuilding an index would otherwise hit
    * LOCATION_ALREADY_EXISTS on a previous run's `_g<N>` path. Only
    * uncataloged paths are touched — live generations are protected by
    * their catalog entries (and reclaimed through [[gcExcept]]). */
  private def sweepStrayDirs(spark: SparkSession, name: String,
      members: Seq[String]): Unit = {
    val c = spark.sessionState.catalog
    // all of a database's managed tables share one parent directory —
    // resolve it through the catalog (see dropTableAndLocation's note)
    val dir = new Path(
      c.defaultTablePath(parse(spark, manifest(name)))).getParent
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rxs = members.map(m =>
      ("^" + java.util.regex.Pattern.quote(s"${name}_${m}_g") + "\\d+$").r)
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (rxs.exists(_.findFirstIn(n).isDefined) &&
          !c.tableExists(parse(spark, n)))
        fs.delete(st.getPath, true)
    }
  }

  /** Drop `t` AND its on-disk location, both resolved through the
    * catalog (metadata when the table exists, defaultTablePath
    * otherwise — the layout `<warehouse>/<table>` only holds in the
    * default database, so a hand-built path would delete the wrong
    * directory). A managed table's LOCATION can outlive the in-memory
    * catalog entry across sessions, and a fresh write would then fail
    * with LOCATION_ALREADY_EXISTS. */
  def dropTableAndLocation(spark: SparkSession, t: String): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = parse(spark, t)
    val locUri =
      if (catalog.tableExists(ident)) catalog.getTableMetadata(ident).location
      else catalog.defaultTablePath(ident)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new Path(locUri)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }
}
