package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextFunctions

/** The MAINTAINED inverted index behind hybrid retrieval — the serve
  * shape of [[HybridRetrieval.lexicalTopK]] (which rebuilds tf/df/len
  * per invocation: two corpus-sized shuffles, the build shape). At
  * 100 TB the postings must persist, and a probe's cost must be
  * bounded by the QUERY's term posting lists, never the corpus.
  *
  * This is the d12/s09 discipline applied to text: a [[Generations]]
  * family (crash-atomic swaps, writer lease, keep-window as-of reads)
  * with [[Tombstones]] takedowns, the same lifecycle the reference's
  * only persisted "index" — the subject-routed output stream
  * (`/root/reference/src/nats_client.py:81-102`) — needs once the
  * artifact outgrows one process.
  *
  * ==Members==
  *
  *  - `postings` (tok, doc_id, tf, len): one row per (term, doc),
  *    bucketed AND sorted on `tok` — the probe's equi-join key, so the
  *    corpus-sized side joins exchange-free and a bounded `tok IN (…)`
  *    pushdown prunes row groups (sorted buckets). `len` is
  *    DENORMALIZED into the row: a doc's length never changes, and
  *    carrying it here saves the probe a corpus-sized join against
  *    `doclen`.
  *  - `doclen` (doc_id, len, batch_id): one row per doc, bucketed and
  *    sorted on doc_id — the append bookkeeping spine ("fully
  *    applied" marker, replay classification, stats recount source).
  *    Probes never read it.
  *  - `dfcap` (tok, df, max_tf, min_len): the TERM-DICTIONARY snapshot
  *    AS OF the last build/compaction, bucketed+sorted on tok. The
  *    scoring probe uses only `df`, as a stop-word prune, and a
  *    provably SAFE one: df grows monotonically between compactions
  *    (appends add docs, deletions become physical only at
  *    compaction), so `df_stale·10 > N_now·9` already implies the
  *    exact cap fails — those posting lists are never read at all.
  *    Terms that pass the prune get their EXACT df counted from the
  *    posting rows the probe reads anyway, so the stale summary can
  *    never change a result, only skip dead work. `max_tf`/`min_len`
  *    are the per-term IMPACT-BOUND stamps (max tf over the term's
  *    postings, min doc length) the bounded MaxScore probe derives
  *    score upper bounds from.
  *  - `vocab` (tok, df, max_tf, min_len, batch_id): the dictionary's
  *    per-append DELTA rows, bucketed+sorted on tok — the r15 finding's
  *    fix: every vocabulary surface (fuzzy, prefix, autocomplete) used
  *    to derive the term dictionary by a corpus-proportional postings
  *    scan per probe; now it reads dfcap ∪ vocab, which is VOCAB-sized
  *    (Heaps-law sublinear on real corpora). Appends only ever ADD
  *    (tok, doc) rows, so dfcap.df + Σ delta.df is the EXACT current
  *    df — not a bound — and max(max_tf)/min(min_len) over the union
  *    stay true impact bounds; compaction rebuilds dfcap exactly and
  *    empties the deltas. batch_id keys the same exactly-once replay
  *    fence as doclen's (written after doclen, before the stats
  *    fence — see the append-idempotency note).
  *  - `impacts` (tok, blk, doc_lo, doc_hi, n_rows, max_tf, min_len,
  *    batch_id): PER-BLOCK impact stamps — the dictionary's
  *    (max_tf, min_len) discipline extended one level down (Lucene's
  *    `impacts` on postings enums; BMW/block-max, Ding & Suel 2011).
  *    Each term's postings run is cut into blocks of
  *    [[ImpactBlockRowsConf]] rows in doc_id order at build/compaction
  *    (appends stamp their own batch's rows — the vocab-delta
  *    lifecycle, fenced by batch_id), so EVERY postings row is covered
  *    by a stamp written in the same mutation that landed it. The
  *    bounded probe turns stamps into doc_id-range pushdowns: seed
  *    lists read only their top-impact blocks for θ, and essential
  *    lists skip blocks whose block upper bound cannot lift a doc past
  *    θ — both provably lossless (see [[probeLexIndexMaxScore]]).
  *    Bucketed+sorted on tok; block count ≈ vocab + postings/blockRows
  *    — sublinear in the corpus like the dictionary itself.
  *  - `stats` (batch_id, n_docs, total_tokens): per-mutation-epoch
  *    delta rows; the probe sums them (a few rows — one per append
  *    since the last compaction). batch_id keys the exactly-once
  *    fence for replayed appends.
  *
  * ==Probe cost at scale==
  *
  * Query terms are collected (bounded, [[ProbePushdownMax]]) and pushed
  * as literals into the `dfcap` scan and then — minus the provably
  * capped terms — into the `postings` scan: sorted single-column
  * buckets turn the IN-filter into row-group pruning (the d12 bounded
  * probe pattern). Everything after the scan is bounded by the
  * surviving terms' posting lists: df recount and per-term scoring ride
  * the bucketed (tok) distribution exchange-free, the per-(query, doc)
  * DECIMAL sum shuffles only scored candidates, and the final cut is
  * the bounded exact-long [[Similarity.TopKLongAgg]].
  *
  * ==Append idempotency (at-least-once replays)==
  *
  * An append is three parquet jobs — postings, doclen, stats — each
  * atomic, the triple not. `ifAbsent = true` (the streaming path)
  * makes the whole mutation CONVERGENT under replay: `doclen` rows
  * carry the batch id, so "admitted" is decidable post-crash (a doc
  * absent from doclen, or present under THIS batch id, is ours to
  * finish; present under another id means an earlier batch owns it),
  * per-doc anti-joins skip already-landed postings/doclen rows, and
  * the stats delta — counted over the deterministic admitted set —
  * lands once, keyed by batch id, written LAST as the fence.
  *
  * ==Deletions==
  *
  * [[tombstoneLex]] records doc ids; every probe excludes them from
  * CANDIDACY immediately (a taken-down doc can never be retrieved),
  * while df/stats keep the pre-delete values until
  * [[compactLexIndex]] makes the erasure physical and rebuilds both
  * exactly — so post-compaction the family is bit-identical to a fresh
  * build without the deleted docs (the s33 hash row), and
  * [[Tombstones.requireErasurePurges]] refuses a retaining compaction
  * that would keep deleted rows as-of-readable.
  */
object LexIndex {

  private val Members =
    Seq("postings", "doclen", "dfcap", "stats", "vocab", "impacts")

  /** The family's member list for [[IndexMaintenance.health]] sweeps —
    * the same list every writer passes to [[Generations]]. */
  val maintenanceMembers: Seq[String] = Members

  /** Tokenizer contract stamp: an index probed/appended with a
    * different tokenization is silently incomparable (term universes
    * diverge), so every mutation and probe verifies the stamp — the
    * near-dup family's shingle-k discipline. */
  val TokenizerProp = "graft.lex.tokenizer"
  val TokenizerId = "ws-v1" // whitespace split of trimmed text

  /** Bounded literal-pushdown budget (the d12 probe's limit). */
  private val ProbePushdownMax = 10000

  /** Pair-set broadcast budget (rows; session-conf override, 0 forces
    * the shuffle path — specs). A candidacy (qid, doc_id) frame is
    * DATA-dependent — a common origin term on a 100 TB corpus can make
    * it ~10⁸ rows — so the semi/anti joins that consume one must never
    * FORCE a broadcast: at or under the budget the frame broadcasts
    * (the selective-constraint fast path, the common case); past it
    * the join runs as a shuffle semi/anti on (qid, doc_id) — the same
    * candidacy position, so the result is row-identical and the query
    * degrades instead of dying on a driver materialization (the house
    * bounded-collect discipline, applied to the one place it was
    * missing — r17 verdict finding #1; Lucene's analog: a filter's doc
    * set is iterated per-segment, never materialized on one node). */
  private[graft] val PairBroadcastMaxConf = "graft.lex.pairBroadcastMax"
  private def pairBroadcastMax(spark: SparkSession): Int =
    spark.conf.get(PairBroadcastMaxConf, "1000000").toInt

  /** Count-gate a PINNED pair frame against [[PairBroadcastMaxConf]]:
    * broadcast iff within budget, else hand it back plain (the
    * consuming join then shuffles on its keys). The input must be
    * pinned: the count and the join must observe the same rows, and on
    * a pinned frame the count is a cached-block scan, not a recompute
    * of the probe chain that produced it. */
  private[operators] def gatedPairs(pinned: DataFrame): DataFrame = {
    val max = pairBroadcastMax(pinned.sparkSession)
    if (max > 0 && pinned.limit(max + 1).count() <= max) broadcast(pinned)
    else pinned
  }

  /** Anchor-docs budget for the positional probes' doc_id pushdown
    * (session-conf override; 0 disables the pushdown, tests force the
    * unanchored scan with it). Past the budget the probe reads the
    * clause terms' full posting lists exactly as before — lossless,
    * the anchor only removes reads. */
  private[graft] val AnchorDocsMaxConf = "graft.lex.anchorDocsMax"
  private def anchorDocsMax(spark: SparkSession): Int =
    spark.conf.get(AnchorDocsMaxConf, "10000").toInt

  /** Diagnostics from the last positional probe's anchor pushdown on
    * this JVM: (anchor terms, doc ids pushed) — None when the pushdown
    * did not run (below the floor, budget trip, conf off).
    * Observability for specs/ladders; the bytes win is measured in
    * SCALE.md (round-18 anchor doc pushdown bytes A/B). */
  @volatile private[graft] var lastAnchorStats: Option[(Int, Int)] = None

  /** ANCHOR doc-set pushdown for the positional probes (the r17 ask:
    * [[probePhrase]]/[[probeProximity]]/[[probeProximityN]] read the
    * FULL posting rows of every clause term — a phrase containing one
    * common term still scans that term's whole list at 100 TB, even
    * though matches can only live in the RAREST term's docs).
    *
    * `clauseSets` rows are (group, clause, tok): a doc can match group
    * g only if, for EVERY clause of g, it contains at least one of
    * that clause's toks — the conjunctive shape shared by all three
    * positional probes (phrase: one term per offset; proximity: the
    * tok_a side and the tok_b side; proximity-n: one term per clause
    * offset). Choosing ONE clause per group — the smallest by the
    * dictionary's exact df, Lucene's lead-with-the-rarest-iterator
    * rule — over-approximates the group's match docs: every match
    * contains some anchor-clause token. The union over groups of the
    * anchor clauses' doc sets (read from the postings themselves, ≤
    * the anchors' summed df rows — the df budget check happens before
    * the read) therefore contains every possible match doc, and is
    * pushed as `In(doc_id)` into the (tok, doc_id)-sorted postings —
    * the bounded probe's completion mechanism: within each common
    * term's sorted run, parquet min/max on doc_id skips row groups
    * holding no anchor doc.
    *
    * Lossless by construction: the doc set comes from the postings
    * (ground truth), the dictionary df is only the anchor-CHOICE
    * heuristic (a stale df could at worst pick a bigger anchor and
    * trip the budget — never drop a match). A clause whose toks are
    * all dictionary-absent makes its group unmatchable (the exact-df
    * maintenance invariant the bounded probe's cap parity already
    * rides): such groups contribute nothing. Returns None = no
    * pushdown (read everything, as before); Some(docs) = every
    * possible match doc is in `docs` (possibly empty: no group can
    * match at all). Tombstoned docs may appear in `docs` — a harmless
    * superset; exclusion stays where it always was. */
  private def anchorDocs(spark: SparkSession, name: String,
      asOf: Option[Long], pt: String,
      clauseSets: Seq[(String, String, String)]): Option[Seq[Long]] = {
    val max = anchorDocsMax(spark)
    if (max <= 0 || clauseSets.isEmpty) return None
    val toks = clauseSets.map(_._3).distinct
    val dfMap = vocabFrame(spark, name, asOf,
        Some(col("tok").isin(toks.map(x => x: Any): _*)))
      .select("tok", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val anchors = scala.collection.mutable.LinkedHashSet[String]()
    clauseSets.groupBy(_._1).foreach { case (_, rows) =>
      val clauses = rows.groupBy(_._2)
        .map { case (c, rs) => c -> rs.map(_._3).distinct }
      val sized = clauses.map { case (c, ts) =>
        (ts.map(t => dfMap.getOrElse(t, 0L)).sum, c, ts) }
      // an empty clause (all toks dictionary-absent) = unmatchable
      // group: no anchor needed, the group contributes no match docs
      if (!sized.exists(_._1 == 0L))
        anchors ++= sized.minBy(s => (s._1, s._2))._3
    }
    if (anchors.isEmpty) { lastAnchorStats = Some((0, 0)); return Some(Nil) }
    if (anchors.toSeq.map(t => dfMap.getOrElse(t, 0L)).sum > max)
      return None
    val docs = spark.table(pt)
      .filter(col("tok").isin(anchors.toSeq.map(x => x: Any): _*))
      .select("doc_id").distinct()
      .limit(max + 1).collect().map(_.getLong(0)).toSeq
    if (docs.length > max) return None
    lastAnchorStats = Some((anchors.size, docs.length))
    Some(docs)
  }

  /** The shared pushdown tail of the three positional probes: bound
    * the postings scan by the clause terms (`tok IN`, as before) AND
    * by the [[anchorDocs]] doc set when it applies. */
  private def anchoredScan(spark: SparkSession, name: String,
      asOf: Option[Long], pt: String, postings0: DataFrame,
      clauseSets: Seq[(String, String, String)]): DataFrame = {
    val toks = clauseSets.map(_._3).distinct
    val base = postings0.filter(col("tok").isin(toks.map(x => x: Any): _*))
    anchorDocs(spark, name, asOf, pt, clauseSets) match {
      case None => base
      case Some(ds) if ds.isEmpty => base.filter(lit(false))
      case Some(ds) =>
        base.filter(col("doc_id").isin(ds.map(x => x: Any): _*))
    }
  }

  /** Session-conf override for the impact-stamp block size (postings
    * rows per stamped block, per term). 65536 keeps the member
    * vocab-plus-sized at corpus scale while giving a multi-million-row
    * posting list dozens of skippable ranges; tests/ladders set it
    * small so fixture-sized lists still have blocks to skip. */
  private[graft] val ImpactBlockRowsConf = "graft.lex.impactBlockRows"
  private def impactBlockRows(spark: SparkSession): Int =
    spark.conf.get(ImpactBlockRowsConf, "65536").toInt

  /** Collected-stamp budget for the bounded probe (stamp rows for the
    * query's surviving terms); past it block pruning is skipped — the
    * probe stays lossless, just without range pushdowns. */
  private val ImpactsMax = 100000

  /** Per-TERM collected-stamp budget (session-conf override; tests and
    * ladders set it small). A term whose list outgrows the budget used
    * to trip the GLOBAL cap and silently disable ALL block skipping —
    * exactly on the hot terms where skipping pays most (r17 ask #2).
    * Now such a term keeps its top-B stamps BY BLOCK UPPER BOUND
    * individually and collapses the rest into one virtual rest-stamp
    * (doc-range hull, summed rows, max UB over the dropped blocks):
    * every dropped block's rows remain dominated by the virtual stamp
    * (its range contains theirs, its UB is ≥ theirs), so the skipping
    * losslessness argument transfers verbatim — and a hot term's long
    * low-impact tail skips as a single range decision. */
  private[graft] val ImpactsPerTermMaxConf = "graft.lex.impactsPerTermMax"
  private def impactsPerTermMax(spark: SparkSession): Int =
    spark.conf.get(ImpactsPerTermMaxConf, "8192").toInt

  /** Pushed doc_id-range budget (seed + essential scans each); past it
    * the respective scan reads its full posting lists. */
  private val RangesMax = 4096

  /** Test-only crash injection for the append's member-write window
    * (the [[Generations.failpoint]] pattern). The append's four member
    * writes run OVERLAPPED (see [[appendToLexIndex]]), so a crash can
    * leave ANY SUBSET of {postings, doclen, vocab, impacts} landed.
    * `land-only:<m>[,<m>...]` names the landed set and the append dies
    * right after landing exactly it — halting the JVM (exit 137) when
    * [[Generations.failpointHalt]] is set, as a real crashed appender
    * would, else throwing. Specs replay the batch from each wreckage
    * and assert convergence. */
  @volatile private[graft] var appendFailpoint: Option[String] = None

  /** The landed set the failpoint names (None = no failpoint). */
  private def failpointLandSet(): Option[Set[String]] =
    appendFailpoint.map {
      case s if s.startsWith("land-only:") =>
        s.stripPrefix("land-only:").split(",").map(_.trim)
          .filter(_.nonEmpty).toSet
      case other => sys.error(s"unknown append failpoint: $other")
    }

  private def crashNow(landed: Set[String]): Nothing = {
    if (Generations.failpointHalt) Runtime.getRuntime.halt(137)
    throw new IllegalStateException(
      s"injected crash: landed only {${landed.toSeq.sorted.mkString(",")}}")
  }

  /** Session-conf override for the index-size floor (bytes) below
    * which [[probeLexIndex]] skips the bounded key pushdown; tests set
    * 0 to force the pushdown branch on fixture-sized indexes. */
  private[graft] val PushdownMinBytesConf = "graft.lex.pushdownMinBytes"
  private def pushdownMinBytes(spark: SparkSession): Long =
    spark.conf.get(PushdownMinBytesConf, (64L << 20).toString).toLong
  private def scanBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  private def parse(spark: SparkSession, t: String) =
    spark.sessionState.sqlParser.parseTableIdentifier(t)

  private def member(spark: SparkSession, name: String, m: String,
      asOf: Option[Long] = None): String =
    asOf.fold(Generations.resolve(spark, name, m))(g =>
      Generations.resolveAsOf(spark, name, m, g))

  private def requireTokenizer(spark: SparkSession,
      tables: Seq[String]): Unit =
    tables.foreach { t =>
      val stored = spark.sessionState.catalog.getTableMetadata(parse(spark, t))
        .properties.getOrElse(TokenizerProp,
          sys.error(s"$t has no $TokenizerProp property — not a graft " +
            "lexical index (or built before stamping); rebuild it with " +
            "writeLexIndex"))
      require(stored == TokenizerId,
        s"index table $t was built with tokenizer '$stored' but this " +
          s"engine speaks '$TokenizerId': term universes would be " +
          "incomparable (probes silently under-retrieve). Rebuild the " +
          "index.")
    }

  /** (doc_id, tok, tf, positions) + (doc_id, len) for a doc frame —
    * the shared tokenize-aggregate of build and append. Docs with zero
    * tokens contribute no rows (and therefore never count toward
    * n_docs / total_tokens — matching the one-shot's countDistinct
    * over the exploded token table).
    *
    * `positions` (0-based, sorted, distinct by construction) makes the
    * postings POSITIONAL: the scoring probe never reads the column
    * (parquet column pruning — LexIndexSpec pins the ReadSchema), so
    * BM25 serving pays nothing for it, while [[probePhrase]] gets
    * exact phrase retrieval from the same maintained artifact.
    *
    * WRITE-SIDE COST, measured (sf0.1 × M=10,
    * quiet box, SCALE.md round-15 table): positions are 1.43× on
    * postings bytes, 1.74× on the isolated tokenize→write core at
    * build scale (≈8% of the full writeLexIndex wall — the other
    * members and the swap dominate), 1.23× on the compact rewrite
    * core, and noise-level at append-batch scale. DECISION: keep
    * positions INLINE rather than split a fifth positions-only
    * member. A split would save ~30% of family bytes for BM25-only
    * deployments but adds a member to every swap/lease/compaction/
    * maintenance surface and forces either a second tokenize or a
    * probe-time join; at <2× on every measured axis the operational
    * surface costs more than the bytes. Revisit if a corpus with much
    * longer documents (positions bytes grow with total tokens, the
    * other columns with distinct terms) pushes the byte ratio past
    * ~2×. */
  /** The returned `len` frame derives from the PINNED `tf` (not the raw
    * lineage): callers pin both, and a `len` whose plan re-ran the
    * tokenize would pay the posexplode + groupBy pass twice per
    * build/append (measured: the second tokenize was ~40% of the
    * append's pin cost at bench scale, pure waste at every scale). */
  /** r19 (guide §2.4 "two operations keyed the same way share one
    * exchange"): the corpus is clustered by doc_id ONCE, before the
    * tokenize — HashPartitioning(doc_id) satisfies the (doc_id, tok)
    * aggregate's clustering (subset rule), the per-doc length rollup,
    * and the tf⋈len join downstream, and the pins CARRY the
    * partitioning ([[Frontier.pinPartitioned]]), so the whole
    * tokenize → tf → len → post chain pays exactly one exchange of raw
    * (doc_id, text) rows where the old lineage paid four (tf's
    * (doc_id, tok) exchange of token-level data, len's doc_id
    * exchange, and both sides of the join re-exchanged). Shuffled
    * bytes drop too: one doc's text crosses once as a single string
    * instead of once per token occurrence (positions ride every
    * occurrence, so the old partial aggregation compressed almost
    * nothing). Evidence: plans/r19/lex_write_*.
    *
    * Clustered at `numBuckets` — the family's own layout count, which
    * production sizes to the corpus — rather than shuffle.partitions:
    * it is what the doclen member write needs (that write then plans
    * with zero Exchange and lands one file per bucket), and at fixture
    * scale it keeps the pins from paying a core-count of task launches
    * per stage (measured: fixed-32 pins offset the exchange savings at
    * sf0.1; position-balanced A/B rounds 5-8). */
  private def termFrames(docs: DataFrame,
      numBuckets: Int): (DataFrame, DataFrame) = {
    val tok = docs.repartition(numBuckets, col("doc_id"))
      .select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))
    val tf0 = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"),
      sort_array(collect_list(col("pos"))).as("positions"))
    val tf = Frontier.pinPartitioned(tf0)
    val len = Frontier.pinPartitioned(
      tf.groupBy("doc_id").agg(sum(col("tf")).as("len")))
    (tf, len)
  }

  /** The shared build/append shaping of the postings frame: pinned
    * already CLUSTERED AND SORTED in the postings member's layout.
    * The postings write, the dictionary aggregation ([[dictRows]]) and
    * the block-stamp window ([[impactRows]]) are all keyed on tok, so
    * this one pinned exchange serves all three — their jobs plan with
    * zero Exchange and the stamp window with zero Sort
    * (plans/r19/lex_write_*; the tf⋈len join itself is exchange-free
    * because both pins carry the doc_id clustering). */
  private def postFrame(tf: DataFrame, len: DataFrame,
      numBuckets: Int): DataFrame =
    Frontier.pinPartitioned(tf.join(len, "doc_id")
      .select(col("tok"), col("doc_id"), col("tf"), col("len"),
        col("positions"))
      .repartition(numBuckets, col("tok"))
      .sortWithinPartitions("tok", "doc_id"))

  /** Term-dictionary rows over a (tok, doc_id, tf, len, …) postings
    * frame: exact df plus the per-term impact-bound stamps (max tf,
    * min doc length — the tf-saturation component of a BM25 weight is
    * monotone UP in tf and DOWN in len, so evaluating it at
    * (max_tf, min_len) upper-bounds every row's). Shared by build,
    * append (the per-batch delta) and compaction (the exact rebuild). */
  private def dictRows(post: DataFrame): DataFrame =
    post.groupBy("tok").agg(count(lit(1)).as("df"),
      max(col("tf")).as("max_tf"), min(col("len")).as("min_len"))

  /** Per-BLOCK impact stamps over a (tok, doc_id, tf, len, …) postings
    * frame: each term's rows in doc_id order, cut into blocks of
    * `blockRows`, one row per (tok, blk) carrying the block's doc_id
    * range and its (max_tf, min_len) impact bound — [[dictRows]] one
    * level down. Shared by build, append (the per-batch delta — every
    * landed row is stamped by the mutation that landed it) and
    * compaction (the exact rebuild). The window is partitioned on tok
    * (the member's own bucketing), never unpartitioned. */
  private def impactRows(post: DataFrame, blockRows: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("tok").orderBy("doc_id")
    post.select(col("tok"), col("doc_id"), col("tf"), col("len"))
      .withColumn("blk",
        ((row_number().over(w) - 1) / blockRows).cast("int"))
      .groupBy("tok", "blk")
      .agg(min(col("doc_id")).as("doc_lo"), max(col("doc_id")).as("doc_hi"),
        count(lit(1)).as("n_rows"), max(col("tf")).as("max_tf"),
        min(col("len")).as("min_len"))
  }

  /** Build (or rebuild from scratch) the index over `docs` — one
    * crash-atomic generation swap; readers of any existing generation
    * are undisturbed until the single pointer flip. Tombstones against
    * the replaced generation are cleared: a rebuild defines the
    * contents from scratch. */
  def writeLexIndex(docs: DataFrame, name: String, numBuckets: Int = 8,
      gcKeep: Int = 1): Unit = {
    val spark = docs.sparkSession
    // stale, not applied: the rebuild redefines contents from `docs`
    // (previously tombstoned ids may be present again) — Tombstones
    // .rebuild clears the captured set without claiming an erasure
    Tombstones.rebuild(spark, name, Members, "doc_id", gcKeep) { lease =>
      val epoch = s"g${lease.gen}"
      val (tf, len) = termFrames(docs, numBuckets) // both pinned
      // pinned clustered+sorted on (tok, doc_id) — one exchange feeds
      // the postings write, the dictionary agg and the stamp window
      val post = postFrame(tf, len, numBuckets)
      val pt = Generations.physical(name, "postings", lease.gen)
      val lt = Generations.physical(name, "doclen", lease.gen)
      val dt = Generations.physical(name, "dfcap", lease.gen)
      val st = Generations.physical(name, "stats", lease.gen)
      val vt = Generations.physical(name, "vocab", lease.gen)
      // The six member writes consume only the two pinned frames (post,
      // len) and target disjoint physical tables inside one atomic
      // swap — independent jobs, overlapped per guide §2.6 (Par doc).
      val it = Generations.physical(name, "impacts", lease.gen)
      Par.run(spark, Seq(
        // postings sorted by (tok, doc_id): the secondary sort costs
        // nothing at write time and gives the bounded MaxScore probe's
        // candidate-completion scan real row-group pruning for its
        // pushed In(doc_id) — within each term's run, parquet min/max on
        // doc_id skips row groups holding no candidate. The pinned post
        // already carries the (tok, numBuckets) clustering (postFrame),
        // so this and the dfcap/impacts writes below plan with zero
        // Exchange — one file per bucket falls out of the carried
        // partitioning exactly as it did from the old per-write
        // repartitions, and AQE cannot coalesce an RDD scan into a
        // serial writer (the trap the repartitions guarded; SCALE.md's
        // round-11 shard-write profile)
        () => post.write.format("parquet")
          .bucketBy(numBuckets, "tok").sortBy("tok", "doc_id").saveAsTable(pt),
        // len already carries the (doc_id, numBuckets) clustering from
        // termFrames — the write plans with zero Exchange too
        () => len.select(col("doc_id"), col("len"), lit(epoch).as("batch_id"))
          .write.format("parquet")
          .bucketBy(numBuckets, "doc_id").sortBy("doc_id").saveAsTable(lt),
        () => dictRows(post)
          .write.format("parquet")
          .bucketBy(numBuckets, "tok").sortBy("tok").saveAsTable(dt),
        // the dictionary delta member starts EMPTY — dfcap IS the exact
        // dictionary at build time; appends land their deltas here
        () => dictRows(post.limit(0)).withColumn("batch_id", lit(""))
          .coalesce(1).write.format("parquet")
          .bucketBy(numBuckets, "tok").sortBy("tok").saveAsTable(vt),
        // the block stamps cover every postings row from birth (the
        // bounded probe's skipping argument needs every row dominated by
        // a stamp written in the mutation that landed it); the window
        // consumes the pinned clustering AND ordering — zero Exchange,
        // zero Sort
        () => impactRows(post, impactBlockRows(spark))
          .withColumn("batch_id", lit(epoch))
          .write.format("parquet")
          .bucketBy(numBuckets, "tok").sortBy("tok").saveAsTable(it),
        () => len.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("total_tokens"))
          .select(lit(epoch).as("batch_id"), col("n_docs"),
            coalesce(col("total_tokens"), lit(0L)).as("total_tokens"))
          .coalesce(1)
          .write.format("parquet").saveAsTable(st)))
      Seq(pt, lt, dt, st, vt, it).foreach { t =>
        spark.sql(
          s"ALTER TABLE $t SET TBLPROPERTIES ('$TokenizerProp' = '$TokenizerId')")
      }
      Map.empty
    }
  }

  /** Append `batch` (doc_id, text) to the CURRENT generation in place,
    * under the family's writer lease (fencing the lost-update race
    * with a concurrent compaction — the near-dup append's contract).
    * `batchId` keys the stats delta's exactly-once fence; pass the
    * micro-batch id from streaming. `ifAbsent = true` buys replay
    * convergence (see object doc) at the price of per-doc anti-joins
    * against the index; the plain path is one tokenize of the batch +
    * four batch-sized bucketed member appends (overlapped — see the
    * in-body subset-state argument) — the corpus is never rewritten.
    *
    * `dfcap` is deliberately NOT maintained here: it is a safe
    * stop-word prune precisely because it is a lower bound of the
    * exact df between compactions (see object doc), and the next
    * compaction rebuilds it exactly. */
  def appendToLexIndex(batch: DataFrame, name: String, batchId: String,
      ifAbsent: Boolean = false): Unit = {
    val spark = batch.sparkSession
    Generations.leased(spark, name, Members) {
      val (pt, lt, st) = (member(spark, name, "postings"),
        member(spark, name, "doclen"), member(spark, name, "stats"))
      val (vt, it) =
        (member(spark, name, "vocab"), member(spark, name, "impacts"))
      requireTokenizer(spark, Seq(pt, lt, st, vt))
      // ONE fence-probe job instead of three (r19, guide §1.2): which
      // fenced members already carry this batch id — stats (the
      // `applied` flip), vocab, impacts. Each leg's batch_id predicate
      // pushes into its scan (a member file carries a single batch_id
      // value, so parquet min/max prunes other batches' files); the
      // union costs one job where the three isEmpty probes cost three.
      val landedMembers: Set[String] =
        if (!ifAbsent) Set.empty
        else {
          def leg(t: String, m: String) = spark.table(t)
            .filter(col("batch_id") === batchId).select(lit(m).as("m"))
          leg(st, "stats").unionByName(leg(vt, "vocab"))
            .unionByName(leg(it, "impacts"))
            .distinct().collect().map(_.getString(0)).toSet
        }
      val applied = landedMembers("stats")
      if (!applied) {
        // admitted = this batch's docs the index does not already own:
        // absent from doclen, or present UNDER THIS BATCH ID (a crashed
        // attempt's partial landing — ours to finish). Deterministic
        // across replays, which makes the stats delta deterministic.
        // The [[Tombstones.barReplayed]] bar closes the resurrection
        // window (r13 advice): a replay landing AFTER an erasure
        // compaction finds neither the stats fence (consolidated) nor
        // the purged docs in doclen and would otherwise classify them
        // as admitted, re-inserting rows whose takedown was already
        // physical — barred by the pending set (purge not yet run) or
        // the durable erased registry (purge and clearApplied ran).
        // Every ifAbsent fence below scopes its corpus-sized member
        // scan through a broadcast semi-join on the BATCH's own ids
        // FIRST (r19, guide §3.2 / the KnnGraphIndex.fenced
        // discipline): the member table is scanned in place — one
        // narrow column-pruned pass behind a broadcast filter — and
        // the ownership/anti joins then run batch-sized vs batch-sized
        // instead of shuffling the whole member by doc_id (postings is
        // bucketed on tok, so its old distinct-all-doc_ids fence was a
        // full corpus shuffle per append at scale).
        val admitted =
          if (!ifAbsent) batch
          else {
            val batchIds = broadcast(batch.select(col("doc_id")).distinct())
            val owners = spark.table(lt)
              .join(batchIds, Seq("doc_id"), "left_semi")
              .select(col("doc_id"), col("batch_id").as("owner"))
            Tombstones.barReplayed(batch.join(owners,
                Seq("doc_id"), "left_outer")
              .filter(col("owner").isNull || col("owner") === batchId)
              .select(batch.columns.map(col): _*), name, "doc_id")
          }
        val nbP = Generations.bucketSpecOf(spark, pt).numBuckets
        val (tf, len) = termFrames(admitted, nbP) // both pinned
        // pinned clustered+sorted on (tok, doc_id) like the build: the
        // postings/vocab/impacts writes below consume the one exchange
        // (dictRows/impactRows plan with zero Exchange, the window with
        // zero Sort), and the bucketed postings append lands exactly
        // one file per bucket instead of one per upstream task
        val post = postFrame(tf, len, nbP)
        // batch-sized and distinct by construction (one row per doc)
        val batchDocs = broadcast(len.select(col("doc_id")))
        val postToAdd =
          if (ifAbsent) post.join(
            spark.table(pt).select("doc_id")
              .join(batchDocs, Seq("doc_id"), "left_semi").distinct(),
            Seq("doc_id"), "left_anti")
          else post
        val lenRows = len.select(col("doc_id"), col("len"),
          lit(batchId).as("batch_id"))
        val lenToAdd =
          if (ifAbsent) lenRows.join(
            spark.table(lt).select("doc_id")
              .join(batchDocs, Seq("doc_id"), "left_semi"),
            Seq("doc_id"), "left_anti")
          else lenRows
        // the dictionary delta, over the FULL admitted set (not
        // postToAdd: a crashed attempt's landed postings are admitted
        // rows whose df the delta must still count exactly once — the
        // stats-delta argument). Its own batch-id presence check fences
        // replays that died between this write and the stats fence;
        // with it, dfcap.df + Σ vocab.df equals the postings-scan df at
        // every quiesced point in the lifecycle (the exactness
        // invariant the vocabulary probes rely on).
        val vocabDone = landedMembers("vocab")
        // the block-stamp delta, over the same FULL admitted set (a
        // stamp over rows a crashed attempt never landed is a superset
        // stamp — dominating a subset is still dominating; a landed row
        // MISSING its stamp never makes a probe WRONG, only makes the
        // in-flight batch's docs not yet block-skippably retrievable —
        // which is why stamps ride the same batch-id fence as the
        // dictionary and the replay closes the gap).
        val impDone = landedMembers("impacts")
        // ---- the four member writes, OVERLAPPED (guide §2.6) ---------
        // Safe to run concurrently because replay convergence needs no
        // ORDER between them, only per-member idempotence — each write
        // carries its own dedup/fence: postings and doclen left-anti
        // their own table's doc_ids (ifAbsent), vocab and impacts ride
        // the batch-id presence check, and `admitted` (pinned above,
        // before any write) classifies by doclen OWNERSHIP, which any
        // subset state preserves. So from ANY landed subset the replay
        // lands exactly the missing members' deltas and the stats fence
        // (below, strictly LAST — it alone flips `applied`): the
        // prefix-window convergence proof generalizes to subset states
        // (LexIndexSpec's window loop + DurableLab's kill matrix now
        // drive non-prefix subsets too). Mid-crash visibility is the
        // same class as the old prefix windows: the in-flight batch is
        // partially retrievable until the replay, never wrong for docs
        // the index already owned — with one transient exception, the
        // dfcap drift: a crash that lands vocab but not postings leaves
        // vocab df OVERCOUNTING postings (the old prefix order could
        // only undercount), so probeLexIndexMaxScore's 90% cap decision
        // (df from vocab, n_docs from the not-yet-written stats fence)
        // can drop a near-cap term from scoring, existing docs
        // included, until the replay lands the batch. Block pruning
        // itself stays lossless: bound and score share the same df.
        val landSet = failpointLandSet()
        def gated(m: String, th: () => Unit): Option[() => Unit] =
          if (landSet.forall(_.contains(m))) Some(th) else None
        def append(df: DataFrame, t: String): () => Unit =
          () => Generations.appendBucketed(df, t)
        Par.run(spark, (Seq(
          gated("postings", append(postToAdd, pt)),
          gated("doclen", append(lenToAdd, lt))) ++
          (if (!vocabDone) Seq(gated("vocab", append(
            dictRows(post).withColumn("batch_id", lit(batchId)), vt)))
           else Nil) ++
          (if (!impDone) Seq(gated("impacts", append(
            impactRows(post, impactBlockRows(spark))
              .withColumn("batch_id", lit(batchId)), it)))
           else Nil)).flatten)
        landSet.foreach(crashNow)
        // the fence, written LAST: delta over the admitted set (docs a
        // crashed attempt already landed are IN the admitted set, so
        // the count is the same whichever attempt finishes)
        len.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("total_tokens"))
          .select(lit(batchId).as("batch_id"), col("n_docs"),
            coalesce(col("total_tokens"), lit(0L)).as("total_tokens"))
          .coalesce(1)
          .write.format("parquet").mode("append").saveAsTable(st)
        Seq(pt, lt, st, vt, it).foreach(spark.catalog.refreshTable)
      }
    }
  }

  /** DELETE (takedown / right-to-erasure) — the [[Tombstones.takedown]]
    * contract: tombstoned docs stop being retrievable at once, and are
    * purged at the next [[compactLexIndex]]. */
  def tombstoneLex(spark: SparkSession, name: String,
      ids: DataFrame): Unit =
    Tombstones.takedown(spark, name, Members, ids, "doc_id")

  /** COMPACTION: rewrite the family as the next generation — per-append
    * file accumulation collapses (forced bucketed scan → one task per
    * bucket → one file per bucket, no exchange unless resizing),
    * tombstoned docs' rows are physically dropped from postings and
    * doclen, and `dfcap`/`stats` are REBUILT exactly from the retained
    * rows (df from the compacted postings riding the (tok) bucketing
    * exchange-free; stats from the compacted doclen) — so the
    * compacted family is bit-identical to a fresh build over the
    * retained docs. doclen batch ids reset to the compaction epoch:
    * the stats table now carries one consolidated row, and a stale
    * batch replayed AFTER the compaction must classify those docs as
    * another epoch's (its re-run lands an empty delta, not a double
    * count).
    *
    * `numBuckets = Some(n)` resizes the layout inside the same swap
    * (one explicit hash exchange per resized member — the d14
    * grown-corpus path). */
  def compactLexIndex(spark: SparkSession, name: String, gcKeep: Int = 1,
      numBuckets: Option[Int] = None): Unit = {
    // tombstoned docs' rows are purged here (Tombstones.compaction)
    Tombstones.compaction(spark, name, Members, "doc_id", gcKeep) {
        (lease, applied) =>
      // members of both generations read bucket by bucket
      val cs = Generations.bucketedReads(spark)
      val epoch = s"g${lease.gen}"
      val tombs = applied.map(broadcast)
      def purged(t: String): DataFrame =
        tombs.fold(cs.table(t))(tt =>
          cs.table(t).join(tt, Seq("doc_id"), "left_anti"))
      def rewrite(m: String, bcol: String, df: DataFrame,
          sortCols: Seq[String]): Unit =
        Generations.rewriteBucketed(df, member(spark, name, m),
          Generations.physical(name, m, lease.gen), bcol, sortCols,
          numBuckets)
      val oldP = member(spark, name, "postings")
      requireTokenizer(spark, Seq(oldP))
      // Two waves of independent member writes (guide §2.6 / Par doc):
      // wave 1 rewrites the row-bearing members from the OLD
      // generation; wave 2 derives dictionary/stamps/stats by reading
      // the NEW postings/doclen back (compacted, bucketed — the df
      // recount rides the (tok) bucketing exchange-free), so it must
      // wait for wave 1.
      val pt = Generations.physical(name, "postings", lease.gen)
      val lt = Generations.physical(name, "doclen", lease.gen)
      val vt = Generations.physical(name, "vocab", lease.gen)
      // the family's bucket count after the rewrite (postings sets it)
      val nb = numBuckets.getOrElse(
        Generations.bucketSpecOf(spark, oldP).numBuckets)
      Par.run(spark, Seq(
        () => rewrite("postings", "tok", purged(oldP), Seq("tok", "doc_id")),
        () => rewrite("doclen", "doc_id",
          purged(member(spark, name, "doclen"))
            .select(col("doc_id"), col("len"), lit(epoch).as("batch_id")),
          Seq("doc_id")),
        // the delta member resets to empty (schema from the old
        // postings — identical to the compacted table's)
        () => dictRows(purged(oldP).limit(0)).withColumn("batch_id", lit(""))
          .coalesce(1).write.format("parquet")
          .bucketBy(nb, "tok").sortBy("tok").saveAsTable(vt)))
      // df/stats rebuilt EXACTLY from the rows that survived — the
      // moment logical deletions become statistical deletions. The
      // dictionary consolidates with them: dfcap gets the exact
      // post-purge (df, max_tf, min_len) per term.
      val dt = Generations.physical(name, "dfcap", lease.gen)
      // block stamps rebuilt exactly from the compacted postings
      val it = Generations.physical(name, "impacts", lease.gen)
      val st = Generations.physical(name, "stats", lease.gen)
      Par.run(spark, Seq(
        () => dictRows(cs.table(pt))
          .write.format("parquet")
          .bucketBy(nb, "tok").sortBy("tok").saveAsTable(dt),
        // no repartition (r19): wave 2 reads the NEW postings, whose
        // forced bucketed scan is already hash(tok) × nb — the stamp
        // window and (tok, blk) rollup consume that clustering and
        // the write lands one file per bucket, like the dfcap leg
        () => impactRows(cs.table(pt), impactBlockRows(spark))
          .withColumn("batch_id", lit(epoch))
          .write.format("parquet")
          .bucketBy(nb, "tok").sortBy("tok").saveAsTable(it),
        () => cs.table(lt)
          .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("total_tokens"))
          .select(lit(epoch).as("batch_id"), col("n_docs"),
            coalesce(col("total_tokens"), lit(0L)).as("total_tokens"))
          .coalesce(1)
          .write.format("parquet").saveAsTable(st)))
      Seq(pt, lt, dt, st, vt, it).foreach { t =>
        spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
          s"('$TokenizerProp' = '$TokenizerId')")
      }
      Map.empty[String, String]
    }
  }

  /** PROBE: lexical top-`kEach` per query against the maintained index
    * — output identical to [[HybridRetrieval.lexicalTopK]] over the
    * same logical corpus (the s31–s34 hash rows), cost bounded by the
    * query's surviving term posting lists (object doc). `queries` is
    * (qid, text); a query doc sharing an id with an index doc never
    * retrieves itself. `asOf = Some(g)` probes a retained past
    * generation (frozen at the flip that superseded it) — with the
    * house asymmetry that TOMBSTONE exclusion stays current: erasure
    * overrides history.
    *
    * `candPred`: serve-time CANDIDACY filter over the candidate
    * `doc_id` (tenancy scope, licensing shard, freshness class) on ONE
    * shared index — the metadata-filtered retrieval every production
    * serving layer needs. Applied with the tombstone exclusion, AFTER
    * the df recount: a filter narrows who may be RETRIEVED, never the
    * corpus statistics (df/n_docs/total_tokens stay corpus-level, so a
    * doc's score is filter-invariant — LexIndexSpec pins that), and
    * the probe's cost shape is unchanged: the filter prunes rows of
    * the already-bounded query-term posting lists.
    *
    * `candPairs`: PER-QUERY candidacy — (qid, doc_id) rows a doc must
    * appear under ITS query to be retrievable for it. This is the
    * quoted-phrase search shape ("rank by relevance among docs
    * containing MY phrase", s43): feed [[probePhrase]]'s matches in.
    * Applied as a size-GATED semi-join (broadcast within
    * [[PairBroadcastMaxConf]], shuffle semi past it — the pair frame
    * is data-dependent and must never force a driver
    * materialization) after the query join (the earliest point qid
    * exists), before aggregation — candidacy-only, statistics
    * untouched.
    *
    * `exclPairs`: PER-QUERY EXCLUSION — the boolean MUST_NOT leg
    * ("-term" / excluded doc sets, s46): (qid, doc_id) rows a doc must
    * NOT appear under its query to stay retrievable. The same
    * gated shape as `candPairs`, as an ANTI-join at the same
    * candidacy position — statistics stay corpus-level (the s39
    * argument), so a surviving doc's score is exclusion-invariant.
    * Single-term exclusions come from [[probePhrase]] on one-token
    * phrases (containment pairs); arbitrary doc sets compose the same
    * way. */
  def probeLexIndex(spark: SparkSession, name: String, queries: DataFrame,
      kEach: Int, asOf: Option[Long] = None,
      candPred: Option[org.apache.spark.sql.Column] = None,
      candPairs: Option[DataFrame] = None,
      exclPairs: Option[DataFrame] = None): DataFrame = {
    val scored = scoredRows(spark, name, queries, asOf, candPred,
      candPairs, exclPairs)
    val agg = scored.groupBy("qid", "doc_id")
      .agg((sum(col("w").cast(DecimalType(18, 9))) * 1000000000L)
        .cast("long").as("lex_scaled"))
    Similarity.topKPerQueryLong(
        agg.select(col("qid"), col("doc_id").as("vec_id"),
          col("lex_scaled").as("score")), kEach)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rank").as("lex_rank"), col("score").as("lex_scaled"))
  }

  /** Candidate-pair budget for [[probeLexIndexMaxScore]]'s completion
    * pushdown; past it the probe falls back to [[probeLexIndex]]. */
  private val CandidatesMaxDefault = 10000

  /** Session-conf override for the candidate-pair budget (s73 raises
    * it so the budgeted-stamp path stays engaged at bench scale — the
    * default trips on corpora whose essential lists cover most docs,
    * which is the deliberate lossless fallback in production). */
  private[graft] val CandidatesMaxConf = "graft.lex.candidatesMax"
  private def candidatesMax(spark: SparkSession): Int =
    spark.conf.get(CandidatesMaxConf, CandidatesMaxDefault.toString).toInt

  /** Diagnostics from the last [[probeLexIndexMaxScore]] call on this
    * JVM: (surviving terms, essential (qid, term) pairs, total (qid,
    * term) pairs, candidate pairs) — None when a fallback path ran.
    * Observability for specs/ladders (the pruning DECISION is what
    * they pin; the bytes win is measured at scale). */
  @volatile private[graft] var lastBoundedStats
    : Option[(Int, Int, Int, Int)] = None

  /** Block-skipping diagnostics from the last [[probeLexIndexMaxScore]]
    * call: (seed ranges pushed, essential stamps kept, essential
    * stamps total) — None when no stamps were used (budget trip, or
    * single-block terms). The DECISION observability twin of
    * [[lastBoundedStats]]; the bytes win is measured in SCALE.md
    * (round-17 block-max candidacy bytes A/B). */
  @volatile private[graft] var lastBlockStats
    : Option[(Int, Int, Int)] = None

  /** BOUNDED scoring — batch MaxScore with per-block impact skipping
    * (Turtle/Flood 1995; Ding/Suel 2011's block-max refinement — the
    * Lucene serving optimizations the r15/r16 verdicts asked for):
    * [[probeLexIndex]] reads the FULL posting list of every surviving
    * term, and a common term just under the df cap is still a huge
    * list at 100 TB. This probe reads, provably losslessly:
    *
    *  1. the SEED list — each query's highest-upper-bound term (the
    *     rarest, hence shortest, list): its k-th best single-term
    *     score is a valid LOWER bound θ on the final k-th score
    *     (every doc's final score ≥ any of its term scores — weights
    *     are non-negative). When the family carries block stamps
    *     (`impacts` member), only the seed's TOP-IMPACT blocks are
    *     read, enough to cover [[seedFloor]] rows: the k-th best
    *     single-term score over ANY SUBSET of the list is still a
    *     valid lower bound (top-k over a superset dominates), so
    *     subsetting can only shrink θ — lossless, never wrong;
    *  2. the ESSENTIAL lists — terms outside the maximal low-bound
    *     suffix whose upper bounds sum below θ. A doc containing ONLY
    *     non-essential terms scores ≤ that sum < θ ≤ the final k-th
    *     score, so it can never enter the top k (strictly below, so
    *     no tiebreak can admit it) — candidates come from essential
    *     lists only, and the long low-impact lists are never read for
    *     candidacy. WITH block stamps, essential lists additionally
    *     skip whole blocks: block b of essential term t is read only
    *     if blockUB(t, b) + Σ_{t′≠t} ub(t′) ≥ θ_q for SOME query q
    *     having t essential (the per-tok union of kept doc_id ranges
    *     is pushed into the (tok, doc_id)-sorted runs). Lossless:
    *     every postings row is covered by the stamp written by the
    *     mutation that landed it, so a doc read from NO kept range
    *     has, for each of its essential terms t, w_t(d) ≤ its own
    *     block's UB < θ_q − Σ_{t′≠t} ub(t′) — its total score is
    *     strictly below θ_q and it can never enter the top k;
    *  3. the COMPLETION rows — every surviving term's rows for the
    *     candidate docs only, with the candidate ids pushed as
    *     `In(doc_id)` into the (tok, doc_id)-sorted postings (parquet
    *     min/max on doc_id inside each term's run skips row groups
    *     holding no candidate — the measured bytes-read win).
    *
    * Upper bounds come from the maintained dictionary's impact stamps
    * (dfcap ∪ deltas: exact df, max_tf, min_len — [[vocabFrame]]) and
    * the per-block `impacts` stamps, BOTH evaluated through the SAME
    * termWeightSql text BY Spark (so every bound is the engine's own
    * arithmetic, not a reimplementation), padded by +2 on the ×10⁹
    * scale for the DECIMAL rounding. The df cap applies with the
    * dictionary's exact df — the identical decision
    * [[probeLexIndex]]'s recount makes — and the completion rows
    * score with the same df/stats/weight text, so the output is
    * BIT-IDENTICAL to probeLexIndex's (the s65 hash row shares s31's
    * oracle family; LexIndexSpec pins equality on a skew fixture).
    * Falls back to [[probeLexIndex]] whenever a budget trips (term
    * set, candidate set, index below the pushdown floor) — lossless
    * either way.
    *
    * Candidacy legs (`candPred` — a DOC-level predicate over the
    * candidate `doc_id` — `candPairs`, `exclPairs`) compose exactly as
    * in [[probeLexIndex]]: all three are applied to the θ-seeding pass
    * as well (θ must lower-bound the k-th CONSTRAINED score — a floor
    * from an ineligible doc could prune eligible ones), to candidacy,
    * and transitively to completion; statistics stay corpus-level, so
    * every surviving score is bit-identical to its unconstrained value
    * (the s39/s43/s46 argument — BooleanQuerySpec pins equality under
    * every clause combination). */
  def probeLexIndexMaxScore(spark: SparkSession, name: String,
      queries: DataFrame, kEach: Int,
      asOf: Option[Long] = None,
      candPred: Option[org.apache.spark.sql.Column] = None,
      candPairs: Option[DataFrame] = None,
      exclPairs: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    lastBoundedStats = None
    lastBlockStats = None
    def fullProbe() = probeLexIndex(spark, name, queries, kEach, asOf,
      candPred, candPairs, exclPairs)
    val pt = member(spark, name, "postings", asOf)
    val st = member(spark, name, "stats", asOf)
    requireTokenizer(spark, Seq(pt, st))
    val postings0 = spark.table(pt)
    if (scanBytes(postings0) <= pushdownMinBytes(spark))
      return fullProbe()
    val qt = Frontier.pin(queries.select(
        col(queries.columns.head).cast("long").as("qid"),
        explode(TextFunctions.tokens(col(queries.columns(1)))).as("tok"))
      .distinct())
    val qPairs = qt.limit(ProbePushdownMax + 1).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    if (qPairs.length > ProbePushdownMax)
      return fullProbe()
    val nRow = spark.table(st)
      .agg(sum(col("n_docs")), sum(col("total_tokens"))).head()
    val (nDocs, totTok) = (nRow.getLong(0), nRow.getLong(1))
    val allToks = qPairs.map(_._2).distinct.toSeq
    // the dictionary's exact df + impact stamps for the query terms
    val vstats = vocabFrame(spark, name, asOf,
        Some(col("tok").isin(allToks.map(x => x: Any): _*)))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // the df cap with EXACT df — the same decision the full probe's
    // recount makes (capped lists are never read at all, as there)
    val surviving = allToks
      .filter(t => vstats.get(t).exists(_._1 * 10 <= nDocs * 9))
    def emptyResult = spark.range(0).select(col("id").as("qid"),
      col("id").as("doc_id"), col("id").cast("int").as("lex_rank"),
      col("id").as("lex_scaled"))
    if (surviving.isEmpty) return emptyResult
    // per-term upper bound, evaluated by the ENGINE's own weight text
    // at (max_tf, min_len) with the exact df — monotone up in tf, down
    // in len, so this dominates every row's weight (up to float ulps,
    // absorbed by the +2 pad on the scaled-long domain)
    val ub: Map[String, Long] = surviving
      .map(t => { val (df, mtf, mln) = vstats(t)
        (t, mtf, mln, df, nDocs, totTok) })
      .toDF("tok", "tf", "len", "df", "n_docs", "total_tokens")
      .withColumn("w", expr(HybridRetrieval.termWeightSql))
      .select("tok", "w").collect()
      .map(r => r.getString(0) ->
        (math.ceil(r.getDouble(1) * 1e9).toLong + 2L)).toMap
    val byQid = qPairs.filter(p => ub.contains(p._2))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSeq }
    if (byQid.isEmpty) return emptyResult
    val tomb = Tombstones.get(spark, name)
      .map(t => broadcast(t.select(col("doc_id")).distinct()))
    // the candidacy legs, normalized and PINNED once: θ-seeding,
    // candidacy and completion all gate on them, and a
    // nondeterministic pair frame re-evaluated between passes could
    // otherwise make θ a floor over a different eligible set
    val cpPin = candPairs.map(p => Frontier.pin(
      p.select(col(p.columns.head).cast("long").as("qid"),
        col(p.columns(1)).cast("long").as("doc_id")).distinct()))
    val epPin = exclPairs.map(p => Frontier.pin(
      p.select(col(p.columns.head).cast("long").as("qid"),
        col(p.columns(1)).cast("long").as("doc_id")).distinct()))
    // doc-level candidacy on raw postings rows (pre-qid): tombstones +
    // the metadata filter — the same pre-shortlist position as the
    // full probe's
    def candExcl(df: DataFrame) = {
      val a = tomb.fold(df)(tt => df.join(tt, Seq("doc_id"), "left_anti"))
      candPred.fold(a)(a.filter)
    }
    val dfFrame = broadcast(
      surviving.map(t => (t, vstats(t)._1)).toDF("tok", "df"))
    // per-(query, doc, term) scaled weight — summing these longs is
    // exactly the probe's (sum(DECIMAL) × 10⁹) (the explainHits
    // identity), so totals are bit-identical. Pair-level candidacy
    // applies right after the qid join — the earliest point qid exists.
    // The broadcast decision is size-GATED, made once per leg (the
    // pinned frame keeps all three gate sites on the same rows), and
    // past the budget the semi/anti join shuffles instead — same
    // candidacy position, row-identical, no driver materialization.
    val cpGated = cpPin.map(gatedPairs)
    val epGated = epPin.map(gatedPairs)
    def pairGate(df: DataFrame) = {
      val a = cpGated.fold(df)(p =>
        df.join(p, Seq("qid", "doc_id"), "left_semi"))
      epGated.fold(a)(p =>
        a.join(p, Seq("qid", "doc_id"), "left_anti"))
    }
    def scoredOf(rows: DataFrame, pairs: DataFrame) =
      pairGate(rows
        .join(broadcast(pairs), "tok")
        .filter(col("doc_id") =!= col("qid")))
      .join(dfFrame, "tok")
      .withColumn("n_docs", lit(nDocs))
      .withColumn("total_tokens", lit(totTok))
      .withColumn("ws", (expr(HybridRetrieval.termWeightSql)
        .cast(DecimalType(18, 9)) * 1000000000L).cast("long"))
    // ---- block stamps: per-(tok, block) (doc range, rows, UB) --------
    // collected bounded — globally by ImpactsMax AND per term by
    // [[ImpactsPerTermMaxConf]] (see its doc): an over-budget term
    // keeps its top-B stamps by block UB individually plus ONE virtual
    // rest-stamp dominating every dropped block, so hot terms still
    // skip. The UBs ride the SAME engine termWeightSql text as `ub`,
    // evaluated inside the member scan itself (the dictionary's exact
    // df joined in). Empty map = no skipping (global budget trip) —
    // the probe is lossless either way, stamps only remove reads.
    val stamps: Map[String, Seq[(Long, Long, Long, Long)]] = {
      val it = member(spark, name, "impacts", asOf)
      val perTerm = impactsPerTermMax(spark)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("tok")
        .orderBy(col("w").desc, col("blk"), col("doc_lo"))
      // pinned: the top-B collect and the rest aggregate must see
      // ONE evaluation of the ranked frame
      val ranked = Frontier.pin(spark.table(it)
        .filter(col("tok").isin(surviving.map(x => x: Any): _*))
        .join(dfFrame, "tok")
        .withColumn("tf", col("max_tf"))
        .withColumn("len", col("min_len"))
        .withColumn("n_docs", lit(nDocs))
        .withColumn("total_tokens", lit(totTok))
        .withColumn("w", expr(HybridRetrieval.termWeightSql))
        .select(col("tok"), col("blk"), col("doc_lo"), col("doc_hi"),
          col("n_rows"), col("w"))
        .withColumn("rnk", row_number().over(win)))
      def scaled(w: Double) = math.ceil(w * 1e9).toLong + 2L
      val top = ranked.filter(col("rnk") <= perTerm)
        .select(col("tok"), col("doc_lo"), col("doc_hi"),
          col("n_rows"), col("w"))
        .limit(ImpactsMax + 1).collect()
        .map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3),
            scaled(r.getDouble(4)))))
      if (top.length > ImpactsMax || top.isEmpty) Map.empty
      else {
        // the virtual rest-stamp per over-budget term: hull of the
        // dropped blocks' doc ranges, their summed rows (seed
        // coverage accounting), and the MAX of their UBs — each
        // dropped block is dominated, so skipping it through the
        // virtual stamp is exactly as lossless as through its own
        val rest = ranked.filter(col("rnk") > perTerm)
          .groupBy("tok").agg(min(col("doc_lo")).as("lo"),
            max(col("doc_hi")).as("hi"), sum(col("n_rows")).as("n"),
            max(col("w")).as("mw"))
          .collect()
          .map(r => (r.getString(0),
            (r.getLong(1), r.getLong(2), r.getLong(3),
              scaled(r.getDouble(4)))))
        (top.toSeq ++ rest.toSeq)
          .groupBy(_._1).map { case (t, bs) => t -> bs.map(_._2) }
      }
    }
    def rangePred(t: String, rs: Seq[(Long, Long)]) =
      col("tok") === t &&
        rs.map { case (lo, hi) => col("doc_id").between(lo, hi) }
          .reduce(_ || _)
    // ---- pass 1: θ from each query's seed (highest-ub) term ---------
    val seedPairs = byQid.toSeq
      .map { case (q, ts) => (q, ts.maxBy(t => (ub(t), t))) }
    val seedToks = seedPairs.map(_._2).distinct
    // block-subset the seed reads: per seed term, the top-blockUB
    // stamped ranges covering at least seedFloor rows (θ over a
    // subset is still a valid lower bound — see the scaladoc). A term
    // whose selection would cover the whole list reads it plainly.
    val seedFloor = math.max(kEach * 4, 256).toLong
    val seedSel: Map[String, Seq[(Long, Long)]] = seedToks.flatMap { t =>
      stamps.get(t).flatMap { bs =>
        val sorted = bs.sortBy(b => (-b._4, b._1))
        var acc = 0L
        var n = 0
        while (n < sorted.length && acc < seedFloor) {
          acc += sorted(n)._3; n += 1
        }
        if (n >= sorted.length) None
        else Some(t -> sorted.take(n).map(b => (b._1, b._2)))
      }
    }.toMap
    val nSeedRanges = seedSel.valuesIterator.map(_.length).sum
    val seedScan0 = postings0
      .filter(col("tok").isin(seedToks.map(x => x: Any): _*))
    val seedScan =
      if (seedSel.isEmpty || nSeedRanges > RangesMax) seedScan0
      else postings0.filter(seedToks.map { t =>
        seedSel.get(t).fold(col("tok") === t)(rangePred(t, _))
      }.reduce(_ || _))
    val pass1 = scoredOf(
      candExcl(seedScan
        .select(col("tok"), col("doc_id"), col("tf"), col("len"))),
      seedPairs.toDF("qid", "tok"))
    val theta: Map[Long, Long] = Similarity.topKPerQueryLong(
        pass1.select(col("qid"), col("doc_id").as("vec_id"),
          col("ws").as("score")), kEach)
      .filter(col("rank") === kEach)
      .select("qid", "score").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ---- essential split: drop the maximal suffix summing below θ ---
    val essPairs: Seq[(Long, String)] = byQid.toSeq.flatMap {
      case (q, ts) =>
        theta.get(q) match {
          case None => ts.map(q -> _) // fewer than k seed docs: no floor
          case Some(th) =>
            val sorted = ts.sortBy(t => (-ub(t), t))
            var i = sorted.length - 1
            var acc = 0L
            while (i >= 0 && acc + ub(sorted(i)) < th) {
              acc += ub(sorted(i)); i -= 1
            }
            sorted.take(i + 1).map(q -> _)
        }
    }
    // ---- pass 2a: candidates from the essential lists only ----------
    // with stamps: per essential term the union (over its queries) of
    // kept block ranges — a block is kept for q iff
    // blockUB + Σ_{t′≠t} ub(t′) ≥ θ_q (see the scaladoc's losslessness
    // argument); a query without θ keeps everything
    val essToks = essPairs.map(_._2).distinct
    val sumUb: Map[Long, Long] =
      byQid.map { case (q, ts) => q -> ts.map(ub).sum }
    val essByTok = essPairs.groupBy(_._2)
      .map { case (t, qs) => t -> qs.map(_._1) }
    // per-tok skip threshold: the MINIMUM need over its queries (most
    // permissive) — one pushed range set per term, lossless for all
    val essSel: Map[String, Option[Seq[(Long, Long)]]] =
      if (stamps.isEmpty) essToks.map(t => t -> None).toMap
      else essToks.map { t =>
        val needs = essByTok(t).map { q =>
          theta.get(q).fold(Long.MinValue)(th => th - (sumUb(q) - ub(t)))
        }
        val need = needs.min
        t -> (if (need <= 0L) None
              else stamps.get(t).map(_.filter(_._4 >= need)
                .map(b => (b._1, b._2))))
      }.toMap
    val nEssTotal = essToks.flatMap(stamps.get(_)).map(_.length).sum
    val nEssKept = essToks.map(t => essSel(t) match {
      case None => stamps.get(t).map(_.length).getOrElse(0)
      case Some(rs) => rs.length
    }).sum
    val nEssRanges = essSel.valuesIterator.flatMap(_.map(_.length)).sum
    // the range-budget trip falls back to the FULL essential scan
    // below, so the diagnostics must report kept == total in that
    // case — otherwise the block-skipping observability feeding the
    // SCALE.md adjudications claims skipping that never executed
    // (r17 advice). The all-None case already reports kept == total
    // (a None selection counts its term's full stamp set as kept).
    val essRangesOver = nEssRanges > RangesMax
    if (stamps.nonEmpty)
      lastBlockStats = Some((
        if (seedSel.isEmpty || nSeedRanges > RangesMax) 0 else nSeedRanges,
        if (essRangesOver) nEssTotal else nEssKept, nEssTotal))
    val essScan0 = postings0
      .filter(col("tok").isin(essToks.map(x => x: Any): _*))
    val essScan =
      if (stamps.isEmpty || essRangesOver ||
          essSel.valuesIterator.forall(_.isEmpty)) essScan0
      else {
        val preds = essToks.flatMap { t =>
          essSel(t) match {
            case None => Some(col("tok") === t)
            case Some(Nil) => None // every block skipped: no rows
            case Some(rs) => Some(rangePred(t, rs))
          }
        }
        if (preds.isEmpty) essScan0.filter(lit(false))
        else postings0.filter(preds.reduce(_ || _))
      }
    val candidates = pairGate(
        candExcl(essScan.select(col("tok"), col("doc_id")))
          .join(broadcast(essPairs.toDF("qid", "tok")), "tok")
          .filter(col("doc_id") =!= col("qid")))
      .select("qid", "doc_id").distinct()
    val candMax = candidatesMax(spark)
    val candCollected = candidates.limit(candMax + 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    if (candCollected.length > candMax) {
      lastBlockStats = None // a fallback ran: no bounded read happened
      return fullProbe()
    }
    lastBoundedStats = Some((surviving.length, essPairs.length,
      byQid.values.map(_.length).sum, candCollected.length))
    if (candCollected.isEmpty) return emptyResult
    val candDocs = candCollected.map(_._2).distinct.toSeq
    // ---- pass 2b: complete the candidates over ALL surviving terms --
    // (the In(doc_id) is what the (tok, doc_id) sort prunes by)
    val rows2 = postings0
      .filter(col("tok").isin(surviving.map(x => x: Any): _*) &&
        col("doc_id").isin(candDocs.map(x => x: Any): _*))
      .select(col("tok"), col("doc_id"), col("tf"), col("len"))
    val scored2 = scoredOf(rows2,
        qPairs.filter(p => ub.contains(p._2)).toSeq.toDF("qid", "tok"))
      .join(broadcast(candCollected.toSeq.toDF("qid", "doc_id")),
        Seq("qid", "doc_id"), "left_semi")
    val agg = scored2.groupBy("qid", "doc_id")
      .agg(sum(col("ws")).as("lex_scaled"))
    Similarity.topKPerQueryLong(
        agg.select(col("qid"), col("doc_id").as("vec_id"),
          col("lex_scaled").as("score")), kEach)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rank").as("lex_rank"), col("score").as("lex_scaled"))
  }

  /** The probe's PER-(query, doc, term) scored rows — everything
    * [[probeLexIndex]] does before the per-doc aggregation, shared
    * with [[explainHits]] so the explanation decomposes the EXACT
    * weights the serve path sums. */
  private def scoredRows(spark: SparkSession, name: String,
      queries: DataFrame, asOf: Option[Long],
      candPred: Option[org.apache.spark.sql.Column],
      candPairs: Option[DataFrame],
      exclPairs: Option[DataFrame]): DataFrame = {
    val pt = member(spark, name, "postings", asOf)
    val dt = member(spark, name, "dfcap", asOf)
    val st = member(spark, name, "stats", asOf)
    requireTokenizer(spark, Seq(pt, dt, st))
    val postings0 = spark.table(pt)
    val push = scanBytes(postings0) > pushdownMinBytes(spark)
    // the query TERM SET (query-side tf ignored — the short-query BM25
    // simplification the one-shot makes too); pinned when the pushdown
    // collects keys from it, so the key job and the probe job see the
    // same rows
    val qt0 = queries.select(col("doc_id").as("qid"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .distinct()
    val qt = if (push) Frontier.pin(qt0) else qt0
    val nAgg = broadcast(spark.table(st)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_tokens")).as("total_tokens")))
    val postings =
      if (!push) postings0
      else {
        val qtoks = qt.select("tok").distinct()
          .limit(ProbePushdownMax + 1).collect().map(_.getString(0))
        if (qtoks.length > ProbePushdownMax) postings0
        else {
          // the SAFE stale-df prune: df only grows between compactions,
          // so a term already capped by the dfcap summary is certainly
          // capped by the exact df — its posting list is never read
          val capped = spark.table(dt)
            .filter(col("tok").isin(qtoks.map(x => x: Any): _*))
            .crossJoin(nAgg)
            .filter(col("df") * 10 > col("n_docs") * 9)
            .select("tok").collect().map(_.getString(0)).toSet
          val surviving = qtoks.filterNot(capped)
          postings0.filter(col("tok").isin(surviving.map(x => x: Any): _*))
        }
      }
    // one scan of the surviving posting lists feeds BOTH the exact df
    // recount and the scoring rows — co-partitioned on the bucketed
    // (tok) layout, so neither aggregation nor the self-join exchanges
    val rows = postings.join(
      broadcast(qt.select("tok").distinct()), "tok")
    val dfAgg = rows.groupBy("tok").agg(count(lit(1)).as("df"))
    // logical deletion: tombstoned docs lose CANDIDACY immediately —
    // applied AFTER the df recount, so df (like n_docs/total_tokens)
    // keeps the pre-delete value until compaction makes the erasure
    // physical and statistical at once (a candidacy-only exclusion is
    // internally consistent; a df that shrank while n_docs did not
    // would score with statistics no corpus ever had)
    val cand0 = Tombstones.get(spark, name).fold(rows)(t =>
      rows.join(broadcast(t.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti"))
    // serve-time scope: candidacy-only, like the tombstone exclusion
    // above (and for the same statistical-consistency reason)
    val cand = candPred.fold(cand0)(cand0.filter)
    val scored0 = cand.join(dfAgg, "tok")
      .crossJoin(nAgg)
      .filter(col("df") * 10 <= col("n_docs") * 9)
      .join(broadcast(qt), "tok")
      .filter(col("doc_id") =!= col("qid"))
    // the candidacy pair legs, normalized, PINNED (the count-gate and
    // the join must see one evaluation) and size-GATED: broadcast only
    // within [[PairBroadcastMaxConf]], shuffle semi/anti past it — the
    // same candidacy position either way, so rows are identical
    def normPin(p: DataFrame) = Frontier.pin(
      p.select(col(p.columns.head).cast("long").as("qid"),
        col(p.columns(1)).cast("long").as("doc_id")).distinct())
    val scored1 = candPairs.fold(scored0)(cp => scored0.join(
      gatedPairs(normPin(cp)), Seq("qid", "doc_id"), "left_semi"))
    exclPairs.fold(scored1)(ep => scored1.join(
        gatedPairs(normPin(ep)), Seq("qid", "doc_id"), "left_anti"))
      .withColumn("w", expr(HybridRetrieval.termWeightSql))
  }

  /** EXPLAIN (Lucene's `Explanation` / the `_explain` API): the
    * per-TERM decomposition of each top-`kEach` hit's score — one row
    * per (qid, doc_id, tok) with `w_scaled`, the term's exact
    * contribution on the probe's ×10⁹ DECIMAL scale, alongside the
    * hit's rank and total. Because every per-term weight carries at
    * most 9 decimal places, the per-term scaled longs sum EXACTLY to
    * `lex_scaled` — the explanation provably accounts for the whole
    * score, not an approximation of it (the s56 oracle pins that by
    * joining the decomposition back to the proven scorer text).
    *
    * Cost: the ranked probe plus one more pass over the SAME bounded
    * scored rows (posting lists of the query's terms), semi-joined to
    * the ≤ kEach·|queries| hit pairs — never a corpus-sized job. All
    * candidacy legs (`candPred`/`candPairs`/`exclPairs`/tombstones/
    * `asOf`) compose exactly as in [[probeLexIndex]]: the rows being
    * decomposed are the rows that were summed. */
  def explainHits(spark: SparkSession, name: String, queries: DataFrame,
      kEach: Int, asOf: Option[Long] = None,
      candPred: Option[org.apache.spark.sql.Column] = None,
      candPairs: Option[DataFrame] = None,
      exclPairs: Option[DataFrame] = None): DataFrame = {
    // pinned ONCE for both passes (r15 advice): the ranked probe and
    // the decomposition each run their own pushdown key-collect; a
    // nondeterministic queries frame re-evaluated between them could
    // otherwise make the hit set and the per-term rows disagree,
    // breaking the sums-exactly invariant this method documents
    val q = Frontier.pin(queries)
    val hits = probeLexIndex(spark, name, q, kEach, asOf,
      candPred, candPairs, exclPairs)
    val scored = scoredRows(spark, name, q, asOf, candPred,
        candPairs, exclPairs)
      .select(col("qid"), col("doc_id"), col("tok"),
        (col("w").cast(DecimalType(18, 9)) * 1000000000L)
          .cast("long").as("w_scaled"))
    hits.join(scored, Seq("qid", "doc_id"))
      .select("qid", "doc_id", "lex_rank", "tok", "w_scaled",
        "lex_scaled")
  }

  /** EXACT PHRASE retrieval from the persisted positional postings —
    * the capability that justifies storing `positions` (the scoring
    * probe never reads them; this probe is why they exist). `phrases`
    * is (phrase_id, phrase); output is one row per (phrase_id, doc_id)
    * containing the phrase as a CONTIGUOUS token run: `n_matches`
    * occurrence count and `first_pos` (0-based anchor of the first).
    *
    * The classic positional-index intersection, spelled relationally:
    * each phrase term's postings shift their positions back by the
    * term's in-phrase offset, and a doc matches at anchor p iff ALL
    * n terms put an anchor at p — a (phrase, doc, anchor) count
    * reaching n. Repeated terms are handled by counting DISTINCT
    * offsets (each occurrence slot must be present independently).
    *
    * Scale shape: the phrase side is tiny and broadcast; the postings
    * scan is bounded by the PHRASE terms' posting lists (same bounded
    * `tok IN (…)` pushdown as the scoring probe) AND by the rarest
    * phrase term's doc set ([[anchorDocs]] — a phrase with one common
    * term no longer reads that term's whole list, only its rows in
    * the rare anchor's docs, pushed as `In(doc_id)` into the sorted
    * runs) and reads only (tok, doc_id, positions); the one shuffle
    * groups anchor rows, whose count is at most the matched terms'
    * total occurrences.
    * Tombstoned docs lose candidacy immediately, as in every probe.
    * `asOf = Some(g)` probes a retained past generation's postings —
    * with the house asymmetry that tombstone exclusion stays CURRENT:
    * erasure overrides history (the s34/d25 contract, on the phrase
    * path). */
  def probePhrase(spark: SparkSession, name: String,
      phrases: DataFrame, asOf: Option[Long] = None): DataFrame = {
    val pt = member(spark, name, "postings", asOf)
    requireTokenizer(spark, Seq(pt))
    val terms0 = phrases.select(col(phrases.columns.head).as("phrase_id"),
      posexplode(TextFunctions.tokens(col(phrases.columns(1))))
        .as(Seq("off", "tok")))
    val postings0 = spark.table(pt)
    val push = scanBytes(postings0) > pushdownMinBytes(spark)
    // pinned when the pushdown collects keys from it (the probeLexIndex
    // qt discipline): a nondeterministic phrases frame re-evaluated
    // between the key collect and the join could otherwise push a
    // token set that diverges from the joined rows — silently dropping
    // matches
    val terms = if (push) Frontier.pin(terms0) else terms0
    val nTerms = terms.groupBy("phrase_id")
      .agg(countDistinct(col("off")).as("n"))
    lastAnchorStats = None
    val postings =
      if (!push) postings0
      else {
        // one bounded collect serves both pushdowns: the tok IN (…)
        // key set and the per-phrase clause sets (one term per offset)
        // the anchor doc pushdown derives its rarest-clause from
        val cs = terms.select(col("phrase_id").cast("string"),
            col("off").cast("string"), col("tok"))
          .distinct().limit(ProbePushdownMax + 1).collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2)))
        if (cs.length > ProbePushdownMax) postings0
        else anchoredScan(spark, name, asOf, pt, postings0, cs.toSeq)
      }
    val rows = postings.select("tok", "doc_id", "positions")
      .join(broadcast(terms), "tok")
    val cand = Tombstones.get(spark, name).fold(rows)(t =>
      rows.join(broadcast(t.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti"))
    // negative anchors (a term occurring before its in-phrase offset
    // could place it) can never complete a match — the off-0 term's
    // anchor is its own position, >= 0 — so they are shed BEFORE the
    // grouping shuffle rather than after (r14 advisory)
    val anchors = cand.select(col("phrase_id"), col("doc_id"), col("off"),
        explode(expr("transform(positions, x -> x - off)")).as("p"))
      .filter(col("p") >= 0)
    anchors.groupBy("phrase_id", "doc_id", "p")
      .agg(countDistinct(col("off")).as("got"))
      .join(broadcast(nTerms), "phrase_id")
      .filter(col("got") === col("n"))
      .groupBy("phrase_id", "doc_id")
      .agg(count(lit(1)).as("n_matches"), min(col("p")).as("first_pos"))
  }

  /** MINIMUM-SHOULD-MATCH candidacy from the persisted postings — the
    * boolean SHOULD leg completing the surface (MUST = phrase
    * candPairs, s43/s45; MUST_NOT = exclPairs, s46; filters =
    * candPred, s39): a doc is a candidate for a query iff it contains
    * at least `minMatch` of the query's SHOULD terms (Lucene's
    * `minimum_should_match`). `terms` is (qid, tok); output is
    * (qid, doc_id, n_should) — feed it to [[probeLexIndex]]'s
    * `candPairs`, where it stays CANDIDACY-ONLY: df/n_docs/
    * total_tokens remain corpus-level, so every surviving score is
    * bit-identical to its unconstrained value (the s39 argument).
    *
    * Containment needs no positions: the scan reads (tok, doc_id) and
    * the positions column prunes away exactly as in BM25 scoring. Scale
    * shape: the terms side is tiny and broadcast; the postings scan
    * is bounded by the SHOULD terms' posting lists (the bounded
    * `tok IN (…)` pushdown); the one shuffle groups (qid, doc_id)
    * hit rows, at most the matched posting lists' total. Tombstoned
    * docs lose candidacy immediately, as in every probe; `asOf`
    * probes a frozen generation's postings with CURRENT tombstone
    * exclusion (erasure overrides history). */
  /** TOP-E TERM SELECTION from a bounded doc set — the shared engine
    * of pseudo-relevance feedback (Rocchio 1971 / RM3's term pool;
    * Elasticsearch's significant-terms shape) and More-Like-This
    * (Lucene's MoreLikeThis "interesting terms"): rank every term of
    * the `pairs` docs by its summed BM25 weight over those docs and
    * keep each query's top `topE` by (weight DESC, tok) — for PRF the
    * pairs are the initial serve's top-k hits and `exclude` carries
    * the query's own terms; for MLT the pairs are (seed, seed) and
    * the selection ranks the seed's own tf·idf profile. `pairs` is
    * (qid, doc_id); output (qid, tok).
    *
    * The weights are the SAME per-(doc, term) arithmetic the scoring
    * probe sums — df from the maintained dictionary ([[vocabFrame]] —
    * exact, s66's contract), n_docs/total_tokens from the stats
    * member, the engine termWeightSql text, per-row ×10⁹ DECIMAL→long
    * scaling — so the selection is bit-reproducible against a
    * relational replay (the s75/s76 oracles re-derive it from the raw
    * corpus). The df cap applies as everywhere: a capped term can
    * never be selected (it could never score).
    *
    * Scale shape: the pairs frame is k-bounded by construction (top-k
    * hits / seed docs), broadcast; the postings scan is bounded by
    * the pushed `In(doc_id)` over the feedback docs (the completion
    * mechanism — budget-gated, plain join past it, lossless); the one
    * shuffle groups (qid, tok) rows bounded by the feedback docs'
    * token counts; the rank window partitions by qid. Tombstoned docs
    * are excluded from the pairs BEFORE the scan (erasure overrides a
    * stale feedback list — the d25/s34 asymmetry, on the feedback
    * path). */
  def feedbackTerms(spark: SparkSession, name: String, pairs: DataFrame,
      topE: Int, exclude: Option[DataFrame] = None,
      asOf: Option[Long] = None): DataFrame = {
    require(topE >= 1, s"topE must be >= 1, got $topE")
    val pt = member(spark, name, "postings", asOf)
    val st = member(spark, name, "stats", asOf)
    requireTokenizer(spark, Seq(pt, st))
    val p0 = pairs.select(col(pairs.columns.head).cast("long").as("qid"),
      col(pairs.columns(1)).cast("long").as("doc_id")).distinct()
    val p1 = Tombstones.get(spark, name).fold(p0)(t =>
      p0.join(broadcast(t.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti"))
    // pinned: the doc-id pushdown collect and the join must see one
    // evaluation (the qt discipline)
    val fb = Frontier.pin(p1)
    val postings0 = spark.table(pt)
    val postings =
      if (scanBytes(postings0) <= pushdownMinBytes(spark)) postings0
      else {
        val ids = fb.select("doc_id").distinct()
          .limit(ProbePushdownMax + 1).collect().map(_.getLong(0))
        if (ids.length > ProbePushdownMax) postings0
        else postings0.filter(col("doc_id").isin(ids.map(x => x: Any): _*))
      }
    val nRow = spark.table(st)
      .agg(sum(col("n_docs")), sum(col("total_tokens"))).head()
    val rows = postings.select(col("tok"), col("doc_id"), col("tf"),
        col("len"))
      .join(broadcast(fb), "doc_id")
      .join(vocabFrame(spark, name, asOf).select("tok", "df"), "tok")
      .withColumn("n_docs", lit(nRow.getLong(0)))
      .withColumn("total_tokens", lit(nRow.getLong(1)))
      .filter(col("df") * 10 <= col("n_docs") * 9)
      .withColumn("ws", (expr(HybridRetrieval.termWeightSql)
        .cast(DecimalType(18, 9)) * 1000000000L).cast("long"))
    val kept = exclude.fold(rows)(ex => rows.join(
      broadcast(ex.select(col(ex.columns.head).cast("long").as("qid"),
        col(ex.columns(1)).as("tok")).distinct()),
      Seq("qid", "tok"), "left_anti"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("s").desc, col("tok"))
    kept.groupBy("qid", "tok").agg(sum(col("ws")).as("s"))
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") <= topE)
      .select("qid", "tok")
  }

  /** SIGNIFICANT TERMS over a candidate doc set (Elasticsearch's
    * `significant_terms` aggregation — "what characterizes THESE
    * docs against the corpus"): for each query's (qid, doc_id)
    * foreground set, rank the foreground docs' terms by LIFT —
    * foreground rate over background rate, which within a query
    * orders exactly by fg_df / df (the per-query foreground size and
    * the corpus size are constants) — and keep the top `topE` with
    * foreground df ≥ `minFgDf` (ES's min_doc_count). The ordering
    * key is ONE IEEE division of two exact BIGINTs
    * (`CAST(fg_df AS DOUBLE) / CAST(df AS DOUBLE)`) evaluated by
    * both engines verbatim — bit-portable like every shared f64
    * scalar on this surface — with tok as the tiebreak. The df cap
    * applies as everywhere (a stopword is never significant);
    * background df comes from the maintained dictionary
    * ([[vocabFrame]], exact). Output (qid, tok, fg_df, df, rank).
    *
    * Scale shape: the pairs frame is candidacy-sized and broadcast;
    * the postings scan is bounded by the pushed `In(doc_id)` over
    * the foreground docs (budget-gated, plain join past it); one
    * shuffle groups (qid, tok); the rank window partitions by qid.
    * Tombstoned docs leave the foreground BEFORE the scan (erasure
    * overrides a stale candidate list). */
  def significantTerms(spark: SparkSession, name: String,
      pairs: DataFrame, topE: Int, minFgDf: Int = 1,
      asOf: Option[Long] = None): DataFrame = {
    require(topE >= 1, s"topE must be >= 1, got $topE")
    val pt = member(spark, name, "postings", asOf)
    val st = member(spark, name, "stats", asOf)
    requireTokenizer(spark, Seq(pt, st))
    val p0 = pairs.select(col(pairs.columns.head).cast("long").as("qid"),
      col(pairs.columns(1)).cast("long").as("doc_id")).distinct()
    val p1 = Tombstones.get(spark, name).fold(p0)(t =>
      p0.join(broadcast(t.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti"))
    val fg = Frontier.pin(p1)
    val postings0 = spark.table(pt)
    val postings =
      if (scanBytes(postings0) <= pushdownMinBytes(spark)) postings0
      else {
        val ids = fg.select("doc_id").distinct()
          .limit(ProbePushdownMax + 1).collect().map(_.getLong(0))
        if (ids.length > ProbePushdownMax) postings0
        else postings0.filter(col("doc_id").isin(ids.map(x => x: Any): _*))
      }
    val nDocs = spark.table(st).agg(sum(col("n_docs"))).head().getLong(0)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("lift").desc, col("tok"))
    postings.select(col("tok"), col("doc_id"))
      .join(broadcast(fg), "doc_id")
      .groupBy("qid", "tok")
      .agg(count(lit(1)).as("fg_df"))
      .join(vocabFrame(spark, name, asOf).select("tok", "df"), "tok")
      .filter(col("df") * 10 <= lit(nDocs) * 9)
      .filter(col("fg_df") >= minFgDf)
      .withColumn("lift",
        col("fg_df").cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= topE)
      .select("qid", "tok", "fg_df", "df", "rank")
  }

  def probeShould(spark: SparkSession, name: String, terms: DataFrame,
      minMatch: Int, asOf: Option[Long] = None): DataFrame = {
    require(minMatch >= 1, s"minMatch must be >= 1, got $minMatch")
    val pt = member(spark, name, "postings", asOf)
    requireTokenizer(spark, Seq(pt))
    val terms1 = terms.select(col(terms.columns.head).as("qid"),
      col(terms.columns(1)).as("tok")).distinct()
    val postings0 = spark.table(pt)
    val push = scanBytes(postings0) > pushdownMinBytes(spark)
    // pinned when the pushdown collects keys from it (the qt
    // discipline): the pushed token set must not diverge from the
    // joined rows under a nondeterministic terms frame
    val qt = if (push) Frontier.pin(terms1) else terms1
    val postings =
      if (!push) postings0
      else {
        val toks = qt.select("tok").distinct()
          .limit(ProbePushdownMax + 1).collect().map(_.getString(0))
        if (toks.length > ProbePushdownMax) postings0
        else postings0.filter(col("tok").isin(toks.map(x => x: Any): _*))
      }
    val rows = postings.select("tok", "doc_id").join(broadcast(qt), "tok")
    val cand = Tombstones.get(spark, name).fold(rows)(t =>
      rows.join(broadcast(t.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti"))
    cand.groupBy("qid", "doc_id")
      .agg(countDistinct(col("tok")).as("n_should"))
      .filter(col("n_should") >= minMatch)
  }

  /** PROXIMITY search (Lucene's SpanNear, unordered): docs where a
    * query's two terms occur within `slop` token positions — the
    * second capability the positional postings pay for (exact phrase
    * = the `slop`-0 ordered special case, [[probePhrase]]). `pairs`
    * is (qid, tok_a, tok_b); output (qid, doc_id, min_dist) with
    * min_dist the smallest |posₐ − pos_b| over all occurrence pairs,
    * kept when ≤ slop. (tok_a = tok_b degenerates to containment —
    * every occurrence is at distance 0 from itself; pass distinct
    * terms.)
    *
    * Spelled WITHOUT exploding positions: each side joins its term's
    * postings rows (broadcast pairs, the bounded `tok IN (…)`
    * pushdown, plus the rarer side's doc set as an `In(doc_id)`
    * anchor — [[anchorDocs]]: both terms must share a doc, so the
    * common side's scan is bounded by the rare side's docs), the two
    * sides meet on (qid, doc_id) — at most one
    * row per side per doc — and the min-distance folds over the two
    * position ARRAYS in one codegen'd expression. Per-doc work is
    * |posₐ|·|pos_b| inside the row (token frequencies, small);
    * nothing new shuffles — the only exchange is the (qid, doc_id)
    * join of two already-bounded row sets. Tombstoned docs lose
    * candidacy immediately; `asOf` probes a frozen generation with
    * CURRENT tombstone exclusion (the house asymmetry).
    *
    * `ordered = true` is SpanNear's in-order form: tok_b must occur
    * STRICTLY AFTER tok_a, min_dist = min(pos_b − posₐ) over the
    * positive differences — "A … then B", the citation/attribution
    * pattern order matters for. Same cost shape: only the folded
    * expression changes. */
  def probeProximity(spark: SparkSession, name: String, pairs: DataFrame,
      slop: Int, asOf: Option[Long] = None,
      ordered: Boolean = false): DataFrame = {
    require(slop >= 1, s"slop must be >= 1, got $slop (slop 0 contiguous" +
      " ordered runs are probePhrase's job)")
    val pt = member(spark, name, "postings", asOf)
    requireTokenizer(spark, Seq(pt))
    val qp0 = pairs.select(col(pairs.columns.head).as("qid"),
      col(pairs.columns(1)).as("tok_a"), col(pairs.columns(2)).as("tok_b"))
    val postings0 = spark.table(pt)
    val push = scanBytes(postings0) > pushdownMinBytes(spark)
    // pinned when the pushdown collects keys from it (the qt discipline)
    val qp = if (push) Frontier.pin(qp0) else qp0
    lastAnchorStats = None
    val postings =
      if (!push) postings0
      else {
        // clause sets per query: the tok_a side and the tok_b side
        // (a match doc needs ≥1 of each — the conjunctive shape the
        // anchor doc pushdown bounds by the rarer side)
        val cs0 = qp.select(col("qid").cast("string"),
            col("tok_a"), col("tok_b"))
          .distinct().limit(ProbePushdownMax + 1).collect()
        if (cs0.length > ProbePushdownMax) postings0
        else {
          val cs = cs0.toSeq.flatMap(r => Seq(
            (r.getString(0), "a", r.getString(1)),
            (r.getString(0), "b", r.getString(2))))
          anchoredScan(spark, name, asOf, pt, postings0, cs)
        }
      }
    val posts = postings.select(col("tok"), col("doc_id"), col("positions"))
    def side(tokCol: String, out: String) =
      posts.join(broadcast(qp.select(col("qid"),
        col(tokCol).as("tok"))), "tok")
        .select(col("qid"), col("doc_id"), col("positions").as(out))
    val distSql =
      if (ordered) "array_min(filter(flatten(transform(pa, x -> " +
        "transform(pb, y -> y - x))), v -> v > 0))"
      else "array_min(flatten(transform(pa, x -> " +
        "transform(pb, y -> abs(x - y)))))"
    val hits = side("tok_a", "pa").join(side("tok_b", "pb"),
        Seq("qid", "doc_id"))
      .withColumn("min_dist", expr(distSql))
      .filter(col("min_dist") <= slop)
      .select(col("qid"), col("doc_id"), col("min_dist"))
    Tombstones.get(spark, name).fold(hits)(t =>
      hits.join(broadcast(t.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti"))
  }

  /** N-TERM PROXIMITY (Lucene's SpanNear with n clauses — the r15 ask
    * generalizing the 2-term [[probeProximity]]): docs containing ALL
    * n of a query's terms within a token window of span ≤ `slop`.
    * `clauses` is (qid, off, tok) — `off` = 0-based clause position,
    * one term per (qid, off); output (qid, doc_id, min_span) with
    * min_span the smallest max−min over choices of one occurrence per
    * clause (for n = 2 this is exactly [[probeProximity]]'s
    * min |posₐ − pos_b| — the spec pins the agreement).
    *
    * `ordered = true` is SpanNear's in-order form: the chosen
    * positions must be strictly increasing in clause order,
    * min_span = min over chains of p_{n−1} − p₀ (the greedy
    * earliest-next chain from each start is optimal, folded inside
    * the row).
    *
    * Scale shape: n posting-list sides are ONE bounded scan (the
    * pushed `tok IN (…)` over all clause terms, plus the rarest
    * clause's doc set as an `In(doc_id)` anchor — [[anchorDocs]]:
    * every clause must hit the same doc, so the common clauses' scans
    * are bounded by the rarest clause's docs) joined to the
    * broadcast clause frame; the only shuffle groups the bounded
    * (qid, doc_id, off) rows; the window fold runs over the n position
    * ARRAYS inside the grouped row — per-doc work ∝ Σ|positions| ×
    * |starts| (token frequencies, small), nothing corpus-sized.
    * Tombstoned docs lose candidacy immediately; `asOf` probes a
    * frozen generation with CURRENT tombstone exclusion. Clause terms
    * should be distinct per query (a repeated term satisfies two
    * clauses with one occurrence — Lucene's SpanNear caveat too). */
  def probeProximityN(spark: SparkSession, name: String,
      clauses: DataFrame, slop: Int, asOf: Option[Long] = None,
      ordered: Boolean = false): DataFrame = {
    require(slop >= 1, s"slop must be >= 1, got $slop")
    val pt = member(spark, name, "postings", asOf)
    requireTokenizer(spark, Seq(pt))
    val qn0 = clauses.select(col(clauses.columns.head).as("qid"),
      col(clauses.columns(1)).cast("int").as("off"),
      col(clauses.columns(2)).as("tok")).distinct()
    val postings0 = spark.table(pt)
    val push = scanBytes(postings0) > pushdownMinBytes(spark)
    // pinned when the pushdown collects keys from it (the qt discipline)
    val qn = if (push) Frontier.pin(qn0) else qn0
    lastAnchorStats = None
    val postings =
      if (!push) postings0
      else {
        // clause sets: one term per (qid, off) — ALL clauses required
        // (got === n below), so the anchor doc pushdown bounds every
        // clause term's scan by the rarest clause's docs
        val cs = qn.select(col("qid").cast("string"),
            col("off").cast("string"), col("tok"))
          .distinct().limit(ProbePushdownMax + 1).collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2)))
        if (cs.length > ProbePushdownMax) postings0
        else anchoredScan(spark, name, asOf, pt, postings0, cs.toSeq)
      }
    val nq = qn.groupBy("qid").agg(countDistinct(col("off")).as("n"))
    val rows = postings.select(col("tok"), col("doc_id"), col("positions"))
      .join(broadcast(qn), "tok")
    val cand = Tombstones.get(spark, name).fold(rows)(t =>
      rows.join(broadcast(t.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti"))
    // one grouped row per (query, doc): the n clause position arrays,
    // clause-ordered — the fold's input
    val grouped = cand
      .groupBy("qid", "doc_id")
      .agg(countDistinct(col("off")).as("got"),
        sort_array(collect_list(struct(col("off"), col("positions"))))
          .as("arrs"))
      .join(broadcast(nq), "qid")
      .filter(col("got") === col("n"))
    // per-clause earliest occurrence at-or-after s — shared sub-text
    val minsAt = "transform(arrs, a -> array_min(filter(a.positions, " +
      "p -> p >= s)))"
    val spanSql =
      if (ordered)
        // greedy earliest-next chain from each start of clause 0; a
        // clause with no position beyond acc yields NULL, which
        // propagates through the fold and is skipped by array_min
        "array_min(transform(element_at(arrs, 1).positions, s -> " +
          "aggregate(transform(slice(arrs, 2, size(arrs) - 1), " +
          "x -> x.positions), s, " +
          "(acc, a) -> array_min(filter(a, p -> p > acc))) - s))"
      else
        // candidate window starts = every occurrence of any clause; a
        // start some clause cannot cover is INVALIDATED (array_max
        // skips nulls, so without the CASE a partial cover would fake
        // a smaller span)
        "array_min(filter(transform(flatten(transform(arrs, " +
          "a -> a.positions)), s -> " +
          s"CASE WHEN exists($minsAt, m -> m IS NULL) THEN NULL " +
          s"ELSE array_max($minsAt) - s END), v -> v IS NOT NULL))"
    grouped.withColumn("min_span", expr(spanSql))
      .filter(col("min_span") <= slop)
      .select(col("qid"), col("doc_id"), col("min_span"))
  }

  /** PREFIX search (Lucene's `PrefixQuery` through its term
    * dictionary): docs containing any term starting with a query's
    * prefix. `prefixes` is (qid, prefix); output (qid, doc_id,
    * n_terms) with n_terms the count of DISTINCT matched expansion
    * terms the doc contains.
    *
    * Two stages, both bounded the way Lucene bounds them:
    *
    *  1. '''Expansion''': the MAINTAINED term dictionary
    *     ([[vocabFrame]] — dfcap ∪ deltas, vocab-sized, never a
    *     postings scan) is matched per query prefix and capped at
    *     `maxExpansions` terms in TERM ORDER (Lucene's
    *     `max_expansions` — the cap is what keeps a one-letter prefix
    *     from exploding downstream cost; term order makes WHICH terms
    *     survive deterministic). The match is an EQUI-join per
    *     distinct prefix LENGTH (`substring(tok, 1, len) = prefix` —
    *     broadcast hash, never a nested loop), and the member scans
    *     are pruned by pushing the `startsWith` disjunction into their
    *     sorted tok runs (parquet `StringStartsWith` + min/max).
    *  2. '''Matching''': the capped expansion set joins the postings
    *     exactly like query terms in the scoring probe — cost bounded
    *     by the expansions' posting lists, pruned by the pushed
    *     `tok IN (…)` over the post-cap expansion terms.
    *
    * The expansion vocabulary is a CORPUS statistic (like df): terms
    * occurring only in tombstoned docs still expand until compaction
    * makes the erasure physical — doc CANDIDACY is excluded
    * immediately, as in every probe. `asOf` probes a frozen
    * generation's postings with CURRENT tombstone exclusion. */
  def probePrefix(spark: SparkSession, name: String, prefixes: DataFrame,
      maxExpansions: Int = 16, asOf: Option[Long] = None): DataFrame = {
    require(maxExpansions >= 1,
      s"maxExpansions must be >= 1, got $maxExpansions")
    val pt = member(spark, name, "postings", asOf)
    requireTokenizer(spark, Seq(pt))
    val matched = prefixVocab(spark, name, prefixes, asOf)
    // term-dictionary expansion, capped in TERM order (Lucene) —
    // pinned: the postings pushdown below collects its token set from
    // this frame and then joins it (the qt discipline)
    val expansions = Frontier.pin(
      matched.select("qid", "tok").withColumn("rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("qid").orderBy("tok")))
        .filter(col("rn") <= maxExpansions).drop("rn"))
    // matching stage: the capped expansions' posting lists only — the
    // bounded `tok IN (…)` pushdown, tighter than the old startsWith
    // prune (≤ maxExpansions·|queries| literals, post-cap)
    val postings0 = spark.table(pt)
    val postings =
      if (scanBytes(postings0) <= pushdownMinBytes(spark)) postings0
      else {
        val toks = expansions.select("tok").distinct()
          .limit(ProbePushdownMax + 1).collect().map(_.getString(0))
        if (toks.length > ProbePushdownMax) postings0
        else postings0.filter(col("tok").isin(toks.map(x => x: Any): _*))
      }
    val rows = postings.select("tok", "doc_id")
      .join(broadcast(expansions), "tok")
    val cand = Tombstones.get(spark, name).fold(rows)(t =>
      rows.join(broadcast(t.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti"))
    cand.groupBy("qid", "doc_id")
      .agg(countDistinct(col("tok")).as("n_terms"))
  }

  /** AUTOCOMPLETE (Lucene's terms-enum suggester): the top-`k` index
    * terms per prefix, ranked by document frequency (df DESC, term
    * order as the tiebreak) — the search-box completion list, served
    * from the SAME maintained postings the scorer reads. Output
    * (qid, tok, df, rank). Like every vocabulary surface, df is a
    * CORPUS statistic (tombstoned docs count until compaction), and
    * `asOf` reads a frozen generation's dictionary. */
  def suggestTerms(spark: SparkSession, name: String, prefixes: DataFrame,
      k: Int = 8, asOf: Option[Long] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val matched = prefixVocab(spark, name, prefixes, asOf)
    matched.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("df").desc, col("tok"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("tok"), col("df"), col("rank"))
  }

  /** The CURRENT term dictionary — (tok, df, max_tf, min_len) with df
    * EXACT, not a bound — read from the MAINTAINED vocab-sized members
    * (dfcap ∪ delta rows, summed/max'd/min'd per term), never from a
    * postings scan (the r15 scale-killer fix: the dictionary is
    * Heaps-law sublinear in the corpus; the postings are not). Between
    * compactions appends only ever ADD (tok, doc) rows, so the delta
    * sum equals the postings-scan df at every lifecycle point
    * (LexIndexSpec pins the invariant through append, crash-replay,
    * tombstone and compaction). Like df everywhere, the dictionary is
    * a CORPUS statistic: tombstoned docs count until compaction.
    * `asOf` reads a frozen generation's dictionary (its dfcap plus the
    * deltas that landed while it was current).
    *
    * `tokFilter`: an optional predicate over `tok` pushed into BOTH
    * member scans (sorted tok runs → row-group pruning) — the prefix
    * surfaces pass their startsWith disjunction here. Spelled as a
    * join of the two members rather than a union-then-aggregate: a
    * grouped union of two co-bucketed scans tempts the planner into
    * an exchange-free final aggregate whose co-partitioning assumption
    * silently breaks when one side's bucketed-scan decision differs —
    * the join path always states its distribution requirement
    * explicitly and still rides the shared (tok) bucketing. */
  def vocabFrame(spark: SparkSession, name: String,
      asOf: Option[Long] = None,
      tokFilter: Option[Column] = None): DataFrame = {
    val dt = member(spark, name, "dfcap", asOf)
    val vt = member(spark, name, "vocab", asOf)
    requireTokenizer(spark, Seq(dt, vt))
    def scan(t: String) = {
      val s = spark.table(t).select(col("tok"), col("df"),
        col("max_tf"), col("min_len"))
      tokFilter.fold(s)(s.filter)
    }
    // per-term delta consolidation rides the delta member's (tok)
    // bucketing exchange-free; the full-outer join is vocab-sized on
    // both sides (terms only in dfcap / only in deltas both survive)
    val deltas = scan(vt).groupBy("tok").agg(sum(col("df")).as("df"),
      max(col("max_tf")).as("max_tf"), min(col("min_len")).as("min_len"))
    scan(dt).as("c").join(deltas.as("d"), Seq("tok"), "full_outer")
      .select(col("tok"),
        (coalesce(col("c.df"), lit(0L)) +
          coalesce(col("d.df"), lit(0L))).as("df"),
        greatest(col("c.max_tf"), col("d.max_tf")).as("max_tf"),
        least(col("c.min_len"), col("d.min_len")).as("min_len"))
  }

  /** Prefix-matched vocabulary — (qid, tok, df) rows pairing each
    * query with every term-dictionary entry starting with its prefix.
    * Shared by [[probePrefix]] (caps in term order) and
    * [[suggestTerms]] (ranks by df). The dictionary comes from the
    * MAINTAINED vocab members ([[vocabFrame]] — never a postings
    * scan), with the startsWith disjunction pushed into their sorted
    * tok runs; the match is an EQUI-join per distinct prefix LENGTH
    * (`substring(tok, 1, len) = prefix`, broadcast hash — never a
    * nested loop), with a guarded predicate-join fallback for a
    * pathological prefix count. The prefixes frame is pinned
    * UNCONDITIONALLY and collected ONCE (r15 advice): the pushdown
    * filter, the length set and the per-length joins all derive from
    * that single evaluation, so they can never diverge. */
  private def prefixVocab(spark: SparkSession, name: String,
      prefixes: DataFrame, asOf: Option[Long]): DataFrame = {
    val px = Frontier.pin(
      prefixes.select(col(prefixes.columns.head).as("qid"),
        col(prefixes.columns(1)).as("prefix")).distinct())
    val prefs = px.select("prefix").distinct()
      .limit(ProbePushdownMax + 1).collect().map(_.getString(0))
    val tokFilter =
      if (prefs.isEmpty) Some(lit(false))
      else if (prefs.length > ProbePushdownMax) None
      else Some(prefs.map(p => col("tok").startsWith(p)).reduce(_ || _))
    val vocab = vocabFrame(spark, name, asOf, tokFilter)
      .select(col("tok"), col("df"))
    if (prefs.isEmpty)
      px.select(col("qid"), col("prefix").as("tok"), lit(0L).as("df"))
        .filter(lit(false))
    else if (prefs.length > ProbePushdownMax)
      vocab.join(broadcast(px), col("tok").startsWith(col("prefix")))
        .select(col("qid"), col("tok"), col("df"))
    else prefs.map(_.length).distinct.toSeq.map { l =>
      vocab.join(broadcast(px.filter(length(col("prefix")) === l)),
          substring(col("tok"), 1, l) === col("prefix"))
        .select(col("qid"), col("tok"), col("df"))
    }.reduce(_ unionByName _)
  }

  /** TERM-HIT HIGHLIGHTING (Lucene's highlighter shape, the r15 ask):
    * the best `w`-token fragment per ranked hit — a plain relevance
    * query has no phrase anchor for [[HybridRetrieval.snippets]]'s
    * `first_pos`, so this derives one from the SAME positional
    * postings the index already stores: per (qid, doc_id) hit, the
    * window start maximizing the count of DISTINCT query terms inside
    * `[s, s + w)`, ties broken to the EARLIEST start (deterministic).
    * `hits` is (qid, doc_id, …) — feed [[probeLexIndex]]'s output;
    * `queries` is (qid, text); output (qid, doc_id, win_start,
    * n_terms) — join it back and hand `win_start` to snippets as
    * `first_pos` with `phraseLen = w`.
    *
    * Scale shape: the postings scan is bounded by the QUERY terms'
    * posting lists (the pushed `tok IN (…)`), then semi-joined to the
    * top-k-bounded hit pairs — never corpus-sized; the argmax folds
    * over the per-hit position arrays inside one grouped row (work ∝
    * |starts| × n_terms per hit — token frequencies, small). Candidate
    * starts are query-term occurrences only (the standard highlighter
    * restriction: a window not starting at a hit term is dominated by
    * one that does). Tombstone exclusion is inherited from the probe
    * that produced `hits`; `asOf` reads a frozen generation's
    * positions. */
  def bestWindows(spark: SparkSession, name: String, hits: DataFrame,
      queries: DataFrame, w: Int, asOf: Option[Long] = None): DataFrame = {
    require(w >= 1, s"window size must be >= 1, got $w")
    val pt = member(spark, name, "postings", asOf)
    requireTokenizer(spark, Seq(pt))
    val h = hits.select(col(hits.columns.head).cast("long").as("qid"),
      col(hits.columns(1)).cast("long").as("doc_id")).distinct()
    val qt0 = queries.select(col(queries.columns.head).as("qid"),
        explode(TextFunctions.tokens(col(queries.columns(1)))).as("tok"))
      .distinct()
    val postings0 = spark.table(pt)
    val push = scanBytes(postings0) > pushdownMinBytes(spark)
    // pinned when the pushdown collects keys from it (the qt discipline)
    val qt = if (push) Frontier.pin(qt0) else qt0
    val postings =
      if (!push) postings0
      else {
        val toks = qt.select("tok").distinct()
          .limit(ProbePushdownMax + 1).collect().map(_.getString(0))
        if (toks.length > ProbePushdownMax) postings0
        else postings0.filter(col("tok").isin(toks.map(x => x: Any): _*))
      }
    val rows = postings.select(col("tok"), col("doc_id"), col("positions"))
      .join(broadcast(qt), "tok")
      .join(broadcast(h), Seq("qid", "doc_id"), "left_semi")
    // one row per hit: its query terms' position arrays (one array per
    // term, so counting covering ARRAYS counts distinct terms)
    val grouped = rows.groupBy("qid", "doc_id")
      .agg(sort_array(collect_list(struct(col("tok"), col("positions"))))
        .as("arrs"))
    val nAt = "size(filter(arrs, a -> exists(a.positions, " +
      s"p -> p >= s AND p <= s + ${w - 1})))"
    // starts sorted ascending + strict > comparison = earliest start
    // wins among maximal-coverage windows
    val bestSql = "aggregate(sort_array(flatten(transform(arrs, " +
      "a -> a.positions))), named_struct('n', -1, 's', -1), " +
      s"(acc, s) -> IF($nAt > acc.n, named_struct('n', $nAt, 's', s), acc))"
    grouped.withColumn("best", expr(bestSql))
      .select(col("qid"), col("doc_id"),
        col("best.s").as("win_start"), col("best.n").as("n_terms"))
  }

  /** All deletion variants of `colName` removing UP TO `maxEdits`
    * characters, including the identity — the SymSpell neighborhood
    * key set (Garbe's symmetric-delete spelling correction): two
    * strings within Damerau/Levenshtein distance d share at least one
    * ≤d-deletion variant, so an equi-join on variants finds every
    * candidate pair and an exact distance check removes the false
    * positives (e.g. "ab"/"ba" share variant "a" at distance 2). */
  private def deletionKeys(colName: String, maxEdits: Int): Column = {
    val d1 = s"transform(sequence(0, length($colName)), i -> " +
      s"concat(substring($colName, 1, i), substring($colName, i + 2)))"
    val all =
      if (maxEdits == 1) d1
      else s"flatten(transform($d1, y -> transform(sequence(0, " +
        "length(y)), j -> concat(substring(y, 1, j), substring(y, j + 2)))))"
    expr(s"array_distinct($all)")
  }

  /** FUZZY term match (Lucene's `FuzzyQuery` / "did you mean"):
    * vocabulary terms within edit distance `maxEdits` of each query
    * term. `terms` is (qid, term); output (qid, term, suggestion,
    * dist, df) — `df` is the suggestion's EXACT document frequency
    * (one row per (tok, doc) in the postings, counted on the bucketed
    * tok layout exchange-free), the noisy-channel ranking signal:
    * order by df DESC for "did you mean".
    *
    * Scale shape — the SymSpell symmetric-delete join, never a
    * vocabulary cross product: both sides expand to their ≤maxEdits
    * DELETION variants ([[deletionKeys]]), candidates meet on an
    * equi-join of variants (query side broadcast), and one
    * codegen'd `levenshtein` pass verifies the exact distance. The
    * vocabulary comes from the MAINTAINED dictionary members
    * ([[vocabFrame]] — dfcap ∪ deltas, vocab-sized; the r15 fix for
    * the per-probe postings scan that was corpus-proportional); the
    * variant blow-up is ×(len+1) per edit on the VOCABULARY's size,
    * not the corpus's. Like df/n_docs, the vocabulary is a corpus
    * statistic: terms of tombstoned docs suggest (and count their df)
    * until compaction — erasure of DOC candidacy is immediate
    * everywhere a doc_id surfaces, but this probe surfaces terms.
    * `asOf` reads a frozen generation's vocabulary. */
  def probeFuzzy(spark: SparkSession, name: String, terms: DataFrame,
      maxEdits: Int = 1, asOf: Option[Long] = None): DataFrame = {
    require(maxEdits == 1 || maxEdits == 2,
      s"maxEdits must be 1 or 2 (Lucene's bound), got $maxEdits")
    val vocab = vocabFrame(spark, name, asOf).select("tok", "df")
    val qt = terms.select(col(terms.columns.head).as("qid"),
      col(terms.columns(1)).as("term")).distinct()
    val vk = vocab.select(col("tok"), col("df"),
      explode(deletionKeys("tok", maxEdits)).as("k"))
    val qk = qt.select(col("qid"), col("term"),
      explode(deletionKeys("term", maxEdits)).as("k"))
    vk.join(broadcast(qk), "k")
      .withColumn("dist", levenshtein(col("term"), col("tok")))
      .filter(col("dist") <= maxEdits)
      .select(col("qid"), col("term"), col("tok").as("suggestion"),
        col("dist"), col("df"))
      .distinct()
  }

  /** Remove the whole family + tombstones — fixture/test reset. */
  def destroy(spark: SparkSession, name: String): Unit = {
    Generations.destroy(spark, name, Members)
    Tombstones.destroy(spark, name)
  }
}
