package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Dedup, Frontier, Packing, Sampling, Sharding}

/** End-to-end training-corpus preparation: the whole LLM data pipeline
  * as ONE composed query, proving the operators chain — quality gate →
  * exact dedup → benchmark decontamination → temperature-rebalanced
  * mixture → sequence packing (p01), plus the deterministic-shuffle
  * variant that packs in permuted order (p02, the order a trainer
  * actually consumes). Every stage is individually oracle-exact (t04,
  * d01, d10, q27, q29, t11), so the compositions hash-check end to end
  * as well; the output is the final packed corpus layout a trainer
  * would read.
  *
  * Scale: the chain is filters + one dedup shuffle + a broadcast probe
  * + a narrow gate + the two-phase prefix scan — no stage introduces a
  * plan shape beyond what its standalone query already pinned.
  *
  * The two multi-consumer frontiers are pinned with [[Frontier.pin]]:
  * `deduped` feeds both the decontamination shingle pass and the
  * survivor join, `clean` feeds both the mixture-rate count and the
  * sampling gate. Without the pins Spark re-evaluates the whole
  * upstream lineage (quality filter + fingerprint chain, then the
  * shingle probe) once per consumer — at sf0.1 that tripled p01's
  * cost vs its stage sum; at 100 TB it re-reads the corpus. With
  * them, each stage runs exactly once and downstream stages read the
  * materialized frontier (PlanSpec pins the final plan's leaf set);
  * `graft.pin.reliable` upgrades every pin to a fault-tolerant
  * checkpoint so an executor loss doesn't kill a cluster-scale run
  * (FrontierSpec proves the reliable mode stays row-identical).
  */
object CorpusPrep {

  /** Stages 1–3 (quality → dedup → decontamination), ending at the
    * pinned `clean` (doc_id, text, lang) frontier every downstream
    * mixture variant consumes. */
  private def cleanDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // 1. quality gate (t04 scoring)
    val quality = docs.filter(length(trim(col("text"))) > 0)
      .filter(TextFunctions.quality(col("text"), col("n_chars")) >= 0.5)
    // 2. exact dedup — survivor = min doc_id per fingerprint
    val survivors = Dedup.exactDedup(quality).select("doc_id")
    val deduped = Frontier.pin(quality.join(survivors, "doc_id"))
    // 3. drop docs sharing an 8-gram with the benchmark set
    val evalSet = docs.filter(col("doc_id") % 17 === 0)
    Frontier.pin(deduped.join(
      Dedup.decontaminate(deduped, evalSet)
        .filter(!col("contaminated")).select("doc_id"), "doc_id"))
  }

  /** Stages 1–4 (… → temperature mixture), ending at the
    * (doc_id, n_tokens) frame p01/p02's packing consumes. */
  private def preppedTokens(s: SparkSession, dir: String): DataFrame =
    // 4. temperature-rebalanced language mixture (q27 gate)
    Sampling.temperatureRebalance(cleanDocs(s, dir), col("doc_id"),
        col("lang"), salt = "prep1")
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))

  /** Oracle CTEs for stages 1–3, ending at `clean(doc_id, text, lang)`. */
  private val sqlThroughClean =
    s"""WITH q AS (SELECT doc_id, text, lang FROM documents
        WHERE length(trim(text)) > 0
          AND ${TextFunctions.sqlQuality("text", "n_chars")} >= 0.5),
      g AS (SELECT doc_id, text, lang, row_number() OVER (
          PARTITION BY ${TextFunctions.sqlFingerprint("text")}
          ORDER BY doc_id) AS rn FROM q),
      s AS (SELECT doc_id, text, lang FROM g WHERE rn = 1),
      ${Dedup.sqlShinglesCte("s", 8)},
      etoks AS (SELECT doc_id, ${TextFunctions.sqlTokens("text")} AS tk
        FROM documents WHERE doc_id % 17 = 0),
      eshi AS (SELECT doc_id, tk,
          unnest(range(0, greatest(len(tk) - 7, 1))) AS i FROM etoks),
      ev AS (SELECT DISTINCT array_to_string(tk[i + 1:i + 8], ' ') AS sh
        FROM eshi),
      cont AS (SELECT DISTINCT sh.doc_id FROM sh JOIN ev USING (sh)),
      clean AS (SELECT * FROM s
        WHERE doc_id NOT IN (SELECT doc_id FROM cont))"""

  /** Oracle CTEs for stages 1–4, ending at `t(doc_id, n_tokens)`. */
  private val sqlThroughTokens =
    s"""$sqlThroughClean,
      cnt AS (SELECT lang, count(*) AS c FROM clean GROUP BY lang),
      m AS (SELECT min(c) AS cmin FROM cnt),
      r AS (SELECT lang, CAST(floor(sqrt(CAST(cmin AS DOUBLE)
          / CAST(c AS DOUBLE)) * 65536) AS INT) AS thr FROM cnt, m),
      samp AS (SELECT clean.* FROM clean JOIN r USING (lang)
        WHERE thr = 65536 OR
          substr(md5(CAST(doc_id AS VARCHAR) || ':prep1'), 1, 4) <
            lower(lpad(hex(thr), 4, '0'))),
      t AS (SELECT doc_id,
          CAST(${TextFunctions.sqlTokenCount("text")} AS BIGINT) AS n_tokens
        FROM samp)"""

  /** p02's packed frame — prepped tokens in deterministic-shuffle
    * order, packed by the two-phase scan, doc_id joined back over the
    * 1:1 position — before presentation ordering; feeds p02 and the
    * p04 shard writer. */
  private def shuffledPack(s: SparkSession, dir: String): DataFrame = {
    val shuffled = Sampling.deterministicShuffle(
      preppedTokens(s, dir), col("doc_id"), salt = "prep2")
    Packing.packPlan(
        shuffled.select(col("shuffle_pos"), col("n_tokens")),
        "shuffle_pos", "n_tokens", budget = 256)
      .join(shuffled.select(col("doc_id"), col("shuffle_pos")),
        "shuffle_pos")
  }

  /** Oracle CTEs through p02's pack, ending at
    * `c(doc_id, shuffle_pos, n_tokens, start_tok)`. */
  private val sqlThroughShuffledPack =
    s"""$sqlThroughTokens,
        sh2 AS (SELECT doc_id, n_tokens,
            CAST(row_number() OVER (ORDER BY
                substr(md5(CAST(doc_id AS VARCHAR) || ':prep2'), 1, 13),
                doc_id) - 1 AS BIGINT) AS shuffle_pos
          FROM t),
        c AS (SELECT doc_id, shuffle_pos, n_tokens,
            CAST(COALESCE(sum(n_tokens) OVER (ORDER BY shuffle_pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              AS start_tok
          FROM sh2)"""

  // ---- p07 fixtures: d13's two-night ingest, with lang/n_chars ------
  // carried so the quality and budget stages have their inputs. Night
  // A (+1e9): 250 lightly-edited corpus replays (near-dups, drop) + 50
  // fresh docs (survive). Night B (+2e9): 50 exact copies of A's fresh
  // (drop iff A's append landed) + 100 replays of corpus docs 300-399
  // (drop iff the originals survived maintenance) + 50 novel docs
  // (survive).
  private val P07Budget = 150L

  private def nightA7(docs: DataFrame): DataFrame = {
    val near = docs.filter(col("doc_id") < 250)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        concat(col("text"), lit(" zz edit marker token pad")).as("text"),
        col("lang"), col("n_chars"))
    val fresh = docs.filter(col("doc_id") >= 250 && col("doc_id") < 300)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        concat(lit("brand new document number "), col("doc_id").cast("string"),
          lit(" with totally unseen vocabulary alpha beta gamma delta" +
            " epsilon zeta eta theta")).as("text"),
        col("lang"), col("n_chars"))
    near.unionByName(fresh)
  }

  private def nightB7(docs: DataFrame): DataFrame = {
    val copies = docs.filter(col("doc_id") >= 250 && col("doc_id") < 300)
      .select((col("doc_id") + 2000000000L).as("doc_id"),
        concat(lit("brand new document number "), col("doc_id").cast("string"),
          lit(" with totally unseen vocabulary alpha beta gamma delta" +
            " epsilon zeta eta theta")).as("text"),
        col("lang"), col("n_chars"))
    val replays = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      .select((col("doc_id") + 2000000000L).as("doc_id"),
        concat(col("text"), lit(" zz edit marker token pad")).as("text"),
        col("lang"), col("n_chars"))
    val fresh = docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
      .select((col("doc_id") + 2000000000L).as("doc_id"),
        concat(lit("second night novel document "), col("doc_id").cast("string"),
          lit(" with different unseen vocabulary nu xi omicron pi rho" +
            " sigma tau upsilon phi chi")).as("text"),
        col("lang"), col("n_chars"))
    copies.unionByName(replays).unionByName(fresh)
  }

  /** p07's chained oracle: quality → two-night exact-Jaccard survivors
    * → resumed per-lang budget scan → global pack prefix → shard
    * manifest. Night-B doc ids all exceed night-A's, so the pack order
    * (night, doc_id) collapses to doc_id.
    *
    * Parameterized for p09's takedown variant: `budget` is the
    * per-lang token budget, `delWhere` (a doc_id predicate) drops the
    * deleted docs' assignment rows AFTER the whole chain — exactly
    * what a takedown does: budget stays consumed (no refund; history
    * is append-only), offsets keep their holes, only the shard rows
    * vanish. */
  /** The chain through the ADMITTED set — `kept` (night, doc_id,
    * n_tokens) — shared by the manifest oracles (p07/p08/p09) and the
    * nightly-lex oracle (p10, which joins kept back to the night
    * texts instead of packing it). No WITH prefix; the caller
    * composes. */
  private def sqlP07KeptCtes(budget: Long): String =
    s"""ba AS (
        SELECT doc_id + 1000000000 AS doc_id,
            text || ' zz edit marker token pad' AS text, lang, n_chars
          FROM documents WHERE doc_id < 250
        UNION ALL SELECT doc_id + 1000000000,
            'brand new document number ' || CAST(doc_id AS VARCHAR) ||
            ' with totally unseen vocabulary alpha beta gamma delta' ||
            ' epsilon zeta eta theta', lang, n_chars
          FROM documents WHERE doc_id >= 250 AND doc_id < 300),
      bb AS (
        SELECT doc_id + 2000000000 AS doc_id,
            'brand new document number ' || CAST(doc_id AS VARCHAR) ||
            ' with totally unseen vocabulary alpha beta gamma delta' ||
            ' epsilon zeta eta theta' AS text, lang, n_chars
          FROM documents WHERE doc_id >= 250 AND doc_id < 300
        UNION ALL SELECT doc_id + 2000000000,
            text || ' zz edit marker token pad', lang, n_chars
          FROM documents WHERE doc_id >= 300 AND doc_id < 400
        UNION ALL SELECT doc_id + 2000000000,
            'second night novel document ' || CAST(doc_id AS VARCHAR) ||
            ' with different unseen vocabulary nu xi omicron pi rho' ||
            ' sigma tau upsilon phi chi', lang, n_chars
          FROM documents WHERE doc_id >= 400 AND doc_id < 450),
      qa AS (SELECT * FROM ba WHERE length(trim(text)) > 0
        AND ${TextFunctions.sqlQuality("text", "n_chars")} >= 0.5),
      qb AS (SELECT * FROM bb WHERE length(trim(text)) > 0
        AND ${TextFunctions.sqlQuality("text", "n_chars")} >= 0.5),
      d3 AS (SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM qa
        UNION ALL SELECT doc_id, text FROM qb),
      ${Dedup.sqlJaccardCtes("d3")},
      dupa AS (SELECT DISTINCT id_b AS doc_id FROM jp
        WHERE id_a < 1000000000
          AND id_b >= 1000000000 AND id_b < 2000000000),
      sva AS (SELECT doc_id FROM qa
        WHERE doc_id NOT IN (SELECT doc_id FROM dupa)),
      dupb AS (SELECT DISTINCT id_b AS doc_id FROM jp
        WHERE id_b >= 2000000000
          AND (id_a < 1000000000 OR id_a IN (SELECT doc_id FROM sva))),
      svb AS (SELECT doc_id FROM qb
        WHERE doc_id NOT IN (SELECT doc_id FROM dupb)),
      sv AS (
        SELECT 1 AS night, q.doc_id, q.lang,
            CAST(${TextFunctions.sqlTokenCount("q.text")} AS BIGINT)
              AS n_tokens,
            substr(md5(CAST(q.doc_id AS VARCHAR) || ':p07b'), 1, 13) AS h
          FROM qa q JOIN sva USING (doc_id)
        UNION ALL SELECT 2, q.doc_id, q.lang,
            CAST(${TextFunctions.sqlTokenCount("q.text")} AS BIGINT),
            substr(md5(CAST(q.doc_id AS VARCHAR) || ':p07b'), 1, 13)
          FROM qb q JOIN svb USING (doc_id)),
      cm AS (SELECT night, doc_id, n_tokens,
          CAST(sum(n_tokens) OVER (PARTITION BY lang
            ORDER BY night, h, doc_id) AS BIGINT) AS cum
        FROM sv),
      kept AS (SELECT night, doc_id, n_tokens FROM cm
        WHERE cum <= $budget)"""

  private def sqlP07ManifestWith(budget: Long,
      delWhere: Option[String]): String = {
    val ovSrc = delWhere.fold("ov")(w =>
      s"(SELECT * FROM ov WHERE NOT ($w))")
    s"""WITH ${sqlP07KeptCtes(budget)},
      pk AS (SELECT doc_id, n_tokens,
          CAST(COALESCE(sum(n_tokens) OVER (ORDER BY night, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS start_tok
        FROM kept),
      sp AS (SELECT doc_id, n_tokens, start_tok,
          start_tok // 256 AS shard_first,
          greatest(start_tok // 256,
            (start_tok + n_tokens - 1) // 256) AS shard_last
        FROM pk),
      ex AS (SELECT doc_id, n_tokens, start_tok,
          unnest(range(shard_first, shard_last + 1)) AS shard FROM sp),
      ov AS (SELECT shard, doc_id,
          least((shard + 1) * 256, start_tok + n_tokens) -
            greatest(shard * 256, start_tok) AS tok_in_shard FROM ex)
      SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
        CAST(sum(tok_in_shard) AS BIGINT) AS n_tokens,
        CAST(min(doc_id) AS BIGINT) AS min_pos,
        CAST(max(doc_id) AS BIGINT) AS max_pos
      FROM $ovSrc GROUP BY shard ORDER BY shard NULLS FIRST"""
  }

  private val sqlP07Manifest: String =
    sqlP07ManifestWith(P07Budget, None)

  /** p09: the same two nights at an everything-admits budget, with a
    * night-B takedown of two night-A docs and one night-B doc. */
  private val P09Budget = 100000L
  private val P09Deleted = Seq(1000000251L, 1000000257L, 2000000401L)

  /** p10's oracle: the retrieval-facing view of the composed loop —
    * the maintained LEXICAL index after two nights + the p09 takedown
    * + the fold-in erasure compaction must probe exactly like s30's
    * one-shot lexical scorer over (base corpus ∪ admitted nights)
    * minus the deleted docs. Reuses the p07/p09 `kept` chain for the
    * admitted set and the s30-family lexical CTEs (the proven-portable
    * sqrt-chain-ln BM25 text) over the chained corpus. */
  private val sqlP10NightlyLex: String =
    s"""WITH ${sqlP07KeptCtes(P09Budget)},
      nightdocs AS (SELECT doc_id, text FROM qa
        UNION ALL SELECT doc_id, text FROM qb),
      lexsrc AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT k.doc_id, q.text
          FROM kept k JOIN nightdocs q USING (doc_id)
          WHERE k.doc_id NOT IN (${P09Deleted.mkString(", ")})),
      ${graft.operators.HybridRetrieval.lexicalOracleCtes(
        "lexsrc", "doc_id < 8", 20)}
      SELECT qid, doc_id, lex_rank, lex_scaled FROM lex
      ORDER BY qid NULLS FIRST, lex_rank NULLS FIRST"""

  /** p11's oracle: the composed loop's FULL production serve path —
    * one query against BOTH maintained artifacts after two nights, the
    * takedown and the fold-in compaction. The lexical side is p10's
    * chained-corpus text; the vector side replays the loop's ANN index
    * through [[graft.operators.PortableIvf]] with the two relation
    * roles SPLIT the way the lifecycle split them: the model trains on
    * the BASE corpus (`bvec` — the index was built before the nights,
    * and the loop never retrains here), while assignment, codes,
    * queries and the exact re-rank run over the SURVIVING corpus
    * (`svec` = base ∪ admitted − deleted) — the frozen-model
    * semantics of a maintained index. Embeddings are the md5-derived
    * portable synth (bit-identical per row in both engines), so the
    * whole serve answer — RRF fusion included — is one hash row. */
  private def sqlNightlyHybridOracle(trainRel: String,
      nCells: Int = 8): String = {
    import graft.functions.VectorFunctions.portableSynthEmbeddingSql
    val ivf = graft.operators.PortableIvf.ivfPqOracleSql(
      dim = 16, k = 20, nCells = nCells, nprobe = 4, m = 8, ksub = 16,
      shortlist = 60, a => s"$a.vec_id < 8",
      trainRel = trainRel, corpusRel = "svec")
    // rvec: the RETRAIN-TIME corpus (p12) — base ∪ night A's admitted
    // set, before any takedown exists; harmless extra CTE for p11
    s"""WITH ${sqlP07KeptCtes(P09Budget)},
      nightdocs AS (SELECT doc_id, text FROM qa
        UNION ALL SELECT doc_id, text FROM qb),
      lexsrc AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT k.doc_id, q.text
          FROM kept k JOIN nightdocs q USING (doc_id)
          WHERE k.doc_id NOT IN (${P09Deleted.mkString(", ")})),
      bvec AS MATERIALIZED (SELECT doc_id AS vec_id,
          ${portableSynthEmbeddingSql("doc_id", 16)} AS embedding
        FROM documents),
      rvec AS MATERIALIZED (SELECT doc_id AS vec_id,
          ${portableSynthEmbeddingSql("doc_id", 16)} AS embedding
        FROM (SELECT doc_id FROM documents
          UNION ALL SELECT doc_id FROM kept WHERE night = 1)),
      svec AS MATERIALIZED (SELECT doc_id AS vec_id,
          ${portableSynthEmbeddingSql("doc_id", 16)} AS embedding
        FROM lexsrc),
      ${graft.operators.HybridRetrieval.lexicalOracleCtes(
        "lexsrc", "doc_id < 8", 20)},
      vec AS MATERIALIZED (SELECT qid, vec_id AS doc_id,
          rank AS vec_rank FROM ($ivf)),
      ${graft.operators.HybridRetrieval.fusionTailSql(10, c = 60)}"""
  }

  private val sqlP11NightlyHybrid: String = sqlNightlyHybridOracle("bvec")

  /** p15's fixture: doc ids 100–119 re-crawled with REPLACEMENT text
    * (novel vocabulary, so admission is trivially clean and the oracle
    * needs no dedup/budget replay), plus 30 genuinely new docs — a
    * mixed update night. */
  private val P15RevWhere = "doc_id >= 100 AND doc_id < 120"
  // parameterized on the string-cast spelling: Spark says STRING,
  // DuckDB says VARCHAR — the produced text is byte-identical
  private def p15RevText(cast: String) =
    "'revised document number ' || " +
    s"CAST(doc_id AS $cast) || ' with replacement vocabulary lambda " +
    "kappa sigma tau upsilon phi chi psi omega'"
  private def p15AddText(cast: String) =
    "'p15 added document number ' || " +
    s"CAST(doc_id AS $cast) || ' with fresh vocabulary alef bet " +
    "gimel dalet he vav zayin chet'"

  /** p15's oracle: the serve after a one-night replace must equal a
    * FRESH BUILD over the revised corpus — documents with the revised
    * ids' text REPLACED (not duplicated: a leaked old version, a
    * both-versions state, or a dropped re-ingest all flip the hash)
    * plus the night's admitted adds. The ANN replay keeps the
    * lifecycle's relation split: the model trains on the BASE corpus
    * (the loop never retrains here — purge and re-encode ride the
    * frozen model), serving runs over the survivors. */
  private val sqlP15UpdateServe: String = {
    import graft.functions.VectorFunctions.portableSynthEmbeddingSql
    val ivf = graft.operators.PortableIvf.ivfPqOracleSql(
      dim = 16, k = 20, nCells = 8, nprobe = 4, m = 8, ksub = 16,
      shortlist = 60, a => s"$a.vec_id < 8",
      trainRel = "bvec", corpusRel = "svec")
    s"""WITH lexsrc AS MATERIALIZED (
        SELECT doc_id, text FROM documents WHERE NOT ($P15RevWhere)
        UNION ALL SELECT doc_id, ${p15RevText("VARCHAR")}
          FROM documents WHERE $P15RevWhere
        UNION ALL SELECT doc_id + 3000000000, ${p15AddText("VARCHAR")}
          FROM documents WHERE doc_id >= 250 AND doc_id < 280),
      bvec AS MATERIALIZED (SELECT doc_id AS vec_id,
          ${portableSynthEmbeddingSql("doc_id", 16)} AS embedding
        FROM documents),
      svec AS MATERIALIZED (SELECT doc_id AS vec_id,
          ${portableSynthEmbeddingSql("doc_id", 16)} AS embedding
        FROM lexsrc),
      ${graft.operators.HybridRetrieval.lexicalOracleCtes(
        "lexsrc", "doc_id < 8", 20)},
      vec AS MATERIALIZED (SELECT qid, vec_id AS doc_id,
          rank AS vec_rank FROM ($ivf)),
      ${graft.operators.HybridRetrieval.fusionTailSql(10, c = 60)}"""
  }

  /** The shared p11/p12 body: the composed loop (base builds, night A,
    * optional retrain, night B + takedown, fold-in compaction) then
    * the two-sided serve — lex probe + ANN probe + RRF. */
  private val HybridSynthExpr =
    graft.functions.VectorFunctions.portableSynthEmbedding("doc_id", 16)

  /** Base builds of all four artifacts over the portable-synth vectors
    * — the shared front of p11/p12/p13. */
  private def nightlyLoopBase(s: SparkSession, dir: String, tag: String,
      embed: org.apache.spark.sql.Column = expr(HybridSynthExpr)):
      (graft.streaming.StreamingNightlyIngest.Artifacts, DataFrame) = {
    import graft.streaming.StreamingNightlyIngest
    val docs = Tables(s, dir, "documents")
    val arts = StreamingNightlyIngest.Artifacts(s"graft_${tag}_nd",
      s"graft_${tag}_ann", s"graft_${tag}_anncorpus",
      s"graft_${tag}_budget",
      new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_${tag}_shards").getAbsolutePath)
    graft.operators.Generations.destroy(s, arts.annCorpusTable, Seq("vecs"))
    graft.operators.Generations.destroy(s,
      StreamingNightlyIngest.deletedTable(arts), Seq("ids"))
    graft.operators.Generations.destroy(s, arts.budgetTable, Seq("state"))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(arts.shardPath))
    val corpusVecs = docs.select(col("doc_id"))
      .withColumn("embedding", embed)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    // four independent base builds over disjoint families — overlapped
    // per guide §2.6 (Par doc)
    graft.operators.Par.run(s, Seq(
      () => Dedup.writeNearDupIndex(
        docs.select(col("doc_id"), col("text")), arts.ndIndex),
      () => graft.operators.AnnIndex.writeAnnIndex(corpusVecs,
        arts.annIndex, nCells = 8, m = 8, ksub = 16),
      () => StreamingNightlyIngest.writeCorpus(s, arts, corpusVecs),
      () => graft.operators.LexIndex.writeLexIndex(
        docs.select(col("doc_id"), col("text")),
        StreamingNightlyIngest.lexName(arts))))
    (arts, docs)
  }

  /** The two-sided serve over the loop's maintained indexes — the
    * shared tail of p11/p12/p13 (`asOf` = the per-family snapshot
    * generations for p13's time-travel variant). */
  private def hybridServe(s: SparkSession,
      arts: graft.streaming.StreamingNightlyIngest.Artifacts,
      docs: DataFrame, asOfLex: Option[Long] = None,
      asOfAnn: Option[Long] = None,
      extraQueries: Option[DataFrame] = None): DataFrame = {
    import graft.streaming.StreamingNightlyIngest
    val queries0 = docs.filter(col("doc_id") < 8)
      .select(col("doc_id"), col("text"))
    val queries = extraQueries.fold(queries0)(queries0.unionByName(_))
    // the lexical leg rides the BOUNDED scorer (r16 ask: MaxScore in
    // the production serve paths end to end) — bit-identical output,
    // bounded reads at scale; below the pushdown floor it IS the full
    // probe, so the fixture-scale hash rows are untouched
    val lex = graft.operators.LexIndex.probeLexIndexMaxScore(s,
      StreamingNightlyIngest.lexName(arts), queries, kEach = 20,
      asOf = asOfLex)
    val qv = queries.select(col("doc_id"))
      .withColumn("embedding", expr(HybridSynthExpr))
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val vec = graft.operators.AnnIndex.probeQueries(s, arts.annIndex,
        qv, rerank = StreamingNightlyIngest.corpus(s, arts), k = 20,
        asOf = asOfAnn)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rank").as("vec_rank"))
    graft.operators.HybridRetrieval.rrfFuse(lex, vec, 10)
      .orderBy("qid", "rank")
  }

  private def nightlyHybridServe(s: SparkSession, dir: String,
      tag: String, retrainAfterNightA: Boolean): DataFrame = {
    import graft.streaming.StreamingNightlyIngest
    import s.implicits._
    val (arts, docs) = nightlyLoopBase(s, dir, tag)
    StreamingNightlyIngest.nightStep(arts,
      nightA7(docs).withColumn("embedding", expr(HybridSynthExpr)),
      budget = P09Budget, salt = "p07b", tokensPerShard = 256L,
      batchId = 0)
    if (retrainAfterNightA)
      graft.operators.AnnIndex.retrainAnnIndex(s, arts.annIndex,
        StreamingNightlyIngest.retrainCorpus(s, arts),
        nCells = Some(16))
    StreamingNightlyIngest.nightStep(arts,
      nightB7(docs).withColumn("embedding", expr(HybridSynthExpr)),
      budget = P09Budget, salt = "p07b", tokensPerShard = 256L,
      batchId = 1, deletes = Some(P09Deleted.toDF("doc_id")))
    StreamingNightlyIngest.compactAll(s, arts)
    hybridServe(s, arts, docs)
  }

  /** p12's oracle: p11 with the model re-anchored MID-LIFECYCLE — a
    * RESIZE retrain (nCells 8 → 16, the r11 sizing rule's actuator:
    * the corpus grew, so the cell layout grows with it) after night A,
    * trained on `rvec` (base ∪ night A's admitted set), night B's
    * appends encoding under the NEW model, and the serve replaying
    * with trainRel = rvec at the new cell count. */
  private val sqlP12RetrainServe: String =
    sqlNightlyHybridOracle("rvec", nCells = 16)

  /** p13's oracle: the composed AS-OF serve with erasure overriding
    * history. The snapshot corpus is base ∪ night A's FULL admitted
    * set (`asrc` — the later-deleted docs ARE in the snapshot); the
    * lexical side scores with the SNAPSHOT's statistics but excludes
    * the deleted ids from candidacy only (probeLexIndex's tombstone
    * semantics — df/n_docs keep pre-delete values until a compaction
    * makes erasure physical and statistical at once); the ANN side
    * excludes them before scoring (probeQueries' anti-join), which is
    * exactly a corpus relation without them (`asvec`) since per-row
    * cell assignment and ADC scores don't depend on other rows. */
  private val sqlP13AsofServe: String = {
    import graft.functions.VectorFunctions.portableSynthEmbeddingSql
    val ivf = graft.operators.PortableIvf.ivfPqOracleSql(
      dim = 16, k = 20, nCells = 8, nprobe = 4, m = 8, ksub = 16,
      shortlist = 60,
      a => s"($a.vec_id < 8 OR $a.vec_id = 1000000250)",
      trainRel = "bvec", corpusRel = "asvec")
    s"""WITH ${sqlP07KeptCtes(P09Budget)},
      asrc AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT k.doc_id, q.text
          FROM kept k JOIN qa q USING (doc_id)
          WHERE k.night = 1),
      bvec AS MATERIALIZED (SELECT doc_id AS vec_id,
          ${portableSynthEmbeddingSql("doc_id", 16)} AS embedding
        FROM documents),
      asvec AS MATERIALIZED (SELECT doc_id AS vec_id,
          ${portableSynthEmbeddingSql("doc_id", 16)} AS embedding
        FROM asrc WHERE doc_id NOT IN (${P09Deleted.mkString(", ")})),
      ${graft.operators.HybridRetrieval.lexicalOracleCtes(
        "asrc", "(doc_id < 8 OR doc_id = 1000000250)", 20,
        candDelIds = P09Deleted)},
      vec AS MATERIALIZED (SELECT qid, vec_id AS doc_id,
          rank AS vec_rank FROM ($ivf)),
      ${graft.operators.HybridRetrieval.fusionTailSql(10, c = 60)}"""
  }

  val all: Seq[Q] = Seq(

    Q("p01_corpus_prep",
      (s, dir) =>
        // 5. pack into 256-token training sequences (t11 scan)
        Packing.packPlan(preppedTokens(s, dir), "doc_id", "n_tokens",
            budget = 256)
          .orderBy("doc_id"),
      Some(s"""$sqlThroughTokens,
        c AS (SELECT doc_id, n_tokens,
            CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              AS start_tok
          FROM t)
        SELECT doc_id, n_tokens, start_tok,
          start_tok // 256 AS seq_first,
          greatest(start_tok // 256, (start_tok + n_tokens - 1) // 256) AS seq_last,
          CAST(start_tok % 256 AS INT) AS seq_offset
        FROM c ORDER BY doc_id NULLS FIRST""")),

    // ---- p02: the trainer's actual order — shuffle THEN pack ---------
    // p01 packs in doc_id order; a real pipeline shuffles first (data
    // order is a hyperparameter) and packs in permuted order. q29's
    // deterministic shuffle assigns positions, t11's two-phase scan
    // packs keyed on them, doc_id joins back over the 1:1 position —
    // q29 and t11 provably compose, and the whole 6-stage chain stays
    // hash-exact against the chained oracle.
    Q("p02_shuffled_pack",
      (s, dir) =>
        shuffledPack(s, dir)
          .select(col("doc_id"), col("shuffle_pos"), col("n_tokens"),
            col("start_tok"), col("seq_first"), col("seq_last"),
            col("seq_offset"))
          .orderBy("doc_id"),
      Some(s"""$sqlThroughShuffledPack
        SELECT doc_id, shuffle_pos, n_tokens, start_tok,
          start_tok // 256 AS seq_first,
          greatest(start_tok // 256, (start_tok + n_tokens - 1) // 256) AS seq_last,
          CAST(start_tok % 256 AS INT) AS seq_offset
        FROM c ORDER BY doc_id NULLS FIRST""")),

    // ---- p03: the token-budget pipeline — "N tokens per language" ----
    // The mixture spec a trainer actually writes: after quality/dedup/
    // decontamination, keep each language's docs in deterministic hash
    // order until 2000 cumulative tokens (q30's two-phase scan — exact
    // to within one doc, vs q27's in-expectation rates), then shuffle
    // and pack the kept set. Three two-phase scans chained (budget →
    // shuffle → pack), every boundary pinned; the 6-stage composition
    // stays hash-exact against the chained windowed oracle.
    Q("p03_budget_pack",
      (s, dir) => {
        val kept = Sampling.tokenBudgetSample(cleanDocs(s, dir),
            col("doc_id"), col("lang"),
            TextFunctions.tokenCount(col("text")),
            budget = 2000L, salt = "prep3")
          .select(col("doc_id"), col("stratum").as("lang"), col("n_tokens"))
        val shuffled = Sampling.deterministicShuffle(kept, col("doc_id"),
          salt = "prep3s")
        Packing.packPlan(
            shuffled.select(col("shuffle_pos"), col("n_tokens")),
            "shuffle_pos", "n_tokens", budget = 256)
          .join(shuffled.select(col("doc_id"), col("lang"),
            col("shuffle_pos")), "shuffle_pos")
          .select(col("doc_id"), col("lang"), col("shuffle_pos"),
            col("n_tokens"), col("start_tok"), col("seq_first"),
            col("seq_last"), col("seq_offset"))
          .orderBy("doc_id")
      },
      Some(s"""$sqlThroughClean,
        tb AS (SELECT doc_id, lang,
            CAST(${TextFunctions.sqlTokenCount("text")} AS BIGINT) AS n_tokens,
            substr(md5(CAST(doc_id AS VARCHAR) || ':prep3'), 1, 13) AS h
          FROM clean),
        kb AS (SELECT doc_id, lang, n_tokens,
            CAST(sum(n_tokens) OVER (PARTITION BY lang
              ORDER BY h, doc_id) AS BIGINT) AS cum
          FROM tb),
        kept AS (SELECT doc_id, lang, n_tokens FROM kb WHERE cum <= 2000),
        sh3 AS (SELECT doc_id, lang, n_tokens,
            CAST(row_number() OVER (ORDER BY
                substr(md5(CAST(doc_id AS VARCHAR) || ':prep3s'), 1, 13),
                doc_id) - 1 AS BIGINT) AS shuffle_pos
          FROM kept),
        c AS (SELECT doc_id, lang, shuffle_pos, n_tokens,
            CAST(COALESCE(sum(n_tokens) OVER (ORDER BY shuffle_pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              AS start_tok
          FROM sh3)
        SELECT doc_id, lang, shuffle_pos, n_tokens, start_tok,
          start_tok // 256 AS seq_first,
          greatest(start_tok // 256, (start_tok + n_tokens - 1) // 256) AS seq_last,
          CAST(start_tok % 256 AS INT) AS seq_offset
        FROM c ORDER BY doc_id NULLS FIRST""")),

    // ---- p04: the shard writer — packed stream → trainer layout ------
    // The last hop a real pipeline runs: p02's packed order is cut
    // into 2048-token shards (8 × 256-token sequences), WRITTEN as one
    // directory per shard (dynamic partition layout, one file each —
    // the streaming-dataset unit of I/O and resume), and the query's
    // result is the per-shard manifest computed from the files READ
    // BACK — the round trip through disk is under test, not just the
    // assignment arithmetic. Docs spanning a shard boundary carry the
    // exact token overlap, so manifest token counts tile the corpus
    // (ShardingSpec asserts; the chained oracle hash-checks the whole
    // 7-stage composition end to end).
    Q("p04_training_shards",
      (s, dir) => {
        // pinned: writeShards consumes the assignments twice (empty
        // probe + the write job), and the shuffle/pack windows cannot
        // short-circuit under a limit — without the pin the chain's
        // window stages run once per consumer (SCALE.md's round-11
        // shard-write profile A/B)
        val packed = Frontier.pin(shuffledPack(s, dir)
          .select(col("doc_id"), col("shuffle_pos"), col("n_tokens"),
            col("start_tok")))
        val assign = Sharding.shardAssignments(packed, tokensPerShard = 2048L)
        val path = new java.io.File(
          sys.props("java.io.tmpdir"), "graft_p04_shards").getAbsolutePath
        val back = Sharding.writeShards(assign, path)
        Sharding.manifest(back, "shuffle_pos")
          // partition-column type inference narrows `shard` to INT on
          // read-back; restore the operator's LONG for the oracle
          .withColumn("shard", col("shard").cast("long"))
          .orderBy("shard")
      },
      Some(s"""$sqlThroughShuffledPack,
        sp AS (SELECT doc_id, shuffle_pos, n_tokens, start_tok,
            start_tok // 2048 AS shard_first,
            greatest(start_tok // 2048,
              (start_tok + n_tokens - 1) // 2048) AS shard_last
          FROM c),
        ex AS (SELECT doc_id, shuffle_pos, n_tokens, start_tok,
            unnest(range(shard_first, shard_last + 1)) AS shard FROM sp),
        ov AS (SELECT shard, shuffle_pos,
            least((shard + 1) * 2048, start_tok + n_tokens) -
              greatest(shard * 2048, start_tok) AS tok_in_shard FROM ex)
        SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
          CAST(sum(tok_in_shard) AS BIGINT) AS n_tokens,
          CAST(min(shuffle_pos) AS BIGINT) AS min_pos,
          CAST(max(shuffle_pos) AS BIGINT) AS max_pos
        FROM ov GROUP BY shard ORDER BY shard NULLS FIRST""")),

    // ---- p05: incremental shard APPEND — maintenance, not rebuild ----
    // The d13/d14 story for the trainer layout: the corpus grows, the
    // shard set must not be rewritten. The packed stream is split at
    // the position midpoint; batch A writes the initial layout, batch
    // B (whose offsets continue from A's total by the prefix property
    // of the shuffle order) APPENDS — sealed shards untouched, only
    // the boundary shard rewritten merged (dynamic partition
    // overwrite). Incremental == one-shot by construction, so the
    // manifest hash-checks against the SAME oracle as p04: the gate
    // proves two-step ingest converges to the single-build layout.
    // (ShardingSpec asserts the sealed files are byte-identical and
    // only boundary+ dirs change; the cut is the one driver-side O(1)
    // agg, same class as Packing's P subtotals.)
    Q("p05_shard_append",
      (s, dir) => {
        val pk = Frontier.pin(shuffledPack(s, dir)
          .select(col("doc_id"), col("shuffle_pos"), col("n_tokens"),
            col("start_tok")))
        val cut = pk.agg((count(lit(1)) / 2).cast("long")).collect()(0).getLong(0)
        val a = Sharding.shardAssignments(
          pk.filter(col("shuffle_pos") < cut), tokensPerShard = 2048L)
        val b = Sharding.shardAssignments(
          pk.filter(col("shuffle_pos") >= cut), tokensPerShard = 2048L)
        val path = new java.io.File(
          sys.props("java.io.tmpdir"), "graft_p05_shards").getAbsolutePath
        Sharding.writeShards(a, path)
        val back = Sharding.appendShards(b, path)
        Sharding.manifest(back, "shuffle_pos")
          .withColumn("shard", col("shard").cast("long"))
          .orderBy("shard")
      },
      Some(s"""$sqlThroughShuffledPack,
        sp AS (SELECT doc_id, shuffle_pos, n_tokens, start_tok,
            start_tok // 2048 AS shard_first,
            greatest(start_tok // 2048,
              (start_tok + n_tokens - 1) // 2048) AS shard_last
          FROM c),
        ex AS (SELECT doc_id, shuffle_pos, n_tokens, start_tok,
            unnest(range(shard_first, shard_last + 1)) AS shard FROM sp),
        ov AS (SELECT shard, shuffle_pos,
            least((shard + 1) * 2048, start_tok + n_tokens) -
              greatest(shard * 2048, start_tok) AS tok_in_shard FROM ex)
        SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
          CAST(sum(tok_in_shard) AS BIGINT) AS n_tokens,
          CAST(min(shuffle_pos) AS BIGINT) AS min_pos,
          CAST(max(shuffle_pos) AS BIGINT) AS max_pos
        FROM ov GROUP BY shard ORDER BY shard NULLS FIRST""")),

    // ---- p08: DELETION from the trainer layout — right-to-erasure ----
    // The d21/s23 story for shards: a takedown batch is physically
    // removed from an existing layout by rewriting ONLY the affected
    // shard directories (partition-pruned scan + dynamic overwrite;
    // fully-emptied shards dropped). Surviving rows keep their token
    // offsets — the holes are the proof the rest of the layout was
    // untouched — so the manifest hash-checks against p04's chain with
    // the deleted docs filtered out of the assignment rows.
    Q("p08_shard_deletion",
      (s, dir) => {
        val packed = shuffledPack(s, dir)
          .select(col("doc_id"), col("shuffle_pos"), col("n_tokens"),
            col("start_tok"))
        val assign = Sharding.shardAssignments(packed, tokensPerShard = 2048L)
        val path = new java.io.File(
          sys.props("java.io.tmpdir"), "graft_p08_shards").getAbsolutePath
        Sharding.writeShards(assign, path)
        val del = Tables(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 7 === 3)
        val back = Sharding.deleteFromShards(s, path, del,
          schema = Some(assign.schema))
        Sharding.manifest(back, "shuffle_pos")
          .withColumn("shard", col("shard").cast("long"))
          .orderBy("shard")
      },
      Some(s"""$sqlThroughShuffledPack,
        sp AS (SELECT doc_id, shuffle_pos, n_tokens, start_tok,
            start_tok // 2048 AS shard_first,
            greatest(start_tok // 2048,
              (start_tok + n_tokens - 1) // 2048) AS shard_last
          FROM c WHERE doc_id % 7 <> 3),
        ex AS (SELECT doc_id, shuffle_pos, n_tokens, start_tok,
            unnest(range(shard_first, shard_last + 1)) AS shard FROM sp),
        ov AS (SELECT shard, shuffle_pos,
            least((shard + 1) * 2048, start_tok + n_tokens) -
              greatest(shard * 2048, start_tok) AS tok_in_shard FROM ex)
        SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
          CAST(sum(tok_in_shard) AS BIGINT) AS n_tokens,
          CAST(min(shuffle_pos) AS BIGINT) AS min_pos,
          CAST(max(shuffle_pos) AS BIGINT) AS max_pos
        FROM ov GROUP BY shard ORDER BY shard NULLS FIRST""")),

    // ---- p06: the MULTI-EPOCH pipeline — replicate, then shuffle -----
    // p02 packs one pass over the corpus; a real mixture oversamples
    // high-weight sources ("2.25 epochs of zh") and the copies must
    // NOT sit adjacent — each replica needs an independent position in
    // the global order. q35's epochMix emits (doc, copy_idx) replicas,
    // the deterministic shuffle keys on the synthesized unique
    // doc_id#copy_idx (the non-unique-key caveat in its scaladoc,
    // resolved exactly as prescribed), and the t11 scan packs the
    // replicated stream. Copies of one doc land at unrelated
    // positions because md5 mixes copy_idx into the hash — the
    // 8-stage chain stays hash-exact end to end.
    // ---- p07: the COMPOSED nightly-ingest loop -----------------------
    // Every maintained artifact advanced against the same two nightly
    // batches in dependency order (StreamingNightlyIngest.nightStep):
    // quality gate → near-dup probe/append against the persisted index
    // (d13's two-night fixture, quality-gated) → token-budget gate
    // whose per-lang scan RESUMES across nights via the persisted
    // totals table → ANN append of admitted docs' vectors → pack with
    // offsets continuing from the layout end → shard append. Output =
    // the final trainer-facing shard manifest, hash-checked against a
    // DuckDB chain of the same stages (quality CTEs → exact-Jaccard
    // two-night survivors → one monotone per-lang budget scan ordered
    // (night, hash, id) → global pack prefix → shard tiling). The ANN
    // leg has no SQL twin (engine-specific codes); its maintenance is
    // gated by StreamingNightlyIngestSpec's parity + layout walks.
    Q("p07_nightly_ingest",
      (s, dir) => {
        import graft.streaming.StreamingNightlyIngest
        val docs = Tables(s, dir, "documents")
        val arts = StreamingNightlyIngest.Artifacts("graft_p07_nd",
          "graft_p07_ann", "graft_p07_anncorpus", "graft_p07_budget",
          new java.io.File(sys.props("java.io.tmpdir"),
            "graft_p07_shards").getAbsolutePath)
        // fresh two-night replay per run: clear the corpus table, the
        // budget-state family, and the shard dir (the indexes rebuild
        // through their generation pointers)
        graft.operators.Generations.destroy(s, arts.annCorpusTable,
          Seq("vecs"))
        graft.operators.Generations.destroy(s, arts.budgetTable, Seq("state"))
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
        }
        rm(new java.io.File(arts.shardPath))
        Dedup.writeNearDupIndex(
          docs.select(col("doc_id"), col("text")), arts.ndIndex)
        val corpusVecs = docs.select(col("doc_id"))
          .withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
          .select(col("doc_id").as("vec_id"), col("embedding"))
        graft.operators.AnnIndex.writeAnnIndex(corpusVecs, arts.annIndex,
          nCells = 8, m = 8, ksub = 16)
        StreamingNightlyIngest.writeCorpus(s, arts, corpusVecs)
        Seq(nightA7(docs), nightB7(docs)).foreach { b =>
          StreamingNightlyIngest.nightStep(arts,
            b.withColumn("embedding", StreamingNightlyIngest.synthEmbedding),
            budget = P07Budget, salt = "p07b", tokensPerShard = 256L)
          ()
        }
        val back = s.read.parquet(arts.shardPath)
          .withColumn("shard", col("shard").cast("long"))
        Sharding.manifest(back, "doc_id").orderBy("shard")
      },
      Some(sqlP07Manifest)),

    // ---- p09: the composed loop WITH a takedown night ----------------
    // p07's two nights at an everything-admits budget, with night B
    // also delivering a takedown set: two night-A docs and one doc
    // added-and-deleted within night B. The driver-checked contract:
    // the final manifest equals the p07 chain with the deleted docs'
    // assignment rows filtered out — budget stays consumed (history is
    // append-only, no refund), surviving offsets keep their holes, and
    // the same-night add+delete ends deleted (ingest-then-delete).
    // The index-side effects of the same takedown (tombstones, the
    // durable registry, retrain immunity) are gated by the
    // StreamingNightlyIngestSpec takedown test.
    Q("p09_takedown_ingest",
      (s, dir) => {
        import graft.streaming.StreamingNightlyIngest
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val arts = StreamingNightlyIngest.Artifacts("graft_p09_nd",
          "graft_p09_ann", "graft_p09_anncorpus", "graft_p09_budget",
          new java.io.File(sys.props("java.io.tmpdir"),
            "graft_p09_shards").getAbsolutePath)
        graft.operators.Generations.destroy(s, arts.annCorpusTable,
          Seq("vecs"))
        graft.operators.Generations.destroy(s,
          StreamingNightlyIngest.deletedTable(arts), Seq("ids"))
        graft.operators.Generations.destroy(s, arts.budgetTable, Seq("state"))
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
        }
        rm(new java.io.File(arts.shardPath))
        Dedup.writeNearDupIndex(
          docs.select(col("doc_id"), col("text")), arts.ndIndex)
        val corpusVecs = docs.select(col("doc_id"))
          .withColumn("embedding", StreamingNightlyIngest.synthEmbedding)
          .select(col("doc_id").as("vec_id"), col("embedding"))
        graft.operators.AnnIndex.writeAnnIndex(corpusVecs, arts.annIndex,
          nCells = 8, m = 8, ksub = 16)
        StreamingNightlyIngest.writeCorpus(s, arts, corpusVecs)
        StreamingNightlyIngest.nightStep(arts,
          nightA7(docs).withColumn("embedding",
            StreamingNightlyIngest.synthEmbedding),
          budget = P09Budget, salt = "p07b", tokensPerShard = 256L,
          batchId = 0)
        StreamingNightlyIngest.nightStep(arts,
          nightB7(docs).withColumn("embedding",
            StreamingNightlyIngest.synthEmbedding),
          budget = P09Budget, salt = "p07b", tokensPerShard = 256L,
          batchId = 1, deletes = Some(P09Deleted.toDF("doc_id")))
        val back = s.read.parquet(arts.shardPath)
          .withColumn("shard", col("shard").cast("long"))
        Sharding.manifest(back, "doc_id").orderBy("shard")
      },
      Some(sqlP07ManifestWith(P09Budget,
        Some(s"doc_id IN (${P09Deleted.mkString(", ")})")))),

    // ---- p10: the composed loop's MAINTAINED LEXICAL INDEX -----------
    // The r12 fold-in: the hybrid-retrieval serve-shape artifact
    // (LexIndex, s31–s34) advanced BY THE NIGHTLY LOOP ITSELF — built
    // over the base corpus (existence is the opt-in, like the graph),
    // appended per night with exactly the ADMITTED docs, tombstoned by
    // the night-B takedown through applyDeletions, and purged by the
    // fold-in compaction (compactAll — the same body start()'s
    // compactEvery runs). The probe afterwards must be hash-identical
    // to s30's one-shot lexical scorer over (documents ∪ keptA ∪
    // keptB) minus the deleted docs: a night the loop dropped, a
    // non-admitted doc that leaked into the postings, a takedown that
    // missed the lexical leg, or a compaction that left stale
    // df/stats all flip the hash.
    Q("p10_nightly_lex",
      (s, dir) => {
        import graft.streaming.StreamingNightlyIngest
        import s.implicits._
        val (arts, docs) = nightlyLoopBase(s, dir, "p10",
          embed = StreamingNightlyIngest.synthEmbedding)
        StreamingNightlyIngest.nightStep(arts,
          nightA7(docs).withColumn("embedding",
            StreamingNightlyIngest.synthEmbedding),
          budget = P09Budget, salt = "p07b", tokensPerShard = 256L,
          batchId = 0)
        StreamingNightlyIngest.nightStep(arts,
          nightB7(docs).withColumn("embedding",
            StreamingNightlyIngest.synthEmbedding),
          budget = P09Budget, salt = "p07b", tokensPerShard = 256L,
          batchId = 1, deletes = Some(P09Deleted.toDF("doc_id")))
        StreamingNightlyIngest.compactAll(s, arts)
        graft.operators.LexIndex.probeLexIndex(s,
            StreamingNightlyIngest.lexName(arts),
            docs.filter(col("doc_id") < 8).select(col("doc_id"), col("text")),
            kEach = 20)
          .orderBy("qid", "lex_rank")
      },
      Some(sqlP10NightlyLex)),

    // ---- p11: the composed loop's FULL HYBRID SERVE, hash-exact ------
    // s38 proved the two-sided serve path on one-shot-built indexes;
    // p11 proves it on indexes the NIGHTLY LOOP ITSELF maintained:
    // base builds of all four artifacts, two admission-gated nights,
    // the night-B takedown, the fold-in erasure compaction — then ONE
    // query hits the maintained lexical index (bounded tok pushdown)
    // and the maintained ANN index (frozen base-trained model, nprobe
    // pruned cells) and fuses the rank lists. The oracle splits the
    // ANN replay's relation roles the way the lifecycle did (train on
    // base, serve over survivors) over md5-derived portable
    // embeddings, so the END-TO-END answer is one hash row: a night
    // the loop dropped, a leaked non-admitted doc, a takedown that
    // missed either index, a stale df/stats member, a code encoded
    // under the wrong generation's model, or a deleted vector
    // resurrected by compaction ALL flip it.
    Q("p11_nightly_hybrid_serve",
      (s, dir) => nightlyHybridServe(s, dir, "p11",
        retrainAfterNightA = false),
      Some(sqlP11NightlyHybrid)),

    // ---- p12: RESIZE-RETRAIN mid-lifecycle under the same serve path -
    // p11 serves under the frozen base-trained model; p12 re-anchors
    // it where a production loop would — after a night grew the
    // corpus: retrainAnnIndex over corpus-minus-registry with nCells
    // 8 → 16 (the sizing-rule actuator) rebuilds centroids, codebooks
    // and codes as ONE new generation, night B's appends encode under
    // the NEW model, and the serve answer replays with the oracle
    // trained on the retrain-time corpus at the new cell count (the
    // trainRel/corpusRel split again — rvec vs svec). MEASURED
    // discrimination, not assumed (the first cut retrained at the
    // same nCells and the fused top-10 came out identical to p11's —
    // a vacuous detector): with the resize, 12 of the 80 fused rows
    // differ from the frozen-model answer, so a retrain that silently
    // didn't happen, kept stale codes, or re-encoded under the wrong
    // corpus flips the hash.
    Q("p12_retrain_hybrid_serve",
      (s, dir) => nightlyHybridServe(s, dir, "p12",
        retrainAfterNightA = true),
      Some(sqlP12RetrainServe)),

    // ---- p13: the composed AS-OF serve, erasure overriding history ---
    // Time travel on the WHOLE serve path: after night A a clean
    // retaining compaction (retainGenerations = 2) freezes a snapshot
    // of both indexes; night B then mutates the current generations
    // AND delivers the takedown (tombstones pending, no compaction —
    // a takedown compaction would purge the window, the erasure-vs-
    // retention guard's designed behavior). Probing both indexes asOf
    // the snapshot must (a) NOT see night B's docs and (b) STILL
    // exclude the taken-down docs, two of which are IN the snapshot:
    // erasure overrides history, per-index proven by s34/s36, here
    // composed and fused. The lexical side must score with the
    // snapshot's statistics while dropping only candidacy (the
    // df-after-recount subtlety the oracle replays via candDelIds);
    // the ANN side drops them before scoring. Both clauses MEASURED
    // discriminating on this fixture (the s35/p12 rule): replaying
    // the oracle with erasure ignored flips 5 of the 90 rows, with
    // night B leaked into the snapshot 23 of 90 (re-measured under
    // the ln(1+core) scorer).
    Q("p13_asof_hybrid_serve",
      (s, dir) => {
        import graft.streaming.StreamingNightlyIngest
        import s.implicits._
        val (arts, docs) = nightlyLoopBase(s, dir, "p13")
        StreamingNightlyIngest.nightStep(arts,
          nightA7(docs).withColumn("embedding", expr(HybridSynthExpr)),
          budget = P09Budget, salt = "p07b", tokensPerShard = 256L,
          batchId = 0)
        StreamingNightlyIngest.compactAll(s, arts, retainGenerations = 2)
        val gLex = graft.operators.Generations
          .currentGen(s, StreamingNightlyIngest.lexName(arts)).get - 1
        val gAnn = graft.operators.Generations
          .currentGen(s, arts.annIndex).get - 1
        StreamingNightlyIngest.nightStep(arts,
          nightB7(docs).withColumn("embedding", expr(HybridSynthExpr)),
          budget = P09Budget, salt = "p07b", tokensPerShard = 256L,
          batchId = 1, deletes = Some(P09Deleted.toDF("doc_id")))
        // the DISCRIMINATING ninth query (measured, not assumed — with
        // base-doc queries alone, ignoring the erasure changed zero of
        // the 80 rows): an admitted, NOT-deleted night-A fresh doc
        // whose template the whole fresh cohort shares, so its lexical
        // list is exactly where the two deleted snapshot members would
        // rank (low ids under the tie-break) and where night-B's
        // template copies would flood on an as-of violation.
        hybridServe(s, arts, docs, asOfLex = Some(gLex),
          asOfAnn = Some(gAnn),
          extraQueries = Some(nightA7(docs)
            .filter(col("doc_id") === 1000000250L)
            .select(col("doc_id"), col("text"))))
      },
      Some(sqlP13AsofServe)),

    // ---- p14: POLICY-DRIVEN maintenance == fixed-cadence maintenance -
    // p10's exact fixture with the WHEN decided by IndexMaintenance
    // instead of the operator's calendar: after the clean night the
    // default policy must fire NOTHING (the in-body requires assert
    // it), after the takedown night every maintained family owes
    // erasure debt — the sweep logs the named reasons, runs only the
    // due families' compaction bodies, and reclaims the raw-vector
    // corpus off its own metadata gauge. The probe then hash-checks
    // against p10's UNCHANGED oracle text: behavior-invisibility of
    // WHEN, end to end — a sweep that compacted the wrong family,
    // skipped a due one, or left stale df/stats flips the hash, and a
    // sweep that silently no-op'd is caught by the in-body requires
    // (pending counts and the corpus gauge must have reset).
    Q("p14_policy_maintenance",
      (s, dir) => {
        import graft.streaming.StreamingNightlyIngest
        import s.implicits._
        val (arts, docs) = nightlyLoopBase(s, dir, "p14",
          embed = StreamingNightlyIngest.synthEmbedding)
        StreamingNightlyIngest.nightStep(arts,
          nightA7(docs).withColumn("embedding",
            StreamingNightlyIngest.synthEmbedding),
          budget = P09Budget, salt = "p07b", tokensPerShard = 256L,
          batchId = 0)
        val clean = StreamingNightlyIngest.maintenanceSweep(s, arts)
        require(clean.nonEmpty && clean.forall(!_._2.due),
          s"clean night flagged compaction-due: $clean")
        StreamingNightlyIngest.nightStep(arts,
          nightB7(docs).withColumn("embedding",
            StreamingNightlyIngest.synthEmbedding),
          budget = P09Budget, salt = "p07b", tokensPerShard = 256L,
          batchId = 1, deletes = Some(P09Deleted.toDF("doc_id")))
        require(StreamingNightlyIngest.corpusErasureDue(s, arts),
          "takedown night did not flag the corpus gauge")
        val debt = StreamingNightlyIngest.maintenanceSweep(s, arts)
        require(debt.forall { case (_, d) =>
          d.due && d.reasons.exists(_.contains("erasure debt")) },
          s"takedown debt did not fire on every family: $debt")
        debt.foreach { case (f, _) =>
          require(graft.operators.Tombstones.pendingCount(s, f) == 0L,
            s"$f still owes reclamation after the sweep") }
        require(!StreamingNightlyIngest.corpusErasureDue(s, arts),
          "corpus gauge not reset by the sweep's compactCorpus")
        graft.operators.LexIndex.probeLexIndex(s,
            StreamingNightlyIngest.lexName(arts),
            docs.filter(col("doc_id") < 8).select(col("doc_id"), col("text")),
            kEach = 20)
          .orderBy("qid", "lex_rank")
      },
      Some(sqlP10NightlyLex)),

    Q("p06_epoch_pack",
      (s, dir) => {
        val w = Seq("en" -> 0.5, "de" -> 2.0, "es" -> 1.0,
          "fr" -> 0.4, "zh" -> 2.25)
        val mixed = Sampling.epochMix(
          cleanDocs(s, dir).select(col("doc_id"), col("lang"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
          col("doc_id"), col("lang"), w, salt = "ep2")
          .withColumn("ckey", concat_ws("#", col("doc_id"), col("copy_idx")))
        val shuffled = Sampling.deterministicShuffle(mixed, col("ckey"),
          salt = "esh1")
        Packing.packPlan(
            shuffled.select(col("shuffle_pos"), col("n_tokens")),
            "shuffle_pos", "n_tokens", budget = 256)
          .join(shuffled.select(col("doc_id"), col("copy_idx"),
            col("lang"), col("shuffle_pos")), "shuffle_pos")
          .select(col("doc_id"), col("copy_idx"), col("lang"),
            col("shuffle_pos"), col("n_tokens"), col("start_tok"),
            col("seq_first"), col("seq_last"), col("seq_offset"))
          .orderBy("doc_id", "copy_idx")
      },
      Some {
        val copies = Sampling.sqlEpochMixCopies("doc_id", "lang",
          Seq("en" -> 0.5, "de" -> 2.0, "es" -> 1.0,
            "fr" -> 0.4, "zh" -> 2.25), "ep2")
        s"""$sqlThroughClean,
          tw AS (SELECT doc_id, lang,
              CAST(${TextFunctions.sqlTokenCount("text")} AS BIGINT)
                AS n_tokens,
              $copies AS copies FROM clean),
          em AS (SELECT doc_id, lang, n_tokens,
              CAST(unnest(range(0, copies)) AS INT) AS copy_idx
            FROM tw WHERE copies > 0),
          ck AS (SELECT *, CAST(doc_id AS VARCHAR) || '#' ||
              CAST(copy_idx AS VARCHAR) AS ckey FROM em),
          sh4 AS (SELECT doc_id, lang, copy_idx, n_tokens,
              CAST(row_number() OVER (ORDER BY
                  substr(md5(ckey || ':esh1'), 1, 13), ckey) - 1 AS BIGINT)
                AS shuffle_pos
            FROM ck),
          c AS (SELECT doc_id, lang, copy_idx, shuffle_pos, n_tokens,
              CAST(COALESCE(sum(n_tokens) OVER (ORDER BY shuffle_pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS start_tok
            FROM sh4)
          SELECT doc_id, copy_idx, lang, shuffle_pos, n_tokens, start_tok,
            start_tok // 256 AS seq_first,
            greatest(start_tok // 256,
              (start_tok + n_tokens - 1) // 256) AS seq_last,
            CAST(start_tok % 256 AS INT) AS seq_offset
          FROM c ORDER BY doc_id NULLS FIRST, copy_idx NULLS FIRST"""
      }),

    // ---- p15: DOCUMENT UPDATE — the one-night replace ----------------
    // The CDC feed's third verb (r15 ask): a re-crawled CHANGED doc
    // used to need takedown night → compaction → readmit → re-ingest
    // (three nights); nightStep's revisions path composes the same
    // proven steps into ONE night — old versions purged from all four
    // artifacts + the raw-vector corpus BEFORE the admission path runs
    // (the ifAbsent appends key on presence), re-entry bars lifted (a
    // revision is a replace, not an erasure), the new versions then
    // ride the normal quality/dedup/budget/append chain beside the
    // night's genuine adds. The serve afterwards must be bit-identical
    // to a FRESH BUILD over the revised corpus: a leaked old version,
    // a both-versions state, a dropped re-ingest, or a registry bar
    // that survived the replace all flip the hash. DurableLab's upd
    // kill pair replays the night across both crash windows
    // cross-process.
    Q("p15_update_replace",
      (s, dir) => {
        import graft.streaming.StreamingNightlyIngest
        val (arts, docs) = nightlyLoopBase(s, dir, "p15")
        val rev = docs.filter(expr(P15RevWhere))
          .select(col("doc_id"), expr(p15RevText("STRING")).as("text"),
            col("lang"), length(expr(p15RevText("STRING"))).as("n_chars"))
          .withColumn("embedding", expr(HybridSynthExpr))
        val adds = docs.filter(col("doc_id") >= 250 && col("doc_id") < 280)
          .select(col("doc_id"), expr(p15AddText("STRING")).as("text"),
            col("lang"), length(expr(p15AddText("STRING"))).as("n_chars"))
          .select((col("doc_id") + 3000000000L).as("doc_id"), col("text"),
            col("lang"), col("n_chars"))
          .withColumn("embedding", expr(HybridSynthExpr))
        StreamingNightlyIngest.nightStep(arts, adds, budget = P09Budget,
          salt = "p07b", tokensPerShard = 256L, batchId = 0,
          revisions = Some(rev))
        hybridServe(s, arts, docs)
      },
      Some(sqlP15UpdateServe)),
  )
}
