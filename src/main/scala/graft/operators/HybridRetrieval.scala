package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextFunctions.{sqlTokens, tokens}

/** Hybrid (lexical + vector) retrieval with reciprocal-rank fusion —
  * the production RAG-retrieval shape: a BM25-family inverted-index
  * scorer supplies exact-term evidence, the vector side supplies
  * semantic evidence, and RRF fuses the two WITHOUT comparing their
  * incommensurable scores (only ranks cross the boundary — the reason
  * RRF is the robust default fusion in production search stacks).
  *
  * Lexical scoring is TRUE log-BM25: tf saturation × ln(1 + core)
  * over the Robertson idf core (N − df + ½)/(df + ½) (the +1 floors
  * idf at 0 — see [[termWeightSql]]) — with `ln` computed by
  * [[lnChainSql]]'s sqrt chain, because libm's `ln` is the one scalar
  * IEEE-754 does not pin to the last ulp across engines (the
  * q16/ADVICE lesson) while sqrt is REQUIRED-correctly-rounded and
  * therefore bit-portable. (The first cut of this operator dropped
  * the log instead; measurement — the s35 contract — showed summed
  * rational idf over-weights rare terms so badly that top-10 overlap
  * with real BM25 was ~0 on the synthetic corpus: a monotone
  * transform of each term is not a monotone transform of the sum.
  * The sqrt-chain ln keeps the portability AND the semantics, and
  * caps the score scale, so the ×10⁹ DECIMAL sums stay far below
  * 2^53 at any corpus size.) Per-(query, doc) weights sum through
  * DECIMAL(18,9) (exact, order-independent — the dsum rule), so the
  * lexical score is hash-stable under any partitioning, and ranking
  * runs on the scaled BIGINT itself ([[Similarity.TopKLongAgg]]).
  *
  * Scale shape (the part that must survive 100 TB):
  *  - tf/df/len are one-pass token aggregations (shuffle on token —
  *    the inverted-index build);
  *  - candidate generation is the (token) equi-join of the broadcast
  *    query term set against tf, DF-CAPPED (df·10 ≤ N·9, t10's cap):
  *    stop-word posting lists never enter the pair space — the df cap
  *    is the lexical analog of the LSH band bound;
  *  - both rank lists cut through the bounded [[Similarity.TopKAgg]]
  *    (≤ kEach rows per partition per query reach the exchange), not
  *    a window over the full scored set;
  *  - fusion touches ≤ 2·kEach rows per query.
  */
object HybridRetrieval {

  /** Bounded literal-pushdown budget for [[snippets]]' doc-id fetch —
    * the hit set is top-k-per-query small by construction; past this
    * the fetch degrades to the plain broadcast join. */
  val SnippetPushdownMax = 1024

  /** DOUBLE-cast literal (a bare `1.2` parses as DECIMAL in DuckDB —
    * the PortableIvf trap). */
  private def d(x: String) = s"CAST($x AS DOUBLE)"

  /** The rational Robertson idf core (N − df + ½)/(df + ½). */
  def idfCoreSql: String =
    s"((${d("n_docs")} - ${d("df")} + ${d("0.5")}) / " +
      s"(${d("df")} + ${d("0.5")}))"

  /** PORTABLE natural log: ln(x) ≈ 2³⁰ · (x^(2⁻³⁰) − 1), the
    * exponent taken by THIRTY nested square roots. `ln` itself is the
    * one scalar libm does not pin to the last ulp across engines (the
    * q16 lesson), but IEEE 754 REQUIRES sqrt to be correctly rounded,
    * exactly like +,−,×,÷ — so this fixed chain of required-exact ops
    * evaluates BIT-IDENTICALLY in Spark and DuckDB (the chainDot
    * discipline applied to a transcendental). Accuracy: the series
    * bias is +ln²x/2³¹ (≤ 1.3e-8 relative on this domain) and the 30
    * accumulated sqrt roundings add ~3e-7 relative — and the map
    * L ↦ L + L²/2³¹ is strictly increasing, so within an engine the
    * approximation is order-preserving on its own scale too. */
  def lnChainSql(x: String): String = {
    val root = (1 to 30).foldLeft(s"($x)")((acc, _) => s"sqrt($acc)")
    s"(${d("1073741824.0")} * ($root - ${d("1.0")}))"
  }

  /** BM25 tf saturation with rational length normalization
    * (len·N/T ≡ len/avglen, from exact integers). */
  /** The per-(query-term, doc) lexical weight
    * ([[termWeightSql]] = portable-ln(idf core) × tf saturation) is
    * ONE scalar f64 text both engines evaluate verbatim. Expects
    * columns tf, df, len, n_docs, total_tokens (BIGINT). */
  def tfSatSql: String =
    s"((${d("tf")} * (${d("1.2")} + ${d("1.0")})) / " +
      s"(${d("tf")} + ${d("1.2")} * (${d("1.0")} - ${d("0.75")} + " +
      s"${d("0.75")} * ${d("len")} * ${d("n_docs")} / ${d("total_tokens")})))"

  /** idf = ln(1 + core): the +1 floors the idf at 0 for every df, so
    * matching an extra mid-frequency term can never LOWER a score —
    * raw ln(core) goes negative for df ∈ (N/2, 0.9·N] (the classic
    * negative-IDF flaw; the df cap only prunes beyond 0.9·N), which
    * inverted multi-term ranking for common-term matches. The +1 is
    * the standard production fix (Robertson-Walker as deployed in
    * Lucene), and (1 + core) keeps the sqrt-chain's bit-portability —
    * one exact f64 add before the chain. */
  def termWeightSql: String =
    s"(${lnChainSql(s"(${d("1.0")} + $idfCoreSql)")} * $tfSatSql)"

  /** One rank's RRF contribution (NULL rank → 0). The caller's text
    * pins the lex-then-vec evaluation order. */
  def rrfTermSql(rank: String, c: Int): String =
    s"COALESCE(${d("1.0")} / (${d(c.toString)} + ${d(rank)}), ${d("0.0")})"

  /** [[rrfTermSql]] with a leg weight (Elasticsearch's weighted-RRF
    * retriever knob): w · 1/(c + rank). `w = 1.0` emits the unweighted
    * text byte-identical to [[rrfTermSql]], so every pre-existing
    * oracle is untouched. Pick binary-exact weights (0.75, 0.25, …) —
    * the single IEEE multiply is then bit-portable, like everything
    * else on this path. */
  def rrfTermSql(rank: String, c: Int, w: Double): String =
    if (w == 1.0) rrfTermSql(rank, c)
    else s"COALESCE(${d(w.toString)} * (${d("1.0")} / " +
      s"(${d(c.toString)} + ${d(rank)})), ${d("0.0")})"

  /** Lexical top-`kEach` per query doc as (qid, doc_id, lex_rank,
    * lex_scaled), ties (score DESC, doc_id) via the bounded exact-long
    * [[Similarity.TopKLongAgg]]. */
  /** The shared candidate frame of both lexical scorers: per
    * (query, doc, term) rows carrying (tf, df, len, n_docs,
    * total_tokens), df-capped, self-pairs excluded — everything up to
    * the per-term weight, which is where the rational and the
    * log-BM25 variants diverge. */
  private def candidateRows(docs: DataFrame, queryPred: Column): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val len = tok.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = tok.agg(countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("total_tokens"))
    // the query TERM SET (query-side tf deliberately ignored — the
    // standard short-query BM25 simplification)
    val qt = tf.filter(queryPred).select(col("doc_id").as("qid"), col("tok"))
    tf.join(df, "tok")
      .join(len, "doc_id")
      .crossJoin(broadcast(n))
      .filter(col("df") * 10 <= col("n_docs") * 9) // df cap: stop-words out
      .join(broadcast(qt), "tok")
      .filter(col("doc_id") =!= col("qid"))
  }

  def lexicalTopK(docs: DataFrame, queryPred: Column,
      kEach: Int): DataFrame = {
    val scored = candidateRows(docs, queryPred)
      .withColumn("w", expr(termWeightSql))
    // the ×10⁹ integer-scaled exact decimal sum: ranking by a BIGINT
    // sidesteps engine-specific DECIMAL→DOUBLE rounding entirely —
    // and the rank runs ON the BIGINT (TopKLongAgg), never its double
    // image: DECIMAL(18,9)·10⁹ permits values past 2^53, where
    // distinct longs collapse to equal doubles and the doc_id
    // tie-break would diverge from the oracle's exact ordering at
    // precisely the corpus sizes this operator targets
    val agg = scored.groupBy("qid", "doc_id")
      .agg((sum(col("w").cast(DecimalType(18, 9))) * 1000000000L)
        .cast("long").as("lex_scaled"))
    Similarity.topKPerQueryLong(
        agg.select(col("qid"), col("doc_id").as("vec_id"),
          col("lex_scaled").as("score")), kEach)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rank").as("lex_rank"), col("score").as("lex_scaled"))
  }

  /** TRUE log-BM25 over the same candidate frame — the in-engine
    * fidelity REFERENCE for the production rational-idf scorer (which
    * drops `ln` for cross-engine hash portability; per-term ordering
    * is preserved but a summed monotone transform is not a monotone
    * transform of the sum, so the distance is measured, not assumed:
    * the s35 contract rows gate overlap@k and rank drift between this
    * list and [[lexicalTopK]]'s). Not oracle-portable by construction
    * (`ln` ulps differ across libms — the q16 lesson), which is fine:
    * both sides of the contract run in-engine. */
  def lexicalTopKLog(docs: DataFrame, queryPred: Column,
      kEach: Int): DataFrame = {
    val scored = candidateRows(docs, queryPred)
      .withColumn("w", log(lit(1.0) + expr(idfCoreSql)) * expr(tfSatSql))
    val agg = scored.groupBy("qid", "doc_id")
      .agg(sum(col("w")).as("s"))
    Similarity.topKPerQuery(
        agg.select(col("qid"), col("doc_id").as("vec_id"),
          col("s").as("cos")), kEach)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rank").as("lex_rank"))
  }

  /** s30's vector side, shared with every lifecycle row that fuses
    * against it (s31–s34): brute-force chain-cosine top-`kEach`,
    * queries broadcast, self-pairs excluded, as (qid, doc_id,
    * vec_rank). ONE definition — the lifecycle rows hash-check
    * against s30's oracle, so a drifted copy of this scorer would let
    * both sides pass their own oracles while silently measuring
    * different things. */
  /** `candPred`: serve-time candidacy filter over the corpus `vec_id`
    * (the lexical probe's scope twin — s39): applied to the candidate
    * side before the broadcast join, so the scan is narrower, the
    * scores of surviving pairs are untouched (cosine has no corpus
    * statistics), and only membership/rank changes. */
  def exactVecTopK(emb: DataFrame, queryPred: Column, dim: Int,
      kEach: Int, candPred: Option[Column] = None): DataFrame = {
    import graft.functions.VectorFunctions.{chainDot, chainNorm}
    val nv = emb.withColumn("nrm", expr(chainNorm("embedding", dim, 0)))
    val q = nv.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val scored = candPred.fold(nv)(nv.filter)
      .select(col("vec_id"), col("embedding").as("e"), col("nrm").as("en"))
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos",
        expr(s"CAST(${chainDot("qe", "e", dim, 0)} AS DOUBLE)") /
          (col("qn") * col("en")))
    Similarity.topKPerQuery(scored, kEach)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rank").as("vec_rank"))
  }

  /** Fuse a lexical and a vector rank list by RRF and keep the final
    * top-k: rrf = wLex/(c+lex_rank) + wVec/(c+vec_rank), absent side
    * = 0, ties (rrf DESC, doc_id). Inputs carry (qid, doc_id,
    * lex_rank) / (qid, doc_id, vec_rank). The default weights (1, 1)
    * are classic RRF; unequal weights are the tuning knob every
    * production hybrid exposes (keyword-heavy vs semantic-heavy
    * surfaces) — use binary-exact values so the one extra multiply
    * stays bit-portable (s59 pins 0.75/0.25 hash-exact). */
  def rrfFuse(lex: DataFrame, vec: DataFrame, k: Int,
      c: Int = 60, wLex: Double = 1.0, wVec: Double = 1.0): DataFrame = {
    // `fused` is referenced twice below (the TopK cut and the rank
    // join-back); AQE exchange reuse dedupes the shared upstream probe
    // DAG at execution, so the double reference costs nothing material
    // — measured: pinning it (Frontier.pin) read 2.48 s vs 2.32 s
    // unpinned on the M=10 serve-path probe, the checkpoint overhead
    // exceeding any residual recompute.
    val fused = lex.select("qid", "doc_id", "lex_rank")
      .join(vec.select("qid", "doc_id", "vec_rank"),
        Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf",
        expr(s"${rrfTermSql("lex_rank", c, wLex)} + " +
          rrfTermSql("vec_rank", c, wVec)))
    // the fused pool is ≤ 2·kEach rows per query — TopKAgg again
    val ranked = Similarity.topKPerQuery(
        fused.select(col("qid"), col("doc_id").as("vec_id"),
          col("rrf").as("cos")), k)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rank"), col("cos").as("rrf"))
    ranked.join(fused.select("qid", "doc_id", "lex_rank", "vec_rank"),
        Seq("qid", "doc_id"))
      .select("qid", "doc_id", "rank", "rrf", "lex_rank", "vec_rank")
  }

  /** SNIPPET generation — the token window a search page shows under
    * each hit, the match highlighted: `matches` carries (qid, doc_id,
    * first_pos, …passthrough) (first_pos = a phrase match's 0-based
    * anchor, [[graft.operators.LexIndex.probePhrase]]); the output is
    * `matches` plus a `snippet` column of `ctx` tokens of context on
    * each side with the `phraseLen`-token match wrapped in «…».
    * Clamped at both document edges; tokens re-split by the index's
    * tokenizer contract, so positions and text agree by construction.
    *
    * Scale shape: the matches side is per-query bounded (top-k rows),
    * so its doc ids are COLLECTED (bounded by [[SnippetPushdownMax]],
    * with a broadcast-join fallback past it) and pushed into the
    * doc-text scan as an `In(doc_id)` filter — on a doc_id-sorted or
    * ranged doc store that is file/row-group pruning, which is what
    * turns the hit fetch into a point lookup at 100 TB instead of a
    * corpus scan. The matches frame is pinned before the collect (the
    * probe pushdown discipline): a nondeterministic frame re-evaluated
    * between the key collect and the join could otherwise push an id
    * set that diverges from the joined rows. Either way the corpus
    * side reads (doc_id, text) only and the matches side broadcasts. */
  def snippets(matches: DataFrame, docs: DataFrame, phraseLen: Int,
      ctx: Int): DataFrame = {
    require(phraseLen >= 1 && ctx >= 0,
      s"phraseLen >= 1 and ctx >= 0 required, got $phraseLen/$ctx")
    val m = Frontier.pin(matches)
    val ids = m.select("doc_id").distinct()
      .limit(SnippetPushdownMax + 1).collect().map(_.getLong(0))
    val lookup =
      if (ids.length > SnippetPushdownMax) docs
      else docs.filter(col("doc_id").isin(ids.map(x => x: Any): _*))
    val ms = col("first_pos") + 1 // 1-based match start
    val begin = greatest(ms - ctx, lit(1))
    val end = least(col("first_pos") + phraseLen + ctx, size(col("tk")))
    broadcast(m)
      .join(lookup.select(col("doc_id"), tokens(col("text")).as("tk")),
        "doc_id")
      .withColumn("snippet", array_join(concat(
        slice(col("tk"), begin, ms - begin),
        array(concat(lit("«"),
          array_join(slice(col("tk"), ms, lit(phraseLen)), " "),
          lit("»"))),
        slice(col("tk"), ms + phraseLen,
          end - (col("first_pos") + phraseLen))), " "))
      .drop("tk")
  }

  /** FIELDED retrieval (BM25F with INTEGER field weights) by the
    * exact reduction to plain BM25 over a weighted pseudo-document.
    * BM25F (Robertson/Zaragoza's field-weighted model; Lucene's
    * `combined_fields`) scores with combined statistics
    * tf′(t,d) = Σ_f w_f·tf(t,f,d) and len′(d) = Σ_f w_f·len_f(d),
    * one saturation over the combined tf — NOT a weighted sum of
    * per-field BM25 scores (that double-saturates). For integer w_f,
    * repeating each field's text w_f times produces EXACTLY those
    * statistics (and df over the union of fields), so indexing the
    * pseudo-docs in the same maintained [[graft.operators.LexIndex]]
    * serves fielded search with zero new index machinery — build,
    * append, compact, tombstone, as-of all inherited.
    *
    * `fields` is (doc_id, field, text); `weights` maps field name →
    * integer weight (fields absent from the map are dropped). The
    * pseudo-text concatenates (field, repetition)-sorted copies, so
    * the output is deterministic. Scale shape: one narrow explode
    * (×w_f on the FIELD rows, not the corpus), one grouping on
    * doc_id. */
  def fieldWeightedDocs(fields: DataFrame,
      weights: Map[String, Int]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 1),
      s"integer weights >= 1 required, got $weights")
    val w = weights.foldLeft(lit(0)) { case (acc, (f, k)) =>
      when(col("field") === f, lit(k)).otherwise(acc) }
    fields.select(col("doc_id"), col("field"), col("text"))
      .withColumn("w", w).filter(col("w") >= 1)
      .select(col("doc_id"), col("field"),
        explode(expr("sequence(1, w)")).as("rep"), col("text"))
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("field"), col("rep"),
          col("text")))),
        x => x.getField("text")), " ").as("text"))
  }

  /** QUERY-TIME SYNONYM EXPANSION (Lucene's SynonymGraphFilter / ES
    * `synonym_graph`, query-side): each query's term set gains the
    * synonyms of its terms, and the expanded set feeds the scoring
    * probe — so "fast disk" also retrieves "quick disk" docs, ranked
    * by the same BM25 statistics. `synonyms` is (term, synonym) rows,
    * one direction per row (pass both directions for symmetric
    * vocabularies); unmatched terms pass through untouched. Output is
    * (qid|doc_id, text) — the probe input shape, the s52 corrected-
    * query trick: the probe derives its TERM SET from the text and
    * ignores query-side tf, so set semantics are exact.
    *
    * Scale shape: work is QUERY-sized — one explode of the query
    * texts, a broadcast join against the (small by nature) synonym
    * table, one per-query aggregation. Nothing corpus-shaped; the
    * probe's bounded pushdown then carries the expanded set. */
  def expandQueries(queries: DataFrame, synonyms: DataFrame): DataFrame = {
    val qt = queries.select(col(queries.columns.head).as("qid"),
      explode(tokens(col(queries.columns(1)))).as("tok")).distinct()
    val syn = synonyms.select(col(synonyms.columns.head).as("term"),
      col(synonyms.columns(1)).as("synonym"))
    qt.unionByName(
        qt.join(broadcast(syn), col("tok") === col("term"))
          .select(col("qid"), col("synonym").as("tok")))
      .groupBy("qid")
      .agg(concat_ws(" ", sort_array(collect_set(col("tok")))).as("text"))
      .select(col("qid").as("doc_id"), col("text"))
  }

  /** The rules of a synonym table fired against each query's token
    * SEQUENCE — the multi-token-LHS half of Lucene's
    * SynonymGraphFilter ([[expandQueries]] is term→term only; synonyms
    * are phrases: "new york" ↔ "nyc"). A rule fires for a query iff
    * its LHS token sequence occurs as a CONTIGUOUS run of the query's
    * tokens — sequence, not set: "scan slow" does not fire on a query
    * containing "slow … scan". Output (qid, term, synonym), one row
    * per fired (query, rule).
    *
    * Detection is an EQUI-join, never a nested loop: the query tokens
    * posexplode once, rules broadcast and join on their FIRST LHS
    * token, and one array-slice comparison verifies the full run —
    * work ∝ query tokens × rules-sharing-a-first-token, all
    * query-sized. Overlapping LHS matches all fire independently
    * (Lucene's graph semantics; the expansion is a set union, so
    * overlap order can never make the result nondeterministic). */
  def firedSynonyms(queries: DataFrame, synonyms: DataFrame): DataFrame = {
    val q = queries.select(col(queries.columns.head).as("qid"),
      tokens(col(queries.columns(1))).as("tks"))
    val rules = synonyms.select(col(synonyms.columns.head).as("term"),
        col(synonyms.columns(1)).as("synonym"))
      .distinct()
      .withColumn("ltk", tokens(col("term")))
      .withColumn("l0", element_at(col("ltk"), 1))
    q.select(col("qid"), col("tks"),
        posexplode(col("tks")).as(Seq("p", "tok")))
      .join(broadcast(rules), col("tok") === col("l0"))
      .filter(expr("slice(tks, p + 1, size(ltk)) = ltk"))
      .select(col("qid"), col("term"), col("synonym"))
      .distinct()
  }

  /** SYNONYM-GRAPH query expansion (the r16 ask — [[expandQueries]]
    * generalized to multi-token rules): every fired rule's RHS tokens
    * join the query's term set; unmatched queries pass through
    * untouched. Output (doc_id, text) — the probe input shape, exactly
    * [[expandQueries]]'s contract (and byte-identical to it when every
    * LHS is a single token). A multi-token RHS contributes its tokens
    * as individual scoring terms here — the standard graph-filter
    * scoring approximation; callers needing the RHS to match as an
    * exact phrase feed [[synonymPhrases]] to [[graft.operators
    * .BooleanQuery]] / [[graft.operators.LexIndex.probePhrase]]
    * alongside. Scale shape: query-sized throughout (one posexplode of
    * the query tokens, broadcast rules, one per-query aggregation). */
  def expandQueriesGraph(queries: DataFrame,
      synonyms: DataFrame): DataFrame = {
    val qt = queries.select(col(queries.columns.head).as("qid"),
      explode(tokens(col(queries.columns(1)))).as("tok")).distinct()
    val fired = firedSynonyms(queries, synonyms)
      .select(col("qid"), explode(tokens(col("synonym"))).as("tok"))
    qt.unionByName(fired)
      .groupBy("qid")
      .agg(concat_ws(" ", sort_array(collect_set(col("tok")))).as("text"))
      .select(col("qid").as("doc_id"), col("text"))
  }

  /** The fired rules whose RHS is itself a phrase, as (qid, phrase)
    * rows — Lucene's graph-side output position: "nyc" → "new york"
    * must match the CONTIGUOUS run, not the token set. Feed these to
    * [[graft.operators.LexIndex.probePhrase]] (whose (phrase_id,
    * phrase) keying [[graft.operators.BooleanQuery]] already adapts)
    * and OR the containment pairs into candidacy — the phrase-exact
    * half of the synonym serve. */
  def synonymPhrases(queries: DataFrame, synonyms: DataFrame): DataFrame =
    firedSynonyms(queries, synonyms)
      .filter(size(tokens(col("synonym"))) >= 2)
      .select(col("qid"), col("synonym").as("phrase"))
      .distinct()

  /** The COMPOSED synonym-graph serve with PHRASE-EXACT multi-token
    * RHS candidacy (the full Lucene SynonymGraphFilter story behind
    * one call): scoring uses the graph-expanded term set
    * ([[expandQueriesGraph]]), while CANDIDACY ties multi-token RHS
    * rules to the exact contiguous run — a doc is retrievable for a
    * query iff it contains at least one ORIGIN term (the query's own
    * tokens, plus fired single-token RHS — each a term-OR, as in
    * Lucene) or a fired phrase-RHS as a contiguous token run
    * ([[graft.operators.LexIndex.probePhrase]]). So "nyc" → "new
    * york" retrieves "new york" documents but NOT documents
    * containing only "new" — the loose-token admission the plain
    * expansion would make. Scoring stays the expanded-term-set
    * approximation for admitted docs (the graph filter's standard
    * scoring shape; candidacy is where phrase exactness pays), and
    * candidacy stays statistics-free, so every surviving score is
    * bit-identical to its s69-expansion value — only membership
    * moves (the s39 argument, on the synonym surface; the s71 row
    * hash-pins both directions: loose-token docs excluded AND a
    * phrase-matching doc with no origin term admitted).
    *
    * Scale shape: detection and expansion are query-sized; the
    * candidacy legs are one [[graft.operators.LexIndex.probeShould]]
    * (bounded by the origin terms' posting lists) and one
    * [[graft.operators.LexIndex.probePhrase]] over the fired phrases
    * (bounded by the phrase terms' lists); the serve is the bounded
    * probe when `bounded` is set. */
  def searchSynonymGraph(spark: org.apache.spark.sql.SparkSession,
      name: String,
      queries: DataFrame, synonyms: DataFrame, kEach: Int,
      asOf: Option[Long] = None, bounded: Boolean = false): DataFrame = {
    val q = Frontier.pin(queries.select(
      col(queries.columns.head).cast("long").as("qid"),
      col(queries.columns(1)).as("text")))
    val fired = Frontier.pin(firedSynonyms(q, synonyms))
    val single = fired.filter(size(tokens(col("synonym"))) === 1)
    val multi = fired.filter(size(tokens(col("synonym"))) >= 2)
    // candidacy leg 1: ≥1 origin term (query tokens ∪ single-RHS)
    val origTerms = q.select(col("qid"),
        explode(tokens(col("text"))).as("tok"))
      .unionByName(single.select(col("qid"), col("synonym").as("tok")))
    val shouldPairs = LexIndex.probeShould(spark, name, origTerms,
      minMatch = 1, asOf).select("qid", "doc_id")
    // candidacy leg 2: fired phrase-RHS as a contiguous run — distinct
    // phrases probe once keyed by their own text, matches join back
    val phr = multi.select(col("qid"), col("synonym").as("phrase"))
    val uniq = phr.select("phrase").distinct()
      .select(col("phrase").as("phrase_id"), col("phrase"))
    val phPairs = phr.join(
        LexIndex.probePhrase(spark, name, uniq, asOf)
          .select(col("phrase_id").as("phrase"), col("doc_id")), "phrase")
      .select("qid", "doc_id")
    val cand = Frontier.pin(shouldPairs.unionByName(phPairs).distinct())
    val expanded = expandQueriesGraph(q, synonyms)
    if (bounded)
      LexIndex.probeLexIndexMaxScore(spark, name, expanded, kEach, asOf,
        candPairs = Some(cand))
    else LexIndex.probeLexIndex(spark, name, expanded, kEach, asOf,
      candPairs = Some(cand))
  }

  /** PSEUDO-RELEVANCE-FEEDBACK serve (Rocchio 1971's expansion loop /
    * RM3's term pool, the blind-feedback shape Lucene exposes through
    * MoreLikeThis-on-hits): serve the query, rank every term of the
    * top-`kInit` hits by its summed BM25 weight over those hits
    * ([[graft.operators.LexIndex.feedbackTerms]]), adjoin each
    * query's top-`topE` NEW terms (the query's own terms are
    * excluded from selection), and serve the expanded term set —
    * "docs that look like what the query's best hits look like". The
    * expanded terms score with the dictionary's exact corpus df like
    * any typed term (the s67/s69 expansion contract), so every final
    * score is a sum the one-shot scorer would also produce; only the
    * term SET moves. A query with no initial hits expands by nothing
    * and keeps its plain ranking (PRF degenerates to the serve).
    *
    * Scale shape: the feedback frame is kInit-bounded per query; term
    * selection scans only the feedback docs' posting rows (pushed
    * `In(doc_id)`); the final serve is the bounded probe. */
  def searchWithFeedback(spark: org.apache.spark.sql.SparkSession,
      name: String, queries: DataFrame, kInit: Int, topE: Int,
      kEach: Int, asOf: Option[Long] = None,
      bounded: Boolean = true): DataFrame = {
    // the probes key queries by a literal `doc_id` column (the house
    // query-frame shape) — normalize to it
    val q = Frontier.pin(queries.select(
      col(queries.columns.head).cast("long").as("doc_id"),
      col(queries.columns(1)).as("text")))
    val init =
      if (bounded) LexIndex.probeLexIndexMaxScore(spark, name, q, kInit,
        asOf)
      else LexIndex.probeLexIndex(spark, name, q, kInit, asOf)
    val qt0 = Frontier.pin(q.select(col("doc_id").as("qid"),
      explode(tokens(col("text"))).as("tok")).distinct())
    val exp = LexIndex.feedbackTerms(spark, name,
      init.select(col("qid"), col("doc_id")), topE, Some(qt0), asOf)
    val expanded = qt0.unionByName(exp)
      .groupBy("qid")
      .agg(concat_ws(" ", sort_array(collect_set(col("tok")))).as("text"))
      .select(col("qid").as("doc_id"), col("text"))
    if (bounded)
      LexIndex.probeLexIndexMaxScore(spark, name, expanded, kEach, asOf)
    else LexIndex.probeLexIndex(spark, name, expanded, kEach, asOf)
  }

  /** MORE-LIKE-THIS serve (Lucene's MoreLikeThis): each seed doc's
    * top-`topE` "interesting terms" — its own tf·idf profile, ranked
    * by the SAME per-(doc, term) weight the scorer sums
    * ([[graft.operators.LexIndex.feedbackTerms]] with the seed as its
    * own feedback set) — become the query, and the serve ranks the
    * corpus against them. The seed never retrieves itself (the
    * probes' self-exclusion fires on qid = seed id). `seeds` is one
    * doc_id column; output is the probe shape keyed by seed id.
    *
    * Scale shape: seed-bounded term selection (pushed `In(doc_id)`
    * over the seeds), query-sized expansion, bounded-probe serve. */
  def moreLikeThis(spark: org.apache.spark.sql.SparkSession,
      name: String, seeds: DataFrame, topE: Int, kEach: Int,
      asOf: Option[Long] = None, bounded: Boolean = true): DataFrame = {
    val sd = seeds.select(col(seeds.columns.head).cast("long").as("qid"))
    val terms = LexIndex.feedbackTerms(spark, name,
      sd.select(col("qid"), col("qid").as("doc_id")), topE, None, asOf)
    val mq = terms.groupBy("qid")
      .agg(concat_ws(" ", sort_array(collect_set(col("tok")))).as("text"))
      .select(col("qid").as("doc_id"), col("text"))
    if (bounded)
      LexIndex.probeLexIndexMaxScore(spark, name, mq, kEach, asOf)
    else LexIndex.probeLexIndex(spark, name, mq, kEach, asOf)
  }

  /** Chunk-id packing stride: a chunk's id is
    * `doc_id · ChunkStride + chunk_idx + offset`, injective over
    * (doc_id, chunk_idx) iff chunk_idx < ChunkStride — [[chunkDocs]]
    * raises (never aliases) past it. */
  val ChunkStride = 1000L

  /** Split each doc into `window`-token chunks at `stride` (the RAG
    * context split, t09's shape), chunk ids packed as
    * `doc_id · ChunkStride + idx + offset` — disjoint from query ids
    * by the offset, decodable as parent = (id − offset) DIV stride,
    * idx = (id − offset) % stride. The packing is injective for any
    * doc_id ≥ 0 (d₁·S + p₁ = d₂·S + p₂ with p < S forces d₁ = d₂,
    * p₁ = p₂); the two inputs that would silently corrupt the decode —
    * a negative doc_id (DIV truncates toward zero) or a document with
    * more than [[ChunkStride]] chunks (~ window + stride·(S−1) tokens)
    * — FAIL LOUDLY via raise_error instead of aliasing across parents
    * (r15 advice; SCALE.md's round-15 s60 ladder ran this at 100×). */
  def chunkDocs(docs: DataFrame, window: Int, stride: Int,
      offset: Long): DataFrame = {
    require(window >= 1 && stride >= 1 && offset >= 0,
      s"window/stride >= 1 and offset >= 0 required, got " +
        s"$window/$stride/$offset")
    val guarded = when(col("doc_id") < 0 || col("n_chunks") > ChunkStride,
        raise_error(concat(
          lit(s"chunk-id packing (stride $ChunkStride) violated: doc_id "),
          col("doc_id").cast("string"), lit(" with "),
          col("n_chunks").cast("string"),
          lit(" chunks would alias across parents — split the document" +
            " upstream or widen ChunkStride"))).cast("long"))
      .otherwise(col("doc_id") * ChunkStride + col("pos") + offset)
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("n_chunks", expr(s"CASE WHEN n <= $window THEN 1 " +
        s"ELSE (n - $window + ${stride - 1}) DIV $stride + 1 END"))
      .select(col("doc_id"), col("n_chunks"), posexplode(expr(
        s"transform(sequence(0, n_chunks - 1), i -> " +
          s"array_join(slice(toks, i * $stride + 1, $window), ' '))")))
      .select(guarded.as("doc_id"), col("col").as("text"))
  }

  /** FACET counts — the navigation rail beside search results: for
    * each query, the distribution of its CANDIDATE set (not just the
    * top-k page) over one or more metadata dimensions. `cands` is
    * (qid, doc_id) — feed a boolean-probe output (phrase / SHOULD /
    * full boolean algebra); `meta` carries doc_id plus the facet
    * columns; output (qid, dim, facet, cnt).
    *
    * Scale shape: one join on doc_id (the candidate side is bounded
    * by the probes' posting lists — large enough that we do NOT force
    * a broadcast; AQE picks, and at 100 TB a doc_id-bucketed metadata
    * store co-locates it), then one grouping per dimension over the
    * already-narrow (qid, facet) rows, unioned. The meta scan reads
    * doc_id + the facet columns only. */
  def facetCounts(cands: DataFrame, meta: DataFrame,
      facets: Seq[String]): DataFrame = {
    require(facets.nonEmpty, "at least one facet dimension required")
    val joined = cands.select("qid", "doc_id").distinct()
      .join(meta.select("doc_id", facets: _*), "doc_id")
    facets.map { f =>
        joined.select(col("qid"), lit(f).as("dim"),
          col(f).cast("string").as("facet"))
      }.reduce(_ unionByName _)
      .groupBy("qid", "dim", "facet")
      .agg(count(lit(1)).as("cnt"))
  }

  /** The lexical-side CTE chain (tok → … → lex), parameterized on the
    * docs relation so the nightly fold-in's oracle (p10) can score a
    * CHAINED admitted-corpus CTE with the SAME text the s30-family
    * rows prove portable. `lex` carries lex_scaled alongside the rank
    * for lexical-only consumers; [[oracleSql]] simply ignores it.
    *
    * `candDelIds` replays [[graft.operators.LexIndex.probeLexIndex]]'s
    * CANDIDACY-ONLY tombstone semantics for as-of oracles (p13):
    * tombstoned docs are excluded from the scoring rows, but df,
    * n_docs and total_tokens keep the snapshot's pre-delete values —
    * the engine applies the exclusion AFTER the df recount, because a
    * df that shrank while n_docs did not would score with statistics
    * no corpus ever had. Empty (the default) keeps the text
    * byte-identical to every pre-p13 oracle. */
  /** `candPredSql` replays a serve-time candidacy SCOPE (s39): a
    * predicate over `tfq.doc_id` ANDed into the scoring rows exactly
    * where the tombstone exclusion goes — candidacy only, corpus-level
    * df/n_docs/total_tokens untouched. None keeps the text
    * byte-identical to every earlier oracle. */
  /** `candPairCte` replays the PER-QUERY candidacy semi-join (s43): the
    * named CTE (defined by the caller BEFORE this chain) must expose
    * (qid, doc_id); scoring rows survive only when their pair exists
    * there — the engine's `candPairs` broadcast semi-join as an
    * EXISTS. */
  /** `exclPairCte` replays the PER-QUERY exclusion anti-join (s46 —
    * the boolean MUST_NOT leg): same CTE contract as `candPairCte`,
    * spelled NOT EXISTS at the same candidacy position. */
  /** `qtSql` overrides the query TERM SET derivation (s52 — fuzzy
    * "did you mean" ranking, where the scored terms are corrected
    * SUGGESTIONS, not the typed text): a SELECT yielding (qid, tok),
    * free to reference CTEs the caller defined before this chain.
    * None keeps qt = the docs relation's own tokens (byte-identical
    * to every earlier oracle). */
  def lexicalOracleCtes(docsRel: String, predDoc: String,
      kEach: Int, candDelIds: Seq[Long] = Nil,
      candPredSql: Option[String] = None,
      candPairCte: Option[String] = None,
      exclPairCte: Option[String] = None,
      qtSql: Option[String] = None): String = {
    val candFilter =
      (if (candDelIds.isEmpty) ""
       else s" AND tfq.doc_id NOT IN (${candDelIds.mkString(", ")})") +
      candPredSql.fold("")(p => s" AND ($p)") +
      candPairCte.fold("")(cte => s" AND EXISTS (SELECT 1 FROM $cte cp " +
        "WHERE cp.qid = q.qid AND cp.doc_id = tfq.doc_id)") +
      exclPairCte.fold("")(cte => s" AND NOT EXISTS (SELECT 1 FROM $cte xp " +
        "WHERE xp.qid = q.qid AND xp.doc_id = tfq.doc_id)")
    s"""tok AS MATERIALIZED (SELECT doc_id,
          unnest(${sqlTokens("text")}) AS tok FROM $docsRel),
      tfq AS MATERIALIZED (SELECT doc_id, tok, count(*) AS tf
        FROM tok GROUP BY doc_id, tok),
      lenq AS MATERIALIZED (SELECT doc_id, count(*) AS len
        FROM tok GROUP BY doc_id),
      dfq AS MATERIALIZED (SELECT tok, count(*) AS df FROM tfq GROUP BY tok),
      nq AS MATERIALIZED (SELECT count(DISTINCT doc_id) AS n_docs,
          count(*) AS total_tokens FROM tok),
      qt AS MATERIALIZED (${qtSql.getOrElse(
        s"SELECT doc_id AS qid, tok FROM tfq WHERE $predDoc")}),
      lw AS MATERIALIZED (SELECT q.qid, tfq.doc_id, tfq.tok,
          CAST($termWeightSql AS DECIMAL(18,9)) AS w
        FROM tfq JOIN dfq USING (tok) JOIN lenq USING (doc_id)
          JOIN qt q ON q.tok = tfq.tok CROSS JOIN nq
        WHERE df * 10 <= n_docs * 9 AND tfq.doc_id <> q.qid$candFilter),
      lexs AS MATERIALIZED (SELECT qid, doc_id,
          CAST(sum(w) * 1000000000 AS BIGINT) AS lex_scaled
        FROM lw GROUP BY qid, doc_id),
      lex AS MATERIALIZED (SELECT qid, doc_id, lex_rank, lex_scaled FROM (
        SELECT qid, doc_id, lex_scaled, CAST(row_number() OVER (
            PARTITION BY qid ORDER BY lex_scaled DESC, doc_id) AS INT) AS lex_rank
        FROM lexs) WHERE lex_rank <= $kEach)"""
  }

  /** The DuckDB oracle: the SAME term-weight and RRF texts over the
    * same aggregations; the vector side is s01's chain-cosine replay.
    * `predDoc`/`predVec` are the query predicate against the two id
    * columns (`doc_id < 8` / `vec_id < 8`). */
  def oracleSql(dim: Int, k: Int, kEach: Int, c: Int,
      predDoc: String, predVec: String,
      candDocSql: Option[String] = None,
      candVecSql: Option[String] = None): String = {
    import graft.functions.VectorFunctions.{chainDot, chainNorm}
    val vecCand = candVecSql.fold("")(p => s" AND ($p)")
    s"""WITH ${lexicalOracleCtes("documents", predDoc, kEach,
        candPredSql = candDocSql)},
      nv AS MATERIALIZED (SELECT vec_id, embedding,
          ${chainNorm("embedding", dim, 1)} AS nrm FROM embeddings),
      qv AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe, nrm AS qn
        FROM nv WHERE $predVec),
      vc AS MATERIALIZED (SELECT qid, vec_id AS doc_id,
          CAST(${chainDot("qe", "embedding", dim, 1)} AS DOUBLE)
            / (qn * nrm) AS cos
        FROM nv, qv WHERE vec_id <> qid$vecCand),
      vec AS MATERIALIZED (SELECT qid, doc_id, vec_rank FROM (
        SELECT qid, doc_id, CAST(row_number() OVER (
            PARTITION BY qid ORDER BY cos DESC, doc_id) AS INT) AS vec_rank
        FROM vc) WHERE vec_rank <= $kEach),
      ${fusionTailSql(k, c)}"""
  }

  /** The RRF fusion tail over CTEs `lex` (qid, doc_id, lex_rank, …)
    * and `vec` (qid, doc_id, vec_rank) — [[oracleSql]]'s closing text,
    * shared with the serve-shape oracle (s38), whose `vec` list comes
    * from the [[PortableIvf]] replay of the persisted ANN index
    * instead of the exact chain-cosine scan. */
  def fusionTailSql(k: Int, c: Int, wLex: Double = 1.0,
      wVec: Double = 1.0): String =
    s"""fused AS MATERIALIZED (SELECT qid, doc_id, lex_rank, vec_rank,
          ${rrfTermSql("lex_rank", c, wLex)} +
            ${rrfTermSql("vec_rank", c, wVec)} AS rrf
        FROM lex FULL OUTER JOIN vec USING (qid, doc_id)),
      fr AS MATERIALIZED (SELECT qid, doc_id, CAST(row_number() OVER (
          PARTITION BY qid ORDER BY rrf DESC, doc_id) AS INT) AS rank,
          rrf, lex_rank, vec_rank
        FROM fused)
      SELECT qid, doc_id, rank, rrf, lex_rank, vec_rank FROM fr
      WHERE rank <= $k
      ORDER BY qid NULLS FIRST, rank NULLS FIRST"""
}
