package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The user-facing BOOLEAN QUERY surface — Lucene's `BooleanQuery`
  * over the maintained [[LexIndex]] family: s49 proved the whole
  * grammar (MUST phrase ∧ SHOULD ≥ m ∧ ¬MUST_NOT ∧ metadata filter)
  * composes hash-exactly as hand-wired pair-set algebra on the probes'
  * outputs; this object is that algebra factored into ONE entry point,
  * so a caller states clauses instead of wiring joins (the r15 verdict
  * ask — s49's hash row now runs THROUGH this API).
  *
  * Clause semantics (Lucene's occur model):
  *
  *  - `must` (qid, phrase): the doc must contain EVERY one of its
  *    query's phrases as a contiguous token run ([[LexIndex
  *    .probePhrase]]; a one-token "phrase" is term containment).
  *  - `should` (qid, tok) with `minShould`: the doc must contain at
  *    least `minShould` of its query's SHOULD terms
  *    ([[LexIndex.probeShould]] — `minimum_should_match`).
  *  - `mustNot` (qid, phrase): the doc must contain NONE of its
  *    query's negated phrases.
  *  - `filter`: a serve-time metadata predicate over the candidate
  *    `doc_id` (tenancy/licensing/freshness — s39's candPred).
  *
  * Everything resolves to CANDIDACY ONLY, at the one pre-shortlist
  * position every probe exposes: BM25 statistics stay corpus-level and
  * ADC scores carry none, so every surviving score is bit-identical to
  * its unconstrained value — only membership and rank packing move
  * (the s39/s43/s46 argument, inherited clause by clause).
  *
  * Scale shape: each clause's probe is bounded by ITS query terms'
  * posting lists (the pushed `tok IN (…)`); the algebra is pair-set
  * joins on those bounded outputs, pinned once and broadcast to both
  * serve legs. Nothing here is corpus-proportional at query time.
  */
object BooleanQuery {

  /** One boolean query set over a shared query-id space. All frames
    * are 2-column (qid, …) in the documented order; absent clauses are
    * simply None. */
  final case class Clauses(
      must: Option[DataFrame] = None,
      should: Option[DataFrame] = None,
      minShould: Int = 1,
      mustNot: Option[DataFrame] = None,
      filter: Option[Column] = None)

  /** The resolved candidacy legs, ready for [[LexIndex.probeLexIndex]]
    * / [[AnnIndex.probeAnnIndex]]: `candPairs` = the per-query allowed
    * set (None when no positive clause constrains membership),
    * `exclPairs` = the MUST_NOT pairs when they could not be folded
    * into `candPairs` (no positive clause present). `candPairs` is
    * PINNED — both serve legs consume it, and a re-evaluated
    * nondeterministic probe chain must not feed them different sets. */
  final case class Resolved(candPairs: Option[DataFrame],
      exclPairs: Option[DataFrame])

  /** Phrase containment pairs for a (qid, phrase) clause frame with
    * ALL-phrases-per-query semantics (Lucene MUST: every clause must
    * match). Distinct phrases probe ONCE keyed by their own text —
    * [[LexIndex.probePhrase]] needs one phrase per key, and two
    * different phrases under one qid would interleave their term
    * offsets — then matches join back to the (qid, phrase) rows and a
    * doc survives iff it matched its query's full phrase count. */
  private def phrasePairs(spark: SparkSession, name: String,
      clause: DataFrame, asOf: Option[Long]): DataFrame = {
    val qp = clause.select(col(clause.columns.head).cast("long").as("qid"),
      col(clause.columns(1)).as("phrase")).distinct()
    val uniq = qp.select("phrase").distinct()
      .select(col("phrase").as("phrase_id"), col("phrase"))
    val pm = LexIndex.probePhrase(spark, name, uniq, asOf)
      .select(col("phrase_id").as("phrase"), col("doc_id"))
    val nPer = qp.groupBy("qid").agg(count(lit(1)).as("n_must"))
    qp.join(pm, "phrase")
      .groupBy("qid", "doc_id")
      .agg(count(lit(1)).as("n_hit"))
      .join(broadcast(nPer), "qid")
      .filter(col("n_hit") === col("n_must"))
      .select("qid", "doc_id")
  }

  /** Resolve the clause set to its candidacy legs (the s49 algebra:
    * positives intersect, MUST_NOT anti-joins — folded into the pair
    * set when a positive clause exists, handed to the probe's
    * `exclPairs` anti-join otherwise; both spellings are provably the
    * same membership at the same candidacy position).
    *
    * Positive clauses intersect PER QUERY, not frame-wise (r16
    * advice): a qid present in the must frame but absent from the
    * should frame (or vice versa) is constrained only by the clause
    * types it actually has — Lucene's occur model, where a query
    * simply lacking a clause type is not thereby unmatchable. A qid
    * present in a clause INPUT frame whose probe matched nothing
    * still requires that clause (and so matches no docs). */
  def resolve(spark: SparkSession, name: String, clauses: Clauses,
      asOf: Option[Long] = None): Resolved = {
    require(clauses.should.isEmpty || clauses.minShould >= 1,
      s"minShould must be >= 1, got ${clauses.minShould}")
    def norm(df: DataFrame) = df.select(col("qid").cast("long").as("qid"),
      col("doc_id").cast("long").as("doc_id"))
    // The three clause probes are INDEPENDENT DAGs over the same index;
    // a single deferred pin of their combination evaluates them as one
    // serial AQE stage chain (measured: the resolution pin was s49's
    // single largest site, ~15 sequential jobs per run). Pin each
    // clause's pair frame CONCURRENTLY instead (guide §2.6 — Par's
    // overlap pattern): content is unchanged (each probe's output is a
    // deterministic pair set; pinning moves only WHERE materialization
    // happens), and the combination below becomes a shallow DAG over
    // pinned inputs. Par.run joins its workers before returning, so
    // the slot writes are safely published. MUST_NOT beside a positive
    // clause is consumed once, by the left_anti the final pin below
    // materializes, so it stays unpinned there (one pin, not two).
    val foldNot = clauses.must.isDefined || clauses.should.isDefined
    val slots = Array.fill[Option[DataFrame]](3)(None)
    Par.run(spark, Seq(
      clauses.must.map(m => () =>
        slots(0) = Some(Frontier.pin(norm(phrasePairs(spark, name, m, asOf))))),
      clauses.should.map(sm => () =>
        slots(1) = Some(Frontier.pin(norm(
          LexIndex.probeShould(spark, name, sm, clauses.minShould, asOf)
            .select("qid", "doc_id"))))),
      clauses.mustNot.map(mn => () => {
        val neg = norm(phrasePairs(spark, name, mn, asOf))
        slots(2) = Some(if (foldNot) neg else Frontier.pin(neg))
      })
    ).flatten)
    val (mustPairs, shouldPairs, notPairs) = (slots(0), slots(1), slots(2))
    // the qid universe each positive clause CONSTRAINS comes from its
    // input frame (a clause whose probe matched nothing still binds)
    def qidsOf(f: DataFrame) =
      f.select(col(f.columns.head).cast("long").as("qid")).distinct()
    // `combined` tracks whether the positive leg is a fresh DAG over
    // the pinned clause frames (pin the final product once) or a
    // single already-pinned clause frame (re-pinning it would be a
    // pure extra materialization)
    val positive = (mustPairs.toSeq ++ shouldPairs.toSeq) match {
      case Nil => None
      case Seq(one) => Some((one, false))
      case many =>
        val need = (clauses.must.map(qidsOf).toSeq ++
            clauses.should.map(qidsOf).toSeq)
          .map(_.withColumn("c", lit(1L))).reduce(_ unionByName _)
          .groupBy("qid").agg(sum(col("c")).as("need"))
        Some((many.reduce(_ unionByName _)
          .groupBy("qid", "doc_id").agg(count(lit(1)).as("got"))
          .join(broadcast(need), "qid")
          .filter(col("got") === col("need"))
          .select("qid", "doc_id"), true))
    }
    (positive, notPairs) match {
      case (Some((pos, _)), Some(neg)) =>
        Resolved(Some(Frontier.pin(
          pos.join(neg, Seq("qid", "doc_id"), "left_anti"))), None)
      case (Some((pos, combined)), None) =>
        Resolved(Some(if (combined) Frontier.pin(pos) else pos), None)
      case (None, neg) => Resolved(None, neg) // pinned above
    }
  }

  /** Ranked LEXICAL serve of the boolean query: resolve the clauses,
    * then BM25-rank the survivors from the same maintained index —
    * s43/s46/s47's shape behind one call. `queries` is (qid, text).
    * `bounded = true` serves through the MaxScore probe
    * ([[LexIndex.probeLexIndexMaxScore]] — bit-identical output,
    * bounded reads; it falls back to the full probe on any budget
    * trip, so the flag is always safe to set). */
  def search(spark: SparkSession, name: String, queries: DataFrame,
      kEach: Int, clauses: Clauses,
      asOf: Option[Long] = None, bounded: Boolean = false): DataFrame = {
    val r = resolve(spark, name, clauses, asOf)
    if (bounded)
      LexIndex.probeLexIndexMaxScore(spark, name, queries, kEach, asOf,
        candPred = clauses.filter, candPairs = r.candPairs,
        exclPairs = r.exclPairs)
    else LexIndex.probeLexIndex(spark, name, queries, kEach, asOf,
      candPred = clauses.filter, candPairs = r.candPairs,
      exclPairs = r.exclPairs)
  }

  /** The FULL two-index fused serve (s49's capstone shape behind one
    * call): the resolved pair set gates the lexical probe AND the ANN
    * probe at the pre-shortlist position, the metadata filters ride
    * candPred beside it on each leg, and RRF fuses the two rank lists.
    * `queries` is (qid, text); `emb` the embeddings relation the ANN
    * probe draws queries from (`vecQueryPred` selects them);
    * `vecFilter` the vec-side metadata scope (the doc-side scope is
    * `clauses.filter`). */
  def serve(spark: SparkSession, lexName: String, annName: String,
      queries: DataFrame, emb: DataFrame, vecQueryPred: Column,
      clauses: Clauses, k: Int, kEach: Int,
      vecFilter: Option[Column] = None,
      bounded: Boolean = false): DataFrame = {
    val r = resolve(spark, lexName, clauses)
    val lex =
      if (bounded) LexIndex.probeLexIndexMaxScore(spark, lexName, queries,
        kEach, candPred = clauses.filter, candPairs = r.candPairs,
        exclPairs = r.exclPairs)
      else LexIndex.probeLexIndex(spark, lexName, queries, kEach,
        candPred = clauses.filter, candPairs = r.candPairs,
        exclPairs = r.exclPairs)
    val vec = AnnIndex.probeAnnIndex(spark, annName, emb, vecQueryPred,
        k = kEach, candPred = vecFilter,
        candPairs = r.candPairs.map(_.select(col("qid"),
          col("doc_id").as("vec_id"))),
        exclPairs = r.exclPairs.map(_.select(col("qid"),
          col("doc_id").as("vec_id"))))
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rank").as("vec_rank"))
    HybridRetrieval.rrfFuse(lex, vec, k)
  }
}
