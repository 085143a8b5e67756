package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The [[BooleanQuery]] API's contract: every clause combination must
  * equal the hand-wired pair-set composition it factors (the s49 hash
  * row proves the full grammar through the two-index serve; this spec
  * walks the 2⁴ clause lattice on the lexical serve), multi-phrase
  * MUST requires ALL phrases, and the new vec-side MUST_NOT leg
  * excludes at the pre-shortlist position. */
class BooleanQuerySpec extends SparkSpec {

  private def docs = Tables(spark, sf, "documents")
    .select(col("doc_id"), col("text"))

  private def queries = docs.filter(col("doc_id") < 4)

  private val tk = graft.functions.TextFunctions.tokens(col("text"))

  private def mustFrame = docs.filter(col("doc_id") < 4)
    .select(col("doc_id").as("qid"),
      concat_ws(" ", slice(tk, 1, 2)).as("phrase"))

  private def shouldFrame = docs.filter(col("doc_id") >= 8 && col("doc_id") < 12)
    .select((col("doc_id") - 8).as("qid"),
      explode(slice(tk, 2, 3)).as("tok"))

  private def notFrame = docs.filter(col("doc_id") < 4)
    .select(col("doc_id").as("qid"),
      concat_ws(" ", slice(tk, 3, 1)).as("phrase"))

  private def rows(df: DataFrame): Set[(Long, Long, Int, Long)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet

  test("every clause combination == the hand-wired pair-set composition") {
    val name = "graft_t_bq"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    // the manual probes the API factors (computed once)
    val pm = LexIndex.probePhrase(spark, name, mustFrame)
      .select(col("phrase_id").cast("long").as("qid"), col("doc_id"))
      .localCheckpoint()
    val sm = LexIndex.probeShould(spark, name, shouldFrame, minMatch = 2)
      .select(col("qid"), col("doc_id")).localCheckpoint()
    val nm = LexIndex.probePhrase(spark, name, notFrame)
      .select(col("phrase_id").cast("long").as("qid"), col("doc_id"))
      .localCheckpoint()
    val pred = col("doc_id") % 2 === 0
    var nontrivial = 0
    for {
      useMust <- Seq(false, true)
      useShould <- Seq(false, true)
      useNot <- Seq(false, true)
      useFilter <- Seq(false, true)
    } {
      val clauses = BooleanQuery.Clauses(
        must = if (useMust) Some(mustFrame) else None,
        should = if (useShould) Some(shouldFrame) else None,
        minShould = 2,
        mustNot = if (useNot) Some(notFrame) else None,
        filter = if (useFilter) Some(pred) else None)
      val got = rows(BooleanQuery.search(spark, name, queries, 10, clauses))
      // hand-wired twin: positives intersect, MUST_NOT folds in (or
      // rides exclPairs when no positive exists), filter = candPred
      val positive = (if (useMust) Seq(pm) else Nil) ++
        (if (useShould) Seq(sm) else Nil)
      val pos = positive.reduceOption(_.join(_, Seq("qid", "doc_id")))
      val (candPairs, exclPairs) = (pos, useNot) match {
        case (Some(p), true) =>
          (Some(p.join(nm, Seq("qid", "doc_id"), "left_anti")), None)
        case (Some(p), false) => (Some(p), None)
        case (None, true) => (None, Some(nm))
        case (None, false) => (None, None)
      }
      val want = rows(LexIndex.probeLexIndex(spark, name, queries, 10,
        candPred = if (useFilter) Some(pred) else None,
        candPairs = candPairs, exclPairs = exclPairs))
      val combo = s"must=$useMust should=$useShould not=$useNot " +
        s"filter=$useFilter"
      assert(got == want, s"API != hand-wired at $combo")
      // the BOUNDED serve (MaxScore with candidacy legs) must be
      // bit-identical under every clause combination — θ is seeded
      // from the CONSTRAINED list, so the equality here is the
      // lossless-under-candidacy proof the r16 verdict asked for
      // (forced pushdown floor so the bounded path actually runs)
      val gotB = withConfs(LexIndex.PushdownMinBytesConf -> "0") {
        rows(BooleanQuery.search(spark, name, queries, 10, clauses,
          bounded = true))
      }
      assert(gotB == want, s"bounded API != hand-wired at $combo")
      // the pair-set broadcasts are size-GATED (r17 verdict finding
      // #1): budget 0 forces the shuffle semi/anti fallback at the
      // same candidacy position, on BOTH serve paths — membership
      // must be identical (the gate moves the join strategy, never
      // the rows)
      if (useMust || useShould || useNot) {
        val (gotS, gotSB) = withConfs(LexIndex.PairBroadcastMaxConf -> "0") {
          val full = rows(BooleanQuery.search(spark, name, queries, 10,
            clauses))
          val bnd = withConfs(LexIndex.PushdownMinBytesConf -> "0") {
            rows(BooleanQuery.search(spark, name, queries, 10,
              clauses, bounded = true))
          }
          (full, bnd)
        }
        assert(gotS == want, s"shuffle-fallback != hand-wired at $combo")
        assert(gotSB == want,
          s"bounded shuffle-fallback != hand-wired at $combo")
      }
      if (got.nonEmpty) nontrivial += 1
    }
    // the lattice walk proved something: most combos return hits
    assert(nontrivial >= 12, s"fixture too degenerate: $nontrivial/16")
    LexIndex.destroy(spark, name)
  }

  test("positive clauses intersect PER QUERY: a qid absent from one " +
      "clause frame is constrained only by the frames that mention it") {
    val name = "graft_t_bqqid"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    // must covers qids {0, 1}; should covers qids {1, 2} — under the
    // old frame-wise inner join, qids 0 and 2 vanished entirely
    val mustP = mustFrame.filter(col("qid") < 2)
    val shouldP = shouldFrame.filter(col("qid") >= 1 && col("qid") < 3)
    val r = BooleanQuery.resolve(spark, name, BooleanQuery.Clauses(
      must = Some(mustP), should = Some(shouldP), minShould = 2))
    val got = r.candPairs.get.collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val pm = LexIndex.probePhrase(spark, name, mustP
        .select(col("qid").as("phrase_id"), col("phrase")))
      .select(col("phrase_id").cast("long").as("qid"), col("doc_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val sm = LexIndex.probeShould(spark, name, shouldP, minMatch = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val want = pm.filter(_._1 == 0L) ++
      (pm.filter(_._1 == 1L) intersect sm.filter(_._1 == 1L)) ++
      sm.filter(_._1 == 2L)
    assert(got == want, s"${got.size} vs ${want.size}")
    // the semantics genuinely bite: both single-clause qids matched
    assert(want.exists(_._1 == 0L) && want.exists(_._1 == 2L),
      "fixture degenerate: a single-clause qid matched nothing")
    // a qid present in a clause INPUT frame whose probe matched
    // nothing still requires that clause: give qid 0 an unmatchable
    // must phrase — it must match NO docs even though should covers it
    import spark.implicits._
    val r2 = BooleanQuery.resolve(spark, name, BooleanQuery.Clauses(
      must = Some(Seq((0L, "zzzz-no-such-token qqqq")).toDF("qid", "phrase")),
      should = Some(shouldP.unionByName(
        shouldFrame.filter(col("qid") === 0))), minShould = 2))
    val got2 = r2.candPairs.get.collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(!got2.exists(_._1 == 0L),
      "an unmatched MUST clause stopped binding its qid")
    assert(got2.exists(_._1 == 2L), "should-only qid lost")
    LexIndex.destroy(spark, name)
  }

  test("multi-phrase MUST requires ALL of a query's phrases") {
    import spark.implicits._
    val name = "graft_t_bqm"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    // two phrases per query: its own tokens [1,2] and [3,4] — a doc
    // must contain BOTH contiguous runs
    val two = docs.filter(col("doc_id") < 4)
      .select(col("doc_id").as("qid"),
        explode(array(concat_ws(" ", slice(tk, 1, 2)),
          concat_ws(" ", slice(tk, 3, 2)))).as("phrase"))
    val r = BooleanQuery.resolve(spark, name, BooleanQuery.Clauses(
      must = Some(two)))
    val got = r.candPairs.get.collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    // direct truth from the raw token streams
    val toks = docs.collect().map(r2 => r2.getLong(0) ->
      r2.getString(1).trim.split("\\s+").toSeq).toMap
    def containsRun(d: Seq[String], p: Seq[String]) =
      d.indices.dropRight(p.length - 1)
        .exists(i => d.slice(i, i + p.length) == p)
    val want = (for {
      (q, qt) <- toks.toSeq if q < 4
      ps = Seq(qt.slice(0, 2), qt.slice(2, 4))
      (d, dt) <- toks.toSeq // toSeq: a Map generator would collapse per q
      if ps.forall(containsRun(dt, _))
    } yield (q, d)).toSet
    assert(got == want, s"${got.size} vs ${want.size}")
    // both-phrases genuinely bites: requiring only the first phrase
    // admits strictly more docs
    val one = BooleanQuery.resolve(spark, name, BooleanQuery.Clauses(
      must = Some(mustFrame))).candPairs.get.count()
    assert(one > got.size, "fixture degenerate: ALL == first-only")
    LexIndex.destroy(spark, name)
  }

  test("vec-side MUST_NOT excludes at the pre-shortlist position: " +
      "survivor scores untouched, shortlist repacks") {
    val name = "graft_t_bqann"
    Generations.destroy(spark, name, AnnIndex.maintenanceMembers)
    Tombstones.destroy(spark, name)
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    AnnIndex.writeAnnIndex(emb, name, nCells = 8)
    val base = AnnIndex.probeAnnIndex(spark, name, emb,
        col("vec_id") < 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // exclude each query's top hit
    val topPairs = base.groupBy(_._1).map(_._2.minBy(_._3 * -1))
      .map(t => (t._1, t._2)).toSeq
    import spark.implicits._
    val excl = topPairs.toDF("qid", "vec_id")
    val after = AnnIndex.probeAnnIndex(spark, name, emb,
        col("vec_id") < 4, k = 10, exclPairs = Some(excl))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val exclSet = topPairs.toSet
    assert(after.forall(t => !exclSet.contains((t._1, t._2))),
      "excluded pair still retrieved")
    // surviving pairs keep their exact ADC scores (candidacy-only)
    val baseScores = base.map(t => (t._1, t._2) -> t._3).toMap
    after.foreach(t => baseScores.get((t._1, t._2)).foreach(s0 =>
      assert(s0 == t._3, s"score moved for (${t._1}, ${t._2})")))
    // and the freed slots repack: some query gains a pair absent from
    // the unfiltered top-10 (pre-shortlist exclusion, not a post-cut)
    val baseKeys = base.map(t => (t._1, t._2)).toSet
    assert(after.exists(t => !baseKeys.contains((t._1, t._2))),
      "exclusion only truncated the list — not pre-shortlist")
    Generations.destroy(spark, name, AnnIndex.maintenanceMembers)
  }
}
