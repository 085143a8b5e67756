package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The maintained lexical index's contracts beyond the s31–s34 hash
  * rows: forced-pushdown equivalence, append replay convergence across
  * both partial-crash windows, immediate tombstone candidacy
  * exclusion with untouched statistics, and the tokenizer fail-fast. */
class LexIndexSpec extends SparkSpec {

  private def docs = Tables(spark, sf, "documents")
    .select(col("doc_id"), col("text"))

  private def queries = docs.filter(col("doc_id") < 4)

  private def oneShot: Array[(Long, Long, Int, Long)] =
    HybridRetrieval.lexicalTopK(docs, col("doc_id") < 4, kEach = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))

  private def probe(name: String): Array[(Long, Long, Int, Long)] =
    LexIndex.probeLexIndex(spark, name, queries, kEach = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))

  test("forced-pushdown probe == one-shot lexicalTopK (and the IN " +
      "filter reaches the postings scan)") {
    LexIndex.destroy(spark, "graft_t_lex1")
    LexIndex.writeLexIndex(docs, "graft_t_lex1", numBuckets = 4)
    withConfs(LexIndex.PushdownMinBytesConf -> "0") {
      assert(probe("graft_t_lex1").sameElements(oneShot))
      // the bounded term set must reach the postings scan as a pushed
      // In-filter — that is what turns sorted buckets into row-group
      // pruning at 100 TB
      val plan = LexIndex.probeLexIndex(spark, "graft_t_lex1", queries, 10)
        .queryExecution.executedPlan.toString
      assert(plan.contains("graft_t_lex1_postings"), plan)
      assert(plan.contains("PushedFilters: [In(tok"), plan)
    }
  }

  test("postings side of the probe joins without an exchange below it") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    LexIndex.destroy(spark, "graft_t_lex2")
    LexIndex.writeLexIndex(docs, "graft_t_lex2", numBuckets = 4)
    val plan = withConfs("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      LexIndex.probeLexIndex(spark, "graft_t_lex2", queries, 10)
        .queryExecution.executedPlan
    }
    def isPostingsScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec => f.relation.location.rootPaths
        .exists(_.toString.contains("graft_t_lex2_postings"))
      case _ => false
    }
    val scans = plan.collect {
      case f: FileSourceScanExec if isPostingsScan(f) => f
    }
    assert(scans.nonEmpty, s"no postings scan:\n$plan")
    def pathTo(p: SparkPlan, t: SparkPlan): Option[List[SparkPlan]] =
      if (p.eq(t)) Some(List(p))
      else p.children.view.flatMap(c => pathTo(c, t)).headOption.map(p :: _)
    scans.foreach { scan =>
      val path = pathTo(plan, scan).getOrElse(sys.error("scan not in plan"))
      val belowJoin = path.drop(path.lastIndexWhere(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]))
      assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"postings re-shuffled before its join:\n$plan")
    }
  }

  private def batch(idOffset: Long): DataFrame =
    docs.filter(col("doc_id") >= 4 && col("doc_id") < 24)
      .select((col("doc_id") + idOffset).as("doc_id"),
        concat(lit("replayable batch "), col("text")).as("text"))

  private def statsSums(name: String): (Long, Long) = {
    val r = spark.table(Generations.resolve(spark, name, "stats"))
      .agg(sum("n_docs"), sum("total_tokens")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The dictionary-exactness invariant: the maintained vocabFrame
    * (dfcap ∪ deltas) == the dictionary a postings scan derives —
    * terms, exact df, and the impact-bound stamps. */
  private def dictConsistent(name: String): Boolean = {
    val fromPostings = spark
      .table(Generations.resolve(spark, name, "postings"))
      .groupBy("tok").agg(count(lit(1)).as("df"),
        max(col("tf")).as("max_tf"), min(col("len")).as("min_len"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val maintained = LexIndex.vocabFrame(spark, name).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    maintained == fromPostings
  }

  /** The block-skipping losslessness precondition: every postings row
    * has at least one covering stamp that dominates it (same tok,
    * doc_id inside the stamped range, max_tf ≥ tf, min_len ≤ len) —
    * a dropped row's own block must bound its weight from above. */
  private def stampsCover(name: String): Boolean = {
    val post = spark.table(Generations.resolve(spark, name, "postings"))
      .select("tok", "doc_id", "tf", "len")
    val st = spark.table(Generations.resolve(spark, name, "impacts"))
    post.as("p").join(st.as("s"),
        col("p.tok") === col("s.tok") &&
          col("p.doc_id").between(col("s.doc_lo"), col("s.doc_hi")) &&
          col("s.max_tf") >= col("p.tf") &&
          col("s.min_len") <= col("p.len"),
        "left_anti")
      .isEmpty
  }

  test("append replay converges across all partial-crash windows — " +
      "the four legacy prefixes AND the non-prefix subsets the " +
      "overlapped member writes make reachable") {
    for (fp <- Seq(
        // the four prefix windows of the old sequential member order
        "land-only:postings", "land-only:postings,doclen",
        "land-only:postings,doclen,vocab",
        "land-only:postings,doclen,vocab,impacts",
        // subset states only reachable under overlap: a base member
        // missing while later-fenced members landed
        "land-only:doclen",
        "land-only:vocab,impacts",
        "land-only:doclen,vocab,impacts")) {
      LexIndex.destroy(spark, "graft_t_lexc")
      LexIndex.destroy(spark, "graft_t_lexr")
      val base = docs.filter(col("doc_id") < 200)
      LexIndex.writeLexIndex(base, "graft_t_lexc", numBuckets = 4)
      LexIndex.writeLexIndex(base, "graft_t_lexr", numBuckets = 4)
      val b = batch(1000000L)
      LexIndex.appendToLexIndex(b, "graft_t_lexc", "b1", ifAbsent = true)
      LexIndex.appendFailpoint = Some(fp)
      try intercept[IllegalStateException] {
        LexIndex.appendToLexIndex(b, "graft_t_lexr", "b1", ifAbsent = true)
      } finally LexIndex.appendFailpoint = None
      // the at-least-once redelivery: same batch id, same rows
      LexIndex.appendToLexIndex(b, "graft_t_lexr", "b1", ifAbsent = true)
      // and a spurious third delivery must be a no-op
      LexIndex.appendToLexIndex(b, "graft_t_lexr", "b1", ifAbsent = true)
      assert(statsSums("graft_t_lexr") == statsSums("graft_t_lexc"),
        s"stats diverged after crash at $fp")
      val clean = LexIndex.probeLexIndex(spark, "graft_t_lexc", queries, 10)
        .collect().map(_.toString).sorted
      val replayed = LexIndex.probeLexIndex(spark, "graft_t_lexr", queries, 10)
        .collect().map(_.toString).sorted
      assert(replayed.sameElements(clean), s"probe diverged after $fp")
      // postings row counts equal — no duplicate rows slipped in
      val pc = spark.table(Generations.resolve(spark, "graft_t_lexc",
        "postings")).count()
      val pr = spark.table(Generations.resolve(spark, "graft_t_lexr",
        "postings")).count()
      assert(pc == pr, s"postings count diverged after $fp: $pc vs $pr")
      // the maintained dictionary converged too: delta written exactly
      // once (a replay from a window that landed vocab must SKIP it;
      // the other windows' replays must write it) — df would double
      // otherwise
      assert(dictConsistent("graft_t_lexr"),
        s"dictionary diverged from postings after crash at $fp")
      // every landed row is covered by a dominating stamp on BOTH the
      // clean and the replayed family — the postings-only window is
      // the one where rows land before their stamps; its replay must
      // close the gap (and the all-four window's replay must not
      // double-stamp in a way that stops dominating — superset stamps
      // are fine)
      assert(stampsCover("graft_t_lexr"),
        s"a postings row lost stamp coverage after crash at $fp")
    }
  }

  test("maintained dictionary stays EXACT through the whole lifecycle " +
      "(build, appends, tombstone, compaction) and vocabulary probes " +
      "never scan postings") {
    import spark.implicits._
    val name = "graft_t_lexv"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs.filter(col("doc_id") % 5 =!= 3), name,
      numBuckets = 4)
    assert(dictConsistent(name), "fresh build: dfcap != postings")
    // append the held-out fifth — the delta path
    LexIndex.appendToLexIndex(docs.filter(col("doc_id") % 5 === 3), name,
      batchId = "n1")
    assert(dictConsistent(name), "after append: dfcap+delta != postings")
    // a second append REUSING existing vocabulary (df sums across
    // deltas) plus novel terms (dictionary grows)
    LexIndex.appendToLexIndex(
      Seq((910L, "spark stream zzqx zzqy zzqx")).toDF("doc_id", "text"),
      name, batchId = "n2")
    assert(dictConsistent(name), "after 2nd append: delta sum wrong")
    // tombstones do NOT move the dictionary (corpus statistic until
    // compaction — the df asymmetry, on the vocabulary surface)
    LexIndex.tombstoneLex(spark, name, Seq(910L).toDF("doc_id"))
    assert(dictConsistent(name), "tombstone moved the dictionary")
    assert(LexIndex.vocabFrame(spark, name)
      .filter(col("tok") === "zzqx").count() == 1,
      "tombstoned doc's terms left the dictionary before compaction")
    // compaction consolidates: dfcap exact over survivors, delta empty
    LexIndex.compactLexIndex(spark, name)
    assert(dictConsistent(name), "after compaction: dfcap != postings")
    assert(spark.table(Generations.resolve(spark, name, "vocab")).isEmpty,
      "compaction did not reset the delta member")
    assert(LexIndex.vocabFrame(spark, name)
      .filter(col("tok") === "zzqx").isEmpty,
      "erased doc's unique terms survived consolidation")
    // the vocabulary surfaces never touch the postings member: no
    // postings scan appears in their plans (the r15 scale-killer fix)
    val tkc = graft.functions.TextFunctions.tokens(col("text"))
    val terms = docs.filter(col("doc_id") >= 8 && col("doc_id") < 12)
      .select((col("doc_id") - 8).as("qid"), element_at(tkc, 1).as("t"))
      .select(col("qid"), expr("concat(left(t, 1), substring(t, 3))")
        .as("term"))
    val prefixes = Seq((0L, "s")).toDF("qid", "prefix")
    Seq(LexIndex.probeFuzzy(spark, name, terms),
        LexIndex.suggestTerms(spark, name, prefixes, k = 3)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains(s"${name}_postings"),
        s"vocabulary probe still scans postings:\n$plan")
    }
    // probePrefix touches postings ONLY for the capped expansions'
    // matching stage — with the In(tok) pushdown, not a full scan
    withConfs(LexIndex.PushdownMinBytesConf -> "0") {
      val plan = LexIndex.probePrefix(spark, name, prefixes, 4)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [In(tok"),
        s"prefix matching stage lost the In(tok) pushdown:\n$plan")
    }
    LexIndex.destroy(spark, name)
  }

  test("ifAbsent replay after an erasure compaction cannot resurrect purged docs (r13 advice)") {
    // the resurrection window: a batch lands, a takedown of its docs
    // follows, the nightly callback compacts (purging the docs,
    // consolidating the stats fence, clearing applied tombstones), and
    // the JVM dies BEFORE the stream checkpoint commits — the replayed
    // batch then finds neither the fence nor the docs and, unbarred,
    // would re-insert rows whose erasure was already physical.
    val name = "graft_t_lexres"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs.filter(col("doc_id") < 100), name,
      numBuckets = 4)
    val b = batch(2000000L).localCheckpoint()
    LexIndex.appendToLexIndex(b, name, "bz", ifAbsent = true)
    LexIndex.tombstoneLex(spark, name, b.select("doc_id"))
    LexIndex.compactLexIndex(spark, name)
    assert(Tombstones.get(spark, name).isEmpty,
      "compaction did not clear the applied set")
    def appended() = spark.table(Generations.resolve(spark, name, "doclen"))
      .filter(col("doc_id") >= 2000000L).count()
    assert(appended() == 0L, "compaction did not purge the batch")
    // the at-least-once redelivery — same batch id, same rows
    LexIndex.appendToLexIndex(b, name, "bz", ifAbsent = true)
    assert(appended() == 0L, "replay resurrected physically erased docs")
    val q = b.limit(3).select((col("doc_id") + 7000000L).as("doc_id"),
      col("text")).localCheckpoint()
    val hits = LexIndex.probeLexIndex(spark, name, q, kEach = 10)
      .collect().map(_.getLong(1)).filter(_ >= 2000000L)
    assert(hits.isEmpty, s"erased docs retrievable again: ${hits.toSeq}")
    // re-ingesting erased content is a DELIBERATE act: after an
    // explicit readmit, a fresh crawl (new batch id) lands normally
    Tombstones.readmit(spark, name, b.select("doc_id"))
    LexIndex.appendToLexIndex(b, name, "bz2", ifAbsent = true)
    assert(appended() == b.count(), "readmitted docs did not ingest")
    LexIndex.destroy(spark, name)
  }

  test("serve-time candidacy filter: predicate holds on every hit, scores are filter-invariant") {
    // the s39 contract: a metadata scope narrows WHO may be retrieved,
    // never the corpus statistics — every surviving (qid, doc) keeps
    // the exact score the unfiltered probe gave it, and every hit
    // satisfies the predicate
    val name = "graft_t_lexf"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    val unfiltered = probe(name)
    val filtered = LexIndex.probeLexIndex(spark, name, queries, kEach = 10,
        candPred = Some(col("doc_id") % 2 === 0))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(filtered.nonEmpty, "filtered probe returned nothing — vacuous")
    assert(filtered.forall(_._2 % 2 == 0),
      s"a hit violates the candidacy predicate: ${filtered.toSeq}")
    val unfScores = unfiltered.map(t => (t._1, t._2) -> t._4).toMap
    filtered.foreach { t =>
      unfScores.get((t._1, t._2)).foreach(s0 => assert(s0 == t._4,
        s"score of (${t._1}, ${t._2}) moved under the filter: $s0 != ${t._4}"))
    }
    // and the filter ADMITS new docs into the top-k (rank re-packing,
    // not a mere subset cut): some filtered hit is absent upstream
    val unfKeys = unfiltered.map(t => (t._1, t._2)).toSet
    assert(filtered.exists(t => !unfKeys.contains((t._1, t._2))),
      "filter only truncated the unfiltered list — fixture too small to discriminate")
    LexIndex.destroy(spark, name)
  }

  test("positional postings: scoring probe prunes the positions column; phrase probe reads it and matches a direct scan") {
    val name = "graft_t_lexp"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    // the scan's ReadSchema from the plan string (the AQE-safe spelling
    // this suite already uses for PushedFilters)
    def postingsSchemas(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains(s"${name}_postings") &&
          l.contains("ReadSchema"))
        .map(_.replaceAll(".*ReadSchema: ", "")).toList
    // BM25 serving pays NOTHING for the positional column: the scoring
    // probe's postings scans must not request it
    val score = postingsSchemas(
      LexIndex.probeLexIndex(spark, name, queries, kEach = 10))
    assert(score.nonEmpty && score.forall(!_.contains("positions")),
      s"scoring probe reads positions: $score")
    val phrases = docs.filter(col("doc_id") < 8)
      .select(col("doc_id").as("phrase_id"),
        concat_ws(" ", slice(graft.functions.TextFunctions
          .tokens(col("text")), 1, 2)).as("phrase"))
    val probe = LexIndex.probePhrase(spark, name, phrases)
    val phr = postingsSchemas(probe)
    assert(phr.nonEmpty && phr.forall(_.contains("positions")),
      s"phrase probe does not read positions: $phr")
    // correctness vs a direct windowed scan of the raw text: count of
    // contiguous 2-token runs + the first anchor, per (phrase, doc)
    val got = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getInt(3)))
      .toMap
    val toks = docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("tk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val want = (for {
      (pid, pt) <- phrases.collect()
        .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
      (did, tk) <- toks
      anchors = tk.indices.dropRight(pt.length - 1)
        .filter(i => tk.slice(i, i + pt.length) == pt)
      if anchors.nonEmpty
    } yield (pid, did) -> (anchors.length.toLong, anchors.head)).toMap
    assert(got == want,
      s"phrase probe != direct scan: ${got.size} vs ${want.size} pairs")
    LexIndex.destroy(spark, name)
  }

  test("probeShould: minimum-should-match == direct containment at every threshold; positions pruned; tombstone exclusion") {
    val name = "graft_t_lexs"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    val terms = docs.filter(col("doc_id") >= 8 && col("doc_id") < 12)
      .select((col("doc_id") - 8).as("qid"),
        explode(slice(graft.functions.TextFunctions.tokens(col("text")),
          2, 3)).as("tok"))
    // direct containment truth from the raw text
    val toks = docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("tk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val shouldSets = terms.collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    def want(m: Int) = (for {
      (q, ts) <- shouldSets.toSeq
      (d, tk) <- toks
      n = ts.count(tk.contains)
      if n >= m
    } yield (q, d) -> n.toLong).toMap
    for (m <- 1 to 3) {
      val got = LexIndex.probeShould(spark, name, terms, m).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want(m), s"minMatch=$m != direct containment")
    }
    // the fixture exercises a GENUINE threshold (strictly nested
    // candidacy sets) — otherwise the loop above proves less than it
    // reads
    assert(want(1).size > want(2).size && want(2).size > want(3).size,
      s"fixture thresholds degenerate: ${(1 to 3).map(want(_).size)}")
    // containment reads (tok, doc_id) only — the positions column
    // prunes away exactly as in BM25 scoring
    val sch = LexIndex.probeShould(spark, name, terms, 2)
      .queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains(s"${name}_postings") &&
        l.contains("ReadSchema"))
      .map(_.replaceAll(".*ReadSchema: ", "")).toList
    assert(sch.nonEmpty && sch.forall(!_.contains("positions")),
      s"SHOULD probe reads positions: $sch")
    // tombstoned docs lose candidacy immediately
    val victim = want(2).keys.head._2
    LexIndex.tombstoneLex(spark, name,
      spark.range(victim, victim + 1).toDF("doc_id"))
    val after = LexIndex.probeShould(spark, name, terms, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!after.exists(_._2 == victim), "tombstoned doc still a candidate")
    LexIndex.destroy(spark, name)
  }

  test("anchor doc pushdown: positional probes == the unanchored scan " +
      "bit-exactly; In(doc_id) reaches the postings scan; an " +
      "unmatchable clause empties its group") {
    val name = "graft_t_lexanchor"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    val tk = graft.functions.TextFunctions.tokens(col("text"))
    val phrases = docs.filter(col("doc_id") < 8)
      .select(col("doc_id").as("phrase_id"),
        concat_ws(" ", slice(tk, 1, 2)).as("phrase"))
    val pairs = docs.filter(col("doc_id") >= 8 && col("doc_id") < 12)
      .select((col("doc_id") - 8).as("qid"),
        element_at(tk, 2).as("tok_a"), element_at(tk, 5).as("tok_b"))
    val clauses = docs.filter(col("doc_id") >= 8 && col("doc_id") < 12)
      .select((col("doc_id") - 8).as("qid"),
        posexplode(slice(tk, 2, 3)).as(Seq("off", "tok")))
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    withConfs(LexIndex.PushdownMinBytesConf -> "0") {
      val phOn = rows(LexIndex.probePhrase(spark, name, phrases))
      assert(LexIndex.lastAnchorStats.exists(_._2 > 0),
        s"phrase anchor pushdown never fired: ${LexIndex.lastAnchorStats}")
      // the anchor doc set must reach the scan as a pushed In-filter —
      // the row-group pruning inside a common term's sorted run
      val plan = LexIndex.probePhrase(spark, name, phrases)
        .queryExecution.executedPlan.toString
      assert(plan.contains("In(doc_id"), plan)
      val pxOn = rows(LexIndex.probeProximity(spark, name, pairs, 3))
      assert(LexIndex.lastAnchorStats.exists(_._2 > 0),
        "proximity anchor pushdown never fired")
      val pnOn = rows(LexIndex.probeProximityN(spark, name, clauses, 4))
      assert(LexIndex.lastAnchorStats.exists(_._2 > 0),
        "proximity-n anchor pushdown never fired")
      // budget 0 = the unanchored scan: identical rows on all three
      // (the anchor only removes reads, never matches)
      withConfs(LexIndex.AnchorDocsMaxConf -> "0") {
        assert(rows(LexIndex.probePhrase(spark, name, phrases)) == phOn,
          "phrase probe moved under the anchor pushdown")
        assert(LexIndex.lastAnchorStats.isEmpty)
        assert(rows(LexIndex.probeProximity(spark, name, pairs, 3)) == pxOn,
          "proximity probe moved under the anchor pushdown")
        assert(rows(LexIndex.probeProximityN(spark, name, clauses, 4)) ==
          pnOn, "proximity-n probe moved under the anchor pushdown")
      }
      // a phrase whose every token is dictionary-absent is unmatchable:
      // the anchored scan reads NOTHING (Some(Nil) → lit(false)) and
      // returns empty — and so does the unanchored truth
      import spark.implicits._
      val ghost = Seq((99L, "zzzqxv zzzqxw")).toDF("phrase_id", "phrase")
      assert(LexIndex.probePhrase(spark, name, ghost).isEmpty,
        "ghost phrase matched")
      assert(LexIndex.lastAnchorStats.contains((0, 0)),
        s"unmatchable group did not short-circuit: ${LexIndex.lastAnchorStats}")
    }
    LexIndex.destroy(spark, name)
  }

  test("probeProximity: min-distance == direct position scan at every slop; tombstone exclusion") {
    val name = "graft_t_lexx"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    val tk = graft.functions.TextFunctions.tokens(col("text"))
    val pairs = docs.filter(col("doc_id") >= 8 && col("doc_id") < 12)
      .select((col("doc_id") - 8).as("qid"),
        element_at(tk, 2).as("tok_a"), element_at(tk, 5).as("tok_b"))
    // direct truth from the raw token streams
    val toks = docs.select(col("doc_id"), tk.as("tks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val pr = pairs.collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2))))
    def want(slop: Int) = (for {
      (q, Some(a), Some(b)) <- pr
      (d, ts) <- toks
      pa = ts.zipWithIndex.collect { case (t, i) if t == a => i }
      pb = ts.zipWithIndex.collect { case (t, i) if t == b => i }
      if pa.nonEmpty && pb.nonEmpty
      md = (for (x <- pa; y <- pb) yield math.abs(x - y)).min
      if md <= slop
    } yield (q, d) -> md).toMap
    for (slop <- Seq(1, 3, 8)) {
      val got = LexIndex.probeProximity(spark, name, pairs, slop)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
        .toMap
      assert(got == want(slop), s"slop=$slop != direct scan")
    }
    // ordered (SpanNear inOrder): b strictly after a, distance = the
    // smallest positive pos_b - pos_a
    def wantOrdered(slop: Int) = (for {
      (q, Some(a), Some(b)) <- pr
      (d, ts) <- toks
      pa = ts.zipWithIndex.collect { case (t, i) if t == a => i }
      pb = ts.zipWithIndex.collect { case (t, i) if t == b => i }
      ds = for (x <- pa; y <- pb; if y > x) yield y - x
      if ds.nonEmpty && ds.min <= slop
    } yield (q, d) -> ds.min).toMap
    for (slop <- Seq(3, 8)) {
      val got = LexIndex.probeProximity(spark, name, pairs, slop,
          ordered = true)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
        .toMap
      assert(got == wantOrdered(slop), s"ordered slop=$slop != direct")
    }
    // order genuinely bites: some unordered match has b only BEFORE a
    assert(wantOrdered(8) != want(8), "fixture order degenerate")
    // the slop genuinely bites on this fixture
    assert(want(1).size < want(8).size,
      s"fixture slop degenerate: ${want(1).size} vs ${want(8).size}")
    // tombstoned docs lose candidacy immediately
    val victim = want(8).keys.head._2
    LexIndex.tombstoneLex(spark, name,
      spark.range(victim, victim + 1).toDF("doc_id"))
    val after = LexIndex.probeProximity(spark, name, pairs, 8)
      .collect().map(r => r.getLong(1)).toSet
    assert(!after.contains(victim), "tombstoned doc still matched")
    LexIndex.destroy(spark, name)
  }

  test("probeProximityN: n-term window span == direct scan (unordered " +
      "and ordered); n = 2 agrees with probeProximity; tombstones") {
    val name = "graft_t_lexn"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    val tk = graft.functions.TextFunctions.tokens(col("text"))
    // three clauses per query: the paired doc's 2nd, 5th and 7th tokens
    val clauses = docs.filter(col("doc_id") >= 8 && col("doc_id") < 12)
      .select((col("doc_id") - 8).as("qid"), posexplode(
        array(element_at(tk, 2), element_at(tk, 5), element_at(tk, 7))))
      .select(col("qid"), col("pos").as("off"), col("col").as("tok"))
    // direct truth from the raw token streams (brute force over all
    // occurrence choices)
    val toks = docs.select(col("doc_id"), tk.as("tks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val cl = clauses.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).map { case (q, xs) =>
        q -> xs.sortBy(_._2).map(_._3).toSeq }
    def positions(d: Seq[String], t: String) =
      d.zipWithIndex.collect { case (x, i) if x == t => i }
    def wantU(slop: Int) = (for {
      (q, ts) <- cl.toSeq
      (d, dt) <- toks.toSeq
      ps = ts.map(positions(dt, _))
      if ps.forall(_.nonEmpty)
      span = (for (c <- ps.map(_.toSeq).foldLeft(Seq(Seq.empty[Int]))(
        (acc, a) => acc.flatMap(pre => a.map(pre :+ _))))
        yield c.max - c.min).min
      if span <= slop
    } yield (q, d) -> span).toMap
    def wantO(slop: Int) = (for {
      (q, ts) <- cl.toSeq
      (d, dt) <- toks.toSeq
      ps = ts.map(positions(dt, _))
      if ps.forall(_.nonEmpty)
      chains = ps.map(_.toSeq).foldLeft(Seq(Seq.empty[Int]))((acc, a) =>
        acc.flatMap(pre => a.filter(p => pre.isEmpty || p > pre.last)
          .map(pre :+ _)))
      if chains.nonEmpty
      span = chains.map(c => c.max - c.min).min
      if span <= slop
    } yield (q, d) -> span).toMap
    for (slop <- Seq(4, 6, 12)) {
      val gotU = LexIndex.probeProximityN(spark, name, clauses, slop)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
        .toMap
      assert(gotU == wantU(slop), s"unordered slop=$slop != direct")
      val gotO = LexIndex.probeProximityN(spark, name, clauses, slop,
          ordered = true)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
        .toMap
      assert(gotO == wantO(slop), s"ordered slop=$slop != direct")
    }
    // the fixture genuinely discriminates: order bites (some unordered
    // match has no in-order chain within the slop) and slop bites
    assert(wantO(6).keySet != wantU(6).keySet, "fixture order degenerate")
    assert(wantU(4).size < wantU(12).size, "fixture slop degenerate")
    // n = 2 degenerates to probeProximity's min |pos_a - pos_b|
    val two = clauses.filter(col("off") < 2)
    val pairs = docs.filter(col("doc_id") >= 8 && col("doc_id") < 12)
      .select((col("doc_id") - 8).as("qid"),
        element_at(tk, 2).as("tok_a"), element_at(tk, 5).as("tok_b"))
    val g2 = LexIndex.probeProximityN(spark, name, two, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    val g2p = LexIndex.probeProximity(spark, name, pairs, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    assert(g2 == g2p, "n=2 probeProximityN != probeProximity")
    // tombstoned docs lose candidacy immediately
    val victim = wantU(12).keys.head._2
    LexIndex.tombstoneLex(spark, name,
      spark.range(victim, victim + 1).toDF("doc_id"))
    assert(!LexIndex.probeProximityN(spark, name, clauses, 12)
      .collect().map(_.getLong(1)).contains(victim),
      "tombstoned doc still matched")
    LexIndex.destroy(spark, name)
  }

  test("probePrefix: capped term-order expansion == direct scan; the " +
      "startsWith disjunction reaches the postings scan; tombstones") {
    val name = "graft_t_lexp"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    import spark.implicits._
    val tkc = graft.functions.TextFunctions.tokens(col("text"))
    // mixed prefix LENGTHS on purpose — the expansion join unions one
    // equi-join per distinct length; 's' expands to 6 vocabulary
    // terms, so the cap genuinely bites
    val prefixes = Seq((0L, "s"), (1L, "ta"), (2L, "b"), (3L, "fil"))
      .toDF("qid", "prefix")
    // direct truth from the raw text
    val toks = docs.select(col("doc_id"), tkc.as("tk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val vocab = toks.values.flatten.toSet
    val px = prefixes.collect().map(r => (r.getLong(0), r.getString(1)))
    def want(cap: Int) = (for {
      (q, p) <- px.toSeq
      exps = vocab.filter(_.startsWith(p)).toSeq.sorted.take(cap).toSet
      (d, tk) <- toks
      n = exps.count(tk.contains)
      if n > 0
    } yield (q, d) -> n.toLong).toMap
    for (cap <- Seq(2, 8, 1000)) {
      val got = LexIndex.probePrefix(spark, name, prefixes, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(got == want(cap), s"maxExpansions=$cap != direct scan")
    }
    // the cap genuinely bites on this fixture (otherwise the loop
    // proves less than it reads)
    assert(want(2) != want(1000), "fixture cap degenerate")
    // forced pushdown: the prefix disjunction reaches the scan
    withConfs(LexIndex.PushdownMinBytesConf -> "0") {
      val got = LexIndex.probePrefix(spark, name, prefixes, 8)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(got == want(8), "forced-pushdown probe diverged")
      // the startsWith disjunction reaches the DICTIONARY member scans
      // (asserted on suggestTerms — probePrefix pins its expansion set,
      // which evaluates the dictionary side eagerly out of the plan)
      val dictPlan = LexIndex.suggestTerms(spark, name, prefixes, 8)
        .queryExecution.executedPlan.toString
      assert(dictPlan.contains("StringStartsWith(tok"), dictPlan)
      assert(!dictPlan.contains(s"${name}_postings"),
        s"dictionary expansion still scans postings:\n$dictPlan")
      // and the matching stage pushes the capped expansions into the
      // postings scan as an In(tok) filter
      val plan = LexIndex.probePrefix(spark, name, prefixes, 8)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [In(tok"), plan)
    }
    // tombstoned docs lose candidacy immediately
    val victim = want(8).keys.head._2
    LexIndex.tombstoneLex(spark, name,
      spark.range(victim, victim + 1).toDF("doc_id"))
    val after = LexIndex.probePrefix(spark, name, prefixes, 8)
      .collect().map(r => r.getLong(1)).toSet
    assert(!after.contains(victim), "tombstoned doc still matched")
    LexIndex.destroy(spark, name)
  }

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("probeFuzzy: symmetric-delete join == naive levenshtein over " +
      "the vocabulary at maxEdits 1 and 2 (exact df carried)") {
    val name = "graft_t_lexf"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    val tkc = graft.functions.TextFunctions.tokens(col("text"))
    val terms = docs.filter(col("doc_id") >= 8 && col("doc_id") < 12)
      .select((col("doc_id") - 8).as("qid"),
        element_at(tkc, 1).as("t"))
      .select(col("qid"),
        expr("concat(left(t, 1), substring(t, 3))").as("term"))
    // naive truth: every vocab term within edit distance d, with its
    // exact df — the quadratic scan the symmetric-delete join avoids;
    // equality kills BOTH misses (an ED-1 pair sharing no deletion
    // variant cannot exist) AND false positives (shared-variant ED-2
    // pairs must be removed by the verify pass)
    val dfm = docs.select(col("doc_id"),
        explode(array_distinct(tkc)).as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val qs = terms.collect().map(r => (r.getLong(0), r.getString(1)))
    for (d <- Seq(1, 2)) {
      val want = (for {
        (q, t) <- qs.toSeq
        (v, df) <- dfm
        dist = lev(t, v)
        if dist <= d
      } yield (q, t, v, dist, df)).toSet
      val got = LexIndex.probeFuzzy(spark, name, terms, maxEdits = d)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getInt(3), r.getLong(4))).toSet
      assert(got == want, s"maxEdits=$d: ${got.size} vs ${want.size}")
      // every query found at least one suggestion (the misspelling is
      // one deletion from a real token)
      assert(qs.map(_._1).toSet.subsetOf(got.map(_._1)),
        s"maxEdits=$d: a query found no suggestion")
    }
    LexIndex.destroy(spark, name)
  }

  test("probeLexIndexMaxScore: bit-identical to probeLexIndex, and the " +
      "essential split prunes a heavy low-impact list on a skew fixture") {
    import spark.implicits._
    withConfs(LexIndex.PushdownMinBytesConf -> "0") {
      // equality on the regular corpus (forced pushdown)
      val name = "graft_t_lexms"
      LexIndex.destroy(spark, name)
      LexIndex.writeLexIndex(docs, name, numBuckets = 4)
      val full = probe(name)
      val bounded = LexIndex.probeLexIndexMaxScore(spark, name, queries, 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .sortBy(t => (t._1, t._3))
      assert(bounded.sameElements(full), "MaxScore != full probe")
      // tombstones honored on every pass (θ, candidates, completion)
      val victim = full.head._2
      LexIndex.tombstoneLex(spark, name,
        spark.range(victim, victim + 1).toDF("doc_id"))
      val fullT = probe(name)
      val boundedT = LexIndex.probeLexIndexMaxScore(spark, name, queries, 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .sortBy(t => (t._1, t._3))
      assert(boundedT.sameElements(fullT), "MaxScore != probe post-delete")
      LexIndex.destroy(spark, name)
      // SKEW fixture: a heavy term in 60% of docs (df-cap survivor,
      // long list, LOW idf) + rare discriminative terms. The rare
      // terms' upper bounds dwarf the heavy term's, so θ from the seed
      // list makes the heavy term NON-ESSENTIAL — its list never feeds
      // candidacy (the 100 TB win) — while completion keeps scores
      // bit-identical.
      val skew = spark.range(1000).select(col("id").as("doc_id"),
        concat(
          when(col("id") % 5 < 3, lit("heavy ")).otherwise(lit("")),
          lit("rare"), (col("id") % 50).cast("string"),
          lit(" filler"), col("id").cast("string"),
          lit(" pad alpha beta gamma")).as("text"))
      val sName = "graft_t_lexsk"
      LexIndex.destroy(spark, sName)
      LexIndex.writeLexIndex(skew, sName, numBuckets = 4)
      val q2 = Seq((7777777L, "heavy rare7 rare13")).toDF("doc_id", "text")
      val f2 = LexIndex.probeLexIndex(spark, sName, q2, kEach = 5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .sortBy(t => (t._1, t._3))
      val b2 = LexIndex.probeLexIndexMaxScore(spark, sName, q2, kEach = 5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .sortBy(t => (t._1, t._3))
      assert(b2.sameElements(f2), "MaxScore != full probe on skew fixture")
      assert(f2.nonEmpty, "skew fixture vacuous")
      val Some((surv, ess, tot, cands)) = LexIndex.lastBoundedStats
      assert(surv == 3 && tot == 3,
        s"expected 3 surviving query terms, got $surv/$tot")
      assert(ess < tot,
        s"essential split never pruned: $ess of $tot pairs essential " +
          s"($cands candidates) — fixture or split broken")
      // as-of: the bounded probe reads the frozen generation's
      // postings AND dictionary, equal to the full probe's as-of read
      LexIndex.compactLexIndex(spark, sName, gcKeep = 2)
      val g0 = Generations.currentGen(spark, sName).get - 1
      LexIndex.appendToLexIndex(
        spark.range(5).select((col("id") + 5000000L).as("doc_id"),
          concat(lit("heavy rare7 extra appended doc "),
            col("id").cast("string")).as("text")),
        sName, batchId = "ms-asof")
      val fA = LexIndex.probeLexIndex(spark, sName, q2, kEach = 5,
          asOf = Some(g0)).collect().map(_.toString).sorted
      val bA = LexIndex.probeLexIndexMaxScore(spark, sName, q2, kEach = 5,
          asOf = Some(g0)).collect().map(_.toString).sorted
      assert(bA.sameElements(fA), "as-of MaxScore != as-of full probe")
      assert(!bA.sameElements(
        LexIndex.probeLexIndexMaxScore(spark, sName, q2, kEach = 5)
          .collect().map(_.toString).sorted),
        "fixture degenerate: the append did not move the current probe")
      LexIndex.destroy(spark, sName)
    }
  }

  test("per-block impact stamps: lossless block skipping on a spiky " +
      "list (θ from top blocks, essential blocks pruned), stamps " +
      "re-walked through append and compaction") {
    import spark.implicits._
    val name = "graft_t_lexbm"
    withConfs(LexIndex.PushdownMinBytesConf -> "0",
        LexIndex.ImpactBlockRowsConf -> "32") {
      LexIndex.destroy(spark, name)
      // SPIKY fixture (the BMW regime): `bulk` sits in 60% of docs —
      // low idf but a df-cap survivor — with tf=1 in long docs except
      // ten short high-tf docs at the low end of the doc_id order, so
      // in (doc_id-ordered) blocks of 32 exactly the first block(s)
      // carry a high impact bound and every other block's upper bound
      // sits far below θ
      val spiky = spark.range(1000).select(col("id").as("doc_id"),
        when(col("id") < 10, lit("bulk bulk bulk bulk"))
          .otherwise(concat(
            when(col("id") % 5 < 3, lit("bulk ")).otherwise(lit("")),
            lit("filler"), col("id").cast("string"),
            lit(" pad alpha beta gamma delta epsilon zeta eta theta")))
          .as("text"))
      LexIndex.writeLexIndex(spiky, name, numBuckets = 4)
      assert(stampsCover(name), "fresh build: a row has no stamp")
      val q = Seq((7777777L, "bulk")).toDF("doc_id", "text")
      def run(k: Int) = {
        val f = LexIndex.probeLexIndex(spark, name, q, kEach = k)
          .collect().map(_.toString).sorted
        val b = LexIndex.probeLexIndexMaxScore(spark, name, q, kEach = k)
          .collect().map(_.toString).sorted
        assert(b.sameElements(f), s"bounded != full at k=$k")
        assert(f.nonEmpty, "fixture vacuous")
      }
      run(3)
      val Some((seedRanges, kept, total)) = LexIndex.lastBlockStats
      assert(total > 5, s"fixture produced too few blocks: $total")
      assert(kept < total,
        s"block skipping never fired: $kept of $total stamps kept")
      assert(seedRanges > 0, "seed subsetting never fired")
      // HOT-TERM per-term budget (r17 ask #2): with the per-term cap
      // far below the term's block count, skipping must STILL fire —
      // top-B stamps individually, the dropped tail as one dominated
      // virtual rest-stamp — and stay bit-identical to the full probe
      withConfs(LexIndex.ImpactsPerTermMaxConf -> "4") {
        run(3)
        val Some((_, keptB, totalB)) = LexIndex.lastBlockStats
        assert(totalB == 5,
          s"per-term budget not applied: $totalB stamps (want 4 + 1 " +
            "virtual)")
        assert(keptB < totalB,
          s"skipping under per-term budget never fired: $keptB/$totalB")
      }
      // append ten MORE spiky docs at the high end: their stamps land
      // as the batch's own blocks; the bounded probe must pick them up
      // (new top-k members live in appended blocks — a stale stamp
      // view would lose them, flipping equality)
      LexIndex.appendToLexIndex(
        spark.range(10).select((col("id") + 900000L).as("doc_id"),
          lit("bulk bulk bulk bulk bulk").as("text")),
        name, batchId = "bm1")
      assert(stampsCover(name), "after append: a row has no stamp")
      run(3)
      // tombstone a spiky doc: candidacy exclusion must hold on the
      // block-skipped path too (θ from eligible docs only)
      LexIndex.tombstoneLex(spark, name, Seq(0L).toDF("doc_id"))
      run(3)
      // compaction consolidates stamps exactly over the survivors
      LexIndex.compactLexIndex(spark, name)
      assert(stampsCover(name), "after compaction: a row has no stamp")
      run(3)
      // candidacy legs ride the block-skipped path bit-identically
      val fF = LexIndex.probeLexIndex(spark, name, q, kEach = 3,
          candPred = Some(col("doc_id") % 2 === 0))
        .collect().map(_.toString).sorted
      val bF = LexIndex.probeLexIndexMaxScore(spark, name, q, kEach = 3,
          candPred = Some(col("doc_id") % 2 === 0))
        .collect().map(_.toString).sorted
      assert(bF.sameElements(fF), "bounded != full under candPred")
      LexIndex.destroy(spark, name)
    }
  }

  test("bestWindows: max-distinct-query-terms window == brute force, " +
      "earliest start on ties, one row per hit") {
    val name = "graft_t_lexw"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    val q = queries
    val ranked = LexIndex.probeLexIndex(spark, name, q, kEach = 10)
      .select("qid", "doc_id").localCheckpoint()
    val w = 5
    val got = LexIndex.bestWindows(spark, name, ranked, q, w)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getInt(3))).toMap
    // brute force from the raw token streams
    val toks = docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("tk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val hitPairs = ranked.collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = hitPairs.map { case (qid, d) =>
      val qts = toks(qid).toSet
      val dt = toks(d)
      val starts = dt.zipWithIndex.collect {
        case (t, i) if qts.contains(t) => i }
      val scored = starts.map(s =>
        (s, dt.slice(s, s + w).filter(qts.contains).distinct.size))
      val bestN = scored.map(_._2).max
      val bestS = scored.filter(_._2 == bestN).map(_._1).min
      (qid, d) -> (bestS, bestN)
    }.toMap
    assert(got == want, s"${got.size} hits; first diff: " +
      want.find(kv => got.get(kv._1) != Some(kv._2)))
    assert(got.keySet == hitPairs.toSet, "a hit lost its window")
    // the argmax genuinely discriminates: not every window is maximal
    assert(want.values.map(_._2).toSet.size > 1 ||
      want.values.map(_._1).exists(_ > 0), "fixture degenerate")
    LexIndex.destroy(spark, name)
  }

  test("explainHits: per-term w_scaled sums EXACTLY to each hit's " +
      "lex_scaled; hit set identical to the probe") {
    val name = "graft_t_lexe"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    val hits = LexIndex.probeLexIndex(spark, name, queries, kEach = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getLong(3))).toMap
    val expl = LexIndex.explainHits(spark, name, queries, kEach = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getString(3), r.getLong(4), r.getLong(5)))
    // same hit set, same ranks/totals
    val explHits = expl.map(t => (t._1, t._2) -> (t._3, t._6)).toMap
    assert(explHits == hits, "explain hit set != probe hit set")
    // the decomposition accounts for the WHOLE score, exactly
    expl.groupBy(t => (t._1, t._2)).foreach { case (k, rows) =>
      assert(rows.map(_._5).sum == hits(k)._2,
        s"per-term sum != lex_scaled for $k")
      // and a hit decomposes into >= 1 term rows with distinct terms
      assert(rows.map(_._4).distinct.length == rows.length,
        s"duplicate term rows for $k")
    }
    // multi-term evidence exists (otherwise the sum check is trivial)
    assert(expl.groupBy(t => (t._1, t._2)).exists(_._2.length > 1),
      "fixture degenerate: every hit matched one term")
    LexIndex.destroy(spark, name)
  }

  test("suggestTerms + probePrefix: df ranking == direct; as-of reads " +
      "the frozen dictionary while current sees appended vocab") {
    import spark.implicits._
    val name = "graft_t_lexa"
    LexIndex.destroy(spark, name)
    LexIndex.writeLexIndex(docs, name, numBuckets = 4)
    val prefixes = Seq((0L, "s"), (1L, "b")).toDF("qid", "prefix")
    // direct df truth
    val dfm = docs.select(col("doc_id"),
        explode(array_distinct(
          graft.functions.TextFunctions.tokens(col("text")))).as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def wantTop(p: String, k: Int) = dfm.toSeq
      .filter(_._1.startsWith(p))
      .sortBy { case (t, d) => (-d, t) }.take(k)
    val got = LexIndex.suggestTerms(spark, name, prefixes, k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getInt(3)))
    assert(got.filter(_._1 == 0L).sortBy(_._4).map(t => (t._2, t._3))
      .toSeq == wantTop("s", 3), s"suggest 's' != direct: ${got.toSeq}")
    assert(got.filter(_._1 == 1L).sortBy(_._4).map(t => (t._2, t._3))
      .toSeq == wantTop("b", 3), s"suggest 'b' != direct")
    // freeze a generation, append NEW vocabulary matching the prefix
    LexIndex.compactLexIndex(spark, name, gcKeep = 2)
    val g0 = Generations.currentGen(spark, name).get - 1
    val before = LexIndex.suggestTerms(spark, name, prefixes, k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val beforePfx = LexIndex.probePrefix(spark, name, prefixes, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    LexIndex.appendToLexIndex(
      Seq((900L, "szz szz szz szz szz szz szz szz szz bzz")) // df 1, but
        .toDF("doc_id", "text"),                             // new terms
      name, batchId = "t_vocab")
    // current dictionary sees the appended terms...
    val cur = LexIndex.suggestTerms(spark, name, prefixes, k = 10)
      .collect().map(r => r.getString(1)).toSet
    assert(cur.contains("szz") && cur.contains("bzz"),
      "appended vocabulary not suggested")
    // ...the frozen generation does not (and prefix matching agrees)
    val asOf = LexIndex.suggestTerms(spark, name, prefixes, k = 3,
        asOf = Some(g0))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(asOf == before, "as-of dictionary leaked appended terms")
    val asOfPfx = LexIndex.probePrefix(spark, name, prefixes, 4,
        asOf = Some(g0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(asOfPfx == beforePfx, "as-of prefix probe leaked appends")
    LexIndex.destroy(spark, name)
  }

  test("tombstone: immediate candidacy exclusion, untouched statistics") {
    LexIndex.destroy(spark, "graft_t_lexd")
    LexIndex.writeLexIndex(docs, "graft_t_lexd", numBuckets = 4)
    val before = probe("graft_t_lexd")
    val victim = before.head._2
    LexIndex.tombstoneLex(spark, "graft_t_lexd",
      spark.range(victim, victim + 1).toDF("doc_id"))
    val after = probe("graft_t_lexd")
    assert(!after.exists(_._2 == victim), "tombstoned doc still retrieved")
    // every surviving (qid, doc) keeps its EXACT pre-delete score:
    // candidacy-only exclusion leaves df/stats untouched until the
    // compaction makes the erasure physical and statistical together
    val beforeScores = before.map(t => (t._1, t._2) -> t._4).toMap
    after.foreach { t =>
      beforeScores.get((t._1, t._2)).foreach(s =>
        assert(s == t._4, s"score of surviving doc ${t._2} moved"))
    }
    // and the erasure compaction refuses to retain history
    val e = intercept[IllegalArgumentException] {
      LexIndex.compactLexIndex(spark, "graft_t_lexd", gcKeep = 2)
    }
    assert(e.getMessage.contains("erasure compaction"))
    LexIndex.compactLexIndex(spark, "graft_t_lexd")
    assert(Tombstones.get(spark, "graft_t_lexd").isEmpty)
  }

  test("compaction resize keeps probe results and rebuilds df/stats") {
    LexIndex.destroy(spark, "graft_t_lexz")
    LexIndex.writeLexIndex(docs.filter(col("doc_id") % 3 =!= 0),
      "graft_t_lexz", numBuckets = 4)
    LexIndex.appendToLexIndex(docs.filter(col("doc_id") % 3 === 0),
      "graft_t_lexz", "n1")
    val pre = probe("graft_t_lexz")
    LexIndex.compactLexIndex(spark, "graft_t_lexz", numBuckets = Some(8))
    assert(probe("graft_t_lexz").sameElements(pre))
    assert(probe("graft_t_lexz").sameElements(oneShot))
    val sp = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(
        Generations.resolve(spark, "graft_t_lexz", "postings"))).bucketSpec.get
    assert(sp.numBuckets == 8 && sp.bucketColumnNames == Seq("tok"))
    // dfcap rebuilt == exact df of the compacted postings
    val dfc = spark.table(Generations.resolve(spark, "graft_t_lexz", "dfcap"))
    val exact = spark.table(Generations.resolve(spark, "graft_t_lexz",
        "postings")).groupBy("tok").agg(count(lit(1)).as("df"))
    assert(dfc.join(exact, Seq("tok"))
      .filter(dfc("df") =!= exact("df")).isEmpty)
    assert(dfc.count() == exact.count())
  }

  test("tokenizer stamp fail-fast") {
    LexIndex.destroy(spark, "graft_t_lexs")
    LexIndex.writeLexIndex(docs.filter(col("doc_id") < 50), "graft_t_lexs",
      numBuckets = 2)
    val pt = Generations.resolve(spark, "graft_t_lexs", "postings")
    spark.sql(s"ALTER TABLE $pt SET TBLPROPERTIES " +
      s"('${LexIndex.TokenizerProp}' = 'bpe-v9')")
    val e = intercept[IllegalArgumentException] {
      LexIndex.probeLexIndex(spark, "graft_t_lexs", queries, 5)
    }
    assert(e.getMessage.contains("tokenizer"))
  }

}
