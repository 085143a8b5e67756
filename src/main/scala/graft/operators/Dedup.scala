package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication operators for a training-data pipeline (north-star
  * surface): exact, n-gram Jaccard, MinHash-LSH, SimHash. All are
  * shuffle-on-key plans — no driver-side loops — so they scale with
  * partition count; the LSH variants exist precisely so the pair space
  * never materializes as a cross join at 100 TB.
  */
object Dedup {

  // ---- shingling ----------------------------------------------------
  /** Distinct k-word shingles; short docs yield their whole token list
    * as one shingle. Needs a `toks` column (array<string>). */
  def shingleExpr(k: Int): Column =
    expr(s"array_distinct(transform(sequence(0, greatest(size(toks) - $k, 0))," +
      s" i -> array_join(slice(toks, i + 1, $k), ' ')))")

  /** (doc_id, sh) exploded distinct shingles of `documents`-shaped df. */
  def shingles(docs: DataFrame, k: Int = 5): DataFrame =
    docs.withColumn("toks", TextFunctions.tokens(col("text")))
      .select(col("doc_id"), explode(shingleExpr(k)).as("sh"))

  /** DuckDB twin of [[shingles]] as a CTE tail named `sh`. */
  def sqlShinglesCte(table: String, k: Int = 5): String =
    s"""toks AS (SELECT doc_id, ${TextFunctions.sqlTokens("text")} AS tk FROM $table),
       shi AS (SELECT doc_id, tk,
           unnest(range(0, greatest(len(tk) - ${k - 1}, 1))) AS i FROM toks),
       sh AS (SELECT DISTINCT doc_id,
           array_to_string(tk[i + 1:i + $k], ' ') AS sh FROM shi)"""

  // ---- exact dedup --------------------------------------------------
  /** Exact dedup on a normalized-text fingerprint: the survivor of each
    * duplicate group is the lowest doc_id (a deterministic
    * `dropDuplicates`). A plain aggregate — partial-combined map-side,
    * one shuffle keyed on the fingerprint, no sort. (To carry the whole
    * surviving row instead of just its id, swap `min` for
    * `min_by(struct(cols), doc_id)` — still one unsorted shuffle;
    * round-1's window/row_number formulation paid two Window sorts for
    * the same answer.) */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.withColumn("fp", TextFunctions.fingerprint(col("text")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("group_size"))
      .select(col("doc_id"), col("fp"), col("group_size"))

  // ---- exact n-gram Jaccard pairs ----------------------------------
  /** All pairs (a<b) with shingle-Jaccard ≥ minJ, via a shingle-key
    * equi-join (partial-aggregated). Jaccard = |∩|/|∪| over ints →
    * exact doubles.
    *
    * `dfCap` is the skew guard for the `a.sh = b.sh` self-join: a
    * boilerplate shingle shared by f documents emits f²/2 join rows,
    * so one disclaimer line in 1% of a 100 TB corpus makes the plan
    * quadratic in corpus size. With a cap, shingles whose document
    * frequency exceeds it are removed from the universe FIRST (one
    * partial-aggregated df pass + a broadcast anti-join — the pruned
    * set is tiny by construction), and the exact pipeline runs on
    * what remains; the join's per-key fan-out is then bounded by
    * dfCap². Semantics = exact Jaccard over the pruned shingle
    * universe: a qualifying pair is lost only if EVERY shingle it
    * shares is boilerplate-hot — exactly the pairs a dedup pass wants
    * to ignore (SCALE.md §d08 has the bound). Default = uncapped
    * (the oracle baseline d02); d08 runs the capped path with the cap
    * mirrored in its DuckDB twin. LSH below is the 100 TB path either
    * way. */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 5, minJ: Double = 0.5,
      dfCap: Int = Int.MaxValue): DataFrame =
    shingleIntersections(docs, k, dfCap)
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJ)
      .select("id_a", "id_b", "jaccard")

  /** EXACT Jaccard pairs via PREFIX FILTERING (the SSJoin/PPJoin
    * family) — the point between d02 and d08 neither occupies: d02's
    * uncapped equi-join is exact but its fan-out is quadratic in a hot
    * shingle's df; d08's df-cap bounds the fan-out but changes the
    * measure (Jaccard over the pruned universe). Prefix filtering
    * bounds the CANDIDATE space while provably losing nothing, so the
    * output is identical to [[ngramJaccardPairs]] uncapped — d22
    * hash-checks against d02's own oracle.
    *
    * Why it is complete (the prefix-filtering principle of
    * Chaudhuri/Ganti/Kaushik 2006; Bayardo et al. 2007 "all-pairs"):
    * order the shingle universe globally (rare-first: by df, then
    * hash). J(A,B) ≥ t implies |A∩B| ≥ t·|A∪B| ≥ α with
    * α = ⌈t·max(|A|,|B|)⌉, and any two sets with overlap ≥ α must
    * share a token within their (|x| − α + 1)-prefixes; the per-set
    * prefix |x| − ⌈t·|x|⌉ + 1 used here is ≥ that for both sides. So
    * every qualifying pair collides prefix-on-prefix, and the
    * candidate join runs prefix×prefix instead of doc×doc.
    *
    * Scale shape: one df pass (partial-aggregated), one doc-keyed
    * window over each doc's own shingles (small uniform groups), and
    * an equi-join whose per-key fan-out is prefix-only — rare-first
    * ordering pushes boilerplate-hot shingles OUT of prefixes, which
    * is exactly where d02 melts. The length filter
    * (t·max(|A|,|B|) ≤ min) kills cross-size candidates before the
    * verify. Verification = array_intersect on carried shingle-hash
    * arrays, candidates only (the d03 verify). */
  def prefixJaccardPairs(docs: DataFrame, k: Int = 5,
      minJ: Double = 0.5): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val withToks = docs.withColumn("toks", TextFunctions.tokens(col("text")))
    val sh = withToks.select(col("doc_id"),
      explode(transform(shingleExpr(k), s => xxhash64(s))).as("sh"))
    val df = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val ordered = sh.join(df, "sh")
      .withColumn("rn",
        row_number().over(byDoc.orderBy(col("df"), col("sh"))))
      .withColumn("n", count(lit(1)).over(byDoc))
    // the 1e-9 inside the ceil guards the float boundary: for a
    // threshold that is not an exact binary fraction, t·n can round
    // UP across an integer (e.g. t·n = 3.0000000001 for a true 3),
    // which would SHORTEN the prefix and silently drop qualifying
    // pairs. Subtracting the epsilon only ever lengthens the prefix —
    // completeness-leaning — and the verify stage below enforces the
    // true threshold on exact integer counts.
    val prefix = ordered
      .filter(col("rn") <=
        col("n") - ceil(lit(minJ) * col("n") - lit(1e-9)) + 1)
      .select(col("doc_id"), col("sh"), col("n"))
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          // same epsilon as the prefix cut: err on keeping the pair
          greatest(col("a.n"), col("b.n")) * minJ - lit(1e-9) <=
            least(col("a.n"), col("b.n")))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val arrs = withToks.select(col("doc_id"),
      transform(shingleExpr(k), s => xxhash64(s)).as("shs"))
    cands
      .join(arrs.select(col("doc_id").as("id_a"), col("shs").as("sha")), "id_a")
      .join(arrs.select(col("doc_id").as("id_b"), col("shs").as("shb")), "id_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("inter") /
        (size(col("sha")) + size(col("shb")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJ)
      .select("id_a", "id_b", "jaccard")
  }

  /** All pairs (a<b) with shingle CONTAINMENT ≥ minC, where
    * containment = |∩| / min(|A|, |B|): the asymmetric-duplicate
    * detector — a short doc quoted verbatim inside a long one has
    * containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so every
    * Jaccard-thresholded pass (d02/d03/d08) is BLIND to it, and
    * quote-heavy corpora (forums, aggregators, wikis) are full of it.
    *
    * Scale note: MinHash-LSH banding CANNOT accelerate this — band
    * collision probability tracks Jaccard, and the interesting
    * containment pairs are exactly the low-Jaccard ones — so the
    * candidate source is the same df-capped shingle equi-join as d08,
    * with the same dfCap² fan-out bound (SCALE.md §d15: the one-sided
    * miss analysis mirrors §d08 — a qualifying pair is lost only if
    * every shared shingle is boilerplate-hot). */
  def containmentPairs(docs: DataFrame, k: Int = 5, minC: Double = 0.8,
      dfCap: Int = Int.MaxValue): DataFrame =
    shingleIntersections(docs, k, dfCap)
      .withColumn("containment",
        col("inter") / least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= minC)
      .select("id_a", "id_b", "containment")

  /** Shared candidate core of the exact pair measures:
    * (id_a, id_b, inter, na, nb) for every pair sharing ≥1 surviving
    * shingle, via the df-capped shingle equi-join (partial-aggregated,
    * one shuffle keyed on sh, fan-out ≤ dfCap² per key). */
  private def shingleIntersections(docs: DataFrame, k: Int,
      dfCap: Int): DataFrame = {
    val allSh = shingles(docs, k)
    val pruned =
      if (dfCap == Int.MaxValue) allSh
      else {
        val hot = allSh.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > dfCap).select("sh")
        allSh.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    val sh = pruned.cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
  }

  /** CTE chain ending in `jp` = (id_a, id_b, jaccard), thresholded.
    * `dfCap` mirrors [[ngramJaccardPairs]]'s pruned-universe semantics
    * (shingles with df > cap removed before pairing/sizing). */
  def sqlJaccardCtes(table: String, k: Int = 5, minJ: Double = 0.5,
      dfCap: Int = Int.MaxValue): String = {
    val prune =
      if (dfCap == Int.MaxValue) ""
      else s""",
       keep AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= $dfCap),
       shp AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep USING (sh))"""
    val src = if (dfCap == Int.MaxValue) "sh" else "shp"
    s"""${sqlShinglesCte(table, k)}$prune,
       prs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         FROM $src a JOIN $src b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       sizes AS (SELECT doc_id, count(*) AS n FROM $src GROUP BY doc_id),
       jp AS (
         SELECT id_a, id_b,
           inter / CAST(na.n + nb.n - inter AS DOUBLE) AS jaccard
         FROM prs
         JOIN sizes na ON id_a = na.doc_id
         JOIN sizes nb ON id_b = nb.doc_id
         WHERE inter / CAST(na.n + nb.n - inter AS DOUBLE) >= $minJ)"""
  }

  def sqlNgramJaccard(table: String, k: Int = 5, minJ: Double = 0.5,
      dfCap: Int = Int.MaxValue): String =
    s"""WITH ${sqlJaccardCtes(table, k, minJ, dfCap)}
       SELECT id_a, id_b, jaccard FROM jp"""

  /** DuckDB twin of [[containmentPairs]] (same pruned-universe CTEs,
    * min-side normalizer). */
  def sqlContainment(table: String, k: Int = 5, minC: Double = 0.8,
      dfCap: Int = Int.MaxValue): String = {
    val prune =
      if (dfCap == Int.MaxValue) ""
      else s""",
       keep AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= $dfCap),
       shp AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep USING (sh))"""
    val src = if (dfCap == Int.MaxValue) "sh" else "shp"
    s"""WITH ${sqlShinglesCte(table, k)}$prune,
       prs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         FROM $src a JOIN $src b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       sizes AS (SELECT doc_id, count(*) AS n FROM $src GROUP BY doc_id)
       SELECT id_a, id_b,
         inter / CAST(least(na.n, nb.n) AS DOUBLE) AS containment
       FROM prs
       JOIN sizes na ON id_a = na.doc_id
       JOIN sizes nb ON id_b = nb.doc_id
       WHERE inter / CAST(least(na.n, nb.n) AS DOUBLE) >= $minC"""
  }

  // ---- benchmark decontamination ------------------------------------
  /** Eval-set contamination check (the GPT-3/PaLM "n-gram overlap"
    * decontamination pass every training pipeline runs before
    * training): for each training doc, how many of its distinct
    * k-gram spans appear in ANY benchmark/eval document.
    *
    * Scale shape: eval sets are tiny relative to the corpus (a few
    * million n-grams vs trillions), so the eval n-gram universe is
    * `broadcast` — the corpus side stays narrow (tokenize → explode →
    * broadcast hash join, no corpus shuffle) and the only shuffle is
    * the map-side-combined per-doc count. Returns every training doc
    * (clean docs with n_contaminated = 0) so the output can drive a
    * filter OR a contamination report. */
  def decontaminate(train: DataFrame, evalSet: DataFrame, k: Int = 8): DataFrame = {
    val evalSh = shingles(evalSet, k).select(col("sh")).distinct()
      .withColumn("hit", lit(1))
    shingles(train, k)
      .join(broadcast(evalSh), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("hit"), lit(0))).as("n_contaminated"))
      .select(col("doc_id"), col("n_spans"), col("n_contaminated"),
        (col("n_contaminated") > 0).as("contaminated"))
  }

  /** Bloom-filter decontamination — d10's broadcast, 10–50× smaller.
    * d10 broadcasts the eval universe's distinct k-grams verbatim; at
    * a large eval suite (hundreds of benchmarks × contamination
    * k-grams) that broadcast is GBs. A Bloom filter at fpp=1e-4 costs
    * ~2.4 bytes/item instead of the full string — and its one-sided
    * error is exactly the right shape for decontamination: a false
    * NEGATIVE (missed contamination) is impossible by construction,
    * while a false positive only over-drops a clean doc at a bounded,
    * driver-gated rate. Doc-level FP rate is 1−(1−fpp)^n_spans — the
    * reason the default fpp is 1e-4, not the textbook 1%: at ~60
    * spans/doc, 1% would flag ~45% of clean docs; 1e-4 flags ~0.6%.
    *
    * The filter is built by one aggregation (`stat.bloomFilter`) and
    * ships to executors as a broadcast — the same bounded-driver-
    * artifact pattern as IVF's centroids; the sizing `count` is an
    * eval-sized action. The probe is a narrow per-shingle UDF —
    * embarrassingly parallel, no join at all (vs d10's broadcast hash
    * join), which is the second win: the corpus side never even
    * builds join keys. Flags are deterministic (fixed-seed Murmur3),
    * but engine-specific → the registered query is the d18 contract
    * (no-false-negatives / FP-rate / non-vacuous), not a hash row. */
  /** SEMANTIC decontamination — the embedding-space twin of
    * [[decontaminate]]: n-gram gates catch verbatim leakage, but a
    * paraphrased benchmark item shares no 8-gram with its source; its
    * EMBEDDING still sits next to the eval set's. Flag every corpus
    * vector whose cosine to ANY eval vector reaches `minCos`.
    *
    * Plan (d06's two-stage discipline, with the eval side BROADCAST):
    * stage 1 gates the pair loop with the codegen'd float
    * `cosine_sim` at a guard-band below the threshold; stage 2 scores
    * only the survivors with the oracle-exact f32 chain and applies
    * the real cut — float-vs-chain disagreement lives inside the
    * band, never at the decision boundary. At 100 TB the eval
    * universe is bounded (benchmarks, not corpora) and broadcasts;
    * the corpus side is one narrow scan — the same shape as the
    * 8-gram gate, no corpus shuffle at all. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      minCos: Double = 0.35, dim: Int = 64): DataFrame = {
    import graft.functions.VectorFunctions._
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    val ev = evalSet.select(col("vec_id").as("eid"),
        col("embedding").as("ee"))
      .withColumn("en", expr(chainNorm("ee", dim, 0)))
    val cn = corpus.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", expr(chainNorm("embedding", dim, 0)))
    val hits = Frontier.pin(cn.join(broadcast(ev),
        expr(s"cosine_sim(embedding, ee)") >= minCos - 0.001))
      // pinned: breaks Catalyst inlining of the 192-term chain AND
      // rides the session's durability mode like every other frontier
      .withColumn("cos",
        expr(s"CAST(${chainDot("embedding", "ee", dim, 0)} AS DOUBLE)") /
          (col("nrm") * col("en")))
      .filter(col("cos") >= minCos)
      .groupBy("vec_id").agg(count(lit(1)).as("n_hits"))
    cn.select("vec_id").join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_eval_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  def decontaminateBloom(train: DataFrame, evalSet: DataFrame, k: Int = 8,
      fpp: Double = 1e-4): DataFrame = {
    val spark = train.sparkSession
    val evalSh = shingles(evalSet, k).select(col("sh")).distinct()
    val bf = evalSh.stat.bloomFilter("sh", math.max(evalSh.count(), 1L), fpp)
    val bcast = spark.sparkContext.broadcast(bf)
    val might = udf((s: String) => bcast.value.mightContainString(s))
    shingles(train, k)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(might(col("sh")), 1).otherwise(0)).as("n_flagged"))
      .select(col("doc_id"), col("n_spans"), col("n_flagged"),
        (col("n_flagged") > 0).as("contaminated"))
  }

  /** SPAN-level decontamination: instead of dropping a contaminated
    * doc wholesale (d10's gate — which at a 1% contamination rate
    * throws away 99%-clean documents), remove exactly the tokens
    * covered by a contaminated k-gram and keep the rest — the surgical
    * variant real pipelines run on high-value corpora.
    *
    * Shape: the corpus side stays narrow — positional k-grams
    * (posexplode, no distinct: POSITIONS are the point) probe the
    * broadcast eval universe; the only shuffle is the per-doc
    * collect_set of hit positions, whose payload is bounded by hits
    * (rare by construction — eval sets are tiny), not by doc length.
    * The hit sets then ride a broadcast back onto the corpus and the
    * redaction itself is one codegen'd transform/filter over the token
    * array: a token survives iff no hit k-gram covers its position.
    * Every doc comes back (clean ones verbatim, fully-contaminated
    * ones as ""), so the output can drive a rewrite OR a report.
    * Integer positions + string join ⇒ the whole thing hash-checks. */
  def redactContaminatedSpans(train: DataFrame, evalSet: DataFrame,
      k: Int = 8): DataFrame = {
    val evalSh = shingles(evalSet, k).select(col("sh")).distinct()
    val toks = train.withColumn("toks", TextFunctions.tokens(col("text")))
    val posSh = toks.select(col("doc_id"), posexplode(
      expr(s"transform(sequence(0, greatest(size(toks) - $k, 0)), " +
        "i -> array_join(slice(toks, i + 1, " + k + "), ' '))")))
      .toDF("doc_id", "i", "sh")
    val hitSets = posSh.join(broadcast(evalSh), Seq("sh"))
      .groupBy("doc_id").agg(collect_set(col("i")).as("his"))
    toks.join(broadcast(hitSets), Seq("doc_id"), "left")
      .withColumn("kept", expr(
        s"""IF(his IS NULL, toks,
           filter(transform(toks, (t, p) ->
             IF(exists(his, h -> p >= h AND p <= h + ${k - 1}),
               CAST(NULL AS STRING), t)),
             t -> t IS NOT NULL))"""))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_masked"))
  }

  /** DuckDB twin of [[redactContaminatedSpans]] with the eval set =
    * rows of `table` satisfying `evalPred`. Positions are 0-based in
    * both dialects; DuckDB's 1-based list indexing is confined to the
    * `tk[...]` slices. */
  def sqlRedactContaminatedSpans(table: String, evalPred: String,
      k: Int = 8): String =
    s"""WITH toks AS (SELECT doc_id,
         ${graft.functions.TextFunctions.sqlTokens("text")} AS tk FROM $table),
       etoks AS (SELECT ${graft.functions.TextFunctions.sqlTokens("text")} AS tk
         FROM $table WHERE $evalPred),
       eshi AS (SELECT tk,
           unnest(range(0, greatest(len(tk) - ${k - 1}, 1))) AS i FROM etoks),
       ev AS (SELECT DISTINCT array_to_string(tk[i + 1:i + $k], ' ') AS sh
         FROM eshi),
       tshi AS (SELECT doc_id, tk,
           unnest(range(0, greatest(len(tk) - ${k - 1}, 1))) AS i FROM toks),
       hits AS (SELECT doc_id, i FROM tshi
         JOIN ev ON array_to_string(tk[i + 1:i + $k], ' ') = ev.sh),
       mask AS (SELECT DISTINCT doc_id, unnest(range(i, i + $k)) AS p
         FROM hits),
       tp AS (SELECT doc_id, tk, unnest(range(0, len(tk))) AS p FROM toks),
       kept AS (SELECT t.doc_id, t.p, t.tk[t.p + 1] AS tok FROM tp t
         LEFT JOIN mask m ON t.doc_id = m.doc_id AND t.p = m.p
         WHERE m.p IS NULL)
       SELECT doc_id, clean_text, n_kept, n_masked FROM (
         SELECT t.doc_id AS doc_id,
           COALESCE(string_agg(k.tok, ' ' ORDER BY k.p), '') AS clean_text,
           CAST(count(k.tok) AS BIGINT) AS n_kept,
           CAST(len(any_value(t.tk)) - count(k.tok) AS BIGINT) AS n_masked
         FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id
         GROUP BY t.doc_id)"""

  // ---- duplicate-SPAN removal (exact-substring self-dedup) ----------
  /** Removes cross-document duplicated k-token spans from the corpus
    * itself, keeping ONE canonical copy of each — the self-dedup
    * sibling of [[redactContaminatedSpans]] (whose span set comes from
    * an external eval set and which masks EVERY hit). This is the
    * "train-train" exact-substring dedup signal: verbatim boilerplate
    * (license headers, navigation chrome, quoted replies) repeated
    * across documents is removed everywhere except its first
    * occurrence, so the training distribution keeps the content once.
    *
    * Tile variant: documents are cut into NON-overlapping k-token
    * tiles and a tile is a duplicate iff its exact text occurs at ≥2
    * (doc, position) sites. The canonical survivor of each duplicated
    * tile is the lexicographically smallest (doc_id, tile_idx)
    * occurrence; every other occurrence is dropped and each doc's text
    * is rebuilt from its surviving tiles in order. Suffix-array
    * ExactSubstr dedup (arbitrary-offset matches) is the offline
    * sibling; tiling trades boundary-offset misses (a span straddling
    * a tile edge isn't caught) for a plan that is pure shuffle-on-key:
    * one partial-aggregated shuffle on tile text (count + min-struct,
    * map-side combined), one co-partitioned join back on tile text,
    * one shuffle on doc_id to rebuild — the pair space NEVER
    * materializes, so the plan scales like d01, not like a self-join.
    * Integer tile indices + string join ⇒ hash-exact cross-engine. */
  def removeDuplicateSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    val toks = docs.withColumn("toks", TextFunctions.tokens(col("text")))
      .withColumn("n_tiles",
        expr(s"CAST(greatest((size(toks) + ${k - 1}) div $k, 1) AS BIGINT)"))
    val tiles = toks.select(col("doc_id"), posexplode(
      expr(s"transform(sequence(0, CAST(n_tiles AS INT) - 1), " +
        s"i -> array_join(slice(toks, i * $k + 1, $k), ' '))")))
      .toDF("doc_id", "i", "tile")
    val canon = tiles.groupBy("tile").agg(
      count(lit(1)).as("occ"),
      min(struct(col("doc_id"), col("i"))).as("keep"))
    val kept = tiles.join(canon, "tile")
      .filter(col("occ") === 1 ||
        (col("doc_id") === col("keep.doc_id") && col("i") === col("keep.i")))
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(expr(
        "transform(sort_array(collect_list(struct(i, tile))), x -> x.tile)"),
        " ").as("clean_text"))
    toks.select(col("doc_id"), col("n_tiles"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tiles"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** DuckDB twin of [[removeDuplicateSpans]] over `table`. The
    * min-struct canonical pick is replayed as two-level min (min
    * doc_id, then min tile_idx within it) — identical by definition
    * of lexicographic struct order. */
  def sqlRemoveDuplicateSpans(table: String, k: Int = 8): String =
    s"""WITH toks AS (SELECT doc_id,
         ${TextFunctions.sqlTokens("text")} AS tk FROM $table),
       nt AS (SELECT doc_id, tk,
           CAST(greatest((len(tk) + ${k - 1}) // $k, 1) AS BIGINT) AS n_tiles
         FROM toks),
       ti AS (SELECT doc_id, tk, unnest(range(0, n_tiles)) AS i FROM nt),
       tl AS (SELECT doc_id, i,
           array_to_string(tk[i * $k + 1:i * $k + $k], ' ') AS tile FROM ti),
       cn AS (SELECT tile, count(*) AS occ, min(doc_id) AS kd
         FROM tl GROUP BY tile),
       ck AS (SELECT t.tile, min(t.i) AS ki
         FROM tl t JOIN cn c ON t.tile = c.tile AND t.doc_id = c.kd
         GROUP BY t.tile),
       kp AS (SELECT t.doc_id, t.i, t.tile
         FROM tl t JOIN cn c ON t.tile = c.tile
           LEFT JOIN ck ON t.tile = ck.tile
         WHERE c.occ = 1 OR (t.doc_id = c.kd AND t.i = ck.ki)),
       rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
           string_agg(tile, ' ' ORDER BY i) AS clean_text
         FROM kp GROUP BY doc_id)
       SELECT n.doc_id, n.n_tiles,
         COALESCE(r.n_kept, 0) AS n_kept,
         COALESCE(r.clean_text, '') AS clean_text
       FROM nt n LEFT JOIN rb r USING (doc_id)"""

  /** MAXIMAL-SPAN duplicate removal: [[removeDuplicateSpans]] with the
    * ExactSubstr merge (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" — the canonical unit is the maximal
    * duplicated PASSAGE, not each k-token fragment of it). The tile
    * variant picks every duplicated tile's survivor independently, so
    * a long passage shared by two docs can shred: tile 1 canonical in
    * doc A, tile 2 in doc B — each doc keeps alternating fragments and
    * neither retains the contiguous passage a trainer expects. Here
    * ADJACENT duplicated tiles first coalesce into maximal per-doc
    * RUNS; the keep-one choice then happens at run granularity (min
    * (doc_id, start) occurrence of the run's full text), so exactly
    * one site keeps the passage contiguous and every other site drops
    * it whole.
    *
    * Scale shape: everything stays keyed — tile-frequency shuffle on
    * tile text, a PARTITIONED window on doc_id for the run grouping
    * (never a global window), span aggregation co-partitioned with it,
    * keep-one shuffle on span text, rebuild shuffle on doc_id. The
    * pair space never materializes; runs are bounded by doc length.
    * The tile variant remains the cheap mode (no window pass). */
  def removeDuplicateSpansMerged(docs: DataFrame, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.withColumn("toks", TextFunctions.tokens(col("text")))
      .withColumn("n_tiles",
        expr(s"CAST(greatest((size(toks) + ${k - 1}) div $k, 1) AS BIGINT)"))
    val tiles = toks.select(col("doc_id"), posexplode(
      expr(s"transform(sequence(0, CAST(n_tiles AS INT) - 1), " +
        s"i -> array_join(slice(toks, i * $k + 1, $k), ' '))")))
      .toDF("doc_id", "i", "tile")
    val occ = tiles.groupBy("tile").agg(count(lit(1)).as("occ"))
    val w = Window.partitionBy("doc_id").orderBy("i")
    // a run starts at every dup tile whose predecessor is not a dup;
    // the running sum of starts numbers each doc's runs (non-dup tiles
    // inherit a run_id but are filtered out where it matters)
    val runs = tiles.join(occ, "tile")
      .withColumn("dup", col("occ") > 1)
      .withColumn("run_id", sum(
        when(col("dup") &&
          !coalesce(lag(col("dup"), 1).over(w), lit(false)), 1L)
          .otherwise(0L)).over(w))
    val spans = runs.filter(col("dup"))
      .groupBy(col("doc_id"), col("run_id"))
      .agg(min(col("i")).as("start_i"),
        array_join(expr(
          "transform(sort_array(collect_list(struct(i, tile))), x -> x.tile)"),
          " ").as("span"))
    val spanKeep = spans.groupBy("span")
      .agg(min(struct(col("doc_id"), col("start_i"))).as("keep"))
    val keptSpans = spans.join(spanKeep, "span")
      .filter(col("doc_id") === col("keep.doc_id") &&
        col("start_i") === col("keep.start_i"))
      .select(col("doc_id"), col("run_id"), lit(true).as("span_kept"))
    val kept = runs.join(keptSpans, Seq("doc_id", "run_id"), "left")
      .filter(!col("dup") || coalesce(col("span_kept"), lit(false)))
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(expr(
        "transform(sort_array(collect_list(struct(i, tile))), x -> x.tile)"),
        " ").as("clean_text"))
    toks.select(col("doc_id"), col("n_tiles"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tiles"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** DuckDB twin of [[removeDuplicateSpansMerged]]. The min-struct
    * span survivor is replayed as two-level min, as in
    * [[sqlRemoveDuplicateSpans]]; the run numbering is the identical
    * running-sum-of-starts window. */
  def sqlRemoveDuplicateSpansMerged(table: String, k: Int = 8): String =
    s"""WITH toks AS (SELECT doc_id,
         ${TextFunctions.sqlTokens("text")} AS tk FROM $table),
       nt AS (SELECT doc_id, tk,
           CAST(greatest((len(tk) + ${k - 1}) // $k, 1) AS BIGINT) AS n_tiles
         FROM toks),
       ti AS (SELECT doc_id, tk, unnest(range(0, n_tiles)) AS i FROM nt),
       tl AS (SELECT doc_id, i,
           array_to_string(tk[i * $k + 1:i * $k + $k], ' ') AS tile FROM ti),
       oc AS (SELECT tile, count(*) AS occ FROM tl GROUP BY tile),
       mk AS (SELECT t.doc_id, t.i, t.tile, (oc.occ > 1) AS dup,
           coalesce(lag(oc.occ > 1)
             OVER (PARTITION BY t.doc_id ORDER BY t.i), false) AS pdup
         FROM tl t JOIN oc ON t.tile = oc.tile),
       rn AS (SELECT doc_id, i, tile, dup,
           sum(CASE WHEN dup AND NOT pdup THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY i) AS run_id
         FROM mk),
       sp AS (SELECT doc_id, run_id, min(i) AS start_i,
           string_agg(tile, ' ' ORDER BY i) AS span
         FROM rn WHERE dup GROUP BY doc_id, run_id),
       sc AS (SELECT span, min(doc_id) AS kd FROM sp GROUP BY span),
       sk AS (SELECT s.span, min(s.start_i) AS ki
         FROM sp s JOIN sc c ON s.span = c.span AND s.doc_id = c.kd
         GROUP BY s.span),
       ks AS (SELECT s.doc_id, s.run_id FROM sp s
         JOIN sc c ON s.span = c.span JOIN sk ON s.span = sk.span
         WHERE s.doc_id = c.kd AND s.start_i = sk.ki),
       kp AS (SELECT r.doc_id, r.i, r.tile FROM rn r
         LEFT JOIN ks ON r.doc_id = ks.doc_id AND r.run_id = ks.run_id
         WHERE NOT r.dup OR ks.doc_id IS NOT NULL),
       rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
           string_agg(tile, ' ' ORDER BY i) AS clean_text
         FROM kp GROUP BY doc_id)
       SELECT n.doc_id, n.n_tiles,
         COALESCE(r.n_kept, 0) AS n_kept,
         COALESCE(r.clean_text, '') AS clean_text
       FROM nt n LEFT JOIN rb r USING (doc_id)"""

  /** DuckDB twin of [[decontaminate]] where the eval set is the subset
    * of `table` satisfying `evalPred` (the fixture's shape). */
  def sqlDecontaminate(table: String, evalPred: String, k: Int = 8): String =
    s"""WITH ${sqlShinglesCte(table, k)},
       ev AS (SELECT DISTINCT sh FROM sh
         JOIN $table USING (doc_id) WHERE $evalPred),
       m AS (SELECT s.doc_id, count(*) AS n_spans,
           CAST(sum(CASE WHEN ev.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated
         FROM sh s LEFT JOIN ev ON s.sh = ev.sh GROUP BY s.doc_id)
       SELECT doc_id, n_spans, n_contaminated, n_contaminated > 0 AS contaminated
       FROM m ORDER BY doc_id NULLS FIRST"""

  // ---- MinHash + LSH ------------------------------------------------
  /** Signature count and banding. r=2, b=64 ⇒ candidate-recall at
    * J=0.5 is 1-(1-0.25)^64 ≈ 1-1e-8; verification then makes the
    * output exact w.r.t. the Jaccard threshold. At petabyte scale r
    * rises (fewer, more selective candidates). */
  val NumHashes = 128
  val Bands = 64
  val RowsPerBand: Int = NumHashes / Bands

  /** A planned band shape: collision probability at the dedup
    * threshold (candidate recall) and at the background similarity
    * (the candidate-rate tax every non-dup pair pays). */
  final case class LshPlan(rowsPerBand: Int, bands: Int,
      recallAtThreshold: Double, rateAtBackground: Double)

  /** P(band collision) = 1 − (1 − J^r)^b — the S-curve every
    * LSH-tuning decision reads off. */
  def lshCollisionProb(j: Double, r: Int, b: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, r), b)

  /** Pick the band shape for a hash budget: the LARGEST r whose band
    * count b = ⌈ln(1−targetRecall)/ln(1−minJ^r)⌉ still fits r·b ≤
    * maxHashes. Raising r is the petabyte lever — at fixed recall it
    * collapses the background candidate rate (the S-curve steepens),
    * and the background rate is what a 100 TB corpus actually pays:
    * with J_bg ≈ 0.1, r=2/b=49 taxes ~39% of all compared pairs into
    * candidates while r=3/b=104 taxes ~10% — but r=3 needs a 312-hash
    * budget at recall 1−1e−6, which is why the 128-hash default
    * deploys r=2 (and spends its spare budget on b=64 for recall
    * 1−1e−8, strictly above plan). The planner makes the documented
    * "raise r at scale" upgrade a computed decision instead of a
    * folklore constant; DedupSpec pins the math and the monotonicity. */
  def lshBandPlan(minJ: Double, targetRecall: Double = 0.999999,
      maxHashes: Int = NumHashes, backgroundJ: Double = 0.1): LshPlan = {
    require(minJ > 0 && minJ < 1 && targetRecall > 0 && targetRecall < 1)
    val feasible = Iterator.from(1).map { r =>
      val b = math.ceil(
        math.log1p(-targetRecall) / math.log1p(-math.pow(minJ, r))).toInt
      (r, b)
    }.takeWhile { case (r, b) => b > 0 && r * b <= maxHashes }.toSeq
    require(feasible.nonEmpty,
      s"no (r, b) with r·b ≤ $maxHashes reaches recall $targetRecall at J=$minJ")
    val (r, b) = feasible.last // largest feasible r = most selective
    LshPlan(r, b, lshCollisionProb(minJ, r, b),
      lshCollisionProb(backgroundJ, r, b))
  }

  /** Per-doc distinct shingle hashes + 128-way MinHash signature in ONE
    * narrow pass — no explode, no shuffle: each row folds its own
    * shingle hashes through 128 splitmix64-finalized streams
    * (seed_i = i·γ) keeping elementwise mins, a tight primitive loop in
    * `mapPartitions`. (Round 1 exploded 1.4 M shingle rows through a
    * groupBy Aggregator — map-side combined, but still a full shuffle
    * and per-row buffer serialization for something each doc can
    * compute locally.) Output: (doc_id, shs: array<long>, sig:
    * array<long>[128]). */
  def signatures(docs: DataFrame, k: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.withColumn("toks", TextFunctions.tokens(col("text")))
      .select(col("doc_id"),
        transform(shingleExpr(k), s => xxhash64(s)).as("shs"))
      .as[(Long, Seq[Long])]
      .mapPartitions { it =>
        val Gamma = 0x9E3779B97F4A7C15L // splitmix64 stream gamma
        it.map { case (id, shs) =>
          val sig = Array.fill(NumHashes)(Long.MaxValue)
          shs.foreach { h =>
            var i = 0
            while (i < NumHashes) {
              var z = h + i * Gamma // splitmix64 finalizer per stream
              z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
              z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
              z ^= (z >>> 31)
              if (z < sig(i)) sig(i) = z
              i += 1
            }
          }
          (id, shs, sig.toSeq)
        }
      }.toDF("doc_id", "shs", "sig")
  }

  /** Candidate pairs whose signatures collide in ≥1 band, then exact
    * Jaccard verification on just those pairs. Verification intersects
    * the carried shingle-hash ARRAYS (`array_intersect` on 64-bit
    * hashes — collision odds ~|union|²/2⁶⁴, irrelevant) instead of
    * re-joining an exploded shingle table: the whole operator is one
    * narrow signature pass, one (band, hash) equi-join, and joins
    * against the tiny candidate list. */
  /** (doc_id, band, bh) bucket memberships of a `signatures` frame —
    * the LSH index layout (at scale this frame is what you PERSIST as
    * the historical index; see [[incrementalNearDupSurvivors]]). */
  def bandBuckets(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r =>
        element_at(col("sig"), b * RowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bh"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bh"))
  }

  def minhashLshPairs(docs: DataFrame, k: Int = 5, minJ: Double = 0.5): DataFrame = {
    val sigs = signatures(docs, k)
    val buckets = bandBuckets(sigs)
    val candidates = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    candidates
      .join(sigs.select(col("doc_id").as("id_a"), col("shs").as("sha")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("shs").as("shb")), "id_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("inter") /
        (size(col("sha")) + size(col("shb")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJ)
      .select("id_a", "id_b", "jaccard")
  }

  /** Incremental NEAR-dup dedup: which batch docs survive against a
    * historical corpus (the production companion of [[exactDedup]]'s
    * d09 shape — nightly ingest, minus anything the corpus already has
    * a near-duplicate of). Candidates come from joining the batch's
    * band buckets against the history's band buckets — at 100 TB the
    * history side of this join is a PERSISTED index (the
    * [[bandBuckets]] + signature frames, bucketed on (band, bh) so the
    * probe co-locates), not recomputed; only the new batch is
    * signature-scanned each run. Verification is the exact Jaccard on
    * carried shingle arrays, candidates only. Within-batch duplicates
    * are deliberately NOT dropped here — that's a separate
    * [[minhashLshPairs]] pass; mixing the two would make survival
    * depend on batch composition. */
  def incrementalNearDupSurvivors(hist: DataFrame, batch: DataFrame,
      k: Int = 5, minJ: Double = 0.5): DataFrame = {
    val hs = signatures(hist, k)
    val bs = signatures(batch, k)
    val cand = bandBuckets(bs).as("b").join(bandBuckets(hs).as("h"),
        col("b.band") === col("h.band") && col("b.bh") === col("h.bh"))
      .select(col("b.doc_id").as("bid"), col("h.doc_id").as("hid"))
      .distinct()
    val dupIds = cand
      .join(bs.select(col("doc_id").as("bid"), col("shs").as("shb")), "bid")
      .join(hs.select(col("doc_id").as("hid"), col("shs").as("shh")), "hid")
      .withColumn("inter", size(array_intersect(col("shb"), col("shh"))))
      .filter(col("inter") /
        (size(col("shb")) + size(col("shh")) - col("inter")).cast("double") >= minJ)
      .select(col("bid").as("doc_id")).distinct()
    batch.join(dupIds, Seq("doc_id"), "left_anti").select("doc_id")
  }

  /** Persist a corpus's near-dup index as the two bucketed tables the
    * 100 TB contract in [[incrementalNearDupSurvivors]] describes:
    *
    *  - `<name>_buckets` (doc_id, band, bh), bucketed on (band, bh) —
    *    the probe key. A batch's bucket frame shuffles TO this layout;
    *    the history side scans its buckets in place, no Exchange.
    *  - `<name>_sigs` (doc_id, shs), bucketed on doc_id — the verify
    *    key, so the exact-Jaccard join back to history shingles also
    *    reads in place.
    *
    * Nightly ingest then pays: signature-scan of the BATCH only + a
    * shuffle of the batch-sized probe frame. The corpus-sized index is
    * written once and never re-shuffled (LayoutSpec pins this). */
  /** Layout (r12): both tables bucket on a SINGLE column — `bh` for
    * buckets, `doc_id` for sigs — and sort by it. Single-column
    * buckets are what makes the probe's bounded-batch fast path FLAT
    * in corpus size: the batch's own key literals prune which bucket
    * FILES are read (Spark bucket pruning needs a single bucket
    * column), the per-file sort adds row-group pruning inside them,
    * and with numBuckets sized ∝ corpus (the compaction resize knob)
    * the probe reads batch-many constant-size buckets whatever the
    * corpus. The probe join keys stay (band, bh) ⊇ {bh}, so hash
    * partitioning on bh alone still satisfies the join's distribution
    * — the exchange-free contract is unchanged (LayoutSpec). bh is
    * xxhash64 OF the band's minhash rows, so same-bh-different-band
    * rows are vanishingly rare — bucketing loses nothing. */
  def writeNearDupIndex(hist: DataFrame, name: String, numBuckets: Int = 8,
      k: Int = 5, gcKeep: Int = 1): Unit = {
    val spark = hist.sparkSession
    // generation-pointer discipline (Generations): the new generation
    // is written completely while any current one stays live; ONE
    // pointer flip publishes it. A rebuild over an existing index is
    // therefore reader-safe and crash-atomic — the old generation
    // serves probes until the instant the new one is complete. The
    // rebuild defines the contents from scratch, so tombstones against
    // the replaced generation are stale, not erased (Tombstones.rebuild).
    Tombstones.rebuild(spark, name, IndexMembers, "doc_id", gcKeep) { lease =>
      val bt = Generations.physical(name, "buckets", lease.gen)
      val st = Generations.physical(name, "sigs", lease.gen)
      val hs = Frontier.pin(signatures(hist, k))
      // both member writes consume only the pinned signatures and
      // target disjoint tables — overlapped (guide §2.6 / Par doc)
      Par.run(spark, Seq(
        () => bandBuckets(hs).repartition(numBuckets, col("bh"))
          .write.format("parquet")
          .bucketBy(numBuckets, "bh").sortBy("bh")
          .saveAsTable(bt),
        () => hs.select(col("doc_id"), col("shs"))
          .repartition(numBuckets, col("doc_id"))
          .write.format("parquet")
          .bucketBy(numBuckets, "doc_id").sortBy("doc_id")
          .saveAsTable(st)))
      // stamp the shingle width on both tables: signatures built with a
      // different k are INCOMPARABLE (different shingle universe →
      // different minhashes and Jaccard denominators), so probe/append
      // must be able to verify they speak the index's k
      Seq(bt, st).foreach { t =>
        spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('$ShingleKProp' = '$k')")
      }
      Map.empty
    }
  }

  /** The near-dup index family's members under [[Generations]]. */
  private val IndexMembers = Seq("buckets", "sigs")

  /** The family's member list for [[IndexMaintenance.health]] sweeps —
    * the same list every writer passes to [[Generations]]. */
  val maintenanceMembers: Seq[String] = IndexMembers

  /** Current physical tables of index `name` — every probe, append,
    * stats, and compaction path resolves through the generation
    * pointer, so a mid-swap reader still sees a complete index. */
  private def bucketsTable(spark: SparkSession, name: String): String =
    Generations.resolve(spark, name, "buckets")
  private def sigsTable(spark: SparkSession, name: String): String =
    Generations.resolve(spark, name, "sigs")

  /** Table property recording the shingle width an index was built
    * with — see [[writeNearDupIndex]]. */
  val ShingleKProp = "graft.shingle.k"

  /** The `k` stamped on index table `t`, or an error if it has none. */
  private def storedShingleK(spark: SparkSession, t: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(t))
      .properties.get(ShingleKProp)
      .map(_.toInt)
      .getOrElse(sys.error(s"$t has no $ShingleKProp property — not a " +
        "graft near-dup index"))

  /** Fail fast when a caller's `k` disagrees with the one the index
    * was built with: the mismatch is otherwise SILENT — band hashes
    * simply stop colliding and exact-verify Jaccard compares disjoint
    * shingle universes, so probes under-detect duplicates and appends
    * poison the index with incomparable signatures. */
  private def requireShingleK(spark: SparkSession, name: String, k: Int): Unit =
    requireShingleKOn(spark, name,
      Seq(bucketsTable(spark, name), sigsTable(spark, name)), k)
  private def requireShingleKOn(spark: SparkSession, name: String,
      tables: Seq[String], k: Int): Unit =
    tables.foreach { t =>
      val stored = storedShingleK(spark, t)
      require(stored == k,
        s"index $name was built with shingle k=$stored but k=$k was " +
          "passed: signatures would be incomparable (duplicates would " +
          "silently go undetected). Pass the index's k or rebuild it.")
    }

  /** Index MAINTENANCE: append a batch's signatures and band buckets
    * to an existing [[writeNearDupIndex]] index — the step that turns
    * the write-once index into a maintained artifact (the reference's
    * rolling dedup window continuously admits new ids the same way:
    * `/root/reference/src/nats_client.py:99,246-260`). A nightly
    * pipeline probes the index with its batch, keeps the survivors,
    * and appends exactly those survivors so the NEXT ingest
    * deduplicates against them too.
    *
    * The bucket spec is read from the catalog and reused, so every
    * append lands bucket-aligned files next to the existing ones —
    * Spark's bucketed scan unions the per-append files of each bucket
    * and the probe join stays exchange-free on the index side
    * (LayoutSpec re-asserts the no-exchange walk AFTER an append).
    * Cost per ingest: one signature scan of the batch + a batch-sized
    * bucketed write; the corpus-sized index is never rewritten. */
  /** `ifAbsent = true` makes the append IDEMPOTENT by doc_id — the
    * at-least-once contract a replayed micro-batch needs (foreachBatch
    * re-delivers the last batch after a crash; a blind re-append would
    * land duplicate signature rows and grow the index forever). The
    * idempotency is PER TABLE: the append is two parquet jobs (buckets,
    * then sigs — each job atomic, the pair not), so a crash between
    * them leaves docs bucketed but sig-less; on replay the upfront
    * skip (vs sigs — written LAST, so presence there means fully
    * applied) readmits those docs, the bucket-side anti-join skips
    * their already-landed bucket rows, and the sigs append completes
    * them — the replay CONVERGES across the partial-crash window
    * instead of duplicating bucket entries.
    *
    * The whole mutation holds the family's writer lease
    * ([[Generations.leased]] — acquire/release without a pointer flip:
    * an append mutates the CURRENT generation in place). This fences
    * the lost-update race with a concurrent compaction/rebuild:
    * unfenced, the append's rows could land in the old generation an
    * instant before the compacted one (built from a scan that predates
    * them) is published — silently dropping the batch. Table names
    * resolve UNDER the lease for the same reason. */
  def appendToNearDupIndex(batch: DataFrame, name: String, k: Int = 5,
      ifAbsent: Boolean = false): Unit = {
    val spark = batch.sparkSession
    Generations.leased(spark, name, IndexMembers) {
      requireShingleK(spark, name, k)
      val (bt, st) = (bucketsTable(spark, name), sigsTable(spark, name))
      // barReplayed: a replay after an erasure compaction purged this
      // batch's taken-down docs would find them sig-less and re-admit
      // them — barred by the pending set or the durable erased
      // registry (the LexIndex replay-resurrection fix, r13 advice,
      // applied uniformly to every ifAbsent append)
      val toAdd =
        if (ifAbsent) Tombstones.barReplayed(
          batch.join(spark.table(st).select("doc_id"),
            Seq("doc_id"), "left_anti"), name, "doc_id")
        else batch
      val bs = Frontier.pin(signatures(toAdd, k))
      val bands = bandBuckets(bs)
      val bandsToAdd =
        if (ifAbsent) bands.join(
          spark.table(bt).select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")
        else bands
      // appends reuse the catalog's bucket layout (see writeNearDupIndex)
      Generations.appendBucketed(bandsToAdd, bt)
      Generations.appendBucketed(bs.select(col("doc_id"), col("shs")), st)
      // make the append visible to THIS session's next probe even if
      // the insert path left a cached file listing behind (other
      // sessions must refresh on their side — caches are per-session)
      Seq(bt, st).foreach(spark.catalog.refreshTable)
    }
  }

  /** Index COMPACTION: rewrite both index tables in place, collapsing
    * the per-append file accumulation [[appendToNearDupIndex]] causes.
    * Every bucketed append lands a NEW file set next to the existing
    * ones (bucketed scans union per-bucket file lists), so after N
    * nightly ingests each bucket is ~N small files: listing cost,
    * open/seek overhead, and per-file row-group stats all degrade —
    * the classic small-files decay of any maintained index. Nightly
    * append + periodic compaction is the standard lifecycle.
    *
    * The rewrite is SHUFFLE-FREE: the source scan is forced to read
    * bucketed (`autoBucketedScan` off for the rewrite — left to its
    * own devices the planner drops both the bucketed read and any
    * explicit repartition here, since no join consumes the
    * partitioning, and tasks would then hold mixed buckets), so each
    * task owns exactly one bucket's file set and the bucketed write
    * merges it into exactly one file — a narrow per-bucket file merge,
    * the cheapest possible compaction at any scale. The fresh tables
    * are written as the NEXT GENERATION and published by one atomic
    * pointer flip ([[Generations]]); the bucket spec and shingle-k
    * stamp carry over, so the probe's exchange-free contract holds
    * unchanged afterwards (LayoutSpec re-walks the plan
    * post-compaction), and a crash at any point leaves a complete
    * index live (GenerationsSpec injects crashes in both swap
    * windows and re-probes). */
  /** Probe-health telemetry for the persisted index — the near-dup
    * twin of [[AnnIndex.cellStats]]. Hot (band, bh) keys ARE the probe
    * join's skew: a boilerplate cohort lands f docs on one bucket key
    * and every probing doc that hits it fans out f ways, so the skew
    * ratio (max/mean key size) is the number to alarm on — remediation
    * is the d08 df-cap at signature time (kill the boilerplate
    * shingles) or a rebuild from a cleaner corpus. One
    * partial-aggregated pass over the buckets table; only the one-row
    * summary reaches the caller. */
  def indexStats(spark: SparkSession, name: String): DataFrame = {
    val perKey = spark.table(bucketsTable(spark, name))
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("n"))
    perKey.agg(
      sum(col("n")).as("n_entries"),
      count(lit(1)).as("n_keys"),
      max(col("n")).as("max_key"),
      avg(col("n")).as("mean_key"))
      .withColumn("skew", col("max_key") / col("mean_key"))
  }

  /** `numBuckets = Some(n)` RESIZES the bucket layout inside the same
    * generation swap (the r11 ask): a corpus grown 100× since the
    * build keeps its build-time bucket count otherwise — per-bucket
    * file sizes grow unbounded, row-group pruning coarsens, and the
    * probe join's index-side parallelism stays capped at the stale
    * count. Compaction is already the rewrite that touches every row,
    * so it is the natural (and only) place to rebucket: the resized
    * member pays ONE hash exchange to the new count (vs the default
    * in-place merge, which is exchange-free), both tables move
    * together under the one pointer flip, and every layout contract —
    * exchange-free probe, one file per bucket — holds at the NEW
    * count (LayoutSpec re-walks it). Size n to the corpus: the SCALE.md
    * sizing note targets buckets that keep per-bucket files inside one
    * executor's comfortable scan. */
  def compactNearDupIndex(spark: SparkSession, name: String,
      gcKeep: Int = 1, numBuckets: Option[Int] = None): Unit = {
    // compaction is where tombstoned deletions become PHYSICAL: the
    // rewrite drops their rows from both tables (Tombstones.compaction).
    // Generation swap (Generations): BOTH compacted tables are written
    // to the next generation, then one pointer flip publishes them
    // together — a probe racing the compaction reads either the old
    // pair or the new pair, never a mix, and a crash at any point
    // leaves a complete index live.
    Tombstones.compaction(spark, name, IndexMembers, "doc_id", gcKeep) {
        (lease, applied) =>
      // old-generation members read bucket by bucket
      val cs = Generations.bucketedReads(spark)
      val tombs = applied.map(broadcast)
      // member rewrites are independent (disjoint targets, old-gen
      // sources) — overlapped per guide §2.6 (Par doc)
      Par.run(spark, IndexMembers.map { member => () =>
        val t = Generations.resolve(spark, name, member)
        val k = storedShingleK(spark, t)
        val nt = Generations.physical(name, member, lease.gen)
        // the CANONICAL layout (see writeNearDupIndex): single bucket
        // column + sort
        val bcol = if (member == "buckets") "bh" else "doc_id"
        Generations.rewriteBucketed(tombs.fold(cs.table(t))(tt =>
            cs.table(t).join(tt, Seq("doc_id"), "left_anti")),
          t, nt, bcol, Seq(bcol), numBuckets)
        spark.sql(s"ALTER TABLE $nt SET TBLPROPERTIES ('$ShingleKProp' = '$k')")
      })
      Map.empty[String, String]
    }
  }

  /** DELETE from the maintained index (takedown/right-to-erasure — the
    * lifecycle step appends and compactions don't cover): record the
    * doc ids as tombstones ([[Tombstones.takedown]]). Effect is
    * immediate at every probe (the entries stop suppressing matches)
    * without touching the corpus-sized tables; the next
    * [[compactNearDupIndex]] reclaims the rows and clears the set. */
  def tombstoneNearDup(spark: SparkSession, name: String,
      ids: DataFrame): Unit =
    Tombstones.takedown(spark, name, IndexMembers, ids, "doc_id")

  /** [[incrementalNearDupSurvivors]] probing a PERSISTED index written
    * by [[writeNearDupIndex]] instead of re-deriving the history's
    * signatures — identical output (d12 hash-checks against d11's
    * oracle), different read path: only the batch is scanned fresh. */
  /** `excludeIds`: history entries whose doc_id is in this (bounded,
    * broadcast) frame are ignored by the probe — the replay contract
    * for a crashed-then-redelivered micro-batch: attempt 1 may have
    * appended the batch to the index before dying, and attempt 2 must
    * see exactly the index attempt 1 saw (including keeping BOTH
    * members of a within-batch duplicate pair, which a bare self-
    * exclusion would still collapse). Batch-sized candidate anti-join;
    * a no-op when the ids are absent (the normal path). */
  /** Bounded-batch pushdown: when the batch's distinct bucket keys fit
    * the `Sharding` ≤10k literal budget AND the index table is big
    * enough for a full scan to matter, the keys are pushed onto the
    * index scans as `IN` filters — on the canonical single-column
    * sorted layout that prunes bucket files and row groups. The win is
    * largest exactly where it matters: the SIGS side carries the fat
    * shingle arrays, and without the filter the verify join reads
    * every doc's array to serve a batch-sized candidate set; with it,
    * only the candidates' row groups materialize. (The buckets side is
    * 3 narrow columns — its filtered scan caps the top end; true
    * bucket-level point lookup needs |batch|·bands ≪ numBuckets, the
    * takedown-probe regime.) Below the size threshold the extra
    * key-collection jobs cost more than the full scans they'd save, so
    * small indexes keep the plain co-partitioned path. The filters
    * only RESTRICT rows the equi-join would keep anyway, so both paths
    * are bit-identical — and that is GATED, not argued: the threshold
    * reads session conf [[PushdownMinBytesConf]], so
    * NearDupIndexSpec forces the pushdown branch on a fixture-sized
    * index and asserts its output row-for-row equal to the plain
    * path's (fixture indexes never cross the 64 MB default, so the
    * d12–d14 hash rows alone would leave the branch unexercised;
    * SCALE.md's round-12 ladder records its 10→100× exponent).
    *
    * Key collection runs as SEPARATE driver jobs before the probe job.
    * Whenever a pushdown is active, the frames those keys are
    * collected from — the batch's signatures, and the candidate set —
    * are pinned ([[Frontier.pin]]), so the collection job and the
    * final probe job consume the same materialized rows: with an
    * unpinned non-deterministic batch source the two evaluations could
    * diverge and the `isin` filter would silently drop true duplicate
    * candidates. The pin also collapses what used to be three
    * evaluations of `signatures(batch)` (bh keys, candidate join,
    * verify join) into one. */
  private val ProbePushdownMax = 10000

  /** Session-conf override for the index-size floor (bytes) below
    * which [[incrementalNearDupSurvivorsIndexed]] skips the bounded
    * key pushdown. Default 64 MB; tests set it to 0 to force the
    * pushdown branch on fixture-sized indexes. */
  private[graft] val PushdownMinBytesConf = "graft.neardup.pushdownMinBytes"
  private def probePushdownMinBytes(spark: SparkSession): Long =
    spark.conf.get(PushdownMinBytesConf, (64L << 20).toString).toLong

  /** File-listing size of a catalog table's scan — cheap (the relation
    * already listed its files) and good enough for a threshold. */
  private def scanBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** `asOf = Some(g)`: probe the index AS IT WAS when generation `g`
    * was superseded — the reproducibility read
    * ([[Generations.resolveAsOf]]; a past generation is frozen at the
    * flip that replaced it, since in-place appends only target the
    * current one): a training run records the generation it deduped
    * against and a later audit replays the same decision against the
    * same rows, provided the family's swaps retained the window
    * (`gcKeep ≥ 2`). Deliberate asymmetry: the TOMBSTONE exclusion
    * stays CURRENT, not historical — erasure overrides history, so a
    * doc taken down after generation `g` stops counting as duplicate
    * evidence even in as-of probes (and its rows never survive an
    * erasure compaction at all:
    * [[Tombstones.requireErasurePurges]]). */
  def incrementalNearDupSurvivorsIndexed(spark: SparkSession, name: String,
      batch: DataFrame, k: Int = 5, minJ: Double = 0.5,
      excludeIds: Option[DataFrame] = None,
      asOf: Option[Long] = None): DataFrame = {
    val bT = asOf.fold(bucketsTable(spark, name))(g =>
      Generations.resolveAsOf(spark, name, "buckets", g))
    val sT = asOf.fold(sigsTable(spark, name))(g =>
      Generations.resolveAsOf(spark, name, "sigs", g))
    requireShingleKOn(spark, name, Seq(bT, sT), k)
    val hb0 = spark.table(bT)
    val hsig = spark.table(sT)
    val minBytes = probePushdownMinBytes(spark)
    val pushBuckets = scanBytes(hb0) > minBytes
    val pushSigs = scanBytes(hsig) > minBytes
    // any active pushdown pins the batch signatures: the key-collection
    // job and the probe job must see the same rows (object doc above)
    val bs = {
      val bs0 = signatures(batch, k)
      if (pushBuckets || pushSigs) Frontier.pin(bs0) else bs0
    }
    // one extra batch-sized job collects the probe keys; over-budget
    // batches detect via limit(max+1) without materializing the rest
    val hb =
      if (!pushBuckets) hb0
      else {
        val bhKeys = bandBuckets(bs).select("bh").distinct()
          .limit(ProbePushdownMax + 1).collect().map(_.getLong(0))
        if (bhKeys.length <= ProbePushdownMax)
          hb0.filter(col("bh").isin(bhKeys.map(Long.box): _*))
        else hb0
      }
    // the equi-key is bh ALONE: it exactly matches the single-column
    // bucket layout, so the index side's partitioning satisfies the
    // join with no exchange (join co-partitioning requires the FULL
    // key set to match the bucket columns — a (band, bh) key would
    // re-shuffle the bh-bucketed index). band is not needed for
    // correctness: bh is the xxhash64 OF the band's minhash rows, so
    // a same-bh-different-band collision is a ~2^-64 accident that
    // the exact-Jaccard verify stage filters like any other
    // non-duplicate candidate — output identical (d12–d14 hash rows).
    val cand0 = bandBuckets(bs).as("b").join(hb.as("h"),
        col("b.bh") === col("h.bh") &&
          // self-stability under replay: a batch whose docs already
          // landed in the index (a crashed attempt's append) must not
          // self-disqualify — the probe answers "duplicates of OTHERS"
          col("b.doc_id") =!= col("h.doc_id"))
      .select(col("b.doc_id").as("bid"), col("h.doc_id").as("hid"))
      .distinct()
    // deletions are applied logically at probe time: tombstoned index
    // entries stop counting as duplicate evidence the instant
    // [[tombstoneNearDup]] lands, long before compaction physically
    // reclaims their rows. Merged with the caller's excludeIds.
    val exCaller = excludeIds.map(ex =>
      ex.select(col(ex.columns.head).as("hid")))
    val exTombs = Tombstones.get(spark, name)
      .map(_.select(col("doc_id").as("hid")))
    val excl = (exCaller.toSeq ++ exTombs.toSeq).reduceOption(_ unionByName _)
    val cand1 = excl match {
      case Some(ex) => cand0.join(broadcast(ex.distinct()), Seq("hid"),
        "left_anti")
      case None => cand0
    }
    // the sigs-side key collection and the verify join below consume
    // the SAME pinned candidate set — one evaluation of the whole
    // candidate pipeline, no divergence window (object doc above)
    val cand = if (pushSigs) Frontier.pin(cand1) else cand1
    // the verify side gets the same bounded pushdown: candidate hids
    // (batch-bounded in the normal regime) prune the sigs scan —
    // sorted on doc_id, so the fat shingle arrays materialize only
    // for candidates' row groups. Over budget, or on a small index,
    // the filter is skipped.
    val hsigScan =
      if (!pushSigs) hsig
      else {
        val hidKeys = cand.select("hid").distinct()
          .limit(ProbePushdownMax + 1).collect().map(_.getLong(0))
        // an EMPTY key set is still a valid pushdown (no candidates →
        // always-false filter → the fat scan never runs)
        if (hidKeys.length <= ProbePushdownMax)
          hsig.filter(col("doc_id").isin(hidKeys.map(Long.box): _*))
        else hsig
      }
    val dupIds = cand
      .join(bs.select(col("doc_id").as("bid"), col("shs").as("shb")), "bid")
      .join(hsigScan.select(col("doc_id").as("hid"), col("shs").as("shh")), "hid")
      .withColumn("inter", size(array_intersect(col("shb"), col("shh"))))
      .filter(col("inter") /
        (size(col("shb")) + size(col("shh")) - col("inter")).cast("double") >= minJ)
      .select(col("bid").as("doc_id")).distinct()
    batch.join(dupIds, Seq("doc_id"), "left_anti").select("doc_id")
  }

  // ---- duplicate clusters (connected components) --------------------
  /** Connected components over an undirected edge list via alternating
    * LARGE-STAR / SMALL-STAR (the MapReduce CC algorithm of Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14):
    * provably O(log n) rounds on ANY graph — including the adversarial
    * long-chain/path graphs where plain min-label propagation needs
    * O(diameter) rounds (a 1000-link chain: ~10 rounds here vs 1000
    * there, and at 100 TB every round is a full shuffle of the edge
    * set).
    *
    * Edges are kept CANONICAL: strict (u, v) with u > v, distinct.
    * One round is two distributed steps, each a groupBy-min + a join
    * (never a per-node collect_list — neighbor lists stay as rows, so
    * a high-degree hub can't blow a task):
    *
    *  - large-star: m(u) = min over u's FULL neighborhood ∪ {u} (both
    *    orientations); every neighbor v > u re-links to m(u). Long
    *    tails fold toward local minima — this is the doubling step.
    *  - small-star: on canonical edges, m(u) = min(N<(u) ∪ {u});
    *    every smaller neighbor AND u itself re-link to m(u). Stars
    *    flatten so the next large-star sees minimal chains.
    *
    * The edge set is pinned per round ([[Frontier.pin]] — lineage
    * would otherwise grow by four joins per round) and convergence is
    * exact set equality, detected in ONE action per round: the
    * symmetric difference (union of the two excepts over the pinned,
    * already-distinct sets) is empty iff the round changed nothing —
    * one shuffle-light job instead of the two counts + except a
    * count-compare formulation pays, and rounds are logarithmic. At
    * the fixpoint the graph is a star forest:
    * every node links directly to its component's minimum.
    *
    * Returns (labels(id, component) for every node with an edge,
    * rounds executed). Isolated nodes don't appear — callers default
    * them to themselves. */
  private[graft] def connectedComponentsStar(pairs: DataFrame,
      maxIters: Int = 25): (DataFrame, Int) = {
    var edges = Frontier.pin(pairs
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct())
    var rounds = 0
    var converged = edges.isEmpty
    while (!converged && rounds < maxIters) {
      // large-star over both orientations of the canonical set
      val both = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      val lmins = both.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      // emitted (v, m(u)) has v > u ≥ m(u): already canonical
      val large = both.join(lmins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star on the canonical direction: m ≤ v < u for kept rows
      val smins = large.groupBy("u").agg(min("v").as("m"))
      val small = Frontier.pin(
        large.join(smins, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .unionByName(smins.select(col("u"), col("m").as("v")))
          .distinct())
      converged = small.except(edges)
        .unionByName(edges.except(small)).isEmpty
      edges = small
      rounds += 1
    }
    (edges.select(col("u").as("id"), col("v").as("component"))
      // safety under a maxIters bail-out: keep the best-known label
      .groupBy("id").agg(min("component").as("component")), rounds)
  }

  /** Assign every doc to its duplicate cluster: connected components
    * over a near-dup pair list, labels = min doc_id of the component
    * (the canonical/survivor doc). Runs [[connectedComponentsStar]] —
    * O(log n) rounds even on adversarial chain graphs (ComponentsSpec
    * pins a 1000-link chain converging in ≤ 15 rounds); near-dup
    * graphs are overwhelmingly tiny cliques, so in practice rounds
    * stay low single-digit. Driver code is a bounded loop counter
    * only — all data work is distributed. Docs without any near-dup
    * pair bypass the loop entirely (their own singleton component via
    * the final left join), so the iterated edge set is the few
    * percent of the corpus that has duplicates, not the corpus. */
  def duplicateClusters(docs: DataFrame, pairs: DataFrame,
      maxIters: Int = 25): DataFrame = {
    val (labels, _) = connectedComponentsStar(
      pairs.select(col("id_a").as("u"), col("id_b").as("v")), maxIters)
    docs.select(col("doc_id").as("id")).join(labels, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("component"), col("id")).as("component"))
  }

  /** One survivor per duplicate cluster by QUALITY, not by id: "keep
    * the lowest doc_id" (d01/d05's convention) is an arbitrary policy —
    * a trainer keeps the BEST copy (longest, cleanest, highest quality
    * score) and drops the rest. One `max_by` aggregate over the
    * clustered frame: survivor = argmax (score, then lowest id as the
    * deterministic tie-break) per component, partial-aggregated, one
    * shuffle keyed on component — the policy change costs nothing over
    * the id convention. Returns (component, doc_id, quality,
    * group_size); singletons survive as themselves. */
  def clusterSurvivors(docs: DataFrame, pairs: DataFrame, score: Column,
      maxIters: Int = 25): DataFrame =
    docs.withColumn("_q", score)
      .join(duplicateClusters(docs, pairs, maxIters), "doc_id")
      .groupBy(col("component"))
      .agg(
        max_by(struct(col("doc_id"), col("_q").as("quality")),
          struct(col("_q"), (-col("doc_id")).as("nid"))).as("s"),
        count(lit(1)).as("group_size"))
      .select(col("component"), col("s.doc_id").as("doc_id"),
        col("s.quality").as("quality"), col("group_size"))

  // ---- SimHash ------------------------------------------------------
  /** Typed Aggregator: token-hash stream → 64-bit SimHash. Supports
    * partial aggregation (merge), so it map-side combines like any
    * built-in agg. */
  object SimHashAgg extends Aggregator[Long, Array[Int], Long] {
    def zero: Array[Int] = new Array[Int](64)
    def reduce(buf: Array[Int], h: Long): Array[Int] = {
      var j = 0
      while (j < 64) {
        buf(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      buf
    }
    def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var j = 0
      while (j < 64) { a(j) += b(j); j += 1 }
      a
    }
    def finish(buf: Array[Int]): Long = {
      var out = 0L
      var j = 0
      while (j < 64) { if (buf(j) > 0) out |= (1L << j); j += 1 }
      out
    }
    def bufferEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    def outputEncoder = org.apache.spark.sql.Encoders.scalaLong
  }

  /** doc_id → 64-bit simhash of its whitespace tokens. Token hash is
    * the portable md5-derived 64-bit value (not xxhash64) so DuckDB
    * can replay the whole operator — see [[sqlSimhashPairs]]. */
  def simhashes(docs: DataFrame): DataFrame = {
    val simhash = udaf(SimHashAgg)
    docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), TextFunctions.md5Hash64(col("tok")).as("th"))
      .groupBy("doc_id").agg(simhash(col("th")).as("simhash"))
  }

  /** Near-dup pairs over any (id, 64-bit hash) frame with
    * Hamming ≤ maxHamming, candidates from 4×16-bit block collision
    * (pigeonhole: a pair within Hamming ≤ 3 must match ≥1 block
    * exactly; wider budgets still catch nearly all real near-dups —
    * same-content payloads differ in few bits). Never all-pairs:
    * the join is an equi-join on (block, value). `bit_count(xor)`
    * verifies exactly on candidates only. */
  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int): DataFrame = {
    val blocks = hashes.select(col(idCol), col(hashCol),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("blk"),
            col(hashCol).bitwiseAND(lit(0xFFFFL << (b * 16))).as("bv"))): _*)).as("bk"))
      .select(col(idCol), col(hashCol), col("bk.blk"), col("bk.bv"))
    blocks.as("x").join(blocks.as("y"),
        col("x.blk") === col("y.blk") && col("x.bv") === col("y.bv") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        bit_count(col(s"x.$hashCol").bitwiseXOR(col(s"y.$hashCol"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup pairs with Hamming(simhash) ≤ maxHamming. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 8): DataFrame =
    hammingPairs(simhashes(docs).cache(), "doc_id", "simhash", maxHamming)

  /** DuckDB replay of [[hammingPairs]]: expects a CTE `sh(doc_id, h)`
    * with h UBIGINT. Same block-collision candidate rule (a pair
    * qualifies only if ≥1 of the 4 16-bit blocks matches exactly) +
    * the exact bit_count verify — semantics identical to the Spark
    * plan, just all-pairs because the oracle runs at sf0.01 only.
    * Right-shift + mask rather than shifted masks: DuckDB's `<<` is
    * overflow-checked and rejects 65535::UBIGINT << 48. */
  def sqlHammingTail(maxHamming: Int): String = {
    val blocks = (0 until 4).map(b =>
      s"((a.h >> ${b * 16}) & 65535) = ((b.h >> ${b * 16}) & 65535)")
      .mkString("(", "\n          OR ", ")")
    s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.h, b.h)) <= $maxHamming
         AND $blocks
       ORDER BY id_a NULLS FIRST, id_b NULLS FIRST"""
  }

  /** DuckDB twin of [[simhashPairs]]: per-token md5-derived hashes →
    * per-bit majority vote → 64-bit simhash → Hamming pairs. Bit j of
    * the hash is read with an unsigned shift on both sides, and the
    * hash is assembled through HUGEINT (DuckDB's UBIGINT `<<` is
    * overflow-checked). */
  def sqlSimhashPairs(table: String, maxHamming: Int = 8): String =
    s"""WITH toks AS (SELECT doc_id, ${TextFunctions.sqlTokens("text")} AS tk FROM $table),
       tok AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
       th AS (SELECT doc_id, ${TextFunctions.sqlMd5Hash64U("tok")} AS h FROM tok),
       bits AS (SELECT doc_id, j,
           sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
         FROM th CROSS JOIN (SELECT unnest(range(64)) AS j) GROUP BY doc_id, j),
       sh AS (SELECT doc_id,
           sum(CASE WHEN s > 0 THEN (1::HUGEINT << CAST(j AS INT))
               ELSE 0::HUGEINT END)::UBIGINT AS h
         FROM bits GROUP BY doc_id)
       ${sqlHammingTail(maxHamming)}"""
}
