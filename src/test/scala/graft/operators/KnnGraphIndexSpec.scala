package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The maintained k-NN graph's lifecycle contracts: replay-idempotent
  * appends, probe-invisible compaction, the edgeBuffer deletion bound,
  * and physical reclamation. (The hash-exact build+append and
  * post-deletion gates live in the registered s26/s27 queries.) */
class KnnGraphIndexSpec extends SparkSpec {
  import spark.implicits._

  private def probeSet(name: String) =
    KnnGraphIndex.probeKnnGraph(spark, name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("append replays converge; compaction is probe-invisible and re-tightens") {
    val emb = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") < 200).select("vec_id", "embedding")
      .localCheckpoint()
    val name = "graft_kgi_spec"
    KnnGraphIndex.writeKnnGraph(emb.filter(col("vec_id") < 150), name,
      k = 5, nCells = 8, nprobe = 8, edgeBuffer = 8)
    val batch = emb.filter(col("vec_id") >= 150)
    KnnGraphIndex.appendToKnnGraph(batch, name)
    val before = probeSet(name)
    assert(before.map(_._1).size == 200, "every vector answers as a query")
    def edgeRows() = spark.table(
      Generations.resolve(spark, name, "edges")).count()
    val rows = edgeRows()
    // at-least-once replay of the SAME batch: the vecs marker makes it
    // a no-op — no duplicate edges, identical probe
    KnnGraphIndex.appendToKnnGraph(batch, name)
    assert(edgeRows() == rows, "replayed append duplicated edge rows")
    assert(probeSet(name) == before)
    // compaction: per-qid rows re-tighten to k + edgeBuffer, probe
    // hash-identical across the swap
    KnnGraphIndex.compactKnnGraph(spark, name)
    assert(probeSet(name) == before,
      "probe changed across the compaction swap")
    val maxPerQid = spark.table(Generations.resolve(spark, name, "edges"))
      .groupBy("qid").count().agg(max("count")).as[Long].head()
    assert(maxPerQid <= 13, s"compaction left $maxPerQid rows on a qid")
  }

  // The r10 verdict's scale finding #2: slice probes scanned (and the
  // append fence shuffled) the corpus-wide edge table. The edge table
  // is now bucketed+sorted on qid (probes/vecs on vec_id) and the
  // fence scopes its stored side through a broadcast semi-join — this
  // test is the no-exchange/pruning proof, plan-walked non-adaptively
  // so exchanges are visible pre-execution (IndexLayoutChecks' idiom).
  test("graph layout: slice probes push+prune on qid; probe and fence plans are shuffle-free") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val emb = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") < 200).select("vec_id", "embedding")
      .localCheckpoint()
    val name = "graft_kgi_layout"
    KnnGraphIndex.writeKnnGraph(emb, name, k = 5, nCells = 8, nprobe = 2)
    val conf = spark.conf
    val aqe0 = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      // 1. slice probe: the qid predicate reaches the parquet scan
      //    (row-group pruning against the per-file qid sort), and the
      //    whole plan — scan → filter → top-k agg — has NO exchange:
      //    the bucketed scan IS the aggregation's partitioning
      val slice = KnnGraphIndex.probeKnnGraph(spark, name,
        col("qid") >= 100L)
      val slicePlan = slice.queryExecution.executedPlan
      val scans = slicePlan.collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty, s"no file scan in probe plan:\n$slicePlan")
      assert(scans.exists(_.metadata.getOrElse("PushedFilters", "")
          .contains("GreaterThanOrEqual(qid,100)")),
        s"qid slice predicate not pushed to the edge scan:\n$slicePlan")
      assert(slicePlan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"slice probe shuffles:\n$slicePlan")
      // 2. full probe: same no-exchange property
      val fullPlan = KnnGraphIndex.probeKnnGraph(spark, name)
        .queryExecution.executedPlan
      assert(fullPlan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"full probe shuffles:\n$fullPlan")
      // 3. the append's replay fence: stored edge table scanned in
      //    place through the broadcast-scoped semi, anti-join
      //    batch-sized — zero exchange end to end
      import spark.implicits._
      val fresh = Seq((1L, 2L, 0.5), (100L, 3L, 0.4))
        .toDF("qid", "vec_id", "cos").localCheckpoint()
      val et = Generations.resolve(spark, name, "edges")
      val fencePlan = KnnGraphIndex.fenced(fresh, spark.table(et),
        "qid", Seq("qid", "vec_id")).queryExecution.executedPlan
      // the batch side may shuffle its own (batch-sized) distinct; the
      // contract is that the STORED edge scan is never re-partitioned —
      // no exchange on any path from the scan up to the root
      import org.apache.spark.sql.execution.SparkPlan
      def pathTo(p: SparkPlan, tgt: SparkPlan): Option[List[SparkPlan]] =
        if (p.eq(tgt)) Some(List(p))
        else p.children.view.flatMap(c => pathTo(c, tgt)).headOption
          .map(p :: _)
      val storedScans = fencePlan.collect { case f: FileSourceScanExec => f }
      assert(storedScans.nonEmpty, s"no stored scan in fence:\n$fencePlan")
      storedScans.foreach { scan =>
        val path = pathTo(fencePlan, scan).getOrElse(
          sys.error(s"scan not in plan:\n$fencePlan"))
        assert(!path.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"append fence shuffles the stored edge table:\n$fencePlan")
      }
      // and the probe answers stay correct through the bucketed layout
      assert(slice.collect().map(_.getLong(0)).forall(_ >= 100L))
    } finally conf.set("spark.sql.adaptive.enabled", aqe0)
  }

  // The r11 verdict's finding #3: the bucket count was frozen at build
  // — a corpus grown 100× kept its 8 buckets (unbounded per-bucket
  // files, capped probe parallelism). Compaction now takes an optional
  // numBuckets; this test resizes 8 → 16 and re-walks EVERY layout
  // contract at the new count: probe-invisibility, pushed+pruned slice
  // predicate, zero-exchange probe, and the bucket spec itself.
  test("compaction resize: contracts re-walked at the new bucket count; probe invariant") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val emb = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") < 200).select("vec_id", "embedding")
      .localCheckpoint()
    val name = "graft_kgi_resize"
    KnnGraphIndex.writeKnnGraph(emb.filter(col("vec_id") < 150), name,
      k = 5, nCells = 8, nprobe = 8, edgeBuffer = 4)
    KnnGraphIndex.appendToKnnGraph(emb.filter(col("vec_id") >= 150), name)
    val before = probeSet(name)
    def spec(member: String) = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(
          Generations.resolve(spark, name, member))).bucketSpec
    assert(spec("edges").map(_.numBuckets).contains(8))
    KnnGraphIndex.compactKnnGraph(spark, name, numBuckets = Some(16))
    // the resized layout is real: all three bucketed members moved
    Seq("edges", "vecs", "probes").foreach(m =>
      assert(spec(m).map(_.numBuckets).contains(16),
        s"$m not rebucketed to 16"))
    // behavior-invisible across the resize swap
    assert(probeSet(name) == before, "probe changed across the resize")
    // and the layout contracts hold at the NEW count
    val conf = spark.conf
    val aqe0 = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val slice = KnnGraphIndex.probeKnnGraph(spark, name,
        col("qid") >= 100L)
      val plan = slice.queryExecution.executedPlan
      assert(plan.collect { case f: FileSourceScanExec => f }
          .exists(_.metadata.getOrElse("PushedFilters", "")
            .contains("GreaterThanOrEqual(qid,100)")),
        s"slice predicate not pushed after resize:\n$plan")
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"slice probe shuffles after resize:\n$plan")
      // a follow-up append still lands bucket-aligned at the new count
    } finally conf.set("spark.sql.adaptive.enabled", aqe0)
    val more = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") >= 200 && col("vec_id") < 220)
      .select("vec_id", "embedding")
    KnnGraphIndex.appendToKnnGraph(more, name)
    assert(probeSet(name).map(_._1).size == 220,
      "post-resize append not visible to probes")
  }

  test("drift loop: shifted corpus trips the signal, retrain restores it") {
    val emb = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") < 150).select("vec_id", "embedding")
      .localCheckpoint()
    val name = "graft_kgi_drift_spec"
    KnnGraphIndex.writeKnnGraph(emb, name, k = 5, nCells = 8, nprobe = 2)
    assert(KnnGraphIndex.graphDriftRatio(spark, name, emb) < 1.2,
      "fresh build should read ~1.0 against its own corpus")
    // the signal survives a compaction (the baseline is re-stamped)
    KnnGraphIndex.compactKnnGraph(spark, name)
    assert(KnnGraphIndex.graphDriftRatio(spark, name, emb) < 1.2)
    // off-distribution corpus: every vector shifted a unit per dim
    val shifted = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x + CAST(1.0 AS FLOAT) AS FLOAT))")
        .as("embedding")).localCheckpoint()
    val drifted = KnnGraphIndex.graphDriftRatio(spark, name, shifted)
    assert(drifted > 1.25, s"shifted corpus did not trip the signal: $drifted")
    assert(KnnGraphIndex.retrainKnnGraphIfDrifted(spark, name, shifted),
      "retrain did not fire past the threshold")
    // the retrained quantizer fits the drifted corpus again, and the
    // graph answers over the NEW corpus
    assert(KnnGraphIndex.graphDriftRatio(spark, name, shifted) < 1.25)
    assert(!KnnGraphIndex.retrainKnnGraphIfDrifted(spark, name, shifted),
      "signal not reset after retrain")
    assert(probeSet(name).nonEmpty)
  }

  test("edgeBuffer bound: deletions within the margin stay exact; compaction reclaims") {
    val emb = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") < 200).select("vec_id", "embedding")
      .localCheckpoint()
    val name = "graft_kgi_del_spec"
    KnnGraphIndex.writeKnnGraph(emb, name,
      k = 5, nCells = 8, nprobe = 8, edgeBuffer = 8)
    val delIds = (0 until 8).map(i => i * 25L) // 8 = the full margin
    KnnGraphIndex.tombstoneGraph(spark, name, delIds.toDF("vec_id"))
    val got = probeSet(name)
    assert(got.forall(r => !delIds.contains(r._1) && !delIds.contains(r._2)),
      "a deleted endpoint is still visible")
    // ground truth: the exact graph over the remaining vectors
    // (nprobe = nCells degenerates knnGraph to exact)
    val remaining = emb.filter(!col("vec_id").isin(delIds: _*))
    val exact = Similarity.knnGraph(spark, remaining, k = 5,
        nCells = 8, nprobe = 8, buffer = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == exact,
      "within-margin deletion did not stay exact (buffer bound broken)")
    // physical reclamation: rows gone, set cleared, probe unchanged
    KnnGraphIndex.compactKnnGraph(spark, name)
    assert(Tombstones.get(spark, name).isEmpty)
    assert(spark.table(Generations.resolve(spark, name, "vecs"))
      .filter(col("vec_id").isin(delIds: _*)).isEmpty)
    assert(probeSet(name) == got,
      "probe changed across logical->physical deletion")
  }

  test("filtered serve: exact filtered top-k wherever the buffer " +
      "holds >= k admissible; best stored admissible past it") {
    val emb = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") < 200).select("vec_id", "embedding")
      .localCheckpoint()
    val name = "graft_kgi_filt_spec"
    val (k, buf) = (5, 8)
    KnnGraphIndex.writeKnnGraph(emb, name,
      k = k, nCells = 8, nprobe = 8, edgeBuffer = buf)
    val got = KnnGraphIndex.probeKnnGraph(spark, name,
        candPred = Some(col("vec_id") % 2 === 0)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).map { case (q, xs) =>
        q -> xs.sortBy(_._3).map(_._2).toSeq }
    // ground truth from the FULL exact ranking (nprobe = nCells,
    // k = n - 1 so every neighbor is ranked)
    val full = Similarity.knnGraph(spark, emb, k = 199, nCells = 8,
        nprobe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).map { case (q, xs) =>
        q -> xs.sortBy(_._3).map(_._2).toSeq }
    val exactQids = full.keys.filter { q =>
      full(q).take(k + buf).count(_ % 2 == 0) >= k }
    // where the stored k+buffer edges hold >= k admissible neighbors,
    // the filtered serve is EXACTLY the filtered top-k...
    exactQids.foreach { q =>
      val want = full(q).filter(_ % 2 == 0).take(k)
      assert(got(q) == want, s"qid=$q: filtered serve not exact " +
        s"(${got(q)} vs $want) though the buffer held >= $k")
    }
    // ...and the bound genuinely covers this fixture (non-vacuity),
    // while at least one qid exercises the degraded branch too
    assert(exactQids.size > full.size / 2,
      s"fixture degenerate: bound covers only ${exactQids.size}/${full.size}")
    val degraded = full.keys.filterNot(exactQids.toSet)
    degraded.foreach { q =>
      // past the buffer: the best STORED admissible, never garbage
      val storedAdmissible = full(q).take(k + buf).filter(_ % 2 == 0)
      assert(got.getOrElse(q, Seq.empty) == storedAdmissible,
        s"qid=$q: degraded branch != best stored admissible")
    }
  }

  test("as-of probe: the retained pre-append graph is frozen") {
    val emb = Tables(spark, sf, "embeddings")
    val name = "graft_graph_asof"
    KnnGraphIndex.writeKnnGraph(emb.filter(col("vec_id") < 150), name,
      k = 5, nCells = 8, nprobe = 2)
    KnnGraphIndex.compactKnnGraph(spark, name, gcKeep = 2)
    val g0 = Generations.currentGen(spark, name).get - 1
    def pairs(asOf: Option[Long]) =
      KnnGraphIndex.probeKnnGraph(spark, name, asOf = asOf)
        .select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val frozen = pairs(Some(g0))
    assert(frozen == pairs(None))
    KnnGraphIndex.appendToKnnGraph(emb.filter(col("vec_id") >= 150), name)
    // the live graph gained the appended qids AND reverse edges into
    // stored neighborhoods; the snapshot saw neither
    val live = pairs(None)
    assert(live.exists(_._1 >= 150), "append did not land")
    assert(live != frozen, "append left the live graph unchanged")
    assert(pairs(Some(g0)) == frozen,
      "the as-of probe drifted from the frozen pre-append graph")
  }
}
