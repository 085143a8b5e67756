package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Data-layout discipline (SCALE.md): at 100 TB the cheapest scan is
  * the one that never happens. Two layout levers, each pinned to the
  * property it claims:
  *
  *  - range-partitioned + sorted parquet gives every file a disjoint
  *    min/max on the layout key, which is what lets the reader's
  *    row-group statistics pruning discard everything but the matching
  *    ranges once the predicate is pushed to the scan;
  *  - hive-style directory partitioning on a low-cardinality derived
  *    column makes partition pruning skip entire files at listing time
  *    (visible in the scan's numFiles metric).
  */
class LayoutSpec extends SparkSpec {

  test("repartitionByRange write yields disjoint per-file key ranges") {
    val out = Files.createTempDirectory("layout_range").toString
    Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(out)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length >= 3, s"expected several range files, got ${files.length}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("doc_id"), max("doc_id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"file ranges overlap: ${ranges.mkString(",")}")
      case _ =>
    }
    // the point predicate reaches the scan as a pushed filter — with
    // disjoint per-file/row-group stats that is what makes the reader
    // skip every non-matching range
    val probe = spark.read.parquet(out).filter(col("doc_id") === ranges.head._1)
    val leaves = probe.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert(leaves.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,"), leaves)
  }

  /** The d12/d13 layout contract: both index tables are scanned, and
    * neither is re-partitioned on its way into the join that consumes
    * it — the bucketed layout IS the join partitioning, so only the
    * batch-sized side moves. (Shuffles ABOVE the probe join — the
    * candidate distinct, the anti join — are the batch-sized frames
    * and are fine.) At test scale Spark would broadcast the tiny
    * index; at 100 TB the index side is the corpus-sized one — force
    * the shuffled-join shape the bucketing contract is about, and plan
    * non-adaptively so exchanges are visible pre-execution. */
  private def assertProbeLayoutEngaged(name: String,
      batch: org.apache.spark.sql.DataFrame): Unit =
    IndexLayoutChecks.assertNearDupProbeLayout(spark, name, batch)

  test("persisted LSH index: history side of the probe joins without an exchange") {
    import graft.operators.Dedup
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    Dedup.writeNearDupIndex(docs, "graft_test_ndidx", numBuckets = 4)
    val batch = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        concat(col("text"), lit(" zz pad")).as("text"))
    assertProbeLayoutEngaged("graft_test_ndidx", batch)
    // and the probe path returns exactly what the recompute path does
    val viaIndex = Dedup.incrementalNearDupSurvivorsIndexed(
      spark, "graft_test_ndidx", batch).collect().map(_.getLong(0)).sorted
    val recomputed = Dedup.incrementalNearDupSurvivors(docs, batch)
      .collect().map(_.getLong(0)).sorted
    assert(viaIndex.sameElements(recomputed),
      s"index probe diverged: ${viaIndex.length} vs ${recomputed.length} survivors")
  }

  test("index append: layout stays exchange-free, next ingest sees the survivors") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    Dedup.writeNearDupIndex(docs, "graft_test_ndidx_app", numBuckets = 4)
    // night 1: replays of corpus docs (mostly near-dups) + 5 genuinely
    // fresh docs that must survive and be appended
    val freshA = spark.range(5).select((col("id") + 1000000100L).as("doc_id"),
      concat(lit("wholly new alpha document index "), col("id").cast("string"),
        lit(" beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
        .as("text"))
    val batchA = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        concat(col("text"), lit(" zz edit marker token pad")).as("text"))
      .unionByName(freshA)
    val survA = Dedup.incrementalNearDupSurvivorsIndexed(
      spark, "graft_test_ndidx_app", batchA)
    val survivorsA = batchA.join(survA, "doc_id").localCheckpoint()
    Dedup.appendToNearDupIndex(survivorsA, "graft_test_ndidx_app")
    // night 2: exact copies of night-1's fresh docs (match NOTHING in
    // the original corpus — they drop iff the append landed) + fresh
    // B-docs that must survive
    val copiesOfA = freshA.select((col("doc_id") + 1000000000L).as("doc_id"),
      col("text"))
    val freshB = spark.range(3).select((col("id") + 2000000200L).as("doc_id"),
      concat(lit("second night novel text "), col("id").cast("string"),
        lit(" nu xi omicron pi rho sigma tau upsilon phi chi psi omega"))
        .as("text"))
    val batchB = copiesOfA.unionByName(freshB)
    // the bucketed-probe contract must hold on the APPENDED index: the
    // per-append files land bucket-aligned, so the scan still carries
    // the join partitioning and neither index table re-shuffles
    assertProbeLayoutEngaged("graft_test_ndidx_app", batchB)
    val viaIndex = Dedup.incrementalNearDupSurvivorsIndexed(
        spark, "graft_test_ndidx_app", batchB)
      .collect().map(_.getLong(0)).sorted
    // maintenance evidence: every copy of an appended survivor drops,
    // every novel doc survives
    assert(viaIndex.sameElements(freshB.collect().map(_.getLong(0)).sorted),
      s"expected only fresh B docs to survive, got ${viaIndex.mkString(",")}")
    // and the whole two-night loop equals the recompute over the
    // maintained corpus (hist ∪ appended survivors)
    val recomputed = Dedup.incrementalNearDupSurvivors(
        docs.unionByName(survivorsA), batchB)
      .collect().map(_.getLong(0)).sorted
    assert(viaIndex.sameElements(recomputed))
  }

  test("append replay converges across the buckets/sigs partial-crash window") {
    import graft.operators.{Dedup, Generations}
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 200)
    val name = "graft_test_ndidx_crashwin"
    Dedup.writeNearDupIndex(docs, name, numBuckets = 4)
    val batch = spark.range(4).select((col("id") + 3000000300L).as("doc_id"),
      concat(lit("partial crash window doc "), col("id").cast("string"),
        lit(" aleph bet gimel dalet he vav zayin het tet yod kaf lamed"))
        .as("text")).localCheckpoint()
    // simulate the exact torn state a crash between the two append jobs
    // leaves: bucket rows landed, signature rows did not. (Each job is
    // atomic; the PAIR is not — this is the window.)
    val bt = Generations.resolve(spark, name, "buckets")
    import graft.operators.Dedup.{bandBuckets, signatures}
    val sigs = signatures(batch, 5).localCheckpoint()
    bandBuckets(sigs).write.format("parquet").mode("append")
      .bucketBy(4, "bh").sortBy("bh").saveAsTable(bt)
    spark.catalog.refreshTable(bt)
    val bucketRowsTorn = spark.table(bt)
      .filter(col("doc_id") >= 3000000300L).count()
    assert(bucketRowsTorn > 0, "torn state failed to land bucket rows")
    // at-least-once replay of the SAME batch with ifAbsent: the docs
    // are absent from sigs (written last → not fully applied), so they
    // readmit; the bucket-side anti-join must skip their landed rows
    Dedup.appendToNearDupIndex(batch, name, ifAbsent = true)
    val bucketRows = spark.table(bt)
      .filter(col("doc_id") >= 3000000300L).count()
    assert(bucketRows == bucketRowsTorn,
      s"replay duplicated bucket rows: $bucketRowsTorn -> $bucketRows")
    val sigRows = spark.table(Generations.resolve(spark, name, "sigs"))
      .filter(col("doc_id") >= 3000000300L).count()
    assert(sigRows == 4L, s"replay left sigs incomplete: $sigRows")
    // converged index behaves: exact copies of the batch all drop
    val copies = batch.select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    assert(Dedup.incrementalNearDupSurvivorsIndexed(spark, name, copies)
      .isEmpty, "appended docs not deduplicating after replay")
    // and a FULL replay (both tables applied) is a no-op
    Dedup.appendToNearDupIndex(batch, name, ifAbsent = true)
    assert(spark.table(bt).filter(col("doc_id") >= 3000000300L).count()
      == bucketRows)
  }

  test("compaction collapses per-append files; probe contract unchanged") {
    import graft.operators.Dedup
    def indexFiles(name: String): Int =
      Seq(graft.operators.Generations.resolve(spark, name, "buckets"),
          graft.operators.Generations.resolve(spark, name, "sigs")).map { t =>
        val loc = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(t)).location
        val dir = new java.io.File(new java.net.URI(loc.getPath).getPath)
        Option(dir.listFiles()).toSeq.flatten
          .count(f => f.getName.endsWith(".parquet"))
      }.sum
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    Dedup.writeNearDupIndex(docs, "graft_test_ndidx_cp", numBuckets = 4)
    // three nightly appends of genuinely-new docs: each lands a fresh
    // bucket-aligned file set next to the existing ones
    for (night <- 1 to 3) {
      val batch = spark.range(5)
        .select((col("id") + 1000000000L * night + 500).as("doc_id"),
          concat(lit(s"night $night novel content item "),
            col("id").cast("string"),
            lit(" uniquely worded filler alpha" + night * 7 +
              " beta" + night * 13 + " gamma" + night * 17 +
              " delta epsilon zeta eta theta iota")).as("text"))
      Dedup.appendToNearDupIndex(batch, "graft_test_ndidx_cp")
    }
    val before = indexFiles("graft_test_ndidx_cp")
    // probe batch: a content copy of one appended doc under a NEW id
    // (must drop — a same-id probe is the replay case, which the probe
    // deliberately self-excludes) + one novel doc (must survive) —
    // drawn BEFORE compaction
    val probe = spark.range(1)
      .select((col("id") + 4000000500L).as("doc_id"),
        concat(lit("night 1 novel content item "), col("id").cast("string"),
          lit(" uniquely worded filler alpha7 beta13 gamma17" +
            " delta epsilon zeta eta theta iota")).as("text"))
      .unionByName(spark.range(1)
        .select((col("id") + 3000000000L).as("doc_id"),
          lit("wholly unrelated probe text omega psi chi phi upsilon tau" +
            " sigma rho pi omicron").as("text")))
      .localCheckpoint()
    val survBefore = Dedup.incrementalNearDupSurvivorsIndexed(
      spark, "graft_test_ndidx_cp", probe).collect().map(_.getLong(0)).sorted
    Dedup.compactNearDupIndex(spark, "graft_test_ndidx_cp")
    val after = indexFiles("graft_test_ndidx_cp")
    // 1 build + 3 appends over 2 tables → ≥8 file sets before; the
    // compacted layout is one file per bucket per table
    assert(after < before, s"compaction did not shrink files: $before → $after")
    assert(after <= 8, s"expected ≤ one file per bucket per table, got $after")
    // the bucket layout still carries the join partitioning (the
    // exchange-free contract) and the k stamp survived the rewrite
    assertProbeLayoutEngaged("graft_test_ndidx_cp", probe)
    Seq(graft.operators.Generations.resolve(spark, "graft_test_ndidx_cp", "buckets"),
        graft.operators.Generations.resolve(spark, "graft_test_ndidx_cp", "sigs")).foreach { t =>
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(t)
      assert(spark.sessionState.catalog.getTableMetadata(ident)
        .properties.get(Dedup.ShingleKProp).contains("5"))
    }
    val survAfter = Dedup.incrementalNearDupSurvivorsIndexed(
      spark, "graft_test_ndidx_cp", probe).collect().map(_.getLong(0)).sorted
    assert(survAfter.sameElements(survBefore),
      s"compaction changed probe results: ${survBefore.mkString(",")} vs " +
        survAfter.mkString(","))
    // and the fixture really exercised both branches
    assert(survBefore.sameElements(Array(3000000000L)))

    // RESIZE (r11 ask): a second compaction rebuckets 4 → 8 — the
    // grown-corpus path. The bucket spec must actually move on BOTH
    // tables, the exchange-free probe contract must hold at the NEW
    // count, and the probe stays behavior-identical.
    Dedup.compactNearDupIndex(spark, "graft_test_ndidx_cp",
      numBuckets = Some(8))
    Seq("buckets", "sigs").foreach { m =>
      val t = graft.operators.Generations.resolve(
        spark, "graft_test_ndidx_cp", m)
      val bs = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(t)).bucketSpec
      assert(bs.map(_.numBuckets).contains(8), s"$m not rebucketed to 8")
    }
    assertProbeLayoutEngaged("graft_test_ndidx_cp", probe)
    val survResized = Dedup.incrementalNearDupSurvivorsIndexed(
      spark, "graft_test_ndidx_cp", probe).collect().map(_.getLong(0)).sorted
    assert(survResized.sameElements(survBefore),
      "the bucket-count resize changed probe results")
  }

  test("index stamps its shingle k; mismatched probe/append fail fast") {
    import graft.operators.Dedup
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 50)
    Dedup.writeNearDupIndex(docs, "graft_test_ndidx_k", numBuckets = 4, k = 5)
    // the k the index was built with is recorded on both tables —
    // signatures under a different k live in a different shingle
    // universe, so a silent mismatch would simply stop detecting dups
    Seq(graft.operators.Generations.resolve(spark, "graft_test_ndidx_k", "buckets"),
        graft.operators.Generations.resolve(spark, "graft_test_ndidx_k", "sigs")).foreach { t =>
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(t)
      assert(spark.sessionState.catalog.getTableMetadata(ident)
        .properties.get(Dedup.ShingleKProp).contains("5"))
    }
    val batch = docs.select((col("doc_id") + 1000000000L).as("doc_id"),
      col("text"))
    intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupSurvivorsIndexed(
        spark, "graft_test_ndidx_k", batch, k = 7)
    }
    intercept[IllegalArgumentException] {
      Dedup.appendToNearDupIndex(batch, "graft_test_ndidx_k", k = 7)
    }
    // matching k works end-to-end (every batch doc is an exact replay →
    // all drop)
    assert(Dedup.incrementalNearDupSurvivorsIndexed(
      spark, "graft_test_ndidx_k", batch, k = 5).isEmpty)
  }

  test("probe-key pushdown path is row-identical to the plain path") {
    // fixture indexes never cross the 64 MB default floor, so the
    // bounded-key pushdown would ship ungated without forcing it:
    // the session-conf override drops the floor to 0 and the same
    // probe must answer identically through both plans
    import graft.operators.Dedup
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    Dedup.writeNearDupIndex(docs, "graft_test_ndidx_push", numBuckets = 4)
    val batch = docs.filter(col("doc_id") < 30)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        concat(col("text"), lit(" zz pad")).as("text"))
    val plain = Dedup.incrementalNearDupSurvivorsIndexed(
      spark, "graft_test_ndidx_push", batch).collect().map(_.getLong(0)).sorted
    withConfs(Dedup.PushdownMinBytesConf -> "0") {
      val pushed = Dedup.incrementalNearDupSurvivorsIndexed(
        spark, "graft_test_ndidx_push", batch).collect()
        .map(_.getLong(0)).sorted
      assert(pushed.sameElements(plain),
        s"pushdown diverged: ${pushed.length} vs ${plain.length} survivors")
      // a batch with NO candidates pushes an EMPTY key set — a valid
      // always-false filter on the fat sigs scan — and every batch
      // doc must survive
      val fresh = spark.range(4)
        .select((col("id") + 1000000500L).as("doc_id"),
          concat(lit("pushdown wholly fresh doc "), col("id").cast("string"),
            lit(" nu xi omicron pi rho sigma tau upsilon phi chi psi"))
            .as("text"))
      assert(Dedup.incrementalNearDupSurvivorsIndexed(
        spark, "graft_test_ndidx_push", fresh).count() == 4)
    }
  }

  test("hive-partitioned layout prunes whole files at listing time") {
    val out = Files.createTempDirectory("layout_hive").toString
    Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"),
        TextFunctions.langId(col("text")).as("lang"))
      .write.partitionBy("lang").mode("overwrite").parquet(out)
    val all = spark.read.parquet(out)
    val allFiles = all.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles")).head
    all.collect()
    val one = spark.read.parquet(out).filter(col("lang") === "en")
    val oneFiles = one.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles")).head
    one.collect()
    assert(oneFiles.value > 0)
    assert(oneFiles.value < allFiles.value,
      s"partition pruning read ${oneFiles.value} of ${allFiles.value} files")
    // the partition filter is gone from the data filters: pruning
    // happened at listing, not per row
    val leaves = one.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert(leaves.contains("PartitionFilters"), leaves)
  }
}
