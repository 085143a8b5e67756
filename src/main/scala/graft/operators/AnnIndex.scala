package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED ANN index: the maintained-artifact lifecycle the near-dup
  * index has (d12 write → d13 append → d14 compact), applied to
  * similarity search. [[Similarity.ivfPqTopK]] trains its quantizers
  * and encodes the corpus PER QUERY RUN — correct, but at 100 TB the
  * encode pass dwarfs the search; a production deployment builds the
  * index once, probes it many times, and appends new vectors nightly.
  *
  *  - `<name>_cells`: (vec_id, codes) PARTITIONED BY cell — directory
  *    partitioning, not bucketing, because the probe's win is reading
  *    nprobe/nCells of the data: the probe joins the (broadcast) query
  *    cell set against the partition column, and Spark's dynamic
  *    partition pruning skips every unprobed cell's directory at
  *    listing time (AnnIndexSpec asserts the dynamicpruning filter in
  *    the scan). m ints per vector — the PQ compression is what makes
  *    the index table this small in the first place.
  *  - `<name>_model`: the trained coarse centroids and PQ codebooks as
  *    rows (kind, i, j, vec) — nCells + m·ksub small vectors, collected
  *    and broadcast by every probe/append. The model is FROZEN at build
  *    time (the FAISS contract): appended vectors encode with the
  *    existing quantizers, so old and new codes stay comparable —
  *    retraining is a rebuild, not an append.
  *
  * `residual = true` builds the index over coarse residuals
  * ([[Similarity.trainPqCodebooksResidual]]) — same bytes, higher
  * shortlist recall. The flag is STAMPED in the table properties
  * alongside the geometry, because every later lifecycle step must
  * agree with it: an append that encoded raw against residual
  * codebooks would produce codes that silently mis-rank, and a probe
  * that skipped the dot(q, centroid) fold-back would mis-score every
  * candidate. Probe/append/compact all read the stamp; nothing is
  * passed by hand.
  *
  * Probe result == [[Similarity.ivfPqTopK]] at equal parameters
  * (bit-identical: same deterministic sample → same model → same codes
  * and ADC scores; AnnIndexSpec pins the equality), so s09 shares
  * s08's correctness story — since r12 that means sharing its
  * [[PortableIvf]] oracle TEXT: the driver hash row proves the
  * build→persist→probe lifecycle changes nothing, and the s05
  * contract on the in-memory twin keeps gating recall.
  */
object AnnIndex {

  /** Model/geometry stamps (validated on probe/append — a probe against
    * an index built with different geometry would silently mis-rank). */
  val DimProp = "graft.ann.dim"
  val MProp = "graft.ann.m"
  val KsubProp = "graft.ann.ksub"
  val NCellsProp = "graft.ann.ncells"
  /** Whether codes quantize coarse residuals (v − centroid) instead of
    * raw vectors. Stamped at build time like the geometry: appends must
    * encode the SAME WAY or their codes silently mis-rank, and probes
    * must know whether to fold the dot(q, centroid) term back in. */
  val ResidualProp = "graft.ann.residual"
  /** Comma-joined metadata columns stored WITH the codes for scoped
    * (filtered) probes — the persisted form of [[Similarity.ivfTopK]]'s
    * `scope`. Stamped at build time: an append must supply the same
    * columns, and a probe reads the stamp to know which equi-keys to
    * add to the cell join. Empty = unscoped. */
  val ScopeProp = "graft.ann.scope"
  /** Mean distance-to-centroid of the corpus the model was TRAINED on
    * — the drift baseline: [[driftRatio]] divides the current corpus's
    * mean by this, and a ratio well above 1 says vectors now land far
    * from the frozen centroids (codes round harder, recall decays) —
    * the when-to-[[retrainAnnIndex]] trigger. */
  val BaseDistProp = "graft.ann.basedist"

  /** The ANN index family's members under [[Generations]]: codes and
    * model swap as ONE unit (codes scored against another generation's
    * model would silently mis-rank). */
  private val IndexMembers = Seq("cells", "model")

  /** The family's member list for [[IndexMaintenance.health]] sweeps —
    * the same list every writer passes to [[Generations]]. */
  val maintenanceMembers: Seq[String] = IndexMembers

  private def cellsTable(spark: SparkSession, name: String): String =
    Generations.resolve(spark, name, "cells")
  private def modelTable(spark: SparkSession, name: String): String =
    Generations.resolve(spark, name, "model")

  /** Mean distance-to-centroid over `emb` under `cents` — stamped at
    * build time as the drift baseline [[driftRatio]] compares against
    * (one narrow partial-aggregated pass; only the scalar reaches the
    * driver). */
  private[operators] def meanCentroidDist(emb: DataFrame,
      cents: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]]): Double = {
    val distOf = udf { (v: Seq[Float]) =>
      val a = v.toArray
      val ct = cents.value(Similarity.nearestCell(a, cents.value))
      var d2 = 0.0
      var d = 0
      while (d < math.min(a.length, ct.length)) {
        val diff = a(d) - ct(d); d2 += diff * diff; d += 1
      }
      math.sqrt(d2)
    }
    emb.select(avg(distOf(col("embedding")))).head().getDouble(0)
  }

  /** Build the index: train the coarse quantizer + PQ codebooks on the
    * bounded driver sample (identical to [[Similarity.ivfPqTopK]]'s
    * training), encode the corpus once, persist codes partitioned by
    * cell and the model as its own table. Written as the next
    * GENERATION and published by one atomic pointer flip
    * ([[Generations]]), so a rebuild over a live index is reader-safe:
    * probes resolve the complete old generation until the flip. */
  def writeAnnIndex(emb: DataFrame, name: String, nCells: Int = 16,
      m: Int = 8, ksub: Int = 32, residual: Boolean = false,
      scope: Seq[String] = Nil, gcKeep: Int = 1): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val firstVec = emb.select(size(col("embedding"))).take(1)
    require(firstVec.nonEmpty, "cannot build an ANN index over an empty corpus")
    val dim = firstVec(0).getInt(0)
    // non-residual codebooks don't depend on the centroids — the two
    // bounded training collects overlap (guide §2.6 / Par doc);
    // residual training needs the centroids first and stays sequential
    var trained: Array[Array[Float]] = null
    var books0: Array[Array[Array[Float]]] = null
    Par.run(spark, Seq(
      () => trained = Similarity.trainCentroids(emb, nCells)) ++
      (if (residual) Nil
       else Seq(() => books0 = Similarity.trainPqCodebooks(emb, m, ksub))))
    val books =
      if (residual) Similarity.trainPqCodebooksResidual(emb, trained, m, ksub)
      else books0
    val cents = spark.sparkContext.broadcast(trained)
    val bb = spark.sparkContext.broadcast(books)
    // a rebuild (or retrain) defines the index's contents from the
    // corpus it was handed: the pending set against the replaced
    // generation is stale, not erased (Tombstones.rebuild)
    Tombstones.rebuild(spark, name, IndexMembers, "vec_id", gcKeep) { lease =>
      val ct = Generations.physical(name, "cells", lease.gen)
      val mt = Generations.physical(name, "model", lease.gen)
      // three independent jobs inside the atomic swap — the corpus
      // encode+write, the tiny model write, and the base-drift gauge
      // aggregate — overlapped per guide §2.6 (Par doc)
      var baseDist = 0.0
      Par.run(spark, Seq(
        () => encoded(emb, cents, bb, dim, m, residual, scope)
          .write.format("parquet").partitionBy("cell")
          .saveAsTable(ct),
        () => {
          val centRows = trained.zipWithIndex.map { case (v, i) =>
            ("cent", i, 0, v.toSeq) }
          val bookRows = for {
            (book, j) <- books.zipWithIndex; (v, c) <- book.zipWithIndex
          } yield ("book", j, c, v.toSeq)
          (centRows ++ bookRows).toSeq.toDF("kind", "i", "j", "vec")
            .coalesce(1).write.format("parquet").saveAsTable(mt)
        },
        () => baseDist = meanCentroidDist(emb, cents)))
      Seq(ct, mt).foreach { t =>
        spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('$DimProp' = '$dim', " +
          s"'$MProp' = '$m', '$KsubProp' = '$ksub', " +
          s"'$NCellsProp' = '$nCells', '$ResidualProp' = '$residual', " +
          s"'$ScopeProp' = '${scope.mkString(",")}', " +
          s"'$BaseDistProp' = '$baseDist')")
      }
      Map.empty
    }
  }

  /** (vec_id, codes, cell) for `emb` under the given frozen model —
    * the one encode used by build and append (they MUST agree, or
    * appended codes mis-rank against built ones). */
  private def encoded(emb: DataFrame,
      cents: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]],
      bb: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Float]]]],
      dim: Int, m: Int, residual: Boolean,
      scope: Seq[String] = Nil): DataFrame = {
    val dsub = dim / m
    val cellOf = udf((v: Seq[Float]) =>
      Similarity.nearestCell(v.toArray, cents.value))
    val encode = udf { (v: Seq[Float]) =>
      val a0 = v.toArray
      val a = if (residual) Similarity.residualOf(a0, cents.value) else a0
      (0 until m).map(j =>
        Similarity.nearestCell(a.slice(j * dsub, (j + 1) * dsub), bb.value(j)))
    }
    emb.select(col("vec_id") +: encode(col("embedding")).as("codes") +:
      cellOf(col("embedding")).as("cell") +: scope.map(col): _*)
  }

  private def props(spark: SparkSession, t: String): Map[String, String] =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(t))
      .properties

  /** A property every ANN writer stamps on both members. */
  private def stamp(p: Map[String, String], t: String, k: String): String =
    p.getOrElse(k, sys.error(s"$t has no $k property — not a graft ANN index"))

  private def geometry(spark: SparkSession,
      name: String): (Int, Int, Int, Boolean) =
    geometryOf(spark, cellsTable(spark, name))

  /** Geometry read from an EXPLICIT cells table — the as-of probe
    * resolves a past generation's table and must score its codes with
    * that generation's own dims (a retrain changes them together). */
  private def geometryOf(spark: SparkSession,
      ct: String): (Int, Int, Int, Boolean) = {
    val p = props(spark, ct)
    def g(k: String) = stamp(p, ct, k).toInt
    (g(DimProp), g(MProp), g(KsubProp), stamp(p, ct, ResidualProp).toBoolean)
  }

  /** Scope columns stamped at build time (empty for unscoped indexes). */
  private def scopeOf(spark: SparkSession, name: String): Seq[String] =
    scopeOfTable(spark, cellsTable(spark, name))
  private def scopeOfTable(spark: SparkSession, ct: String): Seq[String] =
    stamp(props(spark, ct), ct, ScopeProp).split(",").toSeq.filter(_.nonEmpty)

  /** The frozen model, loaded (tiny: nCells + m·ksub vectors). */
  private def loadModel(spark: SparkSession, name: String,
      m: Int): (Array[Array[Float]], Array[Array[Array[Float]]]) =
    loadModelFrom(spark, modelTable(spark, name), m)
  private def loadModelFrom(spark: SparkSession, mt: String,
      m: Int): (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val rows = spark.table(mt).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getSeq[Float](3).toArray))
    val cents = rows.filter(_._1 == "cent").sortBy(_._2).map(_._4)
    val books = Array.tabulate(m) { j =>
      rows.filter(r => r._1 == "book" && r._2 == j).sortBy(_._3).map(_._4)
    }
    (cents, books)
  }

  /** Nightly append: encode the batch with the FROZEN model and land
    * its codes in the existing cell directories (dynamic partition
    * overwrite is off for appends — each cell dir just gains a file;
    * [[Dedup.compactNearDupIndex]]'s rewrite pattern applies if the
    * per-append files ever matter, but cells are directories here, so
    * probes prune rather than list them all). */
  /** `ifAbsent = true` makes the append IDEMPOTENT by vec_id: already-
    * indexed ids are skipped via an anti-join against the cells
    * table's one id column (a column-pruned scan of the ~32×
    * compressed codes — the d09 anti-join class of cost) — the
    * at-least-once contract a replayed micro-batch needs: a blind
    * re-append would land duplicate code rows and the probe would
    * return duplicate candidates. */
  def appendToAnnIndex(batch: DataFrame, name: String,
      ifAbsent: Boolean = false): Unit = {
    val spark = batch.sparkSession
    // writer lease held across the mutation (acquire/release, no
    // pointer flip — an append mutates the current generation in
    // place): fences the lost-update race where a concurrent
    // compaction/retrain publishes a generation built from a scan that
    // predates this batch, silently dropping it. The cells table
    // resolves UNDER the lease so the insert can't land in a
    // just-retired generation. The insert itself is ONE parquet job
    // (atomic), and ifAbsent's anti-join makes replays idempotent.
    Generations.leased(spark, name, IndexMembers) {
      val (dim, m, _, residual) = geometry(spark, name)
      val scope = scopeOf(spark, name)
      require(scope.forall(batch.columns.contains),
        s"index $name is scoped on ${scope.mkString(",")}; batch must carry those columns")
      val ct = cellsTable(spark, name)
      // barReplayed: a replay after an erasure compaction purged this
      // batch's taken-down vecs would find them absent from codes and
      // re-admit them — barred by the pending set or the durable
      // erased registry (the LexIndex replay-resurrection fix, r13
      // advice, applied uniformly to every ifAbsent append)
      val toAdd =
        if (ifAbsent) Tombstones.barReplayed(
          batch.join(spark.table(ct).select("vec_id"),
            Seq("vec_id"), "left_anti"), name, "vec_id")
        else batch
      val (cents0, books0) = loadModel(spark, name, m)
      val cents = spark.sparkContext.broadcast(cents0)
      val bb = spark.sparkContext.broadcast(books0)
      encoded(toAdd, cents, bb, dim, m, residual, scope)
        .write.format("parquet").mode("append").partitionBy("cell")
        .saveAsTable(ct)
      spark.catalog.refreshTable(ct)
    }
  }

  /** Probe the persisted index: ADC scoring against the codes of the
    * nprobe nearest cells per query (dynamic partition pruning keeps
    * the scan to those cells' directories), exact f32 re-rank of the
    * shortlist against `emb` (the raw vectors live in the SOURCE
    * table — a PQ index stores codes, not vectors). Queries =
    * `emb.filter(queryPred)`, as in the in-memory operators. */
  def probeAnnIndex(spark: SparkSession, name: String, emb: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int = 10, nprobe: Int = 4,
      shortlist: Int = 60, asOf: Option[Long] = None,
      candPred: Option[org.apache.spark.sql.Column] = None,
      candPairs: Option[DataFrame] = None,
      exclPairs: Option[DataFrame] = None): DataFrame =
    probeQueries(spark, name, emb.filter(queryPred), emb, k, nprobe,
      shortlist, asOf, candPred, candPairs, exclPairs)

  /** Probe with an EXPLICIT query frame — the shape streaming ingest
    * needs, where the queries (an arriving micro-batch) are not yet
    * rows of the corpus table. `rerank` must carry raw vectors for
    * both the query ids and every indexed candidate (typically
    * `corpus ∪ queries`); the index supplies only codes. */
  /** `asOf = Some(g)`: probe generation `g`'s frozen snapshot
    * ([[Generations.resolveAsOf]]) — codes, model, geometry and scope
    * all resolve from the SAME past generation (they swap as one
    * unit, and an as-of probe must keep that pairing), while the
    * tombstone exclusion stays CURRENT: erasure overrides history. */
  /** `candPred`: serve-time CANDIDACY filter over the candidate
    * `vec_id` (the lexical probe's scope twin — s40): applied to the
    * codes BEFORE ADC scoring and the shortlist cut, so the filter
    * composes with the approximation the way a production metadata
    * filter must — the shortlist is spent on admissible candidates,
    * not truncated after the fact (post-filtering a fixed shortlist
    * is the classic filtered-ANN recall bug). Cost: the filter only
    * narrows the pruned-cell scan. */
  /** `candPairs`: PER-QUERY candidacy — (qid, vec_id) rows a candidate
    * must appear under ITS query to be scorable for it (the lexical
    * probe's `candPairs` twin — the quoted-phrase serve shape, s45:
    * feed [[LexIndex.probePhrase]]'s matches in). Applied as a
    * broadcast semi-join at the earliest point qid exists — after the
    * query-cell join, BEFORE ADC scoring and the shortlist cut — so
    * the shortlist is spent on each query's own admissible candidates
    * (post-filtering a fixed shortlist is the classic filtered-ANN
    * recall bug, same argument as `candPred`). */
  /** `exclPairs`: PER-QUERY EXCLUSION — the boolean MUST_NOT leg on
    * the vector side ([[graft.operators.LexIndex.probeLexIndex]]'s
    * exclPairs twin): (qid, vec_id) rows a candidate must NOT appear
    * under its query to stay scorable. Anti-joined at the SAME
    * pre-shortlist position as `candPairs` — excluding after the
    * shortlist cut would waste shortlist slots on excluded docs (the
    * filtered-ANN recall bug in its MUST_NOT form). ADC scores carry
    * no corpus statistics, so surviving scores are untouched. */
  def probeQueries(spark: SparkSession, name: String, queries: DataFrame,
      rerank: DataFrame, k: Int = 10, nprobe: Int = 4,
      shortlist: Int = 60, asOf: Option[Long] = None,
      candPred: Option[org.apache.spark.sql.Column] = None,
      candPairs: Option[DataFrame] = None,
      exclPairs: Option[DataFrame] = None): DataFrame = {
    val ct = asOf.fold(cellsTable(spark, name))(g =>
      Generations.resolveAsOf(spark, name, "cells", g))
    val mt = asOf.fold(modelTable(spark, name))(g =>
      Generations.resolveAsOf(spark, name, "model", g))
    val (dim, m, ksub, residual) = geometryOf(spark, ct)
    val (cents0, books0) = loadModelFrom(spark, mt, m)
    val cents = spark.sparkContext.broadcast(cents0)
    val bb = spark.sparkContext.broadcast(books0)
    val dsub = dim / m
    val probesOf = udf((v: Seq[Float]) =>
      Similarity.nearestCells(v.toArray, cents.value, nprobe))
    val lutOf = udf { (v: Seq[Float]) =>
      val a = v.toArray
      val out = new Array[Double](m * ksub)
      var j = 0
      while (j < m) {
        val cb = bb.value(j)
        var c = 0
        while (c < cb.length) {
          var acc = 0.0
          var d = 0
          while (d < dsub) { acc += a(j * dsub + d) * cb(c)(d); d += 1 }
          out(j * ksub + c) = acc
          c += 1
        }
        j += 1
      }
      out.toSeq
    }
    // residual ADC's extra term: dot(query, probed cell's centroid) —
    // the part of dot(q, v) the residual codes no longer carry
    val qcellDot = udf { (v: Seq[Float], cell: Int) =>
      val c = cents.value(cell)
      var acc = 0.0
      var d = 0
      while (d < math.min(v.length, c.length)) { acc += v(d) * c(d); d += 1 }
      acc
    }
    // scoped indexes: the stamped metadata columns join WITH the cell
    // key, so the scan never scores another scope's codes (the
    // persisted form of ivfTopK's pre-filtering scope)
    val scope = scopeOfTable(spark, ct)
    val q = queries
      .select(col("vec_id").as("qid") +: lutOf(col("embedding")).as("lut") +:
        col("embedding").as("qe") +:
        explode(probesOf(col("embedding"))).as("cell") +: scope.map(col): _*)
      .withColumn("qc",
        if (residual) qcellDot(col("qe"), col("cell")) else lit(0.0))
      .drop("qe")
    // deletions apply logically at probe time: tombstoned vectors are
    // invisible the instant [[tombstoneAnn]] lands; the next
    // compaction/retrain reclaims their codes physically
    val base0 = Tombstones.get(spark, name).fold(
      spark.table(ct))(tt =>
      spark.table(ct).join(
        broadcast(tt.select(col("vec_id")).distinct()),
        Seq("vec_id"), "left_anti"))
    // serve-time scope: candidacy-only, before ADC + shortlist (see
    // the method doc)
    val base = candPred.fold(base0)(base0.filter)
    val joined = base
      .join(broadcast(q), "cell" +: scope)
      .filter(col("vec_id") =!= col("qid"))
    // per-query candidacy at the pre-shortlist position (see method
    // doc): qid exists only after the join above, so this is the
    // earliest — and the only statistically safe — place for it. The
    // pair frame is data-dependent, so the broadcast is size-GATED
    // (LexIndex.gatedPairs — pinned, counted, shuffle semi/anti past
    // the budget): same candidacy position, row-identical either way
    def normPin(p: DataFrame) = Frontier.pin(
      p.select(col(p.columns.head).cast("long").as("qid"),
        col(p.columns(1)).cast("long").as("vec_id")).distinct())
    val cand0 = candPairs.fold(joined)(cp => joined.join(
      LexIndex.gatedPairs(normPin(cp)), Seq("qid", "vec_id"), "left_semi"))
    // MUST_NOT at the same pre-shortlist position (see method doc)
    val cand = exclPairs.fold(cand0)(ep => cand0.join(
      LexIndex.gatedPairs(normPin(ep)), Seq("qid", "vec_id"), "left_anti"))
    val scored = cand
      .withColumn("cos", col("qc") + expr(
        s"aggregate(transform(codes, (c, j) -> element_at(lut, j * $ksub + c + 1)), " +
          "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"))
    val cands = Similarity.topKPerQuery(
      scored.select("qid", "vec_id", "cos"), shortlist)
    Similarity.exactReRank(rerank, cands, dim, k)
  }

  /** The when-to-REBUILD signal. The model is frozen (appends encode
    * with the build-time quantizers), so under distribution drift the
    * index silently degrades in two measurable ways: cells go out of
    * BALANCE (hot cells make nprobe scans expensive, empty cells waste
    * probes) and vectors land ever FARTHER from their centroids
    * (coarse residuals grow, so the PQ codes round harder and
    * shortlist recall decays). Both signals in one distributed pass
    * over the raw vectors: per-cell row counts and mean/max
    * distance-to-centroid — assignment is the same broadcast-centroid
    * narrow map as the probe, the aggregate is partial-combined, and
    * nothing but the nCells-row summary reaches the driver. Policy
    * belongs to the caller (rebuild when max/mean count skew or the
    * drift ratio vs the build-time baseline crosses a threshold);
    * the spec pins that a drifted append moves the signal. */
  def cellStats(spark: SparkSession, name: String,
      emb: DataFrame): DataFrame = {
    val (_, m, _, _) = geometry(spark, name)
    val (cents0, _) = loadModel(spark, name, m)
    val cents = spark.sparkContext.broadcast(cents0)
    val assign = udf { (v: Seq[Float]) =>
      val a = v.toArray
      val c = Similarity.nearestCell(a, cents.value)
      val ct = cents.value(c)
      var d2 = 0.0
      var d = 0
      while (d < math.min(a.length, ct.length)) {
        val diff = a(d) - ct(d); d2 += diff * diff; d += 1
      }
      (c, math.sqrt(d2))
    }
    emb.select(assign(col("embedding")).as("a"))
      .select(col("a._1").as("cell"), col("a._2").as("dist"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), avg(col("dist")).as("mean_dist"),
        max(col("dist")).as("max_dist"))
  }

  /** Compact the cells table: each append lands one file PER CELL
    * DIRECTORY, so a long-lived index accretes files with append count
    * and the probe's per-cell listing/open costs creep up with index
    * AGE ([[Dedup.compactNearDupIndex]]'s disease, directory-partition
    * flavor). The rewrite is ONE hash exchange on `cell` — unlike the
    * near-dup index there is no bucket-join contract that forbids an
    * exchange (the probe's contract is directory PRUNING, which
    * `partitionBy` on the rewrite restores), and the codes table is the
    * ~32× compressed artifact, so the shuffle moves ~3% of one corpus
    * scan. After `repartition(cell)` every cell's rows live in exactly
    * one task, and `partitionBy` splits a task's output one file per
    * cell — so each cell directory collapses to ONE file. The swap is
    * a [[Generations]] pointer flip (new generation written complete,
    * then published atomically — the old drop-and-rename had a
    * no-table window and needed a post-rename RECOVER PARTITIONS,
    * both gone). The model is frozen and tiny; its copy into the new
    * generation keeps the family's one-pointer atomicity.
    *
    * Cell-count RESIZE deliberately does NOT live here: cells are the
    * frozen model's Voronoi regions, so changing their count means
    * retraining and re-encoding — [[retrainAnnIndex]]'s optional
    * `nCells` is the ANN resize path (same one-swap atomicity). */
  def compactAnnIndex(spark: SparkSession, name: String,
      gcKeep: Int = 1): Unit = {
    val t = cellsTable(spark, name)
    val mt0 = modelTable(spark, name)
    val (dim, m, ksub, residual) = geometry(spark, name)
    val p = props(spark, t)
    val nCells = stamp(p, t, NCellsProp).toInt
    val baseDist = stamp(p, t, BaseDistProp)
    val scope = scopeOf(spark, name) // carried: a lost stamp would
    // tombstoned deletions become physical here (Tombstones.compaction)
    Tombstones.compaction(spark, name, IndexMembers, "vec_id", gcKeep) {
        (lease, applied) =>
      val ct = Generations.physical(name, "cells", lease.gen)
      val mt = Generations.physical(name, "model", lease.gen)
      val src = applied.fold(spark.table(t))(tt =>
        spark.table(t).join(broadcast(tt),
          Seq("vec_id"), "left_anti"))
      // the two member rewrites are independent — overlapped (Par doc)
      Par.run(spark, Seq(
        // explicit task count: repartition(col) with no count is
        // AQE-coalescible, and at small volumes AQE folds the rewrite into
        // ONE task writing every cell directory serially (SCALE.md's
        // round-11 shard-write profile, same class as Sharding.writeTasks)
        () => src.repartition(spark.sessionState.conf.numShufflePartitions,
            col("cell"))
          .write.format("parquet").partitionBy("cell").saveAsTable(ct),
        () => spark.table(mt0).coalesce(1).write.format("parquet")
          .saveAsTable(mt)))
      Seq(ct, mt).foreach { nt =>
        spark.sql(s"ALTER TABLE $nt SET TBLPROPERTIES ('$DimProp' = '$dim', " +
          s"'$MProp' = '$m', '$KsubProp' = '$ksub', " +
          s"'$NCellsProp' = '$nCells', '$ResidualProp' = '$residual', " +
          s"'$ScopeProp' = '${scope.mkString(",")}', " +
          s"'$BaseDistProp' = '$baseDist')")
      }
      Map.empty
    }
  }

  /** DELETE vectors from the maintained ANN index — the
    * [[Tombstones.takedown]] contract: immediate at every probe,
    * physical at the next compaction or retrain. */
  def tombstoneAnn(spark: SparkSession, name: String,
      ids: DataFrame): Unit =
    Tombstones.takedown(spark, name, IndexMembers, ids, "vec_id")

  /** Drift of the CURRENT corpus against the index's frozen model:
    * mean distance-to-centroid now, divided by the build-time baseline
    * stamped in [[BaseDistProp]]. ~1.0 = the corpus still looks like
    * the training distribution; well above 1 = appended vectors land
    * far from every frozen centroid, coarse residuals have grown, the
    * PQ codes round harder and shortlist recall is decaying. One
    * narrow partial-aggregated pass (same broadcast-centroid map as
    * [[cellStats]]); only the scalar reaches the driver. */
  def driftRatio(spark: SparkSession, name: String,
      emb: DataFrame): Double = {
    val (_, m, _, _) = geometry(spark, name)
    val ct = cellsTable(spark, name)
    val base = stamp(props(spark, ct), ct, BaseDistProp).toDouble
    val (cents0, _) = loadModel(spark, name, m)
    val cents = spark.sparkContext.broadcast(cents0)
    // A degenerate corpus (every vector exactly on a centroid) stamps
    // base = 0; the ratio would be Inf/NaN and `NaN > maxDrift` is
    // false, so retrainAnnIndexIfDrifted would silently never fire.
    // Treat a zero baseline as always-drifted instead.
    if (!(base > 0.0)) Double.PositiveInfinity
    else meanCentroidDist(emb, cents) / base
  }

  /** RETRAIN: the actuator for [[cellStats]]/[[driftRatio]]'s signal.
    * Rebuilds centroids and PQ codebooks from the CURRENT corpus and
    * re-encodes it, preserving every stamped parameter — geometry,
    * residual mode, and crucially the scope columns (a retrain that
    * dropped the scope stamp would silently leak cross-tenant results
    * on the next probe). The new cells AND model land as one new
    * [[Generations]] generation behind one atomic pointer flip, so a
    * probe racing the retrain sees old codes with the old model or new
    * codes with the new model — never a mix, which is the failure mode
    * that makes frozen-model indexes scary to retrain in place.
    *
    * `emb` is the current raw-vector corpus (the index stores codes,
    * not vectors — same contract as [[cellStats]] and the probe's
    * re-rank).
    *
    * `nCells = Some(n)` RESIZES the cell layout inside the same swap —
    * the ANN twin of the near-dup/graph bucket resize (r11 ask). The
    * cell count is SEMANTIC here (cells are the frozen quantizer's
    * Voronoi regions, not just a file layout), so the resize rides the
    * retrain, which re-trains and re-encodes anyway — a compaction
    * alone cannot change it: codes are assignments against the stored
    * model, and rewriting directories without re-encoding would serve
    * old-model codes under a new-model cell map (the exact mixed state
    * the one-pointer family swap exists to forbid). A corpus grown
    * 100× raises n to keep |cell| ≈ corpus/nCells bounded (probe scan
    * per query ∝ nprobe·|cell|). */
  def retrainAnnIndex(spark: SparkSession, name: String,
      emb: DataFrame, nCells: Option[Int] = None): Unit = {
    nCells.foreach(n => require(n > 0, s"nCells must be positive, got $n"))
    val (_, m, ksub, residual) = geometry(spark, name)
    val ct = cellsTable(spark, name)
    val cur = stamp(props(spark, ct), ct, NCellsProp).toInt
    val scope = scopeOf(spark, name)
    // writeAnnIndex IS an atomic rebuild under Generations: it writes
    // the next generation while the current one keeps serving probes
    writeAnnIndex(emb, name, nCells.getOrElse(cur), m, ksub, residual, scope)
  }

  /** The closed drift loop: measure [[driftRatio]], retrain when it
    * exceeds `maxDrift`. Returns the measured ratio and whether a
    * retrain ran — callers alarm on the former and audit the latter.
    * A nightly pipeline calls this after its appends; the threshold
    * trades retrain cost (a full re-encode) against recall decay. */
  def retrainAnnIndexIfDrifted(spark: SparkSession, name: String,
      emb: DataFrame, maxDrift: Double = 1.25): (Double, Boolean) = {
    val ratio = driftRatio(spark, name, emb)
    if (ratio > maxDrift) { retrainAnnIndex(spark, name, emb); (ratio, true) }
    else (ratio, false)
  }
}
