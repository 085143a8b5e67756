package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-shard layout: the final hop of the corpus-prep pipeline,
  * turning the packed token stream (Packing) into the size-bounded,
  * sequentially-readable shards a trainer streams (the WebDataset /
  * streaming-dataset layout). A shard covers a fixed token range
  * [shard·S, (shard+1)·S); docs spanning a boundary belong to every
  * shard they overlap, carrying the overlap length, so per-shard token
  * counts tile the corpus exactly.
  *
  * Scale: assignment is a narrow per-row explode (≤ 1 + n_tokens/S
  * rows per doc — almost always 1); the write is ONE shuffle
  * (repartition on shard) so each shard directory is a single
  * sequential file, which is the property trainers need (a shard is
  * the unit of streaming I/O and of resume). Shard count = corpus
  * tokens / S — bounded, known up front, independent of executor
  * count. The manifest is a shard-keyed partial agg over the
  * assignment rows; nothing touches the driver.
  *
  * Writer contract: like the maintained indexes, a layout assumes ONE
  * maintenance writer at a time — append and delete are not fenced
  * against each other (the composed nightly loop provides the
  * sequencing; two independent pipelines mutating one layout race).
  */
object Sharding {

  /** Explode a packed frame (`start_tok`, `n_tokens`, + passthrough
    * columns) into per-(doc, shard) assignment rows with the exact
    * token overlap. `greatest` guards the degenerate 0-token doc
    * (shard_last would land before shard_first). */
  def shardAssignments(packed: DataFrame, tokensPerShard: Long): DataFrame = {
    val s = tokensPerShard
    require(s > 0, "tokensPerShard must be positive")
    packed
      .withColumn("shard_first", expr(s"start_tok DIV $s"))
      .withColumn("shard_last",
        expr(s"greatest(start_tok DIV $s, (start_tok + n_tokens - 1) DIV $s)"))
      .withColumn("shard",
        explode(sequence(col("shard_first"), col("shard_last"))))
      .withColumn("tok_in_shard",
        least((col("shard") + 1) * s, col("start_tok") + col("n_tokens")) -
          greatest(col("shard") * s, col("start_tok")))
      .drop("shard_first", "shard_last")
  }

  /** Write assignment rows as one directory per shard (dynamic
    * partition layout) and read the result back — the round trip is
    * the point: the registered query's manifest is computed from what
    * a trainer would actually open. `repartition(shard)` makes each
    * shard directory a single file (ShardingSpec asserts);
    * maxRecordsPerFile is the guard against a pathologically large
    * shard parameter. */
  def writeShards(assignments: DataFrame, path: String): DataFrame = {
    // empty-corpus guard: a zero-row partitioned write leaves a layout
    // with no files, and the read-back (schema inference over nothing)
    // throws — an empty layout IS the empty frame, nothing to write.
    // (isEmpty is a limit-1 probe — measured CHEAPER than pinning the
    // assignments to share one materialization with the write: a
    // localCheckpoint of the full assignment set costs more than the
    // probe saves, see the r10 p04/p05 A/B.)
    if (assignments.isEmpty) return assignments
    assignments
      .repartition(writeTasks(assignments.sparkSession), col("shard"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 1000000)
      .partitionBy("shard")
      .parquet(path)
    readLayout(assignments.sparkSession, path, Some(assignments.schema))
  }

  /** Shard-write task count: the session's shuffle parallelism, made
    * EXPLICIT. `repartition(col)` with no count leaves the shuffle
    * AQE-coalescible, and at small volumes AQE folds it into ONE task
    * that then opens every shard directory's parquet writer serially —
    * measured 2.0 s vs 0.4 s for the identical write at sf0.1
    * (SCALE.md, round-11 shard-write profile). Pinning the count keeps the write parallel at
    * every scale; at real volumes the partitions are large and the
    * two forms plan identically. */
  private def writeTasks(spark: org.apache.spark.sql.SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** The empty layout as a frame: column order matches [[readLayout]]
    * (`shard` last) so downstream unions/manifests see one shape
    * whether or not the layout was ever written. */
  private def emptyLayout(spark: org.apache.spark.sql.SparkSession,
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    schema match {
      case Some(sc) =>
        val parts = sc.fields.partition(_.name != "shard")
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(parts._1 ++ parts._2))
      case None => spark.emptyDataFrame
    }

  /** Open a shard layout the way every consumer here does: the
    * partition column (`shard`) comes back LAST and, when the writer's
    * schema is known, EXPLICITLY — supplying it skips both parquet
    * footer-based schema inference across thousands of shard files
    * and the partition-column type narrowing to INT (readers otherwise
    * re-widen by hand). */
  private def readLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, schema: Option[org.apache.spark.sql.types.StructType])
      : DataFrame = schema match {
    case Some(sc) =>
      val parts = sc.fields.partition(_.name != "shard")
      spark.read
        .schema(org.apache.spark.sql.types.StructType(parts._1 ++ parts._2))
        .parquet(path)
    case None => spark.read.parquet(path)
  }

  /** Per-shard manifest: doc count, exact token count (overlaps tile
    * the corpus), and the covered position range — what a resume /
    * integrity check reads instead of the shards themselves. */
  def manifest(assignments: DataFrame, posCol: String): DataFrame =
    assignments.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok_in_shard")).as("n_tokens"),
        min(col(posCol)).as("min_pos"),
        max(col(posCol)).as("max_pos"))

  /** Append a new batch to an existing shard layout — the maintenance
    * path (the d13/d14 story for shards): a growing corpus appends
    * nightly; rewriting every shard would be a full-corpus write.
    * The new batch's assignments carry GLOBAL offsets (previous corpus
    * total + its own prefix sums), so new rows only land in shards ≥
    * the batch's min shard. Shards below that boundary are sealed —
    * never read, never rewritten (ShardingSpec asserts their files are
    * byte-identical after append); the boundary shard (where the
    * previous corpus ended mid-shard) is rewritten merged with the new
    * batch's contribution via DYNAMIC partition overwrite — only the
    * shard directories present in the written frame are replaced.
    * Cost scales with the ingest, not the corpus.
    *
    * The one driver-side value is the batch's min shard (an O(1) agg,
    * same class as Packing's P subtotals). */
  /** `idempotentOn = Some(keyCol)`: skip rows whose key already exists
    * anywhere in the layout — the at-least-once contract for a
    * replayed ingest (foreachBatch re-delivers the last batch after a
    * crash; parquet job commits are all-or-nothing, so a landed
    * attempt either left every row or none, and a replay's recomputed
    * offsets differ — the KEYS are what fence: same docs → all drop →
    * no-op append). The check is a column-pruned scan of the one key
    * column across the layout (the d09 anti-join class of cost), paid
    * only when requested. */
  /** Right-to-erasure for the trainer layout (the d21/s23 story for
    * shards): physically remove every assignment row of `ids` from an
    * existing layout, rewriting ONLY the shard directories that
    * contain them. Cost ∝ affected shards (≈ deleted docs × their
    * shard span), never the corpus: untouched shard files stay
    * byte-identical (ShardingSpec asserts). Token positions keep
    * their holes — the surviving rows' offsets are unchanged, so the
    * layout remains consistent with every manifest/oracle computed
    * over "the original assignment minus the deleted docs".
    *
    * A shard whose every doc is deleted is DROPPED (dynamic overwrite
    * only replaces directories present in the written frame, so the
    * emptied ones are removed explicitly — the affected-shard list is
    * bounded by the deletion batch, the one driver-side value here,
    * same class as appendShards' boundary agg). A replay of the same
    * deletion converges: the anti-join finds nothing left to remove
    * and the rewrite is a no-op overwrite of already-clean shards. */
  def deleteFromShards(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String = "doc_id",
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a never-written layout has nothing to delete from — mirror the
    // empty-layout guards of writeShards/appendShards instead of
    // reading the missing path (a first night whose CDC batch is
    // delete-only reaches here before any shards exist)
    if (!fs.exists(hp)) return emptyLayout(spark, schema)
    val layout = readLayout(spark, path, schema)
    val del = ids.select(col(ids.columns.head).as(idCol)).distinct()
    // affected shards: every directory holding at least one deleted row
    val affected = layout.join(del, Seq(idCol), "left_semi")
      .select(col("shard").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    if (affected.isEmpty) return layout
    // partition pruning via an In-list on the partition column when the
    // affected set is small (the takedown norm); a massive deletion
    // would blow the plan up as literals, so past the threshold scope
    // via a broadcast semi-join instead (no static pruning, still one
    // column-pruned pass — at that size the rewrite dominates anyway)
    val touched =
      if (affected.length <= 10000)
        layout.filter(col("shard").isin(affected: _*))
      else {
        import spark.implicits._
        layout.join(broadcast(affected.toSeq.toDF("aff_shard")),
          col("shard").cast("long") === col("aff_shard"), "left_semi")
      }
    val remaining = Frontier.pin(touched.join(del, Seq(idCol), "left_anti"))
    remaining.repartition(writeTasks(spark), col("shard"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", 1000000)
      .partitionBy("shard")
      .parquet(path)
    val still = remaining.select(col("shard").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    affected.filterNot(still).foreach { sh =>
      fs.delete(new org.apache.hadoop.fs.Path(hp, s"shard=$sh"), true)
    }
    readLayout(spark, path, schema)
  }

  def appendShards(newAssign: DataFrame, path: String,
      idempotentOn: Option[String] = None): DataFrame = {
    val spark = newAssign.sparkSession
    // appending to a layout that was never written (empty first build)
    // degenerates to the initial write — same result, no failed read;
    // Hadoop FS API so the check holds on cluster filesystems too
    val hp = new org.apache.hadoop.fs.Path(path)
    if (!hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp))
      return writeShards(newAssign, path)
    // all layout reads below supply the writer's schema: no parquet
    // footer inference over the (thousands of) shard files, and the
    // partition column arrives as the operator's LONG directly
    def layout() = readLayout(spark, path, Some(newAssign.schema))
    val pre = idempotentOn match {
      case Some(key) =>
        val existing = layout().select(key).distinct()
        newAssign.join(existing, Seq(key), "left_anti")
      case None => newAssign
    }
    val pinned = Frontier.pin(pre) // consumed by boundary agg + write
    val bRow = pinned.agg(min(col("shard"))).collect()(0)
    if (bRow.isNullAt(0)) return layout() // empty batch
    val boundary = bRow.getLong(0)
    // carry forward the boundary shard's existing rows
    val carry = layout().filter(col("shard") >= boundary)
    carry.unionByName(pinned.select(carry.columns.map(col): _*))
      .repartition(writeTasks(spark), col("shard"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", 1000000)
      .partitionBy("shard")
      .parquet(path)
    layout()
  }
}
