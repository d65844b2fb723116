package graft.cdc

import graft.lake._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The merge-apply stage (north_rule core): apply one micro-batch of change
  * events to a lake table with last-writer-wins per key, exactly-once.
  *
  * Semantics reproduced from the reference:
  *  - LWW per key per batch = the reference's "last full rebuild wins" per
  *    variable (/root/reference/etl/steps/__init__.py:999-1129) expressed as
  *    a max-by-LSN reduction;
  *  - exactly-once = checksum-gated idempotent upsert
  *    (/root/reference/etl/grapher/to_db.py:209-220) expressed as
  *    batchId-in-manifest dedup — a replayed batch is a committed no-op;
  *  - delete events = ghost cleanup (to_db.py:416) expressed as tombstone
  *    rows (`_deleted=true`, carrying the delete's LSN) — filtered from
  *    reads, purged at compaction. Tombstones (not row drops) make the
  *    merge correct under ARBITRARY batch splits: a late lower-LSN update
  *    arriving after the delete loses to the tombstone's LSN.
  *
  * Two write modes (both exactly-once, both LWW):
  *  - **MergeOnRead (default ingest path)**: the deduped batch is appended
  *    as delta files, bucket-partitioned; no read of existing data. Batch
  *    cost ∝ batch size — sustained throughput is flat in table size, which
  *    is what 10^10-event ingest needs. Reads reconcile (max_by LSN per
  *    key); `compact()` folds deltas into base files periodically.
  *  - **CopyOnWrite**: join against current state and rewrite touched
  *    buckets — read-optimized, used by compaction itself and for
  *    low-rate/reference tables.
  *
  * Scale design (local[32] here, 1000 executors in production):
  *  - one dedup shape per mode, both `groupBy(key).agg(max(lsn))` + a
  *    broadcast semi join back, never a window: declarative aggregation
  *    gets map-side partial aggregation, so a hot url collapses to ≤1 row
  *    per input partition before the shuffle — skew bounded by
  *    construction. MOR joins on one xxhash64(key, lsn) column (a
  *    collision admits an extra lower-LSN delta row, which reads and
  *    compaction reconcile away); CoW joins exactly on (key, lsn). A
  *    two-stage salted max (`saltBuckets` > 1, or engaged automatically
  *    by the previous batch's duplication ratio) covers pathological
  *    single-key floods per the north_star.
  *  - copy-on-write touches only buckets present in the batch (manifest
  *    file pruning); untouched files carry forward without IO.
  *  - stats ride the write via `Observation` — no second pass.
  */
object MergeApply {

  sealed trait MergeMode
  case object CopyOnWrite extends MergeMode
  case object MergeOnRead extends MergeMode

  /** Parquet codec for every lake data write (deltas, CoW, compaction,
    * step outputs). zstd: the 32-core merge is BANDWIDTH-bound, not
    * CPU-bound (BASELINE.md round-5 scaling §3), so the stronger codec's
    * fewer bytes through the bus/FS beat snappy's cheaper CPU — measured
    * +10% merge-apply throughput in a same-window A/B (zstd 256.7k vs
    * snappy 232.8k ev/s at 2M events, local[32]; lz4 244.0k, uncompressed
    * 248.5k). */
  private[graft] val lakeCodec: String = "zstd"

  final case class MergeStats(
      batchId: Long,
      snapshotId: Long,
      skipped: Boolean,
      inserted: Long,
      updated: Long,
      deleted: Long,
      keptLate: Long
  )

  /** Preimage table for bucket-aligned shuffles: v(k) is an int with
    * pmod(murmur3(v(k)), b) == k, found by linear search (expected
    * ~b·ln b probes, memoized per b). Murmur3 with seed 42 is exactly the
    * hash Spark's HashPartitioning applies to an int partition expression,
    * so repartitioning on v(_bucket) sends bucket k to shuffle partition k
    * bijectively. */
  private val alignedPreimages =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Int]]()
  private[graft] def bucketPreimages(b: Int): Array[Int] =
    alignedPreimages.computeIfAbsent(b, _ => {
      val out = Array.fill(b)(-1)
      var found = 0
      var v = 0
      while (found < b) {
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42)
        val p = ((h % b) + b) % b
        if (out(p) < 0) { out(p) = v; found += 1 }
        v += 1
      }
      out
    })

  /** Bucket-aligned repartition for the delta/base writes: exactly one
    * shuffle partition (→ one write task, one file) per bucket.
    *
    * A plain `repartition(col("_bucket"))` hashes the b distinct bucket
    * values into `spark.sql.shuffle.partitions` slots — birthday collisions
    * leave ~1/e of the write tasks empty and hand stragglers 2-3 buckets
    * (guide §2.5: synthetic partition keys with too few distinct values;
    * measured 20/32 occupied partitions at b=32). Mapping each bucket
    * through its murmur3 preimage makes bucket→partition the identity: full
    * write parallelism at every b, still deterministic under task retry. */
  private[graft] def repartitionByBucket(df: DataFrame, b: Int): DataFrame =
    df.repartition(b, element_at(lit(bucketPreimages(b)), col("_bucket") + 1))

  private def g(m: Map[String, Any], k: String): Long = m.get(k) match {
    case Some(null)    => 0L
    case Some(l: Long) => l
    case Some(i: Int)  => i.toLong
    case _             => 0L
  }

  /** Per-bucket row-count observation columns: ride the write job itself
    * (task-side stats), so commit needs NO parquet footer reads — the
    * driver-side serial section per batch shrinks to listing + two small
    * JSON writes. Bucket count is bounded (≤ numBuckets ≤ a few hundred),
    * so the extra aggregate width is trivial. */
  private def bucketCountCols(b: Int): Seq[Column] =
    (0 until b).map(k =>
      sum(when(col("_bucket") === k, 1L).otherwise(0L)).as(s"__bkt$k"))

  private def bucketCounts(row: Map[String, Any], b: Int): Map[Int, Long] =
    (0 until b).map(k => k -> g(row, s"__bkt$k")).toMap

  /** Auto-salt memo: per table dir, the last batch's observed duplication
    * ratio (events / approx distinct keys). A stream's key profile is
    * sticky, so the PREVIOUS batch's observation decides the NEXT batch's
    * plan — zero extra jobs on the hot path. Note the broadcast dedup shape
    * already bounds hot keys structurally (hash-agg partial aggregation
    * collapses a flooded key to ≤1 slim row per input partition before any
    * shuffle); salting is the second-stage defense the north_star calls
    * for, engaged when duplication says it can pay. */
  private val dupRatio = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private[graft] def lastDupRatio(tableDir: String): Option[Double] =
    Option(dupRatio.get(tableDir))
  private[graft] def saltAutoEngaged(tableDir: String): Boolean =
    lastDupRatio(tableDir).exists(_ >= 8.0)

  private def recordDupRatio(tableDir: String, srcRow: Map[String, Any]): Unit = {
    val events = g(srcRow, "events"); val keys = g(srcRow, "keys")
    if (keys > 0) dupRatio.put(tableDir, events.toDouble / keys)
  }

  /** Slim (key, max-LSN) winners of a batch: a fixed-width
    * `groupBy(key).agg(max(lsn))` (whole-stage-codegen HashAggregate with
    * map-side partial aggregation — a hot key collapses to ≤1 slim row per
    * input partition). `saltBuckets` > 1 adds an explicit two-stage
    * reduction for pathological single-key floods. This deliberately
    * avoids `max_by(struct(...))`, whose variable-width aggregation buffer
    * forces SortAggregate (two extra sorts of full payloads). A semi join
    * back on (key, lsn) then picks exactly the winners because LSNs are
    * unique within a batch (the WAL contract). */
  private def maxLsnOf(batch: DataFrame, key: String, saltBuckets: Int): DataFrame =
    if (saltBuckets > 1)
      batch
        .groupBy(col(key), pmod(xxhash64(col("lsn")), lit(saltBuckets)).as("__salt"))
        .agg(max(col("lsn")).as("lsn"))
        .groupBy(col(key)).agg(max(col("lsn")).as("lsn"))
    else
      batch.groupBy(col(key)).agg(max(col("lsn")).as("lsn"))

  /** Width of the MOR winner hash: `None` is the full 64-bit xxhash64. */
  @volatile private var winnerHashBits: Option[Int] = None

  /** Test hook: run `body` with the MOR winner hash narrowed to `bits`
    * bits, so specs can force real collisions and prove the documented
    * feed contract (reads/compaction reconcile; LWW feed consumers
    * converge). */
  private[graft] def withWinnerHashBits[T](bits: Int)(body: => T): T = {
    require(bits >= 1 && bits <= 62, s"winner hash bits must be in 1..62, got $bits")
    winnerHashBits = Some(bits)
    try body finally winnerHashBits = None
  }

  /** Apply `batch` (schema: lsn long, op string, <key>, value columns of the
    * table's current schema) to `table`. Returns stats; a batchId already in
    * the snapshot log is skipped (exactly-once). */
  def apply(
      spark: SparkSession,
      table: LakeTable,
      batch: DataFrame,
      batchId: Long,
      stepId: String = "merge-apply",
      saltBuckets: Int = 0,
      mode: MergeMode = MergeOnRead,
      // DAG lineage carried into the committed snapshot (incremental steps
      // record the upstream snapshot they consumed + their input checksum)
      inputSnapshots: Map[String, Long] = Map.empty,
      inputChecksum: Option[String] = None
  ): MergeStats = {
    val meta = table.metadata
    // exactly-once: idempotent-writer ledger keyed on (stepId, batchId) —
    // streaming batchIds restart at 0 after a checkpoint reset and two
    // streams share a table, so batchId alone is not a safe dedup key
    if (meta.isCommitted(stepId, batchId))
      return MergeStats(batchId, meta.currentSnapshotId.getOrElse(-1L),
        skipped = true, 0, 0, 0, 0)

    val key = meta.bucketColumn
    val cur = meta.currentSchema
    val valueCols: Seq[String] = cur.fields.map(_.name)
      .filterNot(n => n == key || n == "_lsn" || n == "_deleted")
    val b = meta.numBuckets

    val obsSrc = Observation(s"src-$batchId")
    val observedBatch = batch.observe(
      obsSrc,
      min(col("lsn")).as("lsnMin"),
      max(col("lsn")).as("lsnMax"),
      count(lit(1)).as("events"),
      // duplication ratio feeds the auto-salt memo for the NEXT batch
      approx_count_distinct(col(key)).as("keys"))
    // auto-salt: saltBuckets == 0 consults the previous batch's duplication
    // memo; an explicit value (>1 salted, 1 off) is always honored
    val effectiveSalt =
      if (saltBuckets == 0 && saltAutoEngaged(table.dir)) 16 else saltBuckets

    mode match {
      case MergeOnRead =>
        // ---- append-only delta commit: cost ∝ batch size ------------------
        // LWW dedup = slim max-LSN aggregate + a broadcast semi join on ONE
        // xxhash64(key, lsn) column: only WINNING payloads shuffle (to the
        // bucket write), and the driver-built broadcast is 8 B/key instead
        // of the full url string — the broadcast build was the measured
        // Amdahl fraction of the compute path at 32 cores. Round-5 A/Bs at
        // 2M events/local[32]: hashed 279.1k/287.0k vs an exact (key, lsn)
        // broadcast join 275.0k/258.5k ev/s; the broadcast shape beat a
        // map-side reduce-by-key, which shuffles every survivor's payload,
        // 216k vs 121k ev/s on 20-events/url batches.
        //
        // A hash collision (p ≈ keys·rows/2^64 per batch) admits a
        // lower-LSN EXTRA row into the delta. MOR table READS and
        // compaction reconcile by max-LSN per key, so the collided row
        // always loses there; `changesBetween` emits raw delta rows, so a
        // feed consumer can see a key twice within one commit's slice at
        // that probability (the documented probabilistic feed contract —
        // see LakeTable.changesBetween). The CoW path writes base files
        // that are read UNRECONCILED — it keeps the exact (key, lsn) join.
        val snapId = meta.currentSnapshotId.getOrElse(0L) + 1
        val snapDirRel = s"data/snap-$snapId"
        val obsM = Observation(s"mor-$batchId")
        def wh: Column = {
          val h = xxhash64(col(key), col("lsn"))
          winnerHashBits.fold(h)(bits => pmod(h, lit(1L << bits)))
        }
        val maxH = maxLsnOf(observedBatch, key, effectiveSalt)
          .select(wh.as("__wh"))
        observedBatch
          .withColumn("__wh", wh)
          .join(broadcast(maxH), Seq("__wh"), "left_semi")
          .select(
            (col(key) +: valueCols.map(col)) ++ Seq(
              col("lsn").as("_lsn"),
              (col("op") === "D").as("_deleted"),
              pmod(xxhash64(col(key)), lit(b)).cast("int").as("_bucket")): _*)
          // bucket-aligned repartition bounds file count to numBuckets per
          // batch (without it each task writes every bucket dir:
          // tasks×buckets small files, which kills subsequent reads)
          .transform(repartitionByBucket(_, b))
          .observe(obsM,
            sum(when(col("_deleted"), 1).otherwise(0)).as("dels"),
            (count(lit(1)).as("rows") +: bucketCountCols(b)): _*)
          // key-sorted deltas cluster each url's rows for read locality and
          // compression (r6: skipping the sort did not win)
          .sortWithinPartitions(col(key))
          .write.mode("overwrite").option("compression", MergeApply.lakeCodec)
          .partitionBy("_bucket") // clobber crash debris (self-healing)
          .parquet(table.absolute(snapDirRel))

        val srcRow = obsSrc.get; val mRow = obsM.get
        val newFiles = table.listDataFiles(snapDirRel, cur.schemaVersion,
          spark, kind = "delta", rowsByBucket = bucketCounts(mRow, b))
        recordDupRatio(table.dir, srcRow)
        val carried = meta.currentSnapshot.map(table.filesOf).getOrElse(Nil)
        val snap = Snapshot(
          snapshotId = snapId, parentId = meta.currentSnapshotId,
          stepId = stepId, batchId = batchId,
          lsnMin = g(srcRow, "lsnMin"), lsnMax = g(srcRow, "lsnMax"),
          rowsInserted = g(mRow, "rows") - g(mRow, "dels"),
          rowsUpdated = 0L, rowsDeleted = g(mRow, "dels"),
          schemaVersion = cur.schemaVersion,
          files = carried ++ newFiles,
          inputSnapshots = inputSnapshots,
          inputChecksum = inputChecksum)
        table.commit(meta.copy(version = meta.version + 1,
          currentSnapshotId = Some(snapId),
          snapshots = meta.snapshots :+ snap,
          lastBatch = meta.lastBatch + (stepId -> batchId)))
        MergeStats(batchId, snapId, skipped = false,
          snap.rowsInserted, 0, snap.rowsDeleted, 0)

      case CopyOnWrite =>
        // ---- join + rewrite touched buckets -------------------------------
        // exact LWW dedup (base files are read unreconciled, so no hash
        // shortcut): slim max-LSN side broadcast — micro-batches are
        // bounded, so it is bounded by batch key-cardinality × ~60B and the
        // payload side never shuffles (measured: shuffled semi joins
        // anti-scale under local-mode shuffle contention) — then a semi join
        // back on (key, lsn) fetches the winning payloads, __s_-prefixed
        // for the full-outer join against current state
        val source = observedBatch
          .join(broadcast(maxLsnOf(observedBatch, key, effectiveSalt)),
            Seq(key, "lsn"), "left_semi")
          .select(
            (col(key) +: col("lsn").as("__s_lsn") +: col("op").as("__s_op") +:
              valueCols.map(c => col(c).as(s"__s_$c"))): _*)
        // touched buckets from the RAW batch's key column (same key set as
        // the deduped source): a narrow column-pruned scan + partial-agg'd
        // distinct of ≤numBuckets values — NOT the dedup agg+join plan,
        // which would run the whole dedup twice just to learn the buckets
        val touched: Set[Int] = batch
          .select(pmod(xxhash64(col(key)), lit(b)).cast("int").as("bkt"))
          .distinct().collect().map(_.getInt(0)).toSet

        val target = table.read(spark, Some(touched), includeTombstones = true)
        // full-outer by key: SHUFFLED HASH, not sort-merge (guide §3.1) —
        // sort-merge sorts FULL PAYLOAD rows on both sides before merging,
        // two payload sorts the hash join skips entirely. The build side is
        // the deduped batch (bounded: ≤ batch keys), so the per-partition
        // hash table stays small at any table size; the output is re-sorted
        // by key only at the bucket write below.
        val joined = target.join(source.hint("shuffle_hash"), Seq(key), "full_outer")

        val targetLive = col("_lsn").isNotNull && !coalesce(col("_deleted"), lit(false))
        val srcWins = col("__s_lsn").isNotNull &&
          (col("_lsn").isNull || col("__s_lsn") > col("_lsn"))
        val action = when(!srcWins,
            when(col("__s_lsn").isNotNull, lit("late")).otherwise(lit("keep")))
          .when(col("__s_op") === "D",
            when(targetLive, lit("delete")).otherwise(lit("tombstone")))
          .when(targetLive, lit("update"))
          .otherwise(lit("insert")) // incl. resurrect over a tombstone

        val obsMerge = Observation(s"merge-$batchId")
        val classified = joined
          .withColumn("_action", action)
          .observe(obsMerge,
            sum(when(col("_action") === "insert", 1).otherwise(0)).as("inserted"),
            sum(when(col("_action") === "update", 1).otherwise(0)).as("updated"),
            sum(when(col("_action") === "delete", 1).otherwise(0)).as("deleted"),
            sum(when(col("_action") === "late", 1).otherwise(0)).as("late"))

        val fromSource = col("_action").isin("insert", "update", "delete", "tombstone")
        val outCols = Seq(col(key)) ++
          valueCols.map(c =>
            when(fromSource, col(s"__s_$c")).otherwise(col(c)).as(c)) ++
          Seq(
            when(fromSource, col("__s_lsn")).otherwise(col("_lsn")).as("_lsn"),
            when(fromSource, col("__s_op") === "D")
              .otherwise(coalesce(col("_deleted"), lit(false))).as("_deleted"),
            pmod(xxhash64(col(key)), lit(b)).cast("int").as("_bucket"))

        val snapId = meta.currentSnapshotId.getOrElse(0L) + 1
        val snapDirRel = s"data/snap-$snapId"
        val obsRows = Observation(s"cow-rows-$batchId")
        classified
          .select((outCols :+ col("_action")): _*)
          .drop("_action")
          .observe(obsRows, bucketCountCols(b).head, bucketCountCols(b).tail: _*)
          .transform(repartitionByBucket(_, b))
          .sortWithinPartitions(col(key))
          .write.mode("overwrite").option("compression", MergeApply.lakeCodec)
          .partitionBy("_bucket") // clobber crash debris (self-healing)
          .parquet(table.absolute(snapDirRel))

        val srcRow = obsSrc.get; val mergeRow = obsMerge.get
        val newFiles = table.listDataFiles(snapDirRel, cur.schemaVersion, spark,
          rowsByBucket = bucketCounts(obsRows.get, b))
        recordDupRatio(table.dir, srcRow)
        val carried = meta.currentSnapshot
          .map(s => table.filesOf(s).filterNot(f => touched.contains(f.bucket)))
          .getOrElse(Nil)
        val snap = Snapshot(
          snapshotId = snapId, parentId = meta.currentSnapshotId,
          stepId = stepId, batchId = batchId,
          lsnMin = g(srcRow, "lsnMin"), lsnMax = g(srcRow, "lsnMax"),
          rowsInserted = g(mergeRow, "inserted"),
          rowsUpdated = g(mergeRow, "updated"),
          rowsDeleted = g(mergeRow, "deleted"),
          schemaVersion = cur.schemaVersion,
          files = carried ++ newFiles,
          inputSnapshots = inputSnapshots,
          inputChecksum = inputChecksum)
        table.commit(meta.copy(version = meta.version + 1,
          currentSnapshotId = Some(snapId),
          snapshots = meta.snapshots :+ snap,
          lastBatch = meta.lastBatch + (stepId -> batchId)))
        MergeStats(batchId, snapId, skipped = false,
          snap.rowsInserted, snap.rowsUpdated, snap.rowsDeleted,
          g(mergeRow, "late"))
    }
  }

  /** Fold all delta files into base files: one LWW reconciliation + rewrite
    * of buckets that have deltas. Run periodically (every K batches) so read
    * amplification stays bounded; batchId = -snapshotId marks compactions in
    * the lineage (they apply no new events).
    *
    * Tombstones are RETAINED in base by default (reads filter them): purging
    * is only safe once no event below the tombstone's LSN can still arrive —
    * pass `purgeTombstones = true` when the source guarantees LSN-contiguous
    * delivery up to the low watermark (a binlog tail does). */
  def compact(spark: SparkSession, table: LakeTable,
      stepId: String = "compaction",
      purgeTombstones: Boolean = false): Option[Long] = {
    val meta = table.metadata
    val snap = meta.currentSnapshot.getOrElse(return None)
    val snapFiles = table.filesOf(snap)
    val deltaBuckets = snapFiles.filter(_.kind == "delta").map(_.bucket).toSet
    if (deltaBuckets.isEmpty) return None
    val key = meta.bucketColumn
    val b = meta.numBuckets

    // reconciled state of delta-bearing buckets
    val state = table
      .read(spark, Some(deltaBuckets), includeTombstones = !purgeTombstones)
      .withColumn("_bucket", pmod(xxhash64(col(key)), lit(b)).cast("int"))

    val snapId = snap.snapshotId + 1
    val snapDirRel = s"data/snap-$snapId"
    val obsRows = Observation(s"compact-$snapId")
    state
      .observe(obsRows, bucketCountCols(b).head, bucketCountCols(b).tail: _*)
      .transform(repartitionByBucket(_, b))
      .sortWithinPartitions(col(key))
      .write.mode("overwrite").option("compression", MergeApply.lakeCodec)
          .partitionBy("_bucket") // clobber crash debris (self-healing)
      .parquet(table.absolute(snapDirRel))

    val newFiles = table.listDataFiles(snapDirRel, meta.currentSchemaVersion, spark,
      rowsByBucket = bucketCounts(obsRows.get, b))
    val carried = snapFiles
      .filterNot(f => deltaBuckets.contains(f.bucket))
    val s = Snapshot(
      snapshotId = snapId, parentId = Some(snap.snapshotId),
      stepId = stepId, batchId = -snapId,
      lsnMin = -1L, lsnMax = -1L,
      rowsInserted = 0, rowsUpdated = 0, rowsDeleted = 0,
      schemaVersion = meta.currentSchemaVersion,
      files = carried ++ newFiles)
    table.commit(meta.copy(version = meta.version + 1,
      currentSnapshotId = Some(snapId),
      snapshots = meta.snapshots :+ s))
    Some(snapId)
  }
}
