package graft.cdc

import graft.lake._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
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
  *  - exact last-writer-wins dedup in both modes, never a window. MOR: the
  *    delta write sorts each bucket partition by (key, lsn desc) and keeps
  *    the first row per key (`LakeTable.write`) — the batch is scanned once
  *    and shuffled once, losing rows included, in 2 jobs. CoW: a slim
  *    `groupBy(key).agg(max(lsn))` (map-side partial aggregation: a hot url
  *    collapses to ≤1 row per input partition before the shuffle) collected
  *    once, then a broadcast semi join back on (key, lsn).
  *  - skew: the in-partition dedup sends every row of a key to one task,
  *    so a flooded key is one long task. The previous batch's duplication
  *    ratio (≥ 8) switches MOR to the CoW shape — a two-stage salted max
  *    and the broadcast semi join drop the losers before any payload
  *    shuffles (the flood A/B is in CHANGES.md) — and salts CoW's max.
  *  - copy-on-write touches only buckets present in the batch (manifest
  *    file pruning); untouched files carry forward without IO.
  *  - stats ride the write via `Observation` — no second pass.
  *
  * This object decides WHAT to write (dedup, LWW classification, which
  * files carry forward); `LakeTable.write` and `LakeTable.commitSnapshot`
  * own how the files are laid out and how the snapshot is committed.
  */
object MergeApply {

  sealed trait MergeMode
  case object CopyOnWrite extends MergeMode
  case object MergeOnRead extends MergeMode

  final case class MergeStats(
      batchId: Long,
      snapshotId: Long,
      skipped: Boolean,
      inserted: Long,
      updated: Long,
      deleted: Long,
      keptLate: Long
  )

  private def g(m: Map[String, Any], k: String): Long = m.get(k) match {
    case Some(null)    => 0L
    case Some(l: Long) => l
    case Some(i: Int)  => i.toLong
    case _             => 0L
  }

  /** Auto-salt memo: per table dir, the last batch's observed duplication
    * ratio (events / approx distinct keys). A stream's key profile is
    * sticky, so the PREVIOUS batch's observation decides the NEXT batch's
    * plan — zero extra jobs on the hot path. At ≥ 8 events per key most
    * payloads are losers: MOR then drops them before the write's shuffle
    * instead of inside its partitions, and both modes salt the max-LSN
    * aggregate against a single flooded key. */
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
    * input partition). `salted` adds a two-stage reduction over 16 salt
    * buckets for pathological single-key floods. This deliberately
    * avoids `max_by(struct(...))`, whose variable-width aggregation buffer
    * forces SortAggregate (two extra sorts of full payloads). A semi join
    * back on (key, lsn) then picks exactly the winners because LSNs are
    * unique within a batch (the WAL contract). */
  private def maxLsnOf(batch: DataFrame, key: String, salted: Boolean): DataFrame =
    if (salted)
      batch
        .groupBy(col(key), pmod(xxhash64(col("lsn")), lit(16)).as("__salt"))
        .agg(max(col("lsn")).as("lsn"))
        .groupBy(col(key)).agg(max(col("lsn")).as("lsn"))
    else
      batch.groupBy(col(key)).agg(max(col("lsn")).as("lsn"))

  /** Apply `batch` (schema: lsn long, op string, <key>, value columns of the
    * table's current schema) to `table`. Returns stats; a batchId already in
    * the snapshot log is skipped (exactly-once). `current` is the table's
    * metadata when the caller has just read it (the DAG's plan does). */
  def apply(
      spark: SparkSession,
      table: LakeTable,
      batch: DataFrame,
      batchId: Long,
      stepId: String = "merge-apply",
      mode: MergeMode = MergeOnRead,
      // DAG lineage carried into the committed snapshot (incremental steps
      // record the upstream snapshot they consumed + their input checksum)
      inputSnapshots: Map[String, Long] = Map.empty,
      inputChecksum: Option[String] = None,
      current: Option[TableMetadata] = None
  ): MergeStats = {
    val meta = current.getOrElse(table.metadata)
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

    val obsSrc = Observation(s"src-$batchId")
    val observedBatch = batch.observe(
      obsSrc,
      min(col("lsn")).as("lsnMin"),
      max(col("lsn")).as("lsnMax"),
      count(lit(1)).as("events"),
      // duplication ratio feeds the auto-salt memo for the NEXT batch
      approx_count_distinct(col(key)).as("keys"))
    // auto-salt: the previous batch's duplication memo picks this batch's plan
    val salted = saltAutoEngaged(table.dir)

    mode match {
      case MergeOnRead =>
        // ---- append-only delta commit: cost ∝ batch size ------------------
        // the batch goes to the delta write, whose bucket partitions keep
        // the max-LSN row per key: one scan, one shuffle, no broadcast. A
        // flooded key lands on one task there, so under the salt memo the
        // losers are dropped first by the exact (key, lsn) broadcast semi
        // join (flood A/B in CHANGES.md)
        val rows =
          if (salted) observedBatch.join(broadcast(maxLsnOf(observedBatch, key, salted)),
            Seq(key, "lsn"), "left_semi")
          else observedBatch
        val written = table.write(spark, meta, rows.select(
            (col(key) +: valueCols.map(col)) ++ Seq(
              col("lsn").as("_lsn"),
              (col("op") === "D").as("_deleted")): _*),
          kind = "delta")
        val srcRow = obsSrc.get
        recordDupRatio(table.dir, srcRow)
        val snap = table.commitSnapshot(meta, stepId, batchId,
          meta.currentSnapshot.map(table.filesOf).getOrElse(Nil) ++ written.files,
          ledger = true, lsnMin = g(srcRow, "lsnMin"), lsnMax = g(srcRow, "lsnMax"),
          inserted = written.rows - written.tombstones, deleted = written.tombstones,
          inputSnapshots = inputSnapshots, inputChecksum = inputChecksum)
        MergeStats(batchId, snap.snapshotId, skipped = false,
          snap.rowsInserted, 0, snap.rowsDeleted, 0)

      case CopyOnWrite =>
        // ---- join + rewrite touched buckets -------------------------------
        // exact LWW dedup: the slim (key, max-LSN, bucket) winners are
        // collected once — bounded by batch key-cardinality × ~60 B — and
        // give both the touched buckets and the broadcast side of a semi
        // join back on (key, lsn) that fetches the winning payloads,
        // __s_-prefixed for the full-outer join against current state. The
        // payload side never shuffles before that join (measured: shuffled
        // semi joins anti-scale under local-mode shuffle contention).
        val slim = maxLsnOf(observedBatch, key, salted)
          .withColumn("__bkt", LakeTable.bucketOf(col(key), meta.numBuckets))
        val winners = slim.collect()
        val touched: Set[Int] = winners.map(_.getInt(2)).toSet
        val source = batch
          .join(broadcast(spark.createDataFrame(java.util.Arrays.asList(winners: _*),
            slim.schema).select(key, "lsn")), Seq(key, "lsn"), "left_semi")
          .select(
            (col(key) +: col("lsn").as("__s_lsn") +: col("op").as("__s_op") +:
              valueCols.map(c => col(c).as(s"__s_$c"))): _*)

        val target = table.read(spark, Some(touched), includeTombstones = true)
        // full-outer by key: SHUFFLED HASH, not sort-merge (guide §3.1) —
        // sort-merge sorts FULL PAYLOAD rows on both sides before merging,
        // two payload sorts the hash join skips entirely. The build side is
        // the deduped batch (bounded: ≤ batch keys), so the per-partition
        // hash table stays small at any table size; the output is re-sorted
        // by key only at the bucket write.
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
              .otherwise(coalesce(col("_deleted"), lit(false))).as("_deleted"))

        val written = table.write(spark, meta, classified.select(outCols: _*), kind = "base")
        val srcRow = obsSrc.get; val mergeRow = obsMerge.get
        recordDupRatio(table.dir, srcRow)
        val carried = meta.currentSnapshot
          .map(s => table.filesOf(s).filterNot(f => touched.contains(f.bucket)))
          .getOrElse(Nil)
        val snap = table.commitSnapshot(meta, stepId, batchId, carried ++ written.files,
          ledger = true, lsnMin = g(srcRow, "lsnMin"), lsnMax = g(srcRow, "lsnMax"),
          inserted = g(mergeRow, "inserted"), updated = g(mergeRow, "updated"),
          deleted = g(mergeRow, "deleted"),
          inputSnapshots = inputSnapshots, inputChecksum = inputChecksum)
        MergeStats(batchId, snap.snapshotId, skipped = false,
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
    // reconciled state of delta-bearing buckets, rewritten as base files
    val written = table.write(spark, meta,
      table.read(spark, Some(deltaBuckets), includeTombstones = !purgeTombstones),
      kind = "base")
    val snapId = table.nextSnapshotId(meta)
    table.commitSnapshot(meta, stepId, batchId = -snapId,
      snapFiles.filterNot(f => deltaBuckets.contains(f.bucket)) ++ written.files)
    Some(snapId)
  }
}
