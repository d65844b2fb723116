package graft.cdc

import graft.lake._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
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
  *    is what 10^10-event ingest needs. Reads reconcile (max LSN per key);
  *    `compact()` folds deltas into base files periodically, through the
  *    same keep-first bucket write (`LakeTable.compact`).
  *  - **CopyOnWrite**: the touched buckets' current rows and the batch's
  *    winning events are rewritten as base files through the same
  *    keep-first bucket write — read-optimized, for low-rate/reference
  *    tables.
  *
  * Scale design (local[32] here, 1000 executors in production):
  *  - exact last-writer-wins dedup, never a window, decided in one place
  *    for every data file: `LakeTable.write` sorts each bucket partition by
  *    (key, lsn desc) and keeps the first row per key. A MOR commit scans
  *    and shuffles the batch once, losing rows included, in 2 jobs. A CoW
  *    commit first collects the batch's slim winners (`winnersOf`: a
  *    fixed-width `groupBy(key).agg(max(lsn), max(when(op = 'D', lsn)))`,
  *    map-side partial aggregation — a hot url collapses to ≤1 row per
  *    input partition before the shuffle), whose broadcast semi join back
  *    on (key, lsn) drops the losing payloads before the write's one
  *    shuffle.
  *  - skew: the in-partition dedup sends every row of a key to one task,
  *    so a flooded key is one long task. When the previous MOR commit wrote
  *    ≤ 1 key per 8 events, the next one first drops the losers through
  *    the same collected winners and broadcast semi join before any
  *    payload shuffles (the flood A/B is in CHANGES.md).
  *  - copy-on-write touches only buckets present in the batch (manifest
  *    file pruning); untouched files carry forward without IO.
  *  - stats ride the write via `Observation` — no second pass.
  *
  * This object decides WHAT to write (which events, the LWW counts, which
  * files carry forward); `LakeTable.write` and `LakeTable.commitSnapshot`
  * own how the files are laid out and how the snapshot is committed.
  */
object MergeApply {

  sealed trait MergeMode
  case object CopyOnWrite extends MergeMode
  case object MergeOnRead extends MergeMode

  /** What a commit applied. Copy-on-write classifies each winning event
    * against the key's current row: `inserted` (new key, or an upsert over
    * a tombstone it beats), `updated`, `deleted` (a live row), and
    * `keptLate` (an event at or below its row's LSN, which loses).
    * Merge-on-read never reads current state: it reports each kept upsert
    * as `inserted` and each kept delete as `deleted`, and `updated` and
    * `keptLate` as 0. */
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

  /** Flood pre-drop memo: per table dir, the last MOR commit's events per
    * written key — exact, since its delta write holds one row per key. A
    * stream's key profile is sticky, so the PREVIOUS commit's ratio picks
    * the NEXT commit's plan, with no extra job. At ≥ 8 events per key most
    * payloads are losers, and the next commit drops them before the write's
    * shuffle instead of inside its partitions. */
  private val eventsPerKey = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private[graft] def floodPreDropRatio(tableDir: String): Option[Double] =
    Option(eventsPerKey.get(tableDir))
  private[graft] def floodPreDrop(tableDir: String): Boolean =
    floodPreDropRatio(tableDir).exists(_ >= 8.0)

  /** The batch's winners, collected once: per key its max LSN, whether that
    * event is a delete (`__del`) and its bucket (`__bkt`), from a
    * fixed-width hash aggregate (map-side partial aggregation collapses a
    * hot key to ≤1 slim row per input partition; `max_by(struct(...))`
    * would force a SortAggregate over full payloads). ~60 B per batch key;
    * also returned as a local relation for the broadcast sides. */
  private def winnersOf(spark: SparkSession, batch: DataFrame, key: String,
      numBuckets: Int): (Array[Row], DataFrame) = {
    val slim = batch.groupBy(col(key))
      .agg(max(col("lsn")).as("lsn"), max(when(col("op") === "D", col("lsn"))).as("__dlsn"))
      .select(col(key), col("lsn"),
        coalesce(col("__dlsn") === col("lsn"), lit(false)).as("__del"),
        LakeTable.bucketOf(col(key), numBuckets).as("__bkt"))
    val rows = slim.collect()
    (rows, spark.createDataFrame(java.util.Arrays.asList(rows: _*), slim.schema))
  }

  /** The events of `batch` that won their key: a broadcast semi join back
    * on (key, lsn), exact because LSNs are unique within a batch (the WAL
    * contract). It runs before any shuffle, so losing payloads never move. */
  private def winningEvents(batch: DataFrame, winners: DataFrame, key: String): DataFrame =
    batch.join(broadcast(winners.select(key, "lsn")), Seq(key, "lsn"), "left_semi")

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
    val valueCols: Seq[String] = meta.currentSchema.fields.map(_.name)
      .filterNot(n => n == key || n == "_lsn" || n == "_deleted")
    // events as table rows: the event's LSN orders the key's versions, a
    // delete is a tombstone
    def asRows(events: DataFrame): DataFrame = events.select(
      (col(key) +: valueCols.map(col)) ++ Seq(
        col("lsn").as("_lsn"),
        (col("op") === "D").as("_deleted")): _*)

    val obsSrc = Observation(s"src-$batchId")
    val observedBatch = batch.observe(
      obsSrc,
      min(col("lsn")).as("lsnMin"),
      max(col("lsn")).as("lsnMax"),
      count(lit(1)).as("events"))

    mode match {
      case MergeOnRead =>
        // ---- append-only delta commit: cost ∝ batch size ------------------
        // the batch goes to the delta write, whose bucket partitions keep
        // the max-LSN row per key: one scan, one shuffle, no broadcast. A
        // flooded key lands on one task there, so under the pre-drop memo
        // the losers are dropped first through the collected winners
        // (flood A/B in CHANGES.md)
        val rows =
          if (floodPreDrop(table.dir))
            winningEvents(batch, winnersOf(spark, observedBatch, key, meta.numBuckets)._2, key)
          else observedBatch
        val written = table.write(spark, meta, asRows(rows), kind = "delta")
        val srcRow = obsSrc.get
        if (written.rows > 0)
          eventsPerKey.put(table.dir, g(srcRow, "events").toDouble / written.rows)
        val snap = table.commitSnapshot(meta, stepId, batchId,
          meta.currentSnapshot.map(table.filesOf).getOrElse(Nil) ++ written.files,
          ledger = true, lsnMin = g(srcRow, "lsnMin"), lsnMax = g(srcRow, "lsnMax"),
          inserted = written.rows - written.tombstones, deleted = written.tombstones,
          inputSnapshots = inputSnapshots, inputChecksum = inputChecksum)
        MergeStats(batchId, snap.snapshotId, skipped = false,
          snap.rowsInserted, 0, snap.rowsDeleted, 0)

      case CopyOnWrite =>
        // ---- rewrite the touched buckets ----------------------------------
        // their current rows and the batch's winning events go as one union
        // through the base write, whose keep-first settles each key: a late
        // event loses to its row, a delete wins as a tombstone, a newer
        // upsert resurrects a key over its tombstone
        val (won, winners) = winnersOf(spark, observedBatch, key, meta.numBuckets)
        val touched: Set[Int] = won.map(_.getInt(3)).toSet
        val upserts = won.count(!_.getBoolean(2))
        // the counts, observed in the write's own job by a broadcast probe
        // of the current rows: a winner above a live row updates or deletes
        // it, one at or below its row is late, and an upsert winner inserts
        // unless it met a row other than a tombstone it beats
        val beats = col("__w_lsn") > col("_lsn")
        val live = !coalesce(col("_deleted"), lit(false))
        val isDelete = col("__del")
        def tally(c: Column) = sum(when(c, 1L))
        val obsMerge = Observation(s"merge-$batchId")
        val currentRows = table.read(spark, Some(touched), includeTombstones = true)
          .join(broadcast(winners.select(col(key), col("lsn").as("__w_lsn"), isDelete)),
            Seq(key), "left_outer")
          .observe(obsMerge,
            tally(live && beats && !isDelete).as("updated"),
            tally(live && beats && isDelete).as("deleted"),
            tally(!beats).as("late"),
            tally(!isDelete && !(beats && !live)).as("met"))
          .drop("__w_lsn", "__del")

        val written = table.write(spark, meta,
          currentRows.unionByName(asRows(winningEvents(batch, winners, key))), kind = "base")
        val srcRow = obsSrc.get; val mergeRow = obsMerge.get
        val carried = meta.currentSnapshot
          .map(s => table.filesOf(s).filterNot(f => touched.contains(f.bucket)))
          .getOrElse(Nil)
        val snap = table.commitSnapshot(meta, stepId, batchId, carried ++ written.files,
          ledger = true, lsnMin = g(srcRow, "lsnMin"), lsnMax = g(srcRow, "lsnMax"),
          inserted = upserts - g(mergeRow, "met"), updated = g(mergeRow, "updated"),
          deleted = g(mergeRow, "deleted"),
          inputSnapshots = inputSnapshots, inputChecksum = inputChecksum)
        MergeStats(batchId, snap.snapshotId, skipped = false,
          snap.rowsInserted, snap.rowsUpdated, snap.rowsDeleted,
          g(mergeRow, "late"))
    }
  }

  /** Fold the delta files into base files ([[LakeTable.compact]]): one
    * keep-first rewrite of the buckets that hold deltas, committed as a
    * compaction snapshot. Returns its id, or None when there was no delta.
    * `purgeTombstones` drops winning tombstones: pass it only when the
    * source guarantees LSN-contiguous delivery up to the low watermark (a
    * binlog tail does), since a later lower-LSN event would otherwise come
    * back to life. */
  def compact(spark: SparkSession, table: LakeTable,
      stepId: String = "compaction",
      purgeTombstones: Boolean = false): Option[Long] =
    table.compact(spark, stepId, purgeTombstones)
}
