package graft.lake

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Minimal Iceberg-style lake table format (SURVEY.md §7.1 module `lake`).
  *
  * No Iceberg/Delta jar exists in this offline environment, so the table
  * layer is built from scratch on public Spark + Hadoop FS APIs:
  *
  * {{{
  * <dir>/metadata/version-hint.text      -- current metadata version (atomic rename)
  * <dir>/metadata/v<N>.metadata.json     -- schemas (field-IDs), partition spec,
  *                                          snapshot log with lineage manifests
  * <dir>/data/snap-<id>/_bucket=<k>/part-....parquet  -- one key-sorted zstd
  *                                          file per non-empty bucket
  * }}}
  *
  * This class is the only code that knows that layout: every data file is
  * written by `write` and every snapshot is built by `commitSnapshot` and
  * committed by the overridable `commit` — merge-on-read deltas,
  * copy-on-write rewrites, compactions, DAG step outputs and INSTANT
  * re-stamps alike. Callers decide what rows to write and which files
  * carry forward. On a last-writer-wins table, base and delta files and
  * how they fold stay private here: every write (delta, copy-on-write,
  * `compact`) keeps the max-LWW row per key inside the bucket write, and
  * `read` reconciles with one max-LWW aggregate.
  *
  * Design notes for 100 TB scale:
  *  - data is hash-bucketed by key (`LakeTable.bucketOf`) — merges prune to
  *    touched buckets only (file-level pruning via the manifest, no scan of
  *    the full table);
  *  - commits are copy-on-write: only files in touched buckets are rewritten,
  *    untouched file entries are carried forward in the new snapshot;
  *  - commit atomicity = write-new-metadata + atomic rename of the
  *    version-hint (single writer per table), the same rename-aside
  *    discipline as the reference's crash-safe dataset writes
  *    (/root/reference/etl/steps/__init__.py:435-459, datasets.py:119-126);
  *  - schema evolution by field-ID: renames/additions never rewrite data;
  *    old Parquet files stay readable through an ID-based remap projection
  *    (Iceberg's add/rename-column semantics re-expressed with select/cast).
  *
  * Lineage: every snapshot records (stepId, batchId, lsn range, per-op row
  * counts, input snapshot ids) — the analogue of the reference's
  * `source_checksum` recorded in each dataset's index.json
  * (/root/reference/etl/steps/__init__.py:501-504) and the basis of
  * exactly-once replay dedup and dirty-step detection.
  */
final case class LakeField(id: Int, name: String, dtype: String, nullable: Boolean = true)

final case class LakeSchema(schemaVersion: Int, fields: Seq[LakeField]) {
  def toStruct: StructType = StructType(fields.map(f =>
    StructField(f.name, DataType.fromDDL(f.dtype), f.nullable)))
  def byId: Map[Int, LakeField] = fields.map(f => f.id -> f).toMap
}

/** `kind` ∈ base|delta: base files hold reconciled state; delta files hold
  * LWW rows (incl. tombstones) appended by merge-on-read commits and folded
  * into base by compaction. */
final case class DataFile(path: String, bucket: Int, rows: Long,
    schemaVersion: Int, kind: String = "base")

/** What one [[LakeTable.write]] produced: its data files (one per non-empty
  * bucket, row counts observed by the write) and how many of their rows are
  * tombstones. */
final case class Written(files: Seq[DataFile], tombstones: Long) {
  def rows: Long = files.map(_.rows).sum
}

/** A committed table version. `files` is populated when the snapshot was
  * built by a writer in this JVM; snapshots parsed back from metadata carry
  * only `manifestPath` (Iceberg-style manifest indirection — the metadata
  * file stays O(retained snapshots), never O(snapshots × files)) and their
  * file list is loaded on demand via `LakeTable.filesOf`. */
final case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    stepId: String,
    batchId: Long,
    lsnMin: Long,
    lsnMax: Long,
    rowsInserted: Long,
    rowsUpdated: Long,
    rowsDeleted: Long,
    schemaVersion: Int,
    files: Seq[DataFile],
    inputSnapshots: Map[String, Long] = Map.empty, // upstream table → snapshotId (lineage)
    manifestPath: Option[String] = None,
    // DAG input-state checksum (the reference's source_checksum,
    // steps/__init__.py:501-504) — a first-class string field, not a
    // truncated numeric shoehorned into inputSnapshots
    inputChecksum: Option[String] = None
)

/** `lwwColumn`/`tombstoneColumn`: when set, the table is a primary-key LWW
  * table (à la a sequence-field + delete-flag table): reads reconcile
  * base+delta rows by max(lwwColumn) per key and filter tombstones. */
final case class TableMetadata(
    version: Int,
    numBuckets: Int,
    bucketColumn: String,
    schemas: Seq[LakeSchema],
    currentSchemaVersion: Int,
    currentSnapshotId: Option[Long],
    snapshots: Seq[Snapshot],
    lwwColumn: Option[String] = None,
    tombstoneColumn: Option[String] = None,
    // Idempotent-writer ledger (Delta's txnAppId+txnVersion pattern): per
    // stepId, the highest committed batchId. Survives snapshot-log
    // truncation, is O(steps) not O(batches), and two streams writing the
    // same table no longer share one id space.
    lastBatch: Map[String, Long] = Map.empty,
    // How many snapshots to retain in the log (the time-travel window).
    // Older snapshots are truncated at commit so the metadata file and its
    // re-serialization cost stay bounded at 10^5+ micro-batches.
    retainSnapshots: Int = 100
) {
  def currentSchema: LakeSchema =
    schemas.find(_.schemaVersion == currentSchemaVersion).get
  def currentSnapshot: Option[Snapshot] =
    currentSnapshotId.flatMap(id => snapshots.find(_.snapshotId == id))
  def schemaAt(v: Int): LakeSchema = schemas.find(_.schemaVersion == v).get
  /** Exactly-once check: has (stepId, batchId) already been applied? */
  def isCommitted(stepId: String, batchId: Long): Boolean =
    lastBatch.get(stepId).exists(batchId <= _)
}

class LakeTable(val dir: String, hadoopConf: Configuration = LakeTable.defaultConf) {
  import LakeTable._

  private val root = new Path(dir)
  /** The table's own file handles, one per table: `file:` runs on the
    * fork-free [[LocalFs]] unless `hadoopConf` names a `file:` file system. */
  private val conf = LocalFs.configure(hadoopConf)
  private val fs: FileSystem = root.getFileSystem(conf)
  private lazy val fc = FileContext.getFileContext(root.toUri, conf)
  private val metaDir = new Path(root, "metadata")
  private val hint = new Path(metaDir, "version-hint.text")

  private val MetaFile = """v(\d+)\.metadata\.json""".r

  /** Highest vN.metadata.json on disk — the read-side recovery path when the
    * version hint is missing (externally deleted, or legacy crash debris). */
  private def maxMetadataVersion: Option[Int] =
    if (!fs.exists(metaDir)) None
    else {
      val vs = fs.listStatus(metaDir).toSeq.flatMap(_.getPath.getName match {
        case MetaFile(v) => Some(v.toInt)
        case _           => None
      })
      if (vs.isEmpty) None else Some(vs.max)
    }

  def exists: Boolean = fs.exists(hint) || maxMetadataVersion.isDefined

  // -------------------------------------------------------------- create

  def create(fields: Seq[LakeField], numBuckets: Int, bucketColumn: String,
      lwwColumn: Option[String] = None,
      tombstoneColumn: Option[String] = None,
      retainSnapshots: Int = 100): Unit = {
    require(!exists, s"table already exists at $dir")
    val meta = TableMetadata(
      version = 1,
      numBuckets = numBuckets,
      bucketColumn = bucketColumn,
      schemas = Seq(LakeSchema(1, fields)),
      currentSchemaVersion = 1,
      currentSnapshotId = None,
      snapshots = Nil,
      lwwColumn = lwwColumn,
      tombstoneColumn = tombstoneColumn,
      retainSnapshots = retainSnapshots)
    fs.mkdirs(metaDir)
    commit(meta)
  }

  // -------------------------------------------------------------- metadata io

  def metadata: TableMetadata = {
    // hint is the committed pointer; if it is missing (externally removed),
    // recover from the highest metadata file on disk — readers never see a
    // transient "table does not exist"
    val v =
      if (fs.exists(hint)) readString(hint).trim.toInt
      else maxMetadataVersion.getOrElse(
        throw new java.io.FileNotFoundException(s"no table metadata at $dir"))
    parseMetadata(readString(new Path(metaDir, s"v$v.metadata.json")))
  }

  /** Atomic commit: write per-snapshot manifest files (immutable, one per
    * snapshot — the metadata json only references them), truncate the
    * snapshot log to the retention window, write v<N+1>.metadata.json, then
    * swap the version hint with one overwrite-rename (FileContext
    * Rename.OVERWRITE). On [[LocalFs]] that is a single `rename(2)` with no
    * delete window, so a crash never leaves the table pointer missing; on
    * other schemes (or an explicitly configured `file:` file system) the
    * swap is as atomic as that scheme's FileContext rename. Self-healing: a
    * metadata file NEWER than the committed hint is crash debris from an
    * interrupted writer (the hint never advanced) and is overwritten — the
    * rename-aside discipline of the
    * reference's partial-output cleanup
    * (/root/reference/etl/steps/__init__.py:435-459).
    * Commits at or below the committed version are rejected (stale/second
    * writer). Single writer per table is the concurrency contract. */
  def commit(meta: TableMetadata): Unit = {
    val next = meta.version
    val committed = if (fs.exists(hint)) readString(hint).trim.toInt else 0
    require(next > committed,
      s"stale commit: version $next is not newer than committed $committed at $dir")
    if (!fs.exists(metaDir)) fs.mkdirs(metaDir)

    // manifest indirection: persist each snapshot's file list once; the
    // metadata file carries only the manifest path + stats per snapshot
    val withManifests = meta.snapshots.map { s =>
      s.manifestPath match {
        case Some(_) => s
        case None =>
          val rel = s"metadata/manifest-${s.snapshotId}.json"
          // written unconditionally: a pre-existing file for a not-yet-committed
          // snapshot is debris from a crashed attempt and must be clobbered,
          // same discipline as vN.metadata.json below
          writeString(new Path(root, rel), renderManifest(s.files))
          s.copy(manifestPath = Some(rel))
      }
    }
    // retention truncation: keep the newest `retainSnapshots` (time-travel
    // window); drop older ones and their manifests. Data files are NOT
    // deleted here — newer snapshots may carry them forward (vacuum is a
    // separate concern).
    val (kept, expired) =
      if (withManifests.size <= meta.retainSnapshots) (withManifests, Nil)
      else withManifests.splitAt(withManifests.size - meta.retainSnapshots).swap

    val mPath = new Path(metaDir, s"v$next.metadata.json")
    writeString(mPath, renderMetadata(meta.copy(snapshots = kept))) // clobbers uncommitted debris
    val tmp = new Path(metaDir, s".version-hint.$next.tmp")
    writeString(tmp, next.toString)
    overwriteRename(tmp, hint)
    // expired manifests are deleted only after the hint swap: until then the
    // previously-committed metadata still references them, and a crash in the
    // window would otherwise break time-travel reads and vacuum()
    expired.foreach(_.manifestPath.foreach(m => fs.delete(new Path(root, m), false)))
  }

  /** Overwrite-rename through FileContext: atomic on [[LocalFs]] (see
    * [[commit]]), together with the checksum file. */
  private def overwriteRename(src: Path, dst: Path): Unit =
    fc.rename(src, dst, Options.Rename.OVERWRITE)

  /** File list of a snapshot: inline when the snapshot was just built by
    * this writer, else loaded from its manifest file. */
  def filesOf(s: Snapshot): Seq[DataFile] =
    if (s.files.nonEmpty || s.manifestPath.isEmpty) s.files
    else parseManifest(readString(new Path(root, s.manifestPath.get)))

  // -------------------------------------------------------------- schema evolution

  /** Add a column (new field-ID, new schema version). Data files are not
    * touched; old files read the new column as NULL. */
  def addColumn(name: String, dtype: String): Unit = {
    val m = metadata
    val cur = m.currentSchema
    require(!cur.fields.exists(_.name == name), s"column exists: $name")
    val nextId = (m.schemas.flatMap(_.fields.map(_.id)) :+ 0).max + 1
    val ns = LakeSchema(cur.schemaVersion + 1, cur.fields :+ LakeField(nextId, name, dtype))
    commit(m.copy(
      version = m.version + 1,
      schemas = m.schemas :+ ns,
      currentSchemaVersion = ns.schemaVersion))
  }

  /** Drop a column (new schema version without the field). Data files are
    * not touched; the field-ID projection simply stops selecting it — and a
    * later addColumn of the same name gets a FRESH id, so old values never
    * resurrect (Iceberg drop semantics). */
  def dropColumn(name: String): Unit = {
    val m = metadata
    val cur = m.currentSchema
    require(cur.fields.exists(_.name == name), s"no column: $name")
    require(name != m.bucketColumn, s"cannot drop the key column: $name")
    require(!m.lwwColumn.contains(name) && !m.tombstoneColumn.contains(name),
      s"cannot drop an engine column: $name")
    val ns = LakeSchema(cur.schemaVersion + 1, cur.fields.filterNot(_.name == name))
    commit(m.copy(
      version = m.version + 1,
      schemas = m.schemas :+ ns,
      currentSchemaVersion = ns.schemaVersion))
  }

  /** Rename a column in place (same field-ID, new schema version). Old data
    * files keep the old physical name; the read remap projects by ID. */
  def renameColumn(from: String, to: String): Unit = {
    val m = metadata
    val cur = m.currentSchema
    require(cur.fields.exists(_.name == from), s"no column: $from")
    require(!cur.fields.exists(_.name == to), s"column exists: $to")
    val ns = LakeSchema(
      cur.schemaVersion + 1,
      cur.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    commit(m.copy(
      version = m.version + 1,
      schemas = m.schemas :+ ns,
      currentSchemaVersion = ns.schemaVersion))
  }

  // -------------------------------------------------------------- read path

  /** Read the current snapshot's reconciled state: field-ID projection of
    * every file (rename/add-safe), LWW reconciliation across base+delta rows
    * when the table is a primary-key LWW table, tombstones filtered.
    * `buckets` prunes at the manifest level (the merge fast path).
    *
    * MOR reconciliation is scoped to DELTA KEYS ONLY (never the whole
    * table): base buckets without delta files pass straight through with no
    * join, and within delta-bearing buckets only the rows whose key appears
    * in a delta file enter the max-LSN reconciliation. The reconciled /
    * broadcast working set is therefore bounded by the delta backlog
    * (compaction cadence), NOT table size — a full-table read of a 100 TB
    * table with a small delta backlog does two cheap hash joins per
    * delta bucket, not a 10^9-key aggregate. With no base file in those
    * buckets the base side is an empty local relation, and Catalyst
    * prunes the plan to one semi join of the deltas against their max-LSN
    * aggregate.
    */
  def read(spark: SparkSession, buckets: Option[Set[Int]] = None,
      includeTombstones: Boolean = false,
      asOfSnapshot: Option[Long] = None): DataFrame = {
    val m = metadata
    val snap = asOfSnapshot match {
      case Some(id) => // time travel: any retained snapshot is readable
        Some(m.snapshots.find(_.snapshotId == id).getOrElse(
          throw new IllegalArgumentException(
            s"no snapshot $id at $dir (outside the retention window?)")))
      case None => m.currentSnapshot
    }
    val files = snap.map(filesOf).getOrElse(Nil)
      .filter(f => buckets.forall(_.contains(f.bucket)))
    val reconciled = m.lwwColumn match {
      case Some(lww) if files.exists(_.kind == "delta") =>
        val key = m.bucketColumn
        val deltaBuckets = files.filter(_.kind == "delta").map(_.bucket).toSet
        val (inDeltaBuckets, cleanFiles) =
          files.partition(f => deltaBuckets.contains(f.bucket))
        val (deltaFiles, baseFiles) = inDeltaBuckets.partition(_.kind == "delta")
        val delta = readRaw(spark, m, deltaFiles)
        val base = readRaw(spark, m, baseFiles)
        // latest writer per key wins, computed over delta rows ∪ the base
        // rows of delta keys. Fixed-width max aggregation + semi join back
        // on (key, lww) — HashAggregate + hash joins; payloads never sort
        // or shuffle. (The naive max_by(struct) has a var-width buffer →
        // SortAggregate with two full-payload sorts.) Correct because
        // (key, lww) pairs are unique: LSNs are unique in the WAL and
        // batchId dedup prevents re-applied batches writing duplicates.
        // The delta-key side is slim and bounded; AQE picks broadcast from
        // runtime stats, so no hint.
        val deltaKeys = delta.select(col(key)).distinct()
        val affected = base.join(deltaKeys, Seq(key), "left_semi")
          .unionByName(delta)
        val untouchedBase = base.join(deltaKeys, Seq(key), "left_anti")
        val maxL = affected.groupBy(col(key)).agg(max(col(lww)).as(lww))
        readRaw(spark, m, cleanFiles)
          .unionByName(untouchedBase)
          .unionByName(affected.join(maxL, Seq(key, lww), "left_semi"))
      case _ => readRaw(spark, m, files)
    }
    m.tombstoneColumn match {
      case Some(ts) if !includeTombstones =>
        reconciled.filter(!coalesce(col(ts), lit(false)))
      case _ => reconciled
    }
  }

  /** Incremental change feed — the rows each merge-on-read commit applied,
    * for snapshots in (fromExclusive, toInclusive] (Iceberg's incremental
    * read): the primitive that lets DOWNSTREAM steps recompute
    * incrementally (consume only changed keys) instead of the reference's
    * re-run-the-whole-step model. Each row carries `_op` ('U' upsert / 'D'
    * delete when the table has a tombstone column) and `_snapshot_id`.
    *
    * The feed is exact: it holds one row per (key, commit that changed the
    * key) — the commit's max-LSN event for that key, since a delta write
    * keeps one row per key ([[write]]). A key changed in k commits of the
    * window appears k times, so both a per-key max-LSN reduction and plain
    * aggregation over the feed are sound.
    *
    * Cost is O(changes): only each commit's ADDED delta files are read —
    * never the base table. A snapshot's added files are the ones under its
    * own `data/snap-<id>/` dir (every write lands there; carried files keep
    * the dir of the snapshot that wrote them), so one manifest is read per
    * window snapshot. Compaction snapshots (batchId < 0) rewrite physically
    * but change nothing logically and are skipped; copy-on-write commits
    * rewrite whole buckets (their added files mix changed and carried rows)
    * and are rejected loudly — run the table in MOR mode for change-feed
    * consumers. `m` is the table's metadata when the caller has just read
    * it. */
  def changesBetween(
      spark: SparkSession,
      fromExclusive: Long,
      toInclusive: Long,
      m: TableMetadata = metadata
  ): DataFrame = {
    val window = m.snapshots
      .filter(s => s.snapshotId > fromExclusive && s.snapshotId <= toInclusive)
      .sortBy(_.snapshotId)
    // snapshot ids are consecutive per table, so the window is complete iff
    // every id in (from, to] is still retained — a truncated log must fail
    // loudly, not silently drop a commit's changes
    require(fromExclusive <= toInclusive &&
      window.map(_.snapshotId).toSet == (fromExclusive + 1 to toInclusive).toSet,
      s"change window ($fromExclusive, $toInclusive] exceeds the retained " +
        s"snapshot log (${m.snapshots.map(_.snapshotId).mkString(", ")}) — " +
        "increase retainSnapshots or rebuild the consumer")
    val op = m.tombstoneColumn match {
      case Some(t) => when(coalesce(col(t), lit(false)), lit("D")).otherwise(lit("U"))
      case None    => lit("U")
    }
    // ONE scan of all added delta files across the window (O(1) plan nodes
    // for any window size, not one DataFrame per snapshot unioned):
    // `_snapshot_id` is recovered from the file path — every file added by
    // snapshot s lives under its own `data/snap-<s>/` dir by construction.
    val added: Seq[DataFile] = window.flatMap { s =>
      if (s.batchId < 0) Nil // compaction: physical rewrite, no logical change
      else {
        val files = filesOf(s).filter(_.path.startsWith(s"data/snap-${s.snapshotId}/"))
        require(files.forall(_.kind == "delta"),
          s"snapshot ${s.snapshotId} is a copy-on-write commit — the change " +
            "feed requires merge-on-read commits (added files must be deltas)")
        files
      }
    }
    readRaw(spark, m, added,
      extra = Seq(
        op.as("_op"),
        // Greedy `.*` anchors to the LAST `/data/snap-<n>/` segment — a
        // lake rooted under a scratch dir whose own path contains
        // `/snap-<n>/` must not stamp rows with the outer number.
        regexp_extract(input_file_name(), ".*/data/snap-(\\d+)/", 1)
          .cast("long").as("_snapshot_id")))
  }

  /** Raw rows of the given files projected to the current schema by
    * field-ID — no reconciliation (the compaction/merge input path).
    * `extra` columns are appended INSIDE the scan's stage (so expressions
    * like `input_file_name()` still see the originating file). No files
    * gives an empty local relation of the same schema (every column
    * nullable, as a parquet scan reads it), which Catalyst's empty-relation
    * propagation prunes from the joins and unions above it. */
  def readRaw(spark: SparkSession, m: TableMetadata, files: Seq[DataFile],
      extra: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val cur = m.currentSchema
    def withExtra(df: DataFrame) = if (extra.isEmpty) df else df.select(col("*") +: extra: _*)
    if (files.isEmpty)
      return withExtra(spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(cur.toStruct.fields.map(_.copy(nullable = true)))))
    // group files by the schema version they were written under; each group
    // is one scan with an ID-remap projection, then unionByName
    files.groupBy(_.schemaVersion).map { case (sv, group) =>
      val written = m.schemaAt(sv)
      val writtenById = written.byId
      val df = spark.read
        .schema(written.toStruct)
        .parquet(group.map(f => new Path(root, f.path).toString): _*)
      val projection = cur.fields.map { f =>
        writtenById.get(f.id) match {
          case Some(old) => col(old.name).cast(DataType.fromDDL(f.dtype)).as(f.name)
          case None      => lit(null).cast(DataType.fromDDL(f.dtype)).as(f.name)
        }
      }
      // extras resolve against CURRENT names → second select on top of the
      // ID-remap projection (still the same stage as the scan)
      withExtra(df.select(projection: _*))
    }.reduce(_.unionByName(_))
  }

  // -------------------------------------------------------------- write path

  /** Id of the snapshot the next commit on top of `meta` creates. */
  def nextSnapshotId(meta: TableMetadata): Long = meta.currentSnapshotId.getOrElse(0L) + 1

  /** Write `rows` (current-schema columns) as the `kind` (base|delta) data
    * files of the next snapshot on top of `meta`: bucketed by the key, one
    * zstd parquet file per non-empty bucket under `data/snap-<id>`, rows
    * key-sorted within each file. The sort is by `(_bucket, key)`, so the
    * write's own required ordering (`_bucket`, for `partitionBy`) is its
    * prefix and the plan keeps this one sort; a sort by the key alone was
    * dropped under the planned write's `Sort [_bucket]`. Overwrite mode
    * clobbers debris of a crashed attempt at the same snapshot id, so a
    * retry self-heals.
    *
    * On a last-writer-wins table the write keeps one row per key: each
    * partition is sorted by `(_bucket, key, <lww column> desc)` and keeps the
    * first row of each key ([[KeepFirst]]). A partition holds every row of
    * its buckets, so the row kept is exactly the max-LWW row per key — one
    * scan of `rows`, one shuffle, no broadcast. That is the merge-on-read
    * commit's dedup (a delta's `rows` may hold several rows per key),
    * [[compact]]'s fold of base and delta rows, and a copy-on-write
    * commit's fold of the touched buckets' current rows and the batch's
    * winning events.
    *
    * Per-bucket row counts (and the tombstone count, when the table has a
    * tombstone column) ride the write as one `Observation` placed after the
    * shuffle and the dedup, in the result stage, where each task's update
    * counts once — so the manifest's row counts come from the write itself
    * and listing reads no parquet footer. Nothing is committed: pass the
    * files to [[commitSnapshot]]. */
  def write(spark: SparkSession, meta: TableMetadata, rows: DataFrame,
      kind: String): Written =
    writeBuckets(spark, meta, rows, kind, purgeTombstones = false)

  /** [[write]], dropping the kept rows that are tombstones when
    * `purgeTombstones` is set ([[compact]]'s purge) — after the keep-first,
    * so a tombstone still hides every older row of its key. */
  private def writeBuckets(spark: SparkSession, meta: TableMetadata, rows: DataFrame,
      kind: String, purgeTombstones: Boolean): Written = {
    require(kind == "base" || meta.lwwColumn.isDefined,
      s"delta files need a last-writer-wins table; $dir has no lwwColumn")
    val b = meta.numBuckets
    val key = meta.bucketColumn
    val snapId = nextSnapshotId(meta)
    val snapDirRel = s"data/snap-$snapId"
    val counts = meta.tombstoneColumn.toSeq.map(ts =>
        sum(when(col(ts), 1L).otherwise(0L)).as("tombstones")) ++
      (0 until b).map(k => sum(when(col("_bucket") === k, 1L).otherwise(0L)).as(s"b$k"))
    val obs = Observation(s"write-$snapId")
    val bucketed = repartitionByBucket(rows.withColumn("_bucket", bucketOf(col(key), b)), b)
    val laidOut = meta.lwwColumn match {
      case Some(lww) =>
        val kept = KeepFirst.keepFirstPerGroup(bucketed, Seq("_bucket", key), lww)
        meta.tombstoneColumn.filter(_ => purgeTombstones)
          .fold(kept)(ts => kept.filter(!coalesce(col(ts), lit(false))))
      case None => bucketed.sortWithinPartitions(col("_bucket"), col(key))
    }
    laidOut
      .observe(obs, counts.head, counts.tail: _*)
      .write.mode("overwrite")
      .option("compression", Codec)
      .option("maxRecordsPerFile", 0L) // one file per bucket, whatever the session sets
      // the manifest is the commit record: no `_SUCCESS` marker (+ its .crc)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .options(LocalFs.writerOptions(spark))
      .partitionBy("_bucket")
      .parquet(absolute(snapDirRel))
    val observed = obs.get
    def long(name: String): Long = observed.get(name) match {
      case Some(n: Long) => n
      case _             => 0L // sum over zero rows is null
    }
    Written(listBuckets(snapDirRel, meta.currentSchemaVersion, kind,
      (0 until b).map(k => k -> long(s"b$k")).toMap), long("tombstones"))
  }

  /** Commit the next snapshot on top of `meta` through the overridable
    * [[commit]]: snapshot id, parent, lineage, `version + 1`, the snapshot
    * appended to the log. `files` is the new snapshot's complete file list
    * (carried-forward files plus the ones [[write]] returned). `ledger`
    * records (stepId → batchId) in the exactly-once ledger — set by
    * merge-apply commits; compactions (batchId < 0) and DAG step outputs
    * leave the ledger alone. */
  def commitSnapshot(meta: TableMetadata, stepId: String, batchId: Long,
      files: Seq[DataFile], ledger: Boolean = false,
      lsnMin: Long = -1L, lsnMax: Long = -1L,
      inserted: Long = 0L, updated: Long = 0L, deleted: Long = 0L,
      inputSnapshots: Map[String, Long] = Map.empty,
      inputChecksum: Option[String] = None): Snapshot = {
    val snap = Snapshot(nextSnapshotId(meta), meta.currentSnapshotId, stepId, batchId,
      lsnMin, lsnMax, inserted, updated, deleted, meta.currentSchemaVersion, files,
      inputSnapshots, inputChecksum = inputChecksum)
    commit(meta.copy(version = meta.version + 1,
      currentSnapshotId = Some(snap.snapshotId),
      snapshots = meta.snapshots :+ snap,
      lastBatch = if (ledger) meta.lastBatch + (stepId -> batchId) else meta.lastBatch))
    snap
  }

  /** The files [[write]] left under a snapshot data dir, with the bucket
    * parsed from the `_bucket=<k>` partition dir and the row count the
    * write observed. The per-bucket dirs are listed CONCURRENTLY: every
    * commit waits on the listing, and a sequential walk costs ~250 ms at 32
    * buckets on the local FS (measured). */
  private def listBuckets(snapDirRel: String, schemaVersion: Int, kind: String,
      rowsByBucket: Map[Int, Long]): Seq[DataFile] = {
    val snapDir = new Path(root, snapDirRel)
    if (!fs.exists(snapDir)) return Nil
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val dirs = fs.listStatus(snapDir).toSeq.filter(_.isDirectory).map(_.getPath)
    Await.result(Future.sequence(dirs.map(d => Future {
      val bucket = d.getName.stripPrefix("_bucket=").toInt
      val files = fs.listStatus(d).toSeq.map(_.getPath).filter(_.getName.endsWith(".parquet"))
      require(files.size <= 1,
        s"$snapDirRel bucket $bucket holds ${files.size} files; the writer makes one per bucket")
      files.map(p => DataFile(relativize(p), bucket, rowsByBucket(bucket), schemaVersion, kind))
    })), 120.seconds).flatten
  }

  /** Fold the delta files of the current snapshot into base files and
    * commit that as a compaction snapshot (batchId = -snapshotId: it
    * applies no new events); returns its id, or None when there is no
    * delta. The raw base and delta rows of the buckets that hold deltas go
    * through the same bucket write as a delta commit, whose keep-first
    * leaves the max-LWW row per key — one scan, one shuffle; buckets
    * without deltas carry forward untouched. Run periodically (every K
    * batches) so read amplification stays bounded.
    *
    * Tombstones are RETAINED in base by default (reads filter them):
    * purging is only safe once no event below the tombstone's LSN can still
    * arrive. With `purgeTombstones` the winning tombstones are dropped
    * after the keep-first, so the older rows they hide go with them. */
  def compact(spark: SparkSession, stepId: String = "compaction",
      purgeTombstones: Boolean = false): Option[Long] = {
    val meta = metadata
    val snap = meta.currentSnapshot.getOrElse(return None)
    val files = filesOf(snap)
    val deltaBuckets = files.filter(_.kind == "delta").map(_.bucket).toSet
    if (deltaBuckets.isEmpty) return None
    val (folded, carried) = files.partition(f => deltaBuckets.contains(f.bucket))
    val written = writeBuckets(spark, meta, readRaw(spark, meta, folded), "base",
      purgeTombstones)
    val snapId = nextSnapshotId(meta)
    commitSnapshot(meta, stepId, batchId = -snapId, carried ++ written.files)
    Some(snapId)
  }

  /** Garbage-collect data files and snapshot dirs no longer referenced by
    * any RETAINED snapshot (expired by the retention window or replaced by
    * compaction/CoW rewrites). Never touches files a retained snapshot still
    * carries forward. Returns the number of deleted files. Single-writer
    * discipline applies (run from the writer, not concurrently with it). */
  def vacuum(): Long = {
    val m = metadata
    val live: Set[String] = m.snapshots.flatMap(s => filesOf(s).map(_.path)).toSet
    val dataDir = new Path(root, "data")
    if (!fs.exists(dataDir)) return 0L
    // a listStatus walk: listFiles would build a LocatedFileStatus per file,
    // which reads owner and permission (an `ls -ld` child process per file
    // on a local FS without libhadoop)
    def parquet(st: FileStatus): Seq[Path] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(parquet)
      else Seq(st.getPath).filter(_.getName.endsWith(".parquet"))
    var deleted = 0L
    fs.listStatus(dataDir).foreach { st =>
      val (kept, dead) = parquet(st).partition(p => live.contains(relativize(p)))
      // a snapshot dir left with no live data file goes whole, partition
      // dirs and checksum files included
      if (st.isDirectory && kept.isEmpty) {
        if (fs.delete(st.getPath, true)) deleted += dead.size
      } else dead.foreach(p => if (fs.delete(p, false)) deleted += 1)
    }
    deleted
  }

  def absolute(rel: String): String = new Path(root, rel).toString

  /** Table-relative path for a listed file: scheme-free (FileSystem listings
    * return `file:`-prefixed URIs; a plain string stripPrefix against the
    * scheme-free root would silently keep the whole URI, making manifests
    * absolute and the table non-relocatable). */
  private def relativize(p: Path): String =
    p.toUri.getPath.stripPrefix(root.toUri.getPath).stripPrefix("/")

  // -------------------------------------------------------------- json codec

  private def readString(p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8")
    } finally in.close()
  }

  private def writeString(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8"))
    finally out.close()
  }
}

object LakeTable {
  private val mapper = new ObjectMapper()

  /** The Hadoop conf of a table opened without one, built once per JVM: a
    * fresh `Configuration` parses core-default.xml and core-site.xml, ~10 ms
    * per handle. Shared read-only — [[LocalFs.configure]] copies before it
    * sets anything. */
  private lazy val defaultConf = new Configuration()

  /** Parquet codec of every data file. zstd: the 32-core merge is
    * BANDWIDTH-bound, not CPU-bound (BASELINE.md round-5 scaling §3), so the
    * stronger codec's fewer bytes through the bus/FS beat snappy's cheaper
    * CPU — measured +10% merge-apply throughput in a same-window A/B (zstd
    * 256.7k vs snappy 232.8k ev/s at 2M events, local[32]; lz4 244.0k,
    * uncompressed 248.5k). */
  private val Codec = "zstd"

  /** The bucket of a key: the one definition the writer, the copy-on-write
    * touched-bucket probe and the plan gate share. */
  def bucketOf(key: Column, numBuckets: Int): Column =
    pmod(xxhash64(key), lit(numBuckets)).cast("int")

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

  /** Bucket-aligned repartition of the write: exactly one shuffle partition
    * (→ one write task, one file) per bucket.
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

  private def fileToNode(arr: ArrayNode, f: DataFile): Unit = {
    val fo = arr.addObject()
    fo.put("path", f.path); fo.put("bucket", f.bucket)
    fo.put("rows", f.rows); fo.put("schemaVersion", f.schemaVersion)
    fo.put("kind", f.kind)
  }

  private def nodeToFile(f: JsonNode): DataFile =
    DataFile(f.get("path").asText(), f.get("bucket").asInt(),
      f.get("rows").asLong(), f.get("schemaVersion").asInt(),
      Option(f.get("kind")).map(_.asText()).getOrElse("base"))

  /** Immutable per-snapshot file list (metadata/manifest-<id>.json). */
  def renderManifest(files: Seq[DataFile]): String = {
    val rootN = mapper.createObjectNode()
    val filesN = rootN.putArray("files")
    files.foreach(fileToNode(filesN, _))
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(rootN)
  }

  def parseManifest(json: String): Seq[DataFile] = {
    val n = mapper.readTree(json)
    Option(n.get("files")).map(_.elements().asScala.toSeq).getOrElse(Nil)
      .map(nodeToFile)
  }

  def renderMetadata(m: TableMetadata): String = {
    val rootN = mapper.createObjectNode()
    rootN.put("version", m.version)
    rootN.put("numBuckets", m.numBuckets)
    rootN.put("bucketColumn", m.bucketColumn)
    rootN.put("currentSchemaVersion", m.currentSchemaVersion)
    rootN.put("retainSnapshots", m.retainSnapshots)
    m.currentSnapshotId.foreach(rootN.put("currentSnapshotId", _))
    m.lwwColumn.foreach(rootN.put("lwwColumn", _))
    m.tombstoneColumn.foreach(rootN.put("tombstoneColumn", _))
    val lastN = rootN.putObject("lastBatch")
    m.lastBatch.foreach { case (k, v) => lastN.put(k, v) }
    val schemasN = rootN.putArray("schemas")
    m.schemas.foreach { s =>
      val sn = schemasN.addObject()
      sn.put("schemaVersion", s.schemaVersion)
      val fn = sn.putArray("fields")
      s.fields.foreach { f =>
        val o = fn.addObject()
        o.put("id", f.id); o.put("name", f.name)
        o.put("type", f.dtype); o.put("nullable", f.nullable)
      }
    }
    val snapsN = rootN.putArray("snapshots")
    m.snapshots.foreach { s =>
      val o = snapsN.addObject()
      o.put("snapshotId", s.snapshotId)
      s.parentId.foreach(o.put("parentId", _))
      o.put("stepId", s.stepId); o.put("batchId", s.batchId)
      o.put("lsnMin", s.lsnMin); o.put("lsnMax", s.lsnMax)
      o.put("rowsInserted", s.rowsInserted)
      o.put("rowsUpdated", s.rowsUpdated)
      o.put("rowsDeleted", s.rowsDeleted)
      o.put("schemaVersion", s.schemaVersion)
      // manifest indirection keeps this file O(retained snapshots): the
      // file list lives in the snapshot's manifest, never inline
      s.manifestPath match {
        case Some(p) => o.put("manifest", p)
        case None    => // pre-manifest snapshot (writer-local): inline fallback
          val filesN = o.putArray("files")
          s.files.foreach(fileToNode(filesN, _))
      }
      val inN = o.putObject("inputSnapshots")
      s.inputSnapshots.foreach { case (k, v) => inN.put(k, v) }
      s.inputChecksum.foreach(o.put("inputChecksum", _))
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(rootN)
  }

  def parseMetadata(json: String): TableMetadata = {
    val n = mapper.readTree(json)
    def arr(x: JsonNode, f: String): Seq[JsonNode] =
      Option(x.get(f)).map(_.elements().asScala.toSeq).getOrElse(Nil)
    val schemas = arr(n, "schemas").map { sn =>
      LakeSchema(
        sn.get("schemaVersion").asInt(),
        arr(sn, "fields").map(f =>
          LakeField(f.get("id").asInt(), f.get("name").asText(),
            f.get("type").asText(), f.get("nullable").asBoolean(true))))
    }
    val snaps = arr(n, "snapshots").map { s =>
      Snapshot(
        s.get("snapshotId").asLong(),
        Option(s.get("parentId")).map(_.asLong()),
        s.get("stepId").asText(),
        s.get("batchId").asLong(),
        s.get("lsnMin").asLong(), s.get("lsnMax").asLong(),
        s.get("rowsInserted").asLong(), s.get("rowsUpdated").asLong(),
        s.get("rowsDeleted").asLong(),
        s.get("schemaVersion").asInt(),
        arr(s, "files").map(nodeToFile),
        Option(s.get("inputSnapshots")).map { in =>
          in.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
        }.getOrElse(Map.empty),
        manifestPath = Option(s.get("manifest")).map(_.asText()),
        inputChecksum = Option(s.get("inputChecksum")).map(_.asText())
      )
    }
    TableMetadata(
      n.get("version").asInt(),
      n.get("numBuckets").asInt(),
      n.get("bucketColumn").asText(),
      schemas,
      n.get("currentSchemaVersion").asInt(),
      Option(n.get("currentSnapshotId")).map(_.asLong()),
      snaps,
      Option(n.get("lwwColumn")).map(_.asText()),
      Option(n.get("tombstoneColumn")).map(_.asText()),
      lastBatch = Option(n.get("lastBatch")).map { lb =>
        lb.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
      }.getOrElse(Map.empty),
      retainSnapshots =
        Option(n.get("retainSnapshots")).map(_.asInt()).getOrElse(100))
  }
}
