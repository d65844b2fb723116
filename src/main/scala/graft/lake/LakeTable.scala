package graft.lake

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * <dir>/data/snap-<id>/_bucket=<k>/part-....parquet
  * }}}
  *
  * Design notes for 100 TB scale:
  *  - data is hash-bucketed by key (`bucket(url) % B`) — merges prune to
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

class LakeTable(val dir: String, hadoopConf: Configuration = new Configuration()) {
  import LakeTable._

  private val root = new Path(dir)
  private def fs: FileSystem = root.getFileSystem(hadoopConf)
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
    writeMetadata(meta)
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
    * swap the version hint with a single overwrite-rename (FileContext
    * Rename.OVERWRITE) — no delete window, so a crash never leaves the
    * table pointer missing. Self-healing: a metadata file NEWER than the
    * committed hint is crash debris from an interrupted writer (the hint
    * never advanced) and is overwritten — the rename-aside discipline of the
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

  /** Single atomic overwrite-rename (no delete-then-rename window). */
  private def overwriteRename(src: Path, dst: Path): Unit = {
    import org.apache.hadoop.fs.{FileContext, Options}
    val fc = FileContext.getFileContext(root.toUri, hadoopConf)
    fc.rename(src, dst, Options.Rename.OVERWRITE)
  }

  private def writeMetadata(meta: TableMetadata): Unit = commit(meta)

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
    * delta bucket, not a 10^9-key aggregate.
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
        if (baseFiles.isEmpty) {
          // delta-only fast path (fresh table / first compaction / pure
          // delta buckets): with no base rows, "base rows of delta keys"
          // is empty by construction, so the delta-key distinct and the
          // semi/anti joins against the (empty) base scan are dead plan
          // weight — reconcile the deltas directly by max-LSN per key.
          // Halves the plan of a fresh-table read (the q_cdc_merge /
          // q_change_feed shape) and trims first compactions.
          val maxL = delta.groupBy(col(key)).agg(max(col(lww)).as(lww))
          readRaw(spark, m, cleanFiles)
            .unionByName(delta.join(maxL, Seq(key, lww), "left_semi"))
        } else {
          val deltaKeys = delta.select(col(key)).distinct()
          val affected = base.join(deltaKeys, Seq(key), "left_semi")
            .unionByName(delta)
          val untouchedBase = base.join(deltaKeys, Seq(key), "left_anti")
          val maxL = affected.groupBy(col(key)).agg(max(col(lww)).as(lww))
          readRaw(spark, m, cleanFiles)
            .unionByName(untouchedBase)
            .unionByName(affected.join(maxL, Seq(key, lww), "left_semi"))
        }
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
    * delete when the table has a tombstone column) and `_snapshot_id`; a
    * key changed in k commits of the window appears k times, LSN-ordered
    * within each commit's slice.
    *
    * PROBABILISTIC FEED CONTRACT: the MOR writer dedups each batch through
    * a semi join on xxhash64(key, lsn) (MergeApply), so an in-batch hash
    * collision (p ≈ keys·rows / 2^64 per batch) can land one EXTRA
    * lower-LSN row for a key inside a single commit's slice. The feed
    * emits raw delta rows and does not reconcile them — consumers that
    * reduce per key by max LSN (the documented events → MergeApply LWW
    * shape) converge identically; a consumer doing plain arithmetic
    * aggregation over the feed would double-count at that probability.
    * CdcSpec proves the contract at a forced-collision worst case.
    *
    * Cost is O(changes): only each commit's ADDED delta files are read —
    * never the base table. Compaction snapshots (batchId < 0) rewrite
    * physically but change nothing logically and are skipped; copy-on-write
    * commits rewrite whole buckets (their added files mix changed and
    * carried rows) and are rejected loudly — run the table in MOR mode for
    * change-feed consumers. */
  def changesBetween(
      spark: SparkSession,
      fromExclusive: Long,
      toInclusive: Long
  ): DataFrame = {
    val m = metadata
    val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
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
        val parentPaths = s.parentId.flatMap(byId.get)
          .map(p => filesOf(p).map(_.path).toSet).getOrElse(Set.empty[String])
        val files = filesOf(s).filterNot(f => parentPaths.contains(f.path))
        require(files.forall(_.kind == "delta"),
          s"snapshot ${s.snapshotId} is a copy-on-write commit — the change " +
            "feed requires merge-on-read commits (added files must be deltas)")
        files
      }
    }
    if (added.isEmpty) {
      val schema = org.apache.spark.sql.types.StructType(
        m.currentSchema.toStruct.fields :+
          org.apache.spark.sql.types.StructField("_op",
            org.apache.spark.sql.types.StringType) :+
          org.apache.spark.sql.types.StructField("_snapshot_id",
            org.apache.spark.sql.types.LongType, nullable = false))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else
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
    * like `input_file_name()` still see the originating file). */
  def readRaw(spark: SparkSession, m: TableMetadata, files: Seq[DataFile],
      extra: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val cur = m.currentSchema
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cur.toStruct)
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
      val projected = df.select(projection: _*)
      if (extra.isEmpty) projected
      else projected.select(col("*") +: extra: _*)
    }.reduce(_.unionByName(_))
  }

  /** Bucket expression for this table's key column. */
  def bucketExpr(keyCol: String): org.apache.spark.sql.Column =
    pmod(xxhash64(col(keyCol)), lit(metadata.numBuckets)).cast("int")

  /** List parquet files under a snapshot data dir, with bucket parsed from
    * the `_bucket=<k>` partition dir. Per-file row counts are the
    * per-partition lineage metric recorded in each snapshot's manifest.
    *
    * `rowsByBucket` carries TASK-SIDE counts observed during the write
    * itself (an `Observation` riding the write job): when a bucket maps to
    * exactly one file — the invariant `repartition(_bucket)` guarantees —
    * its count is used directly and commit does ZERO parquet footer IO,
    * keeping the per-batch driver serial section to a listing plus two
    * small JSON writes. Buckets outside the map (or split across files)
    * fall back to concurrent footer reads. */
  def listDataFiles(snapDirRel: String, schemaVersion: Int, spark: SparkSession,
      kind: String = "base", rowsByBucket: Map[Int, Long] = Map.empty): Seq[DataFile] = {
    val snapDir = new Path(root, snapDirRel)
    if (!fs.exists(snapDir)) return Nil
    // driver-side IO is the per-commit serial section: list the per-bucket
    // partition dirs CONCURRENTLY (a sequential recursive walk costs
    // ~250 ms at 32 buckets on the local FS — measured), and read footers
    // concurrently too when task-side counts are unavailable
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val top = fs.listStatus(snapDir)
    val (dirs, looseFiles) = top.toSeq.partition(_.isDirectory)
    val listed: Seq[Path] = Await.result(
      Future.sequence(dirs.map(d => Future {
        fs.listStatus(d.getPath).toSeq.filter(_.isFile).map(_.getPath)
      })), 120.seconds).flatten ++ looseFiles.map(_.getPath)
    val paths = listed.filter(_.getName.endsWith(".parquet"))
    def bucketOf(p: Path): Int = p.getParent.getName match {
      case s if s.startsWith("_bucket=") => s.stripPrefix("_bucket=").toInt
      case _                             => -1
    }
    val filesPerBucket = paths.groupBy(bucketOf).view.mapValues(_.size).toMap
    val files = paths.map { p =>
      Future {
        val bucket = bucketOf(p)
        val rows =
          if (filesPerBucket.getOrElse(bucket, 0) == 1 && rowsByBucket.contains(bucket))
            rowsByBucket(bucket)
          else footerRowCount(p)
        DataFile(relativize(p), bucket, rows, schemaVersion, kind)
      }
    }
    Await.result(Future.sequence(files), 120.seconds)
  }

  /** Row count from the parquet footer (no data pages read). */
  private def footerRowCount(p: Path): Long =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hadoopConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    } catch { case _: Throwable => -1L }

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
    var deleted = 0L
    val it = fs.listFiles(dataDir, true)
    val toDelete = scala.collection.mutable.ArrayBuffer.empty[Path]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) {
        if (!live.contains(relativize(p))) toDelete += p
      }
    }
    toDelete.foreach { p => if (fs.delete(p, false)) deleted += 1 }
    // drop snapshot dirs left empty (ignore _SUCCESS / partition dirs)
    fs.listStatus(dataDir).foreach { st =>
      if (st.isDirectory) {
        val files = fs.listFiles(st.getPath, true)
        var hasData = false
        while (files.hasNext && !hasData)
          hasData = files.next().getPath.getName.endsWith(".parquet")
        if (!hasData) fs.delete(st.getPath, true)
      }
    }
    deleted
  }

  def deleteDataDir(snapDirRel: String): Unit = {
    val p = new Path(root, snapDirRel)
    if (fs.exists(p)) fs.delete(p, true)
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
