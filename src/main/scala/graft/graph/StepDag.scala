package graft.graph

import graft.lake.{LakeTable, TableMetadata}
import graft.ops.Checksums
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** The step DAG (SURVEY.md §7.1 module `graph`) — the reference's compute
  * graph (/root/reference/etl/steps/__init__.py:52 `DAG`, dag/main.yml)
  * re-expressed as a registry of Dataset transforms compiled through
  * Catalyst.
  *
  * Semantics reproduced:
  *  - topological execution (`to_dependency_order`, steps/__init__.py:101);
  *  - content-addressed dirtiness: a step's input checksum hashes its code
  *    version + metadata version + each upstream output's snapshot id —
  *    outputs are pure functions of inputs (`DataStep.checksum_input`,
  *    steps/__init__.py:565-587); a step re-runs only when that checksum
  *    differs from the one stored in its output table's lineage
  *    (`is_dirty`, steps/__init__.py:512-532);
  *  - INSTANT metadata-only updates (steps/__init__.py:623-665): when ONLY
  *    the metadata version moved, the output's sidecar is re-stamped and a
  *    metadata-only snapshot committed — zero data files rewritten;
  *  - `--force` / `--only` / `--dry-run` flags (command.py:49-163);
  *    `force` means a FULL rebuild of every selected step, incremental and
  *    INSTANT-eligible steps included;
  *  - subgraph filtering by regex + downstream closure
  *    (`filter_to_subgraph`, steps/__init__.py:112-172);
  *  - SUBSET dev filtering (config.py:266, steps/__init__.py:581-584): a
  *    row-filter expression applied to every external input read, pushed
  *    into the scans by Catalyst. Part of the input checksum, so toggling
  *    it re-runs the affected steps.
  *
  * Each step's body builds ONE lazy DataFrame from its inputs, so Catalyst
  * sees the whole step as a single query (predicate pushdown, column
  * pruning, join planning all apply across the step).
  *
  * Each step's decision — clean, INSTANT, incremental or full — is made
  * once by `plan`, from one read of the step's output table and one
  * snapshot-id read per dep; `run` executes it and `eta` counts it.
  *
  * The DAG decides what runs and what lineage it records; the output's
  * files and snapshots are written by `LakeTable.write` /
  * `LakeTable.commitSnapshot` (full builds come out key-sorted within each
  * bucket, with row counts observed by the write).
  */
final case class Step(
    id: String,
    deps: Seq[String],
    codeVersion: String, // the reference's code-file checksum analogue
    run: (SparkSession, Map[String, DataFrame]) => DataFrame,
    incremental: Option[IncrementalSpec] = None,
    // output-table metadata (title/units/...) + its version stamp — the
    // analogue of the step's metadata yaml. Bumping ONLY metaVersion takes
    // the INSTANT path: sidecar re-stamp, no data rewrite.
    meta: Option[graft.model.TableMeta] = None,
    metaVersion: String = "",
    // `data-private://` semantics (steps/__init__.py:248-249): the output is
    // stamped non-public and the step is excluded from runs unless
    // includePrivate; a PUBLIC step may never depend on a private one
    isPrivate: Boolean = false
)

object Step {
  /** An externally-ingested table (e.g. the CDC engine's pages table):
    * participates in dependency resolution and input checksums — downstream
    * steps go dirty when its snapshot advances — but is never built by the
    * DAG (the reference's snapshot:// source-step analogue). */
  def external(id: String, isPrivate: Boolean = false): Step =
    Step(id, Nil, "external", null, isPrivate = isPrivate)
}

/** Downstream INCREMENTAL recompute — the CDC payoff the reference lacks
  * (it re-runs whole steps): when only `changeDeps` moved since the step's
  * last build, the step consumes each change-dep's CHANGE FEED
  * (LakeTable.changesBetween — cost O(changes), never the base table) and
  * LWW merge-applies the mapped change events into its output table.
  *
  * `mapChanges(spark, feeds, otherDeps)` receives one feed per change-dep
  * (upstream rows + `_op`/`_snapshot_id`; EMPTY frame for a dep that did
  * not move) and full frames of the OTHER deps (dimension lookups), and
  * must return change events shaped
  * `(lsn long, op 'U'|'D', <key>, value columns of the step's output)` —
  * a deleted upstream key maps to a 'D' event. Any other change (code or
  * metadata version, a non-feed dep, first build) falls back to the full
  * `run` + rewrite, so incremental is purely an optimization, never a
  * semantics change.
  *
  * LWW seeding contract: on a FULL build, each output row is seeded with
  * the step's own `_lsn` column when `run` provides one (per-row upstream
  * LSN — for 1:1 transforms `col("_lsn")`, for aggregations
  * `max(col("_lsn"))` over contributing rows), else with the change-deps'
  * high-watermark LSN. The per-row form is exact under ARBITRARY
  * out-of-order batch splits; the watermark fallback is exact when the
  * upstream WAL commits LSN-monotonic batches (the binlog contract). */
final case class IncrementalSpec(
    changeDeps: Seq[String],
    mapChanges: (SparkSession, Map[String, DataFrame], Map[String, DataFrame]) => DataFrame
)

object IncrementalSpec {
  /** Single change-dep convenience (the common shape). */
  def one(changeDep: String)(
      mapChanges: (SparkSession, DataFrame, Map[String, DataFrame]) => DataFrame
  ): IncrementalSpec =
    IncrementalSpec(Seq(changeDep),
      (s: SparkSession, feeds: Map[String, DataFrame], others: Map[String, DataFrame]) =>
        mapChanges(s, feeds(changeDep), others))
}

final case class RunReport(
    executed: Seq[String],
    skipped: Seq[String],
    order: Seq[String],
    // continue-on-failure bookkeeping (command.py:779-827): steps whose body
    // threw (id -> first error line), and steps skipped because an upstream
    // failed — both stay dirty, independent branches keep building
    failed: Seq[(String, String)] = Nil,
    skippedDownstreamOfFailed: Seq[String] = Nil,
    // wall seconds per executed step (command.py:921 execution-time ledger)
    durations: Map[String, Double] = Map.empty
)

class StepDag(steps: Seq[Step], storeDir: String, numBuckets: Int = 8,
    // SUBSET dev filter (config.py:266): SQL boolean expression applied to
    // every EXTERNAL input read (missing columns → the filter is skipped
    // for that table). Dev-mode only; part of the input checksum.
    subset: Option[String] = None) {
  import StepDag._
  private val byId = steps.map(s => s.id -> s).toMap
  require(byId.size == steps.size, "duplicate step ids")
  /** Public/private exclusivity (command.py:997-1002 `_validate_private_steps`):
    * a public step depending on a private one would leak private data into a
    * public output. Like the reference, this is enforced per RUN and only
    * when private steps are NOT requested — `includePrivate` unlocks such a
    * DAG ("Use --private flag"), so a reference-valid private pipeline stays
    * constructible. */
  private def validatePrivateDeps(): Unit = {
    val bad = for {
      s <- steps if !s.isPrivate
      d <- s.deps if byId.get(d).exists(_.isPrivate)
    } yield s"${s.id} -> $d"
    require(bad.isEmpty,
      s"public steps may not depend on private steps (run with includePrivate " +
        s"to allow): ${bad.mkString(", ")}")
  }

  /** dep → dependents index, built once — graph walks (topoOrder, select)
    * are O(V+E) against it instead of scanning every step per dequeue /
    * per closure round (the previous spelling was O(V²·d̄): tens of
    * millions of Seq.contains calls at the reference's ~2,700-step DAG). */
  private val dependentsOf: Map[String, Seq[String]] =
    steps.flatMap(s => s.deps.map(_ -> s.id))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** Kahn topological order; fails on cycles or missing deps. */
  def topoOrder(subset: Set[String] = byId.keySet): Seq[String] = {
    val ids = subset
    ids.flatMap(id => byId(id).deps.filterNot(d => ids.contains(d)))
      .headOption.foreach(d => throw new IllegalArgumentException(s"missing dep: $d"))
    val inDeg = scala.collection.mutable.Map(
      ids.toSeq.map(id => id -> byId(id).deps.count(ids.contains)): _*)
    val ready = scala.collection.mutable.PriorityQueue(
      inDeg.filter(_._2 == 0).keys.toSeq: _*)(Ordering[String].reverse)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (ready.nonEmpty) {
      val id = ready.dequeue()
      out += id
      for (s <- dependentsOf.getOrElse(id, Nil) if ids.contains(s)) {
        inDeg(s) -= 1
        if (inDeg(s) == 0) ready.enqueue(s)
      }
    }
    if (out.size != ids.size)
      throw new IllegalArgumentException(
        s"cycle among: ${ids -- out.toSet}")
    out.toSeq
  }

  /** Regex include + downstream closure (filter_to_subgraph analogue).
    * Worklist BFS over the dep / dependents indexes — O(V+E), not a
    * grow-until-fixed-point loop re-scanning the selection each round. */
  def select(includeRegex: String, downstream: Boolean = false): Set[String] = {
    val re = includeRegex.r
    val seed = byId.keySet.filter(id => re.findFirstIn(id).isDefined)
    def closure(start: Set[String], next: String => Seq[String]): Set[String] = {
      val seen = scala.collection.mutable.Set.empty[String] ++ start
      val work = scala.collection.mutable.ArrayDeque.empty[String] ++ start
      while (work.nonEmpty) {
        val id = work.removeHead()
        for (n <- next(id) if !seen.contains(n)) { seen += n; work += n }
      }
      seen.toSet
    }
    // upstream closure (dependencies always included, like the reference)
    val up = closure(seed, id => byId(id).deps)
    if (!downstream) up
    else {
      val down = closure(up, id => dependentsOf.getOrElse(id, Nil))
      // re-close upstream for newly added downstream steps
      closure(down, id => byId(id).deps)
    }
  }

  def tableDir(id: String): String = s"$storeDir/${id.replace('/', '_')}"

  /** One handle per table for the DAG's life: a handle caches no metadata. */
  private val handles = new java.util.concurrent.ConcurrentHashMap[String, LakeTable]()
  def table(id: String): LakeTable =
    handles.computeIfAbsent(id, i => new LakeTable(tableDir(i)))

  /** The output table's metadata sidecar (written by full builds, INSTANT
    * commits re-stamp it in place). */
  def tableMeta(spark: SparkSession, id: String): Option[graft.model.TableMeta] =
    scala.util.Try(
      graft.sources.TableIO.readSidecar(spark, s"${tableDir(id)}/metadata")._1).toOption

  private def metadataOf(id: String): Option[TableMetadata] = {
    val t = table(id)
    if (t.exists) Some(t.metadata) else None
  }

  /** The DATA half of a step's input checksum from EXPLICIT upstream
    * snapshot ids: code version + subset filter + each dep's id (Merkle
    * through the DAG because upstream snapshot ids themselves advance only
    * when their inputs changed). */
  private def dataChecksumFrom(s: Step, ids: Map[String, Long]): String = {
    val parts = (s.codeVersion + subset.fold("")("|subset=" + _)) +:
      s.deps.sorted.map(d => s"$d=${ids(d)}")
    Checksums.md5Hex(parts.mkString("|"))
  }

  /** Composite stored checksum: `<dataChecksum>:<metaChecksum>`. A data-part
    * mismatch re-runs the step; a meta-part-only mismatch takes the INSTANT
    * path (steps/__init__.py:623-665). */
  private def checksumFrom(s: Step, ids: Map[String, Long]): String =
    s"${dataChecksumFrom(s, ids)}:${Checksums.md5Hex(s.metaVersion)}"

  /** The one decision per step: external steps are clean; `force`, a
    * missing output or an unstamped snapshot rebuild; otherwise the stored
    * checksum picks clean (unchanged), INSTANT (only the meta half moved),
    * incremental (it matches with the change-deps pinned to the snapshot ids
    * last consumed) or full (anything else moved). */
  private def plan(s: Step, force: Boolean): Plan =
    if (s.run == null) Clean
    else {
      val meta = metadataOf(s.id)
      val deps = s.deps.map(d => d -> metadataOf(d)).toMap
      val ids = deps.map { case (d, m) => d -> m.flatMap(_.currentSnapshotId).getOrElse(-1L) }
      meta.flatMap(m => m.currentSnapshot.map(m -> _)) match {
        case Some((m, snap)) if !force && snap.inputChecksum.isDefined =>
          val stored = snap.inputChecksum.get
          val from = snap.inputSnapshots.filter { case (d, _) =>
            s.incremental.exists(_.changeDeps.contains(d)) }
          if (stored == checksumFrom(s, ids)) Clean
          else if (stored.startsWith(dataChecksumFrom(s, ids) + ":")) Instant(m, ids)
          else if (s.incremental.isDefined && stored == checksumFrom(s, ids ++ from))
            Incremental(m, from, ids, deps.collect { case (d, Some(dm)) => d -> dm })
          else Full(meta, ids)
        case _ => Full(meta, ids)
      }
    }

  /** Would a run without `force` build `id`? (External steps never are.) */
  def isDirty(id: String): Boolean = plan(byId(id), force = false) != Clean

  /** The steps a run with these arguments walks, in topological order. */
  private def selection(includeRegex: String, downstream: Boolean,
      includePrivate: Boolean): Seq[String] = {
    if (!includePrivate) validatePrivateDeps()
    topoOrder(select(includeRegex, downstream)
      .filter(id => includePrivate || !byId(id).isPrivate))
  }

  /** Execute (dirty steps only unless force), in topo order. Each step's
    * output is committed to its lake table with the input checksum recorded
    * in the snapshot lineage — the `source_checksum` stamp
    * (steps/__init__.py:501-504). `force` rebuilds every selected step in
    * full. */
  def run(
      spark: SparkSession,
      includeRegex: String = ".*",
      force: Boolean = false,
      dryRun: Boolean = false,
      downstream: Boolean = false,
      // --continue-on-failure (command.py:779-827): a failing step marks its
      // downstream skipped-and-still-dirty; independent branches keep
      // building; the report carries every failure instead of the first
      // exception killing a 1000-step nightly build
      continueOnFailure: Boolean = false,
      // private steps excluded unless requested (the reference's --private)
      includePrivate: Boolean = false
  ): RunReport = {
    val order = selection(includeRegex, downstream, includePrivate)
    val executed = scala.collection.mutable.ArrayBuffer.empty[String]
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    val failed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val blocked = scala.collection.mutable.ArrayBuffer.empty[String]
    val dead = scala.collection.mutable.Set.empty[String] // failed or blocked
    val durations = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (id <- order) {
      val s = byId(id)
      if (s.deps.exists(dead.contains)) {
        // an upstream failed this run: building against its stale output
        // would stamp a lineage that marks the failure consumed — skip, stay
        // dirty, keep walking the independent branches
        blocked += id; dead += id
      } else plan(s, force) match {
        case Clean => skipped += id
        case _ if dryRun => executed += id
        case p =>
          val t0 = System.nanoTime()
          try {
            execute(spark, s, p)
            executed += id
            durations(id) = (System.nanoTime() - t0) / 1e9
          } catch {
            case NonFatal(e) if continueOnFailure =>
              val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
                .linesIterator.next().take(300)
              System.err.println(s"[graft] step $id FAILED ($msg); continuing")
              failed += id -> msg; dead += id
          }
      }
    }
    if (durations.nonEmpty) writeExecutionTimes(durations.toMap)
    RunReport(executed.toSeq, skipped.toSeq, order, failed.toSeq, blocked.toSeq,
      durations.toMap)
  }

  /** Carry out a non-clean plan.
    *  - INSTANT (steps/__init__.py:623-665): re-stamp the sidecar and commit
    *    a metadata-only snapshot that carries every data file forward. Zero
    *    data IO; downstream steps still see a new snapshot id (metadata
    *    edits cascade, as in the reference).
    *  - Incremental: consume each change-dep's feed over (from, ids] and LWW
    *    merge-apply the mapped events. Any failure (retention window
    *    exceeded, upstream rebuilt or CoW-committed) degrades to the full
    *    build with the same ids — incremental is an optimization, never a
    *    crash of a dag.run or of the streaming query driving it via onBatch.
    *  - Full: run the body over every dep and rewrite the output. */
  private def execute(spark: SparkSession, s: Step, p: Plan): Unit = p match {
    case Clean =>
    case Instant(meta, ids) =>
      writeSidecar(s)
      val t = table(s.id)
      t.commitSnapshot(meta, s.id, batchId = t.nextSnapshotId(meta),
        t.filesOf(meta.currentSnapshot.get), // carried forward — no data rewrite
        inputSnapshots = ids, inputChecksum = Some(checksumFrom(s, ids)))
    case Incremental(meta, from, ids, deps) =>
      val inc = s.incremental.get
      try {
        val feeds = inc.changeDeps.map(d =>
          d -> table(d).changesBetween(spark, from(d), ids(d), deps(d))).toMap
        val others = s.deps.filterNot(inc.changeDeps.contains)
          .map(d => d -> readInput(spark, d)).toMap
        graft.cdc.MergeApply(spark, table(s.id), inc.mapChanges(spark, feeds, others),
          // sum of consumed change-dep snapshot ids: strictly increasing
          // whenever any feed moved — a monotone batchId for the ledger
          batchId = inc.changeDeps.map(ids).sum, stepId = s"step:${s.id}",
          inputSnapshots = ids, inputChecksum = Some(checksumFrom(s, ids)),
          current = Some(meta))
      } catch {
        case NonFatal(e) =>
          System.err.println(
            s"[graft] incremental path for step ${s.id} unavailable " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}); full rebuild")
          execute(spark, s, Full(Some(meta), ids))
      }
    case Full(meta, ids) =>
      val inputs = s.deps.map(d => d -> readInput(spark, d)).toMap
      writeOutput(spark, s, s.run(spark, inputs), meta, ids)
  }

  // ------------------------------------------------ execution-time ledger
  // (command.py:921-952 `.execution_time.json`): per-step wall seconds,
  // merged across runs, used to estimate how long a pending build will take.

  private def executionTimeFile = s"$storeDir/.execution_time.json"

  /** Stored per-step wall seconds from previous runs (merged, persistent). */
  def executionTimes: Map[String, Double] = {
    val f = new java.io.File(executionTimeFile)
    if (!f.exists()) Map.empty
    else {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val out = scala.collection.mutable.Map.empty[String, Double]
      n.properties().forEach(e => out(e.getKey) = e.getValue.asDouble())
      out.toMap
    }
  }

  private def writeExecutionTimes(fresh: Map[String, Double]): Unit = {
    val merged = executionTimes ++ fresh
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = mapper.createObjectNode()
    merged.toSeq.sortBy(_._1).foreach { case (k, v) =>
      n.put(k, math.rint(v * 1000) / 1000.0)
    }
    new java.io.File(storeDir).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(executionTimeFile),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(n))
  }

  /** Recorded time for `id`, falling back to another VERSION of the same
    * step (`_get_execution_time`, command.py:940-952 — the version is the
    * second-to-last `/` segment of a step id like channel/ns/version/name). */
  def estimatedTime(id: String): Option[Double] = {
    val times = executionTimes
    times.get(id).orElse {
      def ident(s: String) = {
        val parts = s.split('/')
        if (parts.length >= 2) (parts.dropRight(2) :+ parts.last).mkString("/")
        else s
      }
      times.collectFirst { case (k, v) if ident(k) == ident(id) => v }
    }
  }

  /** ETA for the steps a `run` with these arguments would execute: total
    * known seconds + how many pending steps have no recorded time. */
  def eta(includeRegex: String = ".*", force: Boolean = false,
      downstream: Boolean = false, includePrivate: Boolean = false
  ): (Double, Int) = {
    val pending = selection(includeRegex, downstream, includePrivate)
      .filter(id => plan(byId(id), force) != Clean)
    val known = pending.flatMap(estimatedTime)
    (known.sum, pending.size - known.size)
  }

  /** External-input read with the SUBSET dev filter applied when its
    * columns resolve (config.py:266 — regex/row dev filters pushed into
    * the scan by Catalyst). */
  private def readInput(spark: SparkSession, d: String): DataFrame = {
    val df = table(d).read(spark)
    subset match {
      case Some(expr) =>
        try df.filter(org.apache.spark.sql.functions.expr(expr))
        catch { case _: org.apache.spark.sql.AnalysisException => df }
      case None => df
    }
  }

  /** High-watermark LSN across the change-deps' retained snapshot logs —
    * the full-build seed when the step does not propagate `_lsn` itself. */
  private def seedLsn(s: Step): Long =
    s.incremental.toSeq.flatMap(_.changeDeps).flatMap(metadataOf)
      .flatMap(_.snapshots.map(_.lsnMax)).foldLeft(0L)(math.max)

  private def writeOutput(spark: SparkSession, step: Step, df0: DataFrame,
      existing: Option[TableMetadata], depIds: Map[String, Long]): Unit = {
    import graft.lake.LakeField
    import org.apache.spark.sql.functions.lit
    val t = table(step.id)
    val isIncremental = step.incremental.isDefined
    // incremental steps' outputs are LWW tables (merge-apply target). The
    // full build seeds each row's LSN with the step's own `_lsn` column when
    // provided (per-row upstream LSN — exact under out-of-order feeds), else
    // the change-deps' high-watermark (exact under LSN-monotonic commits).
    // Never 0: a seed below already-reflected events would let a stale feed
    // event overwrite newer seeded state.
    val df =
      if (isIncremental) {
        val seeded =
          if (df0.columns.contains("_lsn")) df0
          else df0.withColumn("_lsn", lit(seedLsn(step)))
        if (seeded.columns.contains("_deleted")) seeded
        else seeded.withColumn("_deleted", lit(false))
      } else df0
    val meta = existing.getOrElse {
      val fields = df.schema.fields.zipWithIndex.map { case (f, i) =>
        LakeField(i + 1, f.name, f.dataType.sql.toLowerCase, f.nullable)
      }
      t.create(fields.toSeq, numBuckets, df.columns.head,
        lwwColumn = if (isIncremental) Some("_lsn") else None,
        tombstoneColumn = if (isIncremental) Some("_deleted") else None)
      t.metadata
    }
    t.commitSnapshot(meta, step.id, batchId = t.nextSnapshotId(meta),
      t.write(spark, meta, df, kind = "base").files,
      inputSnapshots = depIds, inputChecksum = Some(checksumFrom(step, depIds)))
    writeSidecar(step)
  }

  /** Stamp the output's metadata sidecar. Private steps stamp it non-public
    * (DataStepPrivate, tests/test_steps.py:240-245) — even when the step
    * declares no meta. */
  private def writeSidecar(step: Step): Unit = {
    val meta =
      if (step.isPrivate)
        Some(step.meta.getOrElse(graft.model.TableMeta(shortName = step.id))
          .copy(isPublic = false))
      else step.meta
    meta.foreach(m =>
      graft.sources.TableIO.writeSidecar(s"${tableDir(step.id)}/metadata", m, "lake"))
  }
}

object StepDag {
  /** What a run does with one step (see `plan`). Every non-clean plan
    * carries the dep snapshot ids read while planning — before any body
    * runs: they drive the feed windows and are the lineage the commit
    * records, so a dep committing mid-build is the next run's work, never
    * silently stamped consumed. `meta` is the output table as planned
    * (None before its first build); an incremental plan also carries the
    * deps' metadata, so the feeds and the merge read no table again. */
  private sealed trait Plan
  private case object Clean extends Plan
  private final case class Full(meta: Option[TableMetadata], ids: Map[String, Long])
      extends Plan
  private final case class Instant(meta: TableMetadata, ids: Map[String, Long])
      extends Plan
  private final case class Incremental(meta: TableMetadata, from: Map[String, Long],
      ids: Map[String, Long], deps: Map[String, TableMetadata]) extends Plan
}
