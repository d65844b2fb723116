package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.cdc.{Engine, EventGen, MergeApply}
import graft.functions.TextExtract
import graft.graph.{IncrementalSpec, Step, StepDag}
import graft.lake.{LakeTable, TableMetadata}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** One benchmark run in one JVM: set-up, then one timed pass of a workload
  * (traced or not), then the correctness gates. Writes everything it
  * measured to `--out` as JSON; `perfbench/run.py` turns that into
  * metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --work DIR --out FILE
  *          [--tables DIR] [--trace 0|1] */
object Main {
  val Buckets = 8

  final case class Args(workload: String, seed: Long, work: String, out: String,
      tables: String, trace: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("work"), m("out"),
      m.getOrElse("tables", ""), m.getOrElse("trace", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
    if (a.trace)
      b.config("spark.extraListeners", classOf[SparkEvents].getName)
        .config("spark.sql.queryExecutionListeners", classOf[QueryEvents].getName)
    val t0 = Ledger.nowMs()
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Ledger.attach(spark)
    val res = new JMap[String, Any]()
    res.put("cores", cores)
    res.put("session_s", (Ledger.nowMs() - t0) / 1000)
    res.put("jvm_start_ms",
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    if (a.workload == "train") {
      train(spark, a)
      spark.stop()
      System.exit(0)
    }
    val w = workload(spark, a)
    var code = 0
    try {
      res.put("gen_s", timed(w.generate()))
      val warm = timed(w.warmUp())
      Ledger.enabled = a.trace
      val p = new JMap[String, Any]()
      val win = new Window
      val root = Ledger.open(a.workload, "workload" -> true)
      try w.pass(s"${a.work}/pass", p, win)
      finally {
        if (win.endMs.isNaN) win.end()
        Ledger.close(root)
        Ledger.enabled = false
      }
      res.put("ready_ms", win.startMs)
      // trickle warms up inside its stream, before the window opens
      res.put("warmup_s", warm + (win.startMs - root.start) / 1000)
      p.put("window", win.toJava)
      p.put("cpu_s", (win.cpu1 - win.cpu0) / 1e9)
      p.put("window_s", (win.endMs - win.startMs) / 1000)
      p.put("checks", step("checks") { w.check(s"${a.work}/pass") })
      p.put("ledger", Ledger.toJava)
      res.put("pass", p)
      res.put("probe_s", probe())
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        res.put("error", String.valueOf(e))
        code = 3
    }
    res.put("peak_rss_mb", peakRssMb())
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(new File(a.out), res)
    step("stop") { spark.stop() }
    System.exit(code)
  }

  def workload(spark: SparkSession, a: Args, small: Boolean = false): Workload =
    a.workload match {
      case "ingest_bulk"    => new Bulk(spark, a, if (small) 300L else 8000L)
      case "ingest_trickle" => new Trickle(spark, a, if (small) 100L else 1000L,
        every = if (small) 2 else 8)
      case "query_suite"    => new QuerySuite(spark, a)
      case other            => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** The class-loading run of the build: every workload once on small
    * inputs, side by side, in the JVM that writes the class-data archive
    * at exit. Only the classes it loads matter, not its timings. */
  def train(spark: SparkSession, a: Args): Unit = {
    val threads = Seq("ingest_bulk", "ingest_trickle", "query_suite").map { name =>
      val wa = a.copy(workload = name, work = s"${a.work}/$name")
      val t = new Thread(() =>
        try step(s"train $name") {
          val w = workload(spark, wa, small = true)
          w.generate()
          w.pass(s"${wa.work}/pass", new JMap[String, Any](), new Window)
          w.check(s"${wa.work}/pass")
        } catch { case NonFatal(e) => System.err.println(s"[perfbench] train $name: $e") })
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  def timed(body: => Unit): Double = {
    val t = Ledger.nowMs(); body; (Ledger.nowMs() - t) / 1000
  }

  /** Log a set-up step's seconds to the JVM log. */
  def step[T](name: String)(body: => T): T = {
    val t = Ledger.nowMs()
    try body finally System.err.println(f"[perfbench] $name%s ${(Ledger.nowMs() - t) / 1000}%.2f s")
  }

  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) return Runtime.getRuntime.totalMemory / 1048576.0
    Files.readAllLines(f.toPath).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** Host-speed control: a fixed, seed-independent text-extraction scan on
    * one thread. It should move with the host, never with a change. */
  def probe(): Double = {
    val cfg = EventGen.Config(nEvents = 400, seed = 1L)
    val docs = (0L until 400L).map(i => EventGen.genEvent(i, cfg).html)
    timed {
      var n = 0L
      for (_ <- 0 until 5; d <- docs) n += TextExtract.extractText(d).length
      require(n > 0)
    }
  }

  /** A timed op: a span flagged `op`, with `ok` and the error if it threw. */
  def op[T](name: String, attrs: (String, Any)*)(body: => T): Option[T] = {
    val s = Ledger.open(name, (("op", true) +: attrs): _*)
    try {
      val r = body
      s.attrs.put("ok", true)
      Some(r)
    } catch {
      case NonFatal(e) =>
        s.attrs.put("ok", false)
        s.attrs.put("error", String.valueOf(e).take(500))
        None
    } finally Ledger.close(s)
  }

  /** WAL segments from `EventGen.genEvent` in one Spark job: partition k of
    * the LSN range becomes file `seg-k.parquet`, published in LSN order
    * (modification times one second apart, which the file source follows). */
  def writeWal(spark: SparkSession, cfg: EventGen.Config, dir: String,
      segments: Int): Seq[String] = {
    import spark.implicits._
    val tmp = s"$dir.tmp"
    spark.range(0L, cfg.nEvents, 1L, segments).map(id => EventGen.genEvent(id, cfg))
      .write.mode("overwrite").parquet(tmp)
    val parts = new File(tmp).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length == segments, s"expected $segments WAL files, got ${parts.length}")
    new File(dir).mkdirs()
    val t = System.currentTimeMillis() - 3600000L
    val out = parts.zipWithIndex.map { case (f, k) =>
      val dst = new File(dir, f"seg-$k%05d.parquet")
      Files.move(f.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(t + k * 1000L)
      dst.getPath
    }
    deleteTree(new File(tmp))
    out.toSeq
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }

  def readSeg(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Engine.eventSchema).parquet(path)

  val PageCols = Seq("warc_ts", "html", "text", "lang", "_lsn")

  /** The pages shape with one 64-bit hash per value column (null-safe). */
  def pageHashes(df: DataFrame): DataFrame =
    df.select(col("url") +: PageCols.map(c => xxhash64(col(c)).as(c)): _*)

  /** `Engine.goldenFinalState` of the WAL, computed on per-column hashes
    * so its aggregate stays narrow; comparable with [[pageHashes]]. */
  def golden(spark: SparkSession, walDir: String): DataFrame = {
    val ev = spark.read.schema(Engine.eventSchema).parquet(walDir)
    Engine.goldenFinalState(ev.select(Seq(col("lsn"), col("op"), col("url")) ++
        Seq("warc_ts", "html", "text", "lang").map(c => xxhash64(col(c)).as(c)): _*))
      .withColumn("_lsn", xxhash64(col("_lsn")))
  }

  /** Equality of two tables keyed by `url`, on every column, in one job:
    * both sides have the same number of rows and every row meets an
    * identical partner (a duplicated key on one side breaks the counts). */
  def sameRows(got: DataFrame, want: DataFrame): JMap[String, Any] = {
    val g = got.withColumn("_g", lit(1)); val w = want.withColumn("_w", lit(1))
    val same = got.columns.filter(_ != "url").map(c => g(c) <=> w(c))
      .foldLeft(g("_g").isNotNull && w("_w").isNotNull)(_ && _)
    val r = g.join(w, g("url") === w("url"), "full_outer")
      .agg(count(g("_g")), count(w("_w")), sum(when(same, 0).otherwise(1))).head()
    val (ng, nw, bad) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val m = new JMap[String, Any]()
    m.put("ok", ng == nw && bad == 0)
    m.put("rows", ng); m.put("want_rows", nw); m.put("unmatched", bad)
    m
  }

  /** Two independent checks side by side (each is mostly driver latency). */
  def both[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fb = Future(b)
    val ra = a
    (ra, Await.result(fb, Duration.Inf))
  }

  def gate(ok: Boolean, detail: Any*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    m.put("ok", ok)
    if (detail.nonEmpty) m.put("detail", detail.map(String.valueOf).mkString(" "))
    m
  }

  def deltasPerBucketMax(t: LakeTable, snapshotId: Long): Int = {
    val s = t.metadata.snapshots.find(_.snapshotId == snapshotId).get
    val d = t.filesOf(s).filter(_.kind == "delta").groupBy(_.bucket)
    if (d.isEmpty) 0 else d.values.map(_.size).max
  }

  def liveFiles(t: LakeTable): Int =
    t.metadata.currentSnapshot.map(s => t.filesOf(s).size).getOrElse(0)

  def metadataBytes(t: LakeTable): Long = {
    val f = new File(s"${t.dir}/metadata/v${t.metadata.version}.metadata.json")
    if (f.exists) f.length else 0L
  }
}

import Main._

/** The timed window of a pass: wall clock, process CPU and the global
  * counters at its two ends. A workload opens it when its measured work
  * starts (trickle: after its warm-up micro-batches). */
final class Window {
  var startMs, endMs = Double.NaN
  var cpu0, cpu1 = 0L
  private var c0, c1: JMap[String, Any] = _
  def begin(): Unit = { c0 = Ledger.counters(); cpu0 = cpuNs(); startMs = Ledger.nowMs() }
  def end(): Unit = { endMs = Ledger.nowMs(); cpu1 = cpuNs(); c1 = Ledger.counters() }
  def toJava: JMap[String, Any] = {
    val m = new JMap[String, Any]()
    m.put("start", startMs); m.put("end", endMs)
    c0.forEach((k, v) => m.put("c0_" + k, v))
    c1.forEach((k, v) => m.put("c1_" + k, v))
    m
  }
}

trait Workload {
  def generate(): Unit
  def warmUp(): Unit
  /** The measured work; calls `w.begin()` when it starts and may call
    * `w.end()` (else the window ends with the pass). */
  def pass(dir: String, out: JMap[String, Any], w: Window): Unit
  def check(dir: String): JMap[String, Any]
}

/** ingest_bulk: a few large WAL segments, each one MOR commit; one
  * reconciling read over the delta backlog; compaction; then the same
  * segments as CoW commits into a second table. */
class Bulk(spark: SparkSession, a: Args, perSegment: Long) extends Workload {
  val segments = 3
  val cfg = EventGen.Config(nEvents = segments * perSegment, seed = a.seed,
    parallelism = segments)
  val walDir = s"${a.work}/wal"
  var segs: Seq[String] = Nil
  var preCompact = 0L
  var readRows = 0L

  def generate(): Unit = {
    segs = step("gen wal") { writeWal(spark, cfg, walDir, segments) }
    step("gen warm") {
      writeWal(spark, cfg.copy(nEvents = 500, seed = a.seed ^ 0x5eedL), s"${a.work}/warm-wal", 1)
    }
  }

  /** Every call of the pass once, on a small table: the first commit in a
    * JVM pays class loading and code generation. */
  def warmUp(): Unit = {
    val seg = readSeg(spark, s"${a.work}/warm-wal")
    val mor = Engine.createPagesTable(s"${a.work}/warm/mor", Buckets)
    val cow = Engine.createPagesTable(s"${a.work}/warm/cow", Buckets)
    step("warm mor") { MergeApply(spark, mor, seg, 0, stepId = "cdc_ingest") }
    step("warm cow") { MergeApply(spark, cow, seg, 0, stepId = "cdc_ingest",
      mode = MergeApply.CopyOnWrite) }
    step("warm read") { mor.read(spark).write.format("noop").mode("overwrite").save() }
    step("warm compact") { MergeApply.compact(spark, mor) }
  }

  def pass(dir: String, out: JMap[String, Any], w: Window): Unit = {
    val mor = Engine.createPagesTable(s"$dir/mor", Buckets)
    val cow = Engine.createPagesTable(s"$dir/cow", Buckets)
    w.begin()
    segs.zipWithIndex.foreach { case (p, k) =>
      op("mor_commit", "events" -> perSegment) {
        Ledger.span("MergeApply.apply") {
          MergeApply(spark, mor, readSeg(spark, p), k, stepId = "cdc_ingest")
        }
      }
    }
    preCompact = mor.metadata.currentSnapshotId.get
    op("read") {
      Ledger.span("LakeTable.read") {
        val obs = Observation("rows")
        mor.read(spark).observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        readRows = obs.get("n").asInstanceOf[Long]
      }
    }
    op("compact") { Ledger.span("MergeApply.compact") { MergeApply.compact(spark, mor) } }
    segs.zipWithIndex.foreach { case (p, k) =>
      op("cow_commit", "events" -> perSegment) {
        Ledger.span("MergeApply.apply") {
          MergeApply(spark, cow, readSeg(spark, p), k, stepId = "cdc_ingest",
            mode = MergeApply.CopyOnWrite)
        }
      }
    }
    out.put("events", segments * perSegment)
    out.put("read_rows", readRows)
  }

  def check(dir: String): JMap[String, Any] = {
    val mor = new LakeTable(s"$dir/mor")
    val cow = new LakeTable(s"$dir/cow")
    val c = new JMap[String, Any]()
    val (m, w) = both(sameRows(pageHashes(mor.read(spark)), golden(spark, walDir)),
      sameRows(pageHashes(cow.read(spark)), golden(spark, walDir)))
    c.put("mor_equals_golden", m)
    c.put("cow_equals_golden", w)
    val before = mor.metadata.currentSnapshotId
    val again = MergeApply(spark, mor, readSeg(spark, segs.last), segs.size - 1L,
      stepId = "cdc_ingest")
    c.put("reapply_skipped",
      gate(again.skipped && mor.metadata.currentSnapshotId == before, again))
    val lake = new JMap[String, Any]()
    lake.put("deltas_per_bucket_max", deltasPerBucketMax(mor, preCompact))
    lake.put("live_files", liveFiles(mor))
    lake.put("metadata_bytes", metadataBytes(mor))
    c.put("lake", lake)
    c
  }
}

/** A pages table that records its commits and vacuums as spans, so a
  * micro-batch can be split into merge, compaction, vacuum and view. */
class HookedTable(dir: String, parent: () => Int) extends LakeTable(dir) {
  override def commit(meta: TableMetadata): Unit = {
    super.commit(meta)
    meta.currentSnapshot.foreach { s =>
      val sp = Ledger.open("LakeTable.commit", parent(), "step" -> s.stepId,
        "batch" -> s.batchId)
      Ledger.close(sp)
    }
  }
  override def vacuum(): Long = {
    val sp = Ledger.open("LakeTable.vacuum", parent())
    try super.vacuum() finally Ledger.close(sp)
  }
}

/** ingest_trickle: `Engine.runStream` (AvailableNow, one file per trigger)
  * over a pre-published backlog of small segments; compaction and vacuum
  * every 8 batches; `onBatch` refreshes an incremental StepDag view. The
  * first `warm` micro-batches (the view's full build among them) are the
  * warm-up: the window opens after them, so one stream serves both. */
class Trickle(spark: SparkSession, a: Args, perSegment: Long, every: Int)
    extends Workload {
  val warm = 2
  val segments = warm + every
  val cfg = EventGen.Config(nEvents = segments * perSegment, seed = a.seed,
    parallelism = segments)
  val walDir = s"${a.work}/wal"
  var lastBatch = -1L

  def generate(): Unit = step("gen wal") { writeWal(spark, cfg, walDir, segments) }

  def warmUp(): Unit = ()

  def tokens: Step = Step("derived/tokens", Seq("pages"), "v1",
    run = (_, in) => in("pages").select(col("url"),
      size(split(col("text"), " ")).cast("long").as("n_tok"), col("_lsn")),
    incremental = Some(IncrementalSpec.one("pages") { (_, feed, _) =>
      feed.select(col("_lsn").as("lsn"), col("_op").as("op"), col("url"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    }))

  def pass(dir: String, out: JMap[String, Any], w: Window): Unit = {
    val call = Ledger.open("Engine.runStream")
    Engine.createPagesTable(s"$dir/pages", Buckets)
    val table = new HookedTable(s"$dir/pages", () => call.id)
    val dag = new StepDag(Seq(Step.external("pages"), tokens), dir, numBuckets = Buckets)
    try {
      val q = Engine.runStream(spark, walDir, s"$dir/_checkpoint", table,
        trigger = Trigger.AvailableNow(), maxFilesPerTrigger = Some(1),
        compactEvery = every, vacuumEvery = every,
        onBatch = st => {
          val sp = Ledger.open("StepDag.run", call.id, "batch" -> st.batchId)
          try dag.run(spark) finally Ledger.close(sp)
          if (st.batchId == warm - 1) w.begin()
        })
      q.awaitTermination()
      w.end()
      q.exception.foreach(e => throw e)
      q.recentProgress.filter(_.durationMs.containsKey("addBatch")).foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => s"d_$k" -> (v.longValue: Any) }
        Ledger.record("batch", call.id, start, start + p.durationMs.get("triggerExecution"),
          (Seq("op" -> (p.batchId >= warm), "ok" -> true, "batch" -> p.batchId,
            "rows" -> p.numInputRows) ++ d): _*)
        lastBatch = math.max(lastBatch, p.batchId)
        System.err.println(s"[perfbench] batch ${p.batchId} ${p.durationMs}")
      }
    } finally Ledger.close(call)
    out.put("events", every * perSegment)
    out.put("batches", lastBatch + 1)
    out.put("warm", warm)
    out.put("every", every)
  }

  def check(dir: String): JMap[String, Any] = {
    val pages = new LakeTable(s"$dir/pages")
    val dag = new StepDag(Seq(Step.external("pages"), tokens), dir, numBuckets = Buckets)
    val c = new JMap[String, Any]()
    c.put("batches_applied", gate(lastBatch == segments - 1, s"last batch $lastBatch"))
    val (state, view) = both(
      sameRows(pageHashes(pages.read(spark)), golden(spark, walDir)),
      sameRows(dag.table("derived/tokens").read(spark).select("url", "n_tok"),
        pages.read(spark).select(col("url"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))))
    c.put("pages_equal_golden", state)
    c.put("view_equals_rebuild", view)
    val seg = new File(walDir).listFiles().map(_.getPath).max
    val before = pages.metadata.currentSnapshotId
    val again = MergeApply(spark, pages, readSeg(spark, seg), lastBatch, stepId = "cdc_ingest")
    c.put("reapply_skipped",
      gate(again.skipped && pages.metadata.currentSnapshotId == before, again))
    val lake = new JMap[String, Any]()
    lake.put("deltas_per_bucket_max",
      deltasPerBucketMax(pages, pages.metadata.currentSnapshotId.get))
    lake.put("live_files", liveFiles(pages))
    lake.put("metadata_bytes", metadataBytes(pages))
    c.put("lake", lake)
    c
  }
}

/** query_suite: every third query of `SparkEntry.queries` in sorted name
  * order, starting at the first, each built and written once. */
class QuerySuite(spark: SparkSession, a: Args) extends Workload {
  lazy val all = SparkEntry.queries
  lazy val subset: Seq[String] = {
    val names = all.keys.toSeq.sorted
    names.indices.filter(_ % 3 == 0).map(names)
  }

  def generate(): Unit = () // the tables come from run.py (pyarrow, like the originals)

  /** Generic scans, joins, aggregates, a window and a write over the same
    * tables: it loads and JIT-compiles Spark's paths without running any
    * query of the suite. */
  def warmUp(): Unit = {
    def t(n: String) = spark.read.parquet(s"${a.tables}/$n.parquet")
    t("lineitem").join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(sum("l_quantity"), countDistinct("l_partkey"))
      .collect()
    t("events").withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("ts")))
      .filter(col("r") < 3).write.mode("overwrite").parquet(s"${a.work}/warm/events")
    t("documents").select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().orderBy(desc("count")).limit(5).collect()
  }

  def pass(dir: String, out: JMap[String, Any], w: Window): Unit = {
    val oracle = new JMap[String, Any]()
    subset.foreach(q => SparkEntry.oracleSql.get(q).foreach(oracle.put(q, _)))
    new File(dir).mkdirs()
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new File(s"$dir/oracle_sql.json"), oracle)
    w.begin()
    subset.foreach { q =>
      op(q, "query" -> q) {
        val df = Ledger.span("build") { all(q)(spark, a.tables) }
        Ledger.span("exec") { df.write.mode("overwrite").parquet(s"$dir/$q") }
      }
    }
    out.put("queries", subset.asJava)
  }

  def check(dir: String): JMap[String, Any] = new JMap[String, Any]()
}
