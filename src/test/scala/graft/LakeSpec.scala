package graft

import graft.lake._

/** Lake-format unit tests: metadata round-trip, atomic commit discipline,
  * single-writer conflict detection (mirrors the reference's crash-safe
  * rename-aside writes, /root/reference/etl/steps/__init__.py:435-459). */
class LakeSpec extends SparkSpec {
  import spark.implicits._

  def fields = Seq(
    LakeField(1, "k", "string", nullable = false),
    LakeField(2, "v", "double"),
    LakeField(3, "_lsn", "bigint"),
    LakeField(4, "_deleted", "boolean"))

  test("metadata json round-trips exactly") {
    val m = TableMetadata(
      version = 3, numBuckets = 8, bucketColumn = "k",
      schemas = Seq(LakeSchema(1, fields), LakeSchema(2,
        fields.map(f => if (f.id == 2) f.copy(name = "v2") else f))),
      currentSchemaVersion = 2,
      currentSnapshotId = Some(7),
      snapshots = Seq(Snapshot(7, Some(6), "s", 4, 100, 200, 10, 2, 1, 2,
        Seq(DataFile("data/x.parquet", 3, 42, 1, "delta")),
        Map("up" -> 9L))),
      lwwColumn = Some("_lsn"), tombstoneColumn = Some("_deleted"))
    assert(LakeTable.parseMetadata(LakeTable.renderMetadata(m)) == m)
  }

  test("create/commit/version-hint swap; concurrent writer detected") {
    val t = new LakeTable(tmpDir("lake-a") + "/t")
    t.create(fields, 4, "k", Some("_lsn"), Some("_deleted"))
    assert(t.exists && t.metadata.version == 1)
    val m = t.metadata
    t.commit(m.copy(version = 2))
    assert(t.metadata.version == 2)
    // a second writer trying to commit the same next version must fail
    intercept[IllegalArgumentException] {
      t.commit(m.copy(version = 2))
    }
    // reader still sees a consistent table
    assert(t.metadata.version == 2)
  }

  test("empty table reads as empty with the declared schema") {
    val t = new LakeTable(tmpDir("lake-b") + "/t")
    t.create(fields, 4, "k", Some("_lsn"), Some("_deleted"))
    val df = t.read(spark)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("k", "v", "_lsn", "_deleted"))
  }

  test("time travel: any snapshot in the log is readable as-of") {
    val dir = tmpDir("lake-tt") + "/pages"
    val table = cdc.Engine.createPagesTable(dir, 2)
    def evd(lsn: Long, op: String, url: String) = graft.model.ChangeEvent(
      lsn, op, url, new java.sql.Timestamp(0), Array.emptyByteArray, s"t$lsn", "en")
    cdc.MergeApply(spark, table, Seq(evd(1, "I", "u1")).toDS.toDF, 0L)
    cdc.MergeApply(spark, table, Seq(evd(2, "I", "u2")).toDS.toDF, 1L)
    cdc.MergeApply(spark, table, Seq(evd(3, "D", "u1")).toDS.toDF, 2L)
    assert(table.read(spark).count() == 1) // current: u2 only
    assert(table.read(spark, asOfSnapshot = Some(1L)).count() == 1) // u1
    assert(table.read(spark, asOfSnapshot = Some(2L)).count() == 2) // u1,u2
    intercept[IllegalArgumentException] {
      table.read(spark, asOfSnapshot = Some(99L)).count()
    }
  }

  test("crash recovery: orphan data dir + uncommitted metadata are clobbered") {
    val dir = tmpDir("lake-crash") + "/pages"
    val table = cdc.Engine.createPagesTable(dir, 2)
    def evd(lsn: Long, url: String) = graft.model.ChangeEvent(
      lsn, "U", url, new java.sql.Timestamp(0), Array.emptyByteArray, s"t$lsn", "en")
    cdc.MergeApply(spark, table, Seq(evd(1, "u1")).toDS.toDF, 0L)

    // simulate a writer that died between data-write and hint-swap:
    // an orphan snap-2 data dir with junk + an orphan v3.metadata.json
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    val orphanData = new org.apache.hadoop.fs.Path(dir, "data/snap-2/_bucket=0")
    fs.mkdirs(orphanData)
    val junk = fs.create(new org.apache.hadoop.fs.Path(orphanData, "part-junk.parquet"), true)
    junk.write("not a parquet file".getBytes); junk.close()
    val orphanMeta = fs.create(
      new org.apache.hadoop.fs.Path(dir, "metadata/v3.metadata.json"), true)
    orphanMeta.write("{corrupt".getBytes); orphanMeta.close()

    // retry of the next batch must self-heal (overwrite both orphans)
    val stats = cdc.MergeApply(spark, table, Seq(evd(2, "u2")).toDS.toDF, 1L)
    assert(!stats.skipped && stats.inserted == 1)
    assert(table.read(spark).count() == 2)
    // stale/duplicate commit attempts are still rejected
    val m = table.metadata
    intercept[IllegalArgumentException] { table.commit(m.copy(version = m.version)) }
  }

  test("manifest indirection + retention bound metadata growth at 100+ batches") {
    val dir = tmpDir("lake-ret") + "/pages"
    val table = cdc.Engine.createPagesTable(dir, 2, retainSnapshots = 10)
    def evd(lsn: Long, url: String) = graft.model.ChangeEvent(
      lsn, "U", url, new java.sql.Timestamp(0), Array.emptyByteArray, s"t$lsn", "en")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    var sizeAt50 = 0L
    for (i <- 0 until 100) {
      cdc.MergeApply(spark, table, Seq(evd(i.toLong, s"u${i % 7}")).toDS.toDF,
        i.toLong, stepId = "cdc_ingest")
      if (i == 49) {
        val m = table.metadata
        sizeAt50 = fs.getFileStatus(new org.apache.hadoop.fs.Path(
          dir, s"metadata/v${m.version}.metadata.json")).getLen
      }
    }
    val m = table.metadata
    // snapshot log truncated to the retention window → metadata file size
    // is flat between batch 50 and batch 100 (strictly: within 20%)
    assert(m.snapshots.size == 10)
    val sizeAt100 = fs.getFileStatus(new org.apache.hadoop.fs.Path(
      dir, s"metadata/v${m.version}.metadata.json")).getLen
    assert(sizeAt100 <= (sizeAt50 * 1.2).toLong,
      s"metadata grew: $sizeAt50 -> $sizeAt100")
    // snapshot file lists live in manifests, not inline
    assert(m.snapshots.forall(_.manifestPath.isDefined))
    // expired snapshots' manifests are deleted; retained ones exist
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "metadata/manifest-1.json")))
    assert(m.snapshots.forall(s =>
      fs.exists(new org.apache.hadoop.fs.Path(dir, s.manifestPath.get))))
    // exactly-once ledger survives truncation: replaying batch 3 is a no-op
    val dup = cdc.MergeApply(spark, table, Seq(evd(3, "u3")).toDS.toDF, 3L,
      stepId = "cdc_ingest")
    assert(dup.skipped)
    // time travel still works inside the retention window
    val oldest = m.snapshots.head.snapshotId
    assert(table.read(spark, asOfSnapshot = Some(oldest)).count() == 7)
    // final state correct: 7 distinct urls
    assert(table.read(spark).count() == 7)
  }

  test("endurance: 600 commits — flat commit latency, flat metadata size, vacuum-bounded files") {
    import graft.lake.{DataFile, Snapshot}
    import org.apache.hadoop.fs.Path
    val dir = tmpDir("lake-endurance") + "/pages"
    val table = cdc.Engine.createPagesTable(dir, 2, retainSnapshots = 10)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    def touch(rel: String): Unit = {
      val out = fs.create(new Path(dir, rel), true); out.write(1); out.close()
    }
    // metadata-layer endurance: 600 snapshot commits with the real commit
    // path (manifest write, retention truncation, hint swap), MergeApply's
    // carry-forward file-list shape, a compaction every 10 batches, vacuum
    // every 50. Guards the O(batches) regressions: commit latency growing
    // with total batches, metadata file growing unboundedly, or dead files
    // accumulating on disk.
    val n = 600
    var carried = Seq.empty[DataFile]
    val latNanos = new Array[Long](n)
    var sizeAt100 = 0L
    for (i <- 0 until n) {
      val rel = s"data/snap-$i/_bucket=${i % 2}/part-0.parquet"
      touch(rel)
      val fresh = DataFile(rel, i % 2, 1L, 1)
      carried = if (i % 10 == 9) Seq(fresh) else carried :+ fresh // 10th commit ≈ compaction
      val m = table.metadata
      val snap = Snapshot(i.toLong, m.currentSnapshotId, "endurance", i.toLong,
        i.toLong, i.toLong, 1, 0, 0, m.currentSchemaVersion, carried)
      val t0 = System.nanoTime()
      table.commit(m.copy(
        version = m.version + 1,
        currentSnapshotId = Some(i.toLong),
        snapshots = m.snapshots :+ snap,
        lastBatch = m.lastBatch + ("endurance" -> i.toLong)))
      latNanos(i) = System.nanoTime() - t0
      if (i % 50 == 49) table.vacuum()
      if (i == 99) sizeAt100 = fs.getFileStatus(new Path(
        dir, s"metadata/v${table.metadata.version}.metadata.json")).getLen
    }
    // latency flat: median of commits 50-149 vs 500-599 (medians defeat the
    // host's contention spikes; an O(total-batches) commit would be ~6-10×)
    def median(a: Seq[Long]): Long = a.sorted.apply(a.size / 2)
    val early = median(latNanos.slice(50, 150).toSeq)
    val late = median(latNanos.slice(500, 600).toSeq)
    assert(late <= early * 3,
      f"commit latency grew: ${early / 1e6}%.2f ms -> ${late / 1e6}%.2f ms")
    info(f"commit latency median: batches 50-150 ${early / 1e6}%.2f ms, 500-600 ${late / 1e6}%.2f ms")
    // metadata file size flat after the retention window fills
    val mEnd = table.metadata
    assert(mEnd.snapshots.size == 10)
    val sizeAtEnd = fs.getFileStatus(new Path(
      dir, s"metadata/v${mEnd.version}.metadata.json")).getLen
    assert(sizeAtEnd <= (sizeAt100 * 1.25).toLong,
      s"metadata grew: $sizeAt100 -> $sizeAtEnd")
    // vacuum keeps the on-disk data-file count bounded by the live set of
    // the retained window (≤ ~20 here), not by total batches (600)
    table.vacuum()
    val it = fs.listFiles(new Path(dir, "data"), true)
    var nParquet = 0
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) nParquet += 1 }
    val liveCount = mEnd.snapshots.flatMap(table.filesOf).map(_.path).distinct.size
    assert(nParquet >= liveCount, // vacuum must NOT delete live files
      s"vacuum deleted live files: $nParquet on disk < $liveCount referenced")
    assert(nParquet <= 40, s"dead files accumulate: $nParquet on disk after vacuum")
    info(s"on-disk data files after 600 commits + vacuum: $nParquet")
    // the ledger and time travel survive 600 truncating commits
    assert(mEnd.isCommitted("endurance", 599L))
    assert(!mEnd.isCommitted("endurance", 600L))
    val oldest = mEnd.snapshots.head
    assert(table.filesOf(oldest).nonEmpty)
  }

  test("missing version hint recovers from the highest metadata file") {
    val dir = tmpDir("lake-hint") + "/pages"
    val table = cdc.Engine.createPagesTable(dir, 2)
    def evd(lsn: Long, url: String) = graft.model.ChangeEvent(
      lsn, "U", url, new java.sql.Timestamp(0), Array.emptyByteArray, "t", "en")
    cdc.MergeApply(spark, table, Seq(evd(1, "u1")).toDS.toDF, 0L)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    fs.delete(new org.apache.hadoop.fs.Path(dir, "metadata/version-hint.text"), false)
    // reader recovers; create() still refuses (no silent re-init over data)
    assert(table.exists)
    assert(table.read(spark).count() == 1)
    intercept[IllegalArgumentException] {
      table.create(fields, 2, "k")
    }
  }

  test("MOR read reconciles only delta keys; clean buckets pass through") {
    val dir = tmpDir("lake-mor-scope") + "/pages"
    val table = cdc.Engine.createPagesTable(dir, 4)
    def evd(lsn: Long, op: String, url: String) = graft.model.ChangeEvent(
      lsn, op, url, new java.sql.Timestamp(0), Array.emptyByteArray, s"t$lsn", "en")
    // big base (compacted), tiny delta touching 2 keys
    val base = (1 to 200).map(i => evd(i.toLong, "U", s"u$i"))
    cdc.MergeApply(spark, table, base.toDS.toDF, 0L, stepId = "cdc_ingest")
    cdc.MergeApply.compact(spark, table)
    cdc.MergeApply(spark, table,
      Seq(evd(1000, "U", "u17"), evd(1001, "D", "u42")).toDS.toDF,
      1L, stepId = "cdc_ingest")
    val got = table.read(spark)
    assert(got.count() == 199) // u42 deleted
    assert(got.filter($"url" === "u17").select("text").as[String].head() == "t1000")
    // stale base row for u17 is gone (reconciliation picked the delta row)
    assert(got.filter($"url" === "u17").count() == 1)
  }

  test("MOR delta-only fast path: no base files → direct max-LSN reconcile") {
    // a fresh table with ONLY delta commits (the q_cdc_merge shape) takes
    // the short plan — no delta-key distinct, no joins against empty base —
    // and must still LWW-reconcile across commits and filter tombstones
    val dir = tmpDir("lake-mor-deltaonly") + "/pages"
    val table = cdc.Engine.createPagesTable(dir, 4)
    def evd(lsn: Long, op: String, url: String) = graft.model.ChangeEvent(
      lsn, op, url, new java.sql.Timestamp(0), Array.emptyByteArray, s"t$lsn", "en")
    cdc.MergeApply(spark, table,
      Seq(evd(1, "U", "a"), evd(2, "U", "b"), evd(3, "U", "a")).toDS.toDF,
      0L, stepId = "cdc_ingest")
    cdc.MergeApply(spark, table,
      Seq(evd(10, "U", "a"), evd(11, "D", "b"), evd(12, "U", "c")).toDS.toDF,
      1L, stepId = "cdc_ingest")
    val got = table.read(spark).select("url", "text", "_lsn")
      .as[(String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("a", "t10", 10L), ("c", "t12", 12L))) // b tombstoned
    // the plan really is the short one: no anti join (untouchedBase branch)
    val plan = table.read(spark).queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti"), "delta-only read still plans the base anti join")
  }

  test("every data file is key-sorted: MOR, CoW, compaction and full-build writes") {
    import org.apache.spark.sql.functions.col
    def evd(lsn: Long, url: String) = graft.model.ChangeEvent(
      lsn, "U", url, new java.sql.Timestamp(0), Array.emptyByteArray, s"t$lsn", "en")
    val batch = (1 to 2000).map(i => evd(i.toLong, s"u${i * 7919 % 500}")).toDS.toDF
    val root = tmpDir("lake-sorted")
    val mor = cdc.Engine.createPagesTable(s"$root/mor", 8)
    cdc.MergeApply(spark, mor, batch, 0L)
    val deltas = mor.filesOf(mor.metadata.currentSnapshot.get)
    cdc.MergeApply.compact(spark, mor)
    val cow = cdc.Engine.createPagesTable(s"$root/cow", 8)
    cdc.MergeApply(spark, cow, batch, 0L, mode = cdc.MergeApply.CopyOnWrite)
    val dag = new graft.graph.StepDag(Seq(graft.graph.Step("data/keys", Nil, "v1",
      (s, _) => s.range(0, 2000).select(
        (col("id") * 7919 % 1000).cast("string").as("k"), col("id").as("v")))),
      s"$root/dag")
    dag.run(spark)
    def current(t: LakeTable) = t.filesOf(t.metadata.currentSnapshot.get).map(t -> _)
    val files = deltas.map(mor -> _) ++ current(mor) ++ current(cow) ++
      current(dag.table("data/keys"))
    assert(deltas.forall(_.kind == "delta") && deltas.size == 8 && files.size == 32)
    for ((t, f) <- files) {
      val keys = spark.read.parquet(t.absolute(f.path))
        .select(t.metadata.bucketColumn).as[String].collect().toSeq
      assert(keys.nonEmpty && keys == keys.sorted, s"${t.dir}/${f.path}")
    }
  }

  test("changesBetween: O(changes) incremental feed; replay reduces to table state") {
    import org.apache.spark.sql.functions.{max_by, struct}
    val dir = tmpDir("lake-changes") + "/pages"
    val table = cdc.Engine.createPagesTable(dir, 4)
    def evd(lsn: Long, op: String, url: String) = graft.model.ChangeEvent(
      lsn, op, url, new java.sql.Timestamp(0), Array.emptyByteArray, s"t$lsn", "en")
    cdc.MergeApply(spark, table,
      (1 to 50).map(i => evd(i.toLong, "U", s"u${i % 20}")).toDS.toDF,
      0L, stepId = "cdc_ingest")
    val snap1 = table.metadata.currentSnapshotId.get
    cdc.MergeApply.compact(spark, table) // physical only — must emit nothing
    cdc.MergeApply(spark, table,
      Seq(evd(100, "U", "u3"), evd(101, "D", "u7"), evd(102, "U", "u99")).toDS.toDF,
      1L, stepId = "cdc_ingest")
    val snapEnd = table.metadata.currentSnapshotId.get

    // window after snap1: compaction skipped, second batch's 3 changes only
    val tail = table.changesBetween(spark, snap1, snapEnd)
    val rows = tail.select("url", "_op", "_lsn", "_snapshot_id")
      .as[(String, String, Long, Long)].collect().sortBy(_._3)
    assert(rows.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq(("u3", "U", 100L), ("u7", "D", 101L), ("u99", "U", 102L)))
    assert(rows.map(_._4).distinct.length == 1) // all from the one MOR commit

    // full-window feed LWW-reduces to exactly the current table state
    val feed = table.changesBetween(spark, 0L, snapEnd)
    assert(feed.count() == 20 + 3) // batch-1 winners (20 keys) + 3 changes
    val reduced = feed
      .groupBy("url")
      .agg(max_by(struct($"_op", $"text", $"_lsn"), $"_lsn").as("w"))
      .filter($"w._op" =!= "D")
      .select($"url", $"w.text".as("text"))
    val state = table.read(spark).select("url", "text")
    assert(reduced.except(state).isEmpty && state.except(reduced).isEmpty)

    // empty window; bad window; COW commit rejected
    val emptyFeed = table.changesBetween(spark, snapEnd, snapEnd)
    assert(emptyFeed.count() == 0)
    assert(emptyFeed.schema == feed.schema) // one code path, one schema
    intercept[IllegalArgumentException] {
      table.changesBetween(spark, snapEnd + 5, snapEnd + 9)
    }
    cdc.MergeApply(spark, table, Seq(evd(200, "U", "u1")).toDS.toDF,
      2L, stepId = "cdc_ingest", mode = cdc.MergeApply.CopyOnWrite)
    intercept[IllegalArgumentException] {
      table.changesBetween(spark, snapEnd, table.metadata.currentSnapshotId.get)
    }
  }

  test("vacuum deletes only files unreferenced by retained snapshots; " +
      "manifests carry real per-file row counts") {
    val dir = tmpDir("lake-vac") + "/pages"
    val table = cdc.Engine.createPagesTable(dir, 2, retainSnapshots = 2)
    def evd(lsn: Long, url: String) = graft.model.ChangeEvent(
      lsn, "U", url, new java.sql.Timestamp(0), Array.emptyByteArray, s"t$lsn", "en")
    // a session cap of one row per file must not split a bucket: the writer
    // makes exactly one file per bucket, whatever the session sets
    val cap = "spark.sql.files.maxRecordsPerFile"
    val prevCap = spark.conf.getOption(cap)
    spark.conf.set(cap, "1")
    try {
      for (i <- 0 until 6)
        cdc.MergeApply(spark, table, Seq(evd(i.toLong, s"u${i % 3}")).toDS.toDF,
          i.toLong, stepId = "cdc_ingest")
      // six urls in one batch: some bucket of the two gets ≥ 3 rows
      cdc.MergeApply(spark, table, (3 until 9).map(j => evd(100L + j, s"u$j")).toDS.toDF,
        6L, stepId = "cdc_ingest")
      cdc.MergeApply.compact(spark, table)
    } finally prevCap.fold(spark.conf.unset(cap))(spark.conf.set(cap, _))
    // per-partition lineage: one file per bucket, each with its real row count
    val files = table.filesOf(table.metadata.currentSnapshot.get)
    assert(files.groupBy(_.bucket).values.forall(_.size == 1), files)
    val perBucket = table.read(spark).groupBy(LakeTable.bucketOf($"url", 2)).count()
      .as[(Int, Long)].collect().toMap
    assert(perBucket.values.max >= 2)
    assert(files.map(f => f.bucket -> f.rows).toMap == perBucket)
    assert(files.map(_.rows).sum == 9) // 9 live urls after compaction
    // two more batches age the pre-compaction snapshots (which still carry
    // every delta file forward) out of the retention window → the old delta
    // files become unreferenced garbage
    for (i <- 7 until 9)
      cdc.MergeApply(spark, table, Seq(evd(i.toLong, s"u${i % 3}")).toDS.toDF,
        i.toLong, stepId = "cdc_ingest")
    def state() = table.read(spark).select("url", "text")
      .as[(String, String)].collect().sorted.toSeq
    val before = state()
    val deleted = table.vacuum()
    assert(deleted > 0) // pre-compaction deltas outside the retention window
    assert(state() == before)
    // every retained snapshot is still fully readable after vacuum
    table.metadata.snapshots.foreach { s =>
      table.read(spark, asOfSnapshot = Some(s.snapshotId)).count()
    }
  }

  test("interleaved reader during commits sees only committed snapshots") {
    val dir = tmpDir("lake-c") + "/pages"
    val table = cdc.Engine.createPagesTable(dir, 2)
    val reader = new LakeTable(dir)
    def evd(lsn: Long, url: String) = graft.model.ChangeEvent(
      lsn, "U", url, new java.sql.Timestamp(0), Array.emptyByteArray, "t", "en")
    for (i <- 0 until 5) {
      val before = reader.metadata.currentSnapshotId
      cdc.MergeApply(spark, table,
        Seq(evd(i.toLong, s"u$i")).toDS.toDF, i.toLong)
      val after = reader.metadata.currentSnapshotId
      assert(after.exists(a => a == before.getOrElse(0L) + 1))
      assert(reader.read(spark).count() == i + 1)
    }
  }

  private def pageEvent(lsn: Long, url: String) = graft.model.ChangeEvent(
    lsn, "U", url, new java.sql.Timestamp(0), Array.emptyByteArray, s"t$lsn", "en")

  /** A MOR commit, a CoW commit, a compaction and a vacuum on a fresh
    * two-bucket table at `dir`. */
  private def commitPath(dir: String): Unit = {
    val table = cdc.Engine.createPagesTable(dir, 2, retainSnapshots = 1)
    cdc.MergeApply(spark, table, Seq(pageEvent(1, "u1"), pageEvent(2, "u2")).toDS.toDF, 0L)
    cdc.MergeApply(spark, table, Seq(pageEvent(3, "u1")).toDS.toDF, 1L,
      mode = cdc.MergeApply.CopyOnWrite)
    cdc.MergeApply.compact(spark, table)
    assert(table.vacuum() > 0)
    assert(table.read(spark).count() == 2)
  }

  test("lake I/O starts no child process: MOR and CoW commits, compaction, vacuum") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    // without libhadoop, Hadoop's local FS forks chmod on every create and
    // mkdirs, ls -ld when a listing reads permissions, and readlink in
    // FileContext's overwrite rename; the commands name the paths
    val base = tmpDir("lake-nofork")
    val name = java.nio.file.Paths.get(base).getFileName.toString
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try commitPath(base + "/pages")
    finally rec.stop()
    val out = java.nio.file.Files.createTempFile("lake-nofork", ".jfr")
    rec.dump(out)
    rec.close()
    val commands = RecordingFile.readAllEvents(out).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    java.nio.file.Files.delete(out)
    val forked = commands.filter(_.contains(name))
    assert(forked.isEmpty, s"${forked.size} child processes, e.g. ${forked.take(3)}")
  }

  test("lake files are 0644 and directories 0755; LocalFs sets any mode") {
    import java.nio.file.{Files, Path => JPath}
    import java.nio.file.attribute.PosixFilePermissions.{toString => mode}
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("lake-modes") + "/pages"
    commitPath(dir)
    val all = Files.walk(java.nio.file.Paths.get(dir)).iterator.asScala.toSeq
    def modes(ps: Seq[JPath]) = ps.map(p => mode(Files.getPosixFilePermissions(p))).toSet
    val (dirs, files) = all.partition(Files.isDirectory(_))
    val names = files.map(_.getFileName.toString)
    assert(names.exists(_.endsWith(".parquet")) && names.exists(_.startsWith("manifest-")) &&
      names.exists(_.endsWith(".metadata.json")) && names.contains("version-hint.text"))
    assert(modes(files) == Set("rw-r--r--"))
    assert(modes(dirs) == Set("rwxr-xr-x"))
    // setPermission maps every mode bit, not only the defaults
    val fs = new LocalFs
    fs.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    val f = new org.apache.hadoop.fs.Path(tmpDir("lake-chmod"), "f")
    fs.create(f).close()
    for (m <- Seq("640", "600", "711", "457", "000")) {
      val p = new org.apache.hadoop.fs.permission.FsPermission(m)
      fs.setPermission(f, p)
      assert(modes(Seq(java.nio.file.Paths.get(f.toUri.getPath))) == Set(p.toString), m)
    }
  }

  test("an explicitly configured file: file system still sees the lake's own I/O") {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    val before = CountingLocalFs.creates.get
    val t = new LakeTable(tmpDir("lake-explicit") + "/t", conf)
    t.create(fields, 2, "k", Some("_lsn"), Some("_deleted"))
    t.commit(t.metadata.copy(version = 2))
    // create: metadata + hint tmp; commit: the same again
    assert(CountingLocalFs.creates.get - before >= 4)
  }

  test("version-hint swap: hint and checksum read back, no temp file left") {
    val dir = tmpDir("lake-swap") + "/pages"
    val table = cdc.Engine.createPagesTable(dir, 2)
    for (i <- 0 until 3)
      cdc.MergeApply(spark, table, Seq(pageEvent(i.toLong, s"u$i")).toDS.toDF, i.toLong)
    // the stock local FS verifies the .crc on read
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val meta = new org.apache.hadoop.fs.Path(dir, "metadata")
    val in = fs.open(new org.apache.hadoop.fs.Path(meta, "version-hint.text"))
    val hint = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    assert(hint == table.metadata.version.toString && hint == "4")
    val names = new java.io.File(meta.toUri.getPath).list().toSeq
    assert(names.contains(".version-hint.text.crc"))
    // neither `.version-hint.<n>.tmp` nor its `..version-hint.<n>.tmp.crc`
    assert(!names.exists(n => n.contains(".version-hint.") && n.endsWith(".tmp") ||
      n.endsWith(".tmp.crc")), names)
  }
}

/** A local file system that counts creates: stands for an instrumented or
  * fault-injecting `fs.file.impl`. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def create(f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    CountingLocalFs.creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingLocalFs {
  val creates = new java.util.concurrent.atomic.AtomicLong()
}
