package graft

import graft.cdc._
import graft.lake.LakeTable
import graft.ops.Checksums
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end CDC slice (SURVEY.md §7.2): synthetic WAL → merge-apply →
  * final state equals an independent max-by-LSN reduction; exactly-once on
  * duplicate batch; deletes drop rows; late events are discarded; extracted
  * text matches golden bytes.
  *
  * Mirrors the reference's replay/crash tests
  * (/root/reference/tests/test_steps.py:64-120) and checksum-skip
  * (/root/reference/etl/grapher/to_db.py:217-220).
  */
class CdcSpec extends SparkSpec {

  val pageCols = Seq("url", "warc_ts", "html", "text", "lang", "_lsn")

  def checksum(df: DataFrame): Long = Checksums.tableChecksum(
    df.withColumn("html", sha2(col("html"), 256)), pageCols)

  test("replay: merge-apply over 3 batches equals independent reduction") {
    val cfg = EventGen.Config(nEvents = 30000, nUrls = 2000, nDomains = 40,
      seed = 7, parallelism = 4)
    val walDir = tmpDir("wal")
    val segs = EventGen.writeWalSegments(spark, cfg, walDir, 3)
    val table = Engine.createPagesTable(tmpDir("lake") + "/pages", numBuckets = 8)

    val stats = Engine.replaySegments(spark, segs, table)
    assert(stats.map(_.skipped) == Seq(false, false, false))

    val got = table.read(spark)
    val want = Engine.goldenFinalState(
      spark.read.schema(Engine.eventSchema).parquet(walDir + "/*"))
    assert(got.count() == want.count())
    assert(checksum(got) == checksum(want))
  }

  test("exactly-once: re-applying a committed batch changes nothing") {
    val cfg = EventGen.Config(nEvents = 5000, nUrls = 500, seed = 11, parallelism = 4)
    val walDir = tmpDir("wal2")
    val segs = EventGen.writeWalSegments(spark, cfg, walDir, 2)
    val table = Engine.createPagesTable(tmpDir("lake2") + "/pages", numBuckets = 4)
    Engine.replaySegments(spark, segs, table)
    val before = checksum(table.read(spark))
    val versionBefore = table.metadata.version

    // re-deliver batch 1 from the SAME producer (stepId): idempotent no-op.
    // Dedup keys on (stepId, batchId) — Delta's txnAppId+txnVersion pattern —
    // so a different step re-using batchId 1 would NOT be skipped.
    val dup = MergeApply(spark, table,
      spark.read.schema(Engine.eventSchema).parquet(segs(1)), batchId = 1L,
      stepId = "cdc_ingest")
    assert(dup.skipped)
    assert(table.metadata.version == versionBefore)
    assert(checksum(table.read(spark)) == before)

    // an older batchId from the same producer is also a no-op (monotonic
    // high-watermark), and a NEW batchId from a different step applies
    val dup0 = MergeApply(spark, table,
      spark.read.schema(Engine.eventSchema).parquet(segs(0)), batchId = 0L,
      stepId = "cdc_ingest")
    assert(dup0.skipped)
  }

  import spark.implicits._
  private val ts0 = new java.sql.Timestamp(0L)
  private def ev(lsn: Long, op: String, url: String, text: String) =
    graft.model.ChangeEvent(lsn, op, url, ts0, Array.emptyByteArray, text, "en")

  test("LWW (copy-on-write): highest LSN wins; delete tombstones; late discarded") {
    val b0 = Seq(
      ev(1, "I", "u1", "v1"), ev(2, "U", "u1", "v2"),
      ev(3, "I", "u2", "w1"), ev(4, "I", "u3", "x1")).toDS.toDF
    val b1 = Seq(
      ev(5, "D", "u2", null), // delete existing
      ev(0, "U", "u1", "stale"), // late event, lower LSN than applied (2)
      ev(6, "U", "u3", "x2"),
      ev(7, "D", "u9", null) // delete of never-seen key → tombstone only
    ).toDS.toDF

    val table = Engine.createPagesTable(tmpDir("lake3") + "/pages", numBuckets = 4)
    val s0 = MergeApply(spark, table, b0, 0L, mode = MergeApply.CopyOnWrite)
    assert(s0.inserted == 3 && s0.updated == 0 && s0.deleted == 0)
    val s1 = MergeApply(spark, table, b1, 1L, mode = MergeApply.CopyOnWrite)
    assert(s1.deleted == 1 && s1.updated == 1 && s1.keptLate == 1)

    val out = table.read(spark).select("url", "text", "_lsn")
      .as[(String, String, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(("u1", "v2", 2L), ("u3", "x2", 6L)))

    // against tombstones: an upsert above one resurrects its key (an
    // insert), one below it is late; a live key is deleted; a new key
    val b2 = Seq(
      ev(8, "U", "u2", "w2"), // over u2's lsn-5 tombstone
      ev(3, "U", "u9", "zombie"), // under u9's lsn-7 tombstone
      ev(9, "D", "u3", null),
      ev(10, "I", "u4", "y1")).toDS.toDF
    val s2 = MergeApply(spark, table, b2, 2L, mode = MergeApply.CopyOnWrite)
    assert((s1.inserted, s1.updated, s1.deleted, s1.keptLate) == ((0L, 1L, 1L, 1L)))
    assert((s2.inserted, s2.updated, s2.deleted, s2.keptLate) == ((2L, 0L, 1L, 1L)))
    val out2 = table.read(spark).select("url", "text", "_lsn")
      .as[(String, String, Long)].collect().sortBy(_._1)
    assert(out2.toSeq == Seq(("u1", "v2", 2L), ("u2", "w2", 8L), ("u4", "y1", 10L)))
  }

  test("tombstones guard against lower-LSN events in LATER batches (both modes)") {
    // batch0 carries the delete (lsn 5); batch1 carries an older update
    // (lsn 3) — the final state must stay deleted (max-LSN reduction)
    val b0 = Seq(ev(1, "I", "u1", "v1"), ev(5, "D", "u1", null)).toDS.toDF
    val b1 = Seq(ev(3, "U", "u1", "zombie")).toDS.toDF
    for (mode <- Seq(MergeApply.CopyOnWrite, MergeApply.MergeOnRead)) {
      val table = Engine.createPagesTable(
        tmpDir(s"lake-ts-$mode") + "/pages", numBuckets = 2)
      MergeApply(spark, table, b0, 0L, mode = mode)
      MergeApply(spark, table, b1, 1L, mode = mode)
      assert(table.read(spark).count() == 0, s"mode=$mode")
      // compaction (keeping tombstones) must not change visible state
      MergeApply.compact(spark, table)
      assert(table.read(spark).count() == 0, s"mode=$mode after compact")
    }
  }

  test("merge-on-read ≡ copy-on-write ≡ golden, with mid-replay compaction") {
    val cfg = EventGen.Config(nEvents = 12000, nUrls = 800, seed = 31,
      deleteRatio = 0.15, parallelism = 4)
    val walDir = tmpDir("wal-mor")
    val segs = EventGen.writeWalSegments(spark, cfg, walDir, 4)
    val events = spark.read.schema(Engine.eventSchema).parquet(walDir + "/*")
    val want = checksum(Engine.goldenFinalState(events))

    val mor = Engine.createPagesTable(tmpDir("lake-mor") + "/pages", 4)
    Engine.replaySegments(spark, segs, mor,
      mode = MergeApply.MergeOnRead, compactEvery = 2)
    assert(checksum(mor.read(spark)) == want)

    // compaction folds deltas into base files; state unchanged
    MergeApply.compact(spark, mor)
    val m = mor.metadata
    assert(mor.filesOf(m.currentSnapshot.get).forall(_.kind == "base"))
    assert(checksum(mor.read(spark)) == want)

    val cow = Engine.createPagesTable(tmpDir("lake-cow") + "/pages", 4)
    Engine.replaySegments(spark, segs, cow, mode = MergeApply.CopyOnWrite)
    assert(checksum(cow.read(spark)) == want)
  }

  test("copy-on-write over merge-on-read deltas equals the golden state; touched buckets go base-only") {
    val cfg = EventGen.Config(nEvents = 6000, nUrls = 400, seed = 41,
      deleteRatio = 0.1, parallelism = 4)
    val walDir = tmpDir("wal-mixed")
    val segs = EventGen.writeWalSegments(spark, cfg, walDir, 3)
    val events = spark.read.schema(Engine.eventSchema).parquet(walDir + "/*")
    val t = Engine.createPagesTable(tmpDir("lake-mixed") + "/pages", numBuckets = 8)
    Engine.replaySegments(spark, segs.take(2), t, mode = MergeApply.MergeOnRead)
    assert(t.filesOf(t.metadata.currentSnapshot.get).exists(_.kind == "delta"))
    MergeApply(spark, t, spark.read.schema(Engine.eventSchema).parquet(segs(2)), 2L,
      mode = MergeApply.CopyOnWrite)
    assert(checksum(t.read(spark)) == checksum(Engine.goldenFinalState(events)))
    val touched = spark.read.schema(Engine.eventSchema).parquet(segs(2))
      .select(LakeTable.bucketOf(col("url"), 8)).distinct().as[Int].collect().toSet
    val files = t.filesOf(t.metadata.currentSnapshot.get)
    assert(touched.nonEmpty)
    for (b <- touched)
      assert(files.filter(_.bucket == b).map(_.kind).distinct == Seq("base"), s"bucket $b")
  }

  test("MOR in-partition dedup equals the golden state, before and after compaction") {
    val cfg = EventGen.Config(nEvents = 6000, nUrls = 400, seed = 78,
      deleteRatio = 0.1, parallelism = 4)
    val walDir = tmpDir("wal-inpart")
    val segs = EventGen.writeWalSegments(spark, cfg, walDir, 3)
    val events = spark.read.schema(Engine.eventSchema).parquet(walDir + "/*")
    val want = checksum(Engine.goldenFinalState(events))
    val t = Engine.createPagesTable(tmpDir("lake-inpart") + "/pages", 4)
    Engine.replaySegments(spark, segs, t, mode = MergeApply.MergeOnRead)
    assert(checksum(t.read(spark)) == want)
    MergeApply.compact(spark, t)
    assert(checksum(t.read(spark)) == want)
  }

  test("compaction of base files plus two deltas equals the golden state, one row per key") {
    val b0 = Seq(ev(1, "I", "k", "k1"), ev(3, "U", "late", "l3"), ev(4, "I", "gone", "g4"),
      ev(5, "I", "stay", "s5"))
    val b1 = Seq(ev(6, "U", "k", "k6"), ev(7, "D", "gone", null), ev(8, "U", "new", "n8"))
    // a late event below the base row's LSN, and the key's third version
    val b2 = Seq(ev(2, "U", "late", "stale"), ev(9, "U", "k", "k9"), ev(10, "U", "new", "n10"))
    val t = Engine.createPagesTable(tmpDir("lake-compact3") + "/pages", numBuckets = 2)
    MergeApply(spark, t, b0.toDS.toDF, 0L)
    MergeApply.compact(spark, t) // the base files
    MergeApply(spark, t, b1.toDS.toDF, 1L)
    MergeApply(spark, t, b2.toDS.toDF, 2L)
    val kinds = t.filesOf(t.metadata.currentSnapshot.get).map(_.kind)
    assert(kinds.contains("base") && kinds.count(_ == "delta") >= 2)
    MergeApply.compact(spark, t)
    val files = t.filesOf(t.metadata.currentSnapshot.get)
    assert(files.forall(_.kind == "base"))
    val golden = Engine.goldenFinalState((b0 ++ b1 ++ b2).toDS.toDF)
    assert(checksum(t.read(spark)) == checksum(golden))
    // the rewritten files hold one row per key, the tombstone included
    val raw = t.readRaw(spark, t.metadata, files)
    assert(raw.count() == 5 && raw.select("url").distinct().count() == 5)
    assert(files.map(_.rows).sum == 5)
    assert(t.read(spark).select("url", "text").as[(String, String)].collect().sorted.toSeq ==
      Seq(("k", "k9"), ("late", "l3"), ("new", "n10"), ("stay", "s5")))
  }

  test("compact(purgeTombstones): a winning tombstone removes its key's older base row") {
    val t = Engine.createPagesTable(tmpDir("lake-purge") + "/pages", numBuckets = 2)
    MergeApply(spark, t, Seq(ev(1, "I", "x", "x1"), ev(2, "I", "y", "y2")).toDS.toDF, 0L)
    MergeApply.compact(spark, t) // x lives in a base file
    MergeApply(spark, t, Seq(ev(5, "D", "x", null), ev(6, "D", "z", null)).toDS.toDF, 1L)
    MergeApply.compact(spark, t, purgeTombstones = true)
    val files = t.filesOf(t.metadata.currentSnapshot.get)
    assert(files.forall(_.kind == "base"))
    // the tombstones are gone from the files, and x's base row with them
    val raw = t.readRaw(spark, t.metadata, files).select("url", "_lsn", "_deleted")
      .as[(String, Long, Boolean)].collect().toSeq
    assert(raw == Seq(("y", 2L, false)))
    assert(t.read(spark, includeTombstones = true).select("url").as[String].collect().toSeq ==
      Seq("y"))
  }

  /** The feed over every commit of `t` is exact against the WAL segments
    * `segs` applied as commits 1..n: one row per (url, commit whose segment
    * holds the url), carrying that segment's max LSN for the url; and its
    * max-LSN reduction equals the table state. */
  def assertExactFeed(t: graft.lake.LakeTable, segs: Seq[DataFrame]): Unit = {
    import org.apache.spark.sql.functions.{col, max, max_by, struct}
    val feed = t.changesBetween(spark, 0L, t.metadata.currentSnapshotId.get)
    val got = feed.select("url", "_snapshot_id", "_lsn")
      .as[(String, Long, Long)].collect()
    val want = segs.zipWithIndex.flatMap { case (seg, i) =>
      seg.groupBy("url").agg(max("lsn")).as[(String, Long)].collect()
        .map { case (url, lsn) => (url, i + 1L, lsn) }
    }
    assert(got.length == want.length) // no key twice within a commit
    assert(got.toSet == want.toSet)
    val reduced = feed.groupBy("url")
      .agg(max_by(struct(col("_op"), col("text"), col("_lsn")), col("_lsn")).as("w"))
      .filter(col("w._op") =!= "D")
      .select(col("url"), col("w.text").as("text"))
    val state = t.read(spark).select("url", "text")
    assert(reduced.except(state).isEmpty && state.except(reduced).isEmpty)
  }

  test("MOR change feed is exact: one row per (key, commit); reduces to the table") {
    val cfg = EventGen.Config(nEvents = 6000, nUrls = 400, seed = 79,
      deleteRatio = 0.1, parallelism = 4)
    val walDir = tmpDir("wal-exactfeed")
    val segs = EventGen.writeWalSegments(spark, cfg, walDir, 3)
    val events = spark.read.schema(Engine.eventSchema).parquet(walDir + "/*")
    val want = checksum(Engine.goldenFinalState(events))
    val t = Engine.createPagesTable(tmpDir("lake-exactfeed") + "/pages", 4)
    Engine.replaySegments(spark, segs, t, mode = MergeApply.MergeOnRead)
    assert(checksum(t.read(spark)) == want)
    assertExactFeed(t, segs.map(spark.read.schema(Engine.eventSchema).parquet(_)))
    MergeApply.compact(spark, t)
    assert(checksum(t.read(spark)) == want)
  }

  test("key flood (95% on one url): MOR and CoW state golden, MOR feed exact") {
    // the first MOR batch runs the plain plan; its events per written key
    // engage the pre-drop memo, so the second drops the losers first
    val n = 4000
    val evs = (1 to n).map(i => ev(i.toLong, if (i % 13 == 0) "D" else "U",
      if (i % 20 != 0) "hot" else s"u${i % 60}", s"t$i"))
    val batches = evs.grouped(n / 2).map(_.toDS.toDF).toSeq
    val golden = checksum(Engine.goldenFinalState(evs.toDS.toDF))
    for (mode <- Seq(MergeApply.MergeOnRead, MergeApply.CopyOnWrite)) {
      val dir = tmpDir(s"lake-flood-$mode") + "/pages"
      val table = Engine.createPagesTable(dir, numBuckets = 4)
      batches.zipWithIndex.foreach { case (b, i) =>
        MergeApply(spark, table, b, i.toLong, mode = mode)
        assert(MergeApply.floodPreDrop(dir) == (mode == MergeApply.MergeOnRead),
          s"mode=$mode")
      }
      assert(checksum(table.read(spark)) == golden, s"mode=$mode")
      if (mode == MergeApply.MergeOnRead) assertExactFeed(table, batches)
    }
  }

  test("property: any batch split of the same log converges to the golden state") {
    val rnd = new scala.util.Random(97)
    val n = 600
    val evs = (0 until n).map { i =>
      val url = s"u${rnd.nextInt(60)}"
      val op = rnd.nextInt(10) match { case 0 | 1 => "D"; case 2 => "I"; case _ => "U" }
      ev(i.toLong, op, url, s"t$i")
    }
    // shuffle events across batches arbitrarily (NOT LSN-contiguous): the
    // tombstone+LWW design must still converge
    val shuffled = rnd.shuffle(evs)
    val cuts = Seq(0, 150, 360, n)
    val golden = checksum(Engine.goldenFinalState(evs.toDS.toDF))
    for (mode <- Seq(MergeApply.CopyOnWrite, MergeApply.MergeOnRead)) {
      val table = Engine.createPagesTable(
        tmpDir(s"lake-prop-$mode") + "/pages", numBuckets = 4)
      cuts.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
        MergeApply(spark, table, shuffled.slice(a, b).toDS.toDF, i.toLong,
          mode = mode)
      }
      assert(checksum(table.read(spark)) == golden, s"mode=$mode")

      // change-feed property (MOR): the full-window feed, LWW-reduced
      // (tombstone-aware), equals the table state under the SAME arbitrary
      // split — the downstream-incremental-consumer correctness contract
      if (mode == MergeApply.MergeOnRead) {
        import org.apache.spark.sql.functions.{col, max_by, struct}
        val feed = table.changesBetween(spark, 0L,
          table.metadata.currentSnapshotId.get)
        val reduced = feed.groupBy("url")
          .agg(max_by(struct(col("_op"), col("text"), col("_lsn")), col("_lsn")).as("w"))
          .filter(col("w._op") =!= "D")
          .select(col("url"), col("w.text").as("text"))
        val state = table.read(spark).select("url", "text")
        assert(reduced.except(state).isEmpty && state.except(reduced).isEmpty)
      }
    }
  }

  test("per-url invariant: extractText(html) == text byte-identically") {
    import spark.implicits._
    val cfg = EventGen.Config(nEvents = 2000, nUrls = 300, seed = 3, parallelism = 4)
    val events = EventGen.events(spark, cfg)
    val bad = events
      .map(e => (e.url,
        graft.functions.TextExtract.extractText(e.html) == e.text))
      .filter(!_._2)
      .count()
    assert(bad == 0L)
    // the Column form (the extract_text UDF over binary html) agrees
    val udfText = graft.functions.TextExtract.extract_text($"html")
    assert(events.toDF.filter(udfText.isNull || udfText =!= $"text").count() == 0L)
  }

  test("streaming: file-source tail + foreachBatch reaches the same state") {
    val cfg = EventGen.Config(nEvents = 8000, nUrls = 600, seed = 23, parallelism = 4)
    val walDir = tmpDir("wal4")
    EventGen.writeWalSegments(spark, cfg, walDir, 4)
    val tableDir = tmpDir("lake4") + "/pages"
    val table = Engine.createPagesTable(tableDir, numBuckets = 4)
    val q = Engine.runStream(spark, walDir, tmpDir("ckpt4"), table,
      maxFilesPerTrigger = Some(8), compactEvery = 2, vacuumEvery = 2)
    q.awaitTermination()

    val want = Engine.goldenFinalState(
      spark.read.schema(Engine.eventSchema).parquet(walDir + "/*"))
    assert(checksum(table.read(spark)) == checksum(want))
    // in-stream vacuum kept on-disk files == the retained snapshots' live
    // set (continuous operation does not accumulate compaction garbage)
    val live = table.metadata.snapshots.flatMap(s => table.filesOf(s).map(_.path)).toSet
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(tableDir, "data"), true)
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet")) b += p.toUri.getPath
      }
      b.toSet
    }
    assert(onDisk.size == live.size)
  }

  test("checkpoint resume: restart mid-stream converges to the same state") {
    val cfg = EventGen.Config(nEvents = 8000, nUrls = 600, seed = 29, parallelism = 4)
    val walDir = tmpDir("wal5")
    val segs = EventGen.writeWalSegments(spark, cfg, walDir, 4)
    val ckpt = tmpDir("ckpt5")
    val table = Engine.createPagesTable(tmpDir("lake5") + "/pages", numBuckets = 4)

    // phase 1: only first two segments visible; stream drains and stops
    val staged = tmpDir("staged5")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    def stage(i: Int): Unit = fs.rename(
      new org.apache.hadoop.fs.Path(segs(i)),
      new org.apache.hadoop.fs.Path(s"$staged/segment-$i"))
    stage(2); stage(3)
    val q1 = Engine.runStream(spark, walDir, ckpt, table)
    q1.awaitTermination()
    val midCount = table.read(spark).count()
    assert(midCount > 0)

    // phase 2: remaining segments appear; resume from the same checkpoint
    fs.rename(new org.apache.hadoop.fs.Path(s"$staged/segment-2"),
      new org.apache.hadoop.fs.Path(segs(2)))
    fs.rename(new org.apache.hadoop.fs.Path(s"$staged/segment-3"),
      new org.apache.hadoop.fs.Path(segs(3)))
    val q2 = Engine.runStream(spark, walDir, ckpt, table)
    q2.awaitTermination()

    val want = Engine.goldenFinalState(
      spark.read.schema(Engine.eventSchema).parquet(walDir + "/*"))
    assert(checksum(table.read(spark)) == checksum(want))
  }

  test("schema evolution: add column + rename keeps old files readable") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    def ev(lsn: Long, op: String, url: String, text: String) =
      graft.model.ChangeEvent(lsn, op, url, ts, Array.emptyByteArray, text, "en")
    val table = Engine.createPagesTable(tmpDir("lake6") + "/pages", numBuckets = 4)
    MergeApply(spark, table,
      Seq(ev(1, "I", "u1", "t1"), ev(2, "I", "u2", "t2")).toDS.toDF, 0L)

    // add a column mid-log
    table.addColumn("fetch_status", "int")
    val b1 = Seq(ev(3, "U", "u2", "t2b"), ev(4, "I", "u3", "t3")).toDS.toDF
      .withColumn("fetch_status", lit(200))
    MergeApply(spark, table, b1, 1L)

    val afterAdd = table.read(spark)
      .select("url", "text", "fetch_status")
      .as[(String, String, Option[Int])].collect().sortBy(_._1)
    assert(afterAdd.toSeq == Seq(
      ("u1", "t1", None), ("u2", "t2b", Some(200)), ("u3", "t3", Some(200))))

    // rename text → body and back (FIXTURES.md F6): data files untouched
    table.renameColumn("text", "body")
    val r1 = table.read(spark).select("url", "body")
      .as[(String, String)].collect().sortBy(_._1)
    assert(r1.toSeq == Seq(("u1", "t1"), ("u2", "t2b"), ("u3", "t3")))
    table.renameColumn("body", "text")
    assert(table.read(spark).columns.contains("text"))

    // drop: field projected out, data untouched; re-adding the same name
    // gets a FRESH field id so old values never resurrect
    table.dropColumn("fetch_status")
    assert(!table.read(spark).columns.contains("fetch_status"))
    table.addColumn("fetch_status", "int")
    val resurrect = table.read(spark)
      .select("fetch_status").as[Option[Int]].collect()
    assert(resurrect.forall(_.isEmpty)) // all NULL, not 200
    // engine columns are protected
    intercept[IllegalArgumentException] { table.dropColumn("url") }
    intercept[IllegalArgumentException] { table.dropColumn("_lsn") }
  }

  test("change feed spans a schema change: multi-version single-scan, ID-remapped") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    def ev(lsn: Long, op: String, url: String, text: String) =
      graft.model.ChangeEvent(lsn, op, url, ts, Array.emptyByteArray, text, "en")
    val table = Engine.createPagesTable(tmpDir("lakefeed") + "/pages", numBuckets = 4)
    MergeApply(spark, table,
      Seq(ev(1, "U", "u1", "t1"), ev(2, "U", "u2", "t2")).toDS.toDF, 0L)
    table.addColumn("fetch_status", "int")
    MergeApply(spark, table,
      Seq(ev(3, "U", "u3", "t3"), ev(4, "D", "u1", "")).toDS.toDF
        .withColumn("fetch_status", lit(200)), 1L)
    val feed = table.changesBetween(spark, 0L,
        table.metadata.currentSnapshotId.get)
      .select("url", "_lsn", "_op", "_snapshot_id", "fetch_status")
      .as[(String, Long, String, Long, Option[Int])].collect().sortBy(_._2)
    // v1 rows surface with the evolved schema (fetch_status null), v2 rows
    // carry their value; _snapshot_id recovered per file from ONE scan pass
    assert(feed.toSeq == Seq(
      ("u1", 1L, "U", 1L, None), ("u2", 2L, "U", 1L, None),
      ("u3", 3L, "U", 2L, Some(200)), ("u1", 4L, "D", 2L, Some(200))))
  }

  test("flood pre-drop: a key-flood stream engages the MOR pre-drop; state stays golden") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    def ev(lsn: Long, url: String) =
      graft.model.ChangeEvent(lsn, "U", url, ts, Array.emptyByteArray, s"t$lsn", "en")
    // 95% of each batch hits ONE url → 2000 events over 101 written keys
    // ≈ 19.8 ≥ the threshold: the next batch drops the flood's losers
    // through the max-LSN aggregate and a broadcast semi join before the
    // delta write
    val n = 2000
    val b1 = (1 to n).map(i => ev(i.toLong, if (i % 20 != 0) "hot" else s"u$i"))
    val b2 = (n + 1 to 2 * n).map(i => ev(i.toLong, if (i % 20 != 0) "hot" else s"u$i"))
    val dir = tmpDir("flood") + "/pages"
    val table = Engine.createPagesTable(dir, numBuckets = 8)
    MergeApply(spark, table, b1.toDS.toDF, 0L) // observes the ratio
    assert(MergeApply.floodPreDropRatio(dir) == Some(n / 101.0)) // exact, not approx
    assert(MergeApply.floodPreDrop(dir)) // batch 2 runs the pre-drop
    MergeApply(spark, table, b2.toDS.toDF, 1L)
    val got = checksum(table.read(spark).select(pageCols.map(col): _*))
    val want = checksum(Engine.goldenFinalState((b1 ++ b2).toDS.toDF))
    assert(got == want)
  }
}
