package graft

import graft.graph.{Step, StepDag}
import org.apache.spark.sql.functions._

/** Step-DAG tests mirroring the reference's engine suite
  * (/root/reference/tests/test_steps.py: topo order :141-226, dirty
  * propagation :106-120). */
class DagSpec extends SparkSpec {
  import spark.implicits._

  def mkDag(store: String, codeB: String = "v1"): StepDag = {
    var runsA = 0
    new StepDag(Seq(
      Step("data/a", Nil, "v1", (s, _) => {
        import s.implicits._
        Seq(("k1", 1.0), ("k2", 2.0)).toDF("k", "v")
      }),
      Step("data/b", Seq("data/a"), codeB, (_, in) =>
        in("data/a").withColumn("v", col("v") * 10)),
      Step("data/c", Seq("data/b"), "v1", (_, in) =>
        in("data/b").groupBy("k").agg(sum("v").as("v")))
    ), store)
  }

  test("topological order and regex subgraph selection") {
    val dag = mkDag(tmpDir("dag1"))
    assert(dag.topoOrder() == Seq("data/a", "data/b", "data/c"))
    assert(dag.select("data/b") == Set("data/a", "data/b")) // upstream closure
    assert(dag.select("data/b", downstream = true) ==
      Set("data/a", "data/b", "data/c"))
  }

  test("dirty-only execution: second run skips everything") {
    val store = tmpDir("dag2")
    val dag = mkDag(store)
    val r1 = dag.run(spark)
    assert(r1.executed == Seq("data/a", "data/b", "data/c"))
    // each full build's manifest: one file per non-empty bucket, row counts
    // observed by the write summing to the step's rows
    for (id <- r1.executed) {
      val t = dag.table(id)
      val files = t.filesOf(t.metadata.currentSnapshot.get)
      val out = t.read(spark)
      val buckets = out.select(graft.lake.LakeTable.bucketOf($"k", t.metadata.numBuckets))
        .distinct().as[Int].collect().sorted.toSeq
      assert(files.map(_.bucket).sorted == buckets, id)
      assert(files.map(_.rows).sum == out.count(), id)
    }
    val r2 = dag.run(spark)
    assert(r2.executed.isEmpty && r2.skipped.size == 3)
    val out = dag.table("data/c").read(spark)
      .as[(String, Double)].collect().toMap
    assert(out == Map("k1" -> 10.0, "k2" -> 20.0))
  }

  test("code change marks the step and its downstream dirty") {
    val store = tmpDir("dag3")
    mkDag(store).run(spark)
    val dag2 = mkDag(store, codeB = "v2") // b's code changed
    val r = dag2.run(spark)
    assert(r.skipped == Seq("data/a"))
    assert(r.executed == Seq("data/b", "data/c")) // Merkle cascade
  }

  test("incremental step: consumes the change feed, matches full recompute") {
    import graft.graph.IncrementalSpec
    val store = tmpDir("dag-inc")
    // external CDC table, ingested outside the DAG (MOR commits)
    def evd(lsn: Long, op: String, url: String, text: String) =
      graft.model.ChangeEvent(lsn, op, url,
        new java.sql.Timestamp(0), Array.emptyByteArray, text, "en")
    val srcDir = s"$store/pages"
    val src = cdc.Engine.createPagesTable(srcDir, 4)
    cdc.MergeApply(spark, src,
      (1 to 40).map(i => evd(i.toLong, "U", s"u${i % 10}", s"w " * (i % 5 + 1))).toDS.toDF,
      0L, stepId = "cdc_ingest")

    var fullRuns = 0
    val tokenCount = Step("derived/tokens", Seq("pages"), "v1",
      run = (s, in) => {
        fullRuns += 1
        in("pages").select(col("url"),
          org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long").as("n_tok"),
          col("_lsn")) // per-row LWW seed (exact under out-of-order splits)
      },
      incremental = Some(IncrementalSpec.one("pages") { (s, feed, _) =>
        feed.select(
          col("_lsn").as("lsn"), col("_op").as("op"), col("url"),
          org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long").as("n_tok"))
      }))
    val dag = new StepDag(Seq(Step.external("pages"), tokenCount), store)

    // first build: full path (no output yet); external step never executes
    val r1 = dag.run(spark)
    assert(r1.executed == Seq("derived/tokens") && r1.skipped == Seq("pages"))
    assert(fullRuns == 1)
    // no upstream movement → clean
    assert(dag.run(spark).executed.isEmpty)

    // upstream moves: update u3, delete u7, insert u99 → INCREMENTAL path
    cdc.MergeApply(spark, src,
      Seq(evd(100, "U", "u3", "a b c"), evd(101, "D", "u7", ""),
        evd(102, "U", "u99", "x y")).toDS.toDF,
      1L, stepId = "cdc_ingest")
    val r2 = dag.run(spark)
    assert(r2.executed == Seq("derived/tokens"))
    assert(fullRuns == 1) // run() NOT invoked — change feed consumed instead
    val out = dag.table("derived/tokens").read(spark)
      .select("url", "n_tok").as[(String, Long)].collect().toMap
    assert(out("u3") == 3L && out("u99") == 2L)
    assert(!out.contains("u7")) // delete propagated as tombstone
    // incremental state ≡ full recompute over the current upstream
    val expected = src.read(spark)
      .select(col("url"), org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long").as("n_tok"))
      .as[(String, Long)].collect().toMap
    assert(out == expected)
    // converged again
    assert(dag.run(spark).executed.isEmpty)

    // a code change falls back to the FULL path
    val dag2 = new StepDag(Seq(Step.external("pages"),
      tokenCount.copy(codeVersion = "v2")), store)
    val r3 = dag2.run(spark)
    assert(r3.executed == Seq("derived/tokens") && fullRuns == 2)
  }

  test("an incremental run reads each table's metadata once, in its plan") {
    import graft.graph.IncrementalSpec
    import graft.lake.LakeTable
    val store = tmpDir("dag-reads")
    def evd(lsn: Long, url: String) = graft.model.ChangeEvent(lsn, "U", url,
      new java.sql.Timestamp(0), Array.emptyByteArray, "a b", "en")
    val src = cdc.Engine.createPagesTable(s"$store/pages", 4)
    cdc.MergeApply(spark, src, Seq(evd(1L, "u1")).toDS.toDF, 0L, stepId = "cdc_ingest")
    var fullRuns = 0
    val tokens = Step("derived/tokens", Seq("pages"), "v1",
      run = (_, in) => { fullRuns += 1; in("pages").select(col("url"), col("_lsn")) },
      incremental = Some(IncrementalSpec.one("pages") { (_, feed, _) =>
        feed.select(col("_lsn").as("lsn"), col("_op").as("op"), col("url"))
      }))
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val dag = new StepDag(Seq(Step.external("pages"), tokens), store) {
      private val counted = new java.util.concurrent.ConcurrentHashMap[String, LakeTable]()
      override def table(id: String): LakeTable = counted.computeIfAbsent(id, i =>
        new LakeTable(tableDir(i)) {
          override def metadata = { reads.incrementAndGet(); super.metadata }
        })
    }
    dag.run(spark)
    assert(fullRuns == 1)
    cdc.MergeApply(spark, src, Seq(evd(2L, "u2")).toDS.toDF, 1L, stepId = "cdc_ingest")
    reads.set(0)
    assert(dag.run(spark).executed == Seq("derived/tokens"))
    assert(fullRuns == 1) // the change feed was merged, not a full build
    assert(reads.get == 2) // the plan's: the step's table and the dep's
    assert(dag.table("derived/tokens").read(spark).count() == 2)
  }

  test("force rebuilds an incremental step in full, every time") {
    import graft.graph.IncrementalSpec
    val store = tmpDir("dag-force")
    val src = cdc.Engine.createPagesTable(s"$store/pages", 4)
    cdc.MergeApply(spark, src, Seq(graft.model.ChangeEvent(1L, "U", "u1",
        new java.sql.Timestamp(0), Array.emptyByteArray, "a b", "en")).toDS.toDF,
      0L, stepId = "cdc_ingest")
    var fullRuns = 0
    val tokens = Step("derived/tokens", Seq("pages"), "v1",
      run = (_, in) => { fullRuns += 1; in("pages").select(col("url"), col("_lsn")) },
      incremental = Some(IncrementalSpec.one("pages") { (_, feed, _) =>
        feed.select(col("_lsn").as("lsn"), col("_op").as("op"), col("url"))
      }))
    val dag = new StepDag(Seq(Step.external("pages"), tokens), store)
    dag.run(spark)
    assert(fullRuns == 1 && !dag.isDirty("derived/tokens"))
    for (n <- 2 to 3) {
      val before = dag.table("derived/tokens").metadata.currentSnapshotId.get
      assert(dag.run(spark, force = true).executed == Seq("derived/tokens"))
      assert(fullRuns == n) // the body ran: no empty feed merge, no ledger skip
      val snap = dag.table("derived/tokens").metadata.currentSnapshot.get
      assert(snap.snapshotId == before + 1 && snap.stepId == "derived/tokens")
    }
    assert(!dag.isDirty("derived/tokens"))
  }

  test("continuous materialized view: stream onBatch keeps the derived step in sync") {
    import graft.cdc.{Engine, EventGen}
    import graft.graph.IncrementalSpec
    val store = tmpDir("dag-stream")
    val cfg = EventGen.Config(nEvents = 6000, nUrls = 400, seed = 31, parallelism = 4)
    val walDir = tmpDir("dag-wal")
    EventGen.writeWalSegments(spark, cfg, walDir, 3)
    val src = Engine.createPagesTable(s"$store/pages", numBuckets = 4)

    var fullRuns = 0
    val tokens = Step("derived/tokens", Seq("pages"), "v1",
      run = (_, in) => { fullRuns += 1
        in("pages").select(col("url"),
          org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long").as("n_tok"),
          col("_lsn")) },
      incremental = Some(IncrementalSpec.one("pages") { (_, feed, _) =>
        feed.select(
          col("_lsn").as("lsn"), col("_op").as("op"), col("url"),
          org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long").as("n_tok"))
      }))
    val dag = new StepDag(Seq(graft.graph.Step.external("pages"), tokens), store)

    // every micro-batch commit triggers dag maintenance: the first batch is
    // the full seed build, every later batch is a change-feed increment
    val q = Engine.runStream(spark, walDir, tmpDir("dag-ckpt"), src,
      maxFilesPerTrigger = Some(4), compactEvery = 0,
      onBatch = _ => dag.run(spark))
    q.awaitTermination()

    assert(fullRuns == 1) // seeded once, then maintained incrementally
    val out = dag.table("derived/tokens").read(spark)
      .select("url", "n_tok").as[(String, Long)].collect().toMap
    val expected = src.read(spark)
      .select(col("url"),
        org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long").as("n_tok"))
      .as[(String, Long)].collect().toMap
    assert(out == expected && out.nonEmpty)
  }

  test("stale out-of-order feed events lose to the seeded full build") {
    import graft.graph.IncrementalSpec
    val store = tmpDir("dag-ooo")
    def evd(lsn: Long, op: String, url: String, text: String) =
      graft.model.ChangeEvent(lsn, op, url,
        new java.sql.Timestamp(0), Array.emptyByteArray, text, "en")
    val src = cdc.Engine.createPagesTable(s"$store/pages", 4)
    // upstream state: u5 carries LSN 35 (newer), u1 carries LSN 5 (older)
    cdc.MergeApply(spark, src,
      Seq(evd(35, "U", "u5", "newer five"), evd(5, "U", "u1", "one")).toDS.toDF,
      0L, stepId = "cdc_ingest")
    val step = Step("derived/text", Seq("pages"), "v1",
      run = (_, in) => in("pages").select(col("url"), col("text"), col("_lsn")),
      incremental = Some(IncrementalSpec.one("pages") { (_, feed, _) =>
        feed.select(col("_lsn").as("lsn"), col("_op").as("op"),
          col("url"), col("text"))
      }))
    val dag = new StepDag(Seq(Step.external("pages"), step), store)
    dag.run(spark) // full build: rows seeded at their upstream _lsn (35, 5)
    // out-of-order later batch: STALE event for u5 (lsn 20 < seeded 35) and
    // a genuinely newer event for u1 (lsn 20 > seeded 5)
    cdc.MergeApply(spark, src,
      Seq(evd(20, "U", "u5", "stale five"), evd(21, "U", "u1", "newer one")).toDS.toDF,
      1L, stepId = "cdc_ingest")
    dag.run(spark)
    val out = dag.table("derived/text").read(spark)
      .select("url", "text").as[(String, String)].collect().toMap
    // must equal a full recompute of the upstream's LWW state
    val expected = src.read(spark)
      .select("url", "text").as[(String, String)].collect().toMap
    assert(out == expected)
    assert(out("u5") == "newer five") // stale lsn-20 event lost
    assert(out("u1") == "newer one")  // newer lsn-21 event won
  }

  test("multi-upstream incremental: either side's change applies via its feed") {
    import graft.graph.IncrementalSpec
    val store = tmpDir("dag-multi")
    def evd(lsn: Long, op: String, url: String, text: String) =
      graft.model.ChangeEvent(lsn, op, url,
        new java.sql.Timestamp(0), Array.emptyByteArray, text, "en")
    val a = cdc.Engine.createPagesTable(s"$store/pages_a", 4)
    val b = cdc.Engine.createPagesTable(s"$store/pages_b", 4)
    cdc.MergeApply(spark, a,
      (1 to 10).map(i => evd(i.toLong, "U", s"a$i", "x " * i)).toDS.toDF,
      0L, stepId = "ingest_a")
    cdc.MergeApply(spark, b,
      (1 to 10).map(i => evd(i.toLong, "U", s"b$i", "y " * i)).toDS.toDF,
      0L, stepId = "ingest_b")
    var fullRuns = 0
    def tok(df: org.apache.spark.sql.DataFrame) = df.select(col("url"),
      org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long").as("n_tok"),
      col("_lsn"))
    def tokFeed(feed: org.apache.spark.sql.DataFrame) = feed.select(
      col("_lsn").as("lsn"), col("_op").as("op"), col("url"),
      org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long").as("n_tok"))
    // fact ⋈ fact shape: the derived table is the union of both upstreams'
    // token counts (urls disjoint); EITHER side's change feed maintains it
    val union = Step("derived/all_tokens", Seq("pages_a", "pages_b"), "v1",
      run = (_, in) => { fullRuns += 1
        tok(in("pages_a")).unionByName(tok(in("pages_b"))) },
      incremental = Some(IncrementalSpec(Seq("pages_a", "pages_b"),
        (_, feeds, _) => tokFeed(feeds("pages_a"))
          .unionByName(tokFeed(feeds("pages_b"))))))
    val dag = new StepDag(Seq(
      Step.external("pages_a"), Step.external("pages_b"), union), store)
    dag.run(spark)
    assert(fullRuns == 1)
    // A moves alone → incremental; B moves alone → incremental
    cdc.MergeApply(spark, a, Seq(evd(100, "U", "a3", "p q r")).toDS.toDF,
      1L, stepId = "ingest_a")
    assert(dag.run(spark).executed == Seq("derived/all_tokens") && fullRuns == 1)
    cdc.MergeApply(spark, b, Seq(evd(101, "D", "b7", "")).toDS.toDF,
      1L, stepId = "ingest_b")
    assert(dag.run(spark).executed == Seq("derived/all_tokens") && fullRuns == 1)
    val out = dag.table("derived/all_tokens").read(spark)
      .select("url", "n_tok").as[(String, Long)].collect().toMap
    val expected = tok(a.read(spark)).unionByName(tok(b.read(spark)))
      .select("url", "n_tok").as[(String, Long)].collect().toMap
    assert(out == expected)
    assert(out("a3") == 3L && !out.contains("b7"))
    assert(dag.run(spark).executed.isEmpty) // converged
  }

  test("INSTANT metadata-only update: sidecar re-stamped, zero data rewrite") {
    import graft.model.{TableMeta, VariableMeta}
    val store = tmpDir("dag-instant")
    def mk(metaV: String, title: String) = new StepDag(Seq(
      Step("data/a", Nil, "v1", (s, _) => {
        import s.implicits._
        Seq(("k1", 1.0), ("k2", 2.0)).toDF("k", "v")
      }, meta = Some(TableMeta("a", title = Some(title),
        fields = Map("v" -> VariableMeta(title = Some(title))))),
        metaVersion = metaV),
      Step("data/b", Seq("data/a"), "v1", (_, in) => in("data/a"))
    ), store)
    mk("m1", "Original").run(spark)
    // parsed snapshots list their files through the manifest (filesOf)
    def files(dag: StepDag) = {
      val t = dag.table("data/a")
      t.filesOf(t.metadata.currentSnapshot.get).map(_.path).toSet
    }
    val filesBefore = files(mk("m1", "Original"))
    assert(filesBefore.nonEmpty)
    assert(mk("m1", "Original").tableMeta(spark, "data/a")
      .get.title.contains("Original"))
    // metadata version bump: the step "executes" but only re-stamps
    val dag2 = mk("m2", "Edited")
    val r = dag2.run(spark)
    assert(r.executed.contains("data/a"))
    assert(files(dag2) == filesBefore) // ZERO new data files
    assert(dag2.tableMeta(spark, "data/a").get.title.contains("Edited"))
    // downstream saw a new snapshot id → Merkle cascade re-ran it
    assert(r.executed.contains("data/b"))
    // converged; same dag runs clean
    assert(dag2.run(spark).executed.isEmpty)
  }

  test("SUBSET dev filter: applied to external reads, part of the checksum") {
    import graft.graph.IncrementalSpec
    val store = tmpDir("dag-subset")
    def evd(lsn: Long, op: String, url: String, lang: String) =
      graft.model.ChangeEvent(lsn, op, url,
        new java.sql.Timestamp(0), Array.emptyByteArray, "t", lang)
    val src = cdc.Engine.createPagesTable(s"$store/pages", 4)
    cdc.MergeApply(spark, src,
      (1 to 10).map(i => evd(i.toLong, "U", s"u$i", if (i % 2 == 0) "en" else "fr"))
        .toDS.toDF, 0L, stepId = "cdc_ingest")
    def mk(subset: Option[String]) = new StepDag(Seq(
      Step.external("pages"),
      Step("derived/en", Seq("pages"), "v1",
        run = (_, in) => in("pages").select(col("url"), col("lang")))
    ), store, subset = subset)
    mk(Some("lang = 'en'")).run(spark)
    assert(mk(Some("lang = 'en'")).table("derived/en").read(spark).count() == 5)
    // toggling the filter changes the checksum → re-runs → full rows
    val r = mk(None).run(spark)
    assert(r.executed == Seq("derived/en"))
    assert(mk(None).table("derived/en").read(spark).count() == 10)
  }

  test("cycles and missing deps are rejected") {
    val bad = new StepDag(Seq(
      Step("x", Seq("y"), "v", (_, _) => null),
      Step("y", Seq("x"), "v", (_, _) => null)), tmpDir("dag4"))
    intercept[IllegalArgumentException] { bad.topoOrder() }
    val missing = new StepDag(Seq(
      Step("x", Seq("nope"), "v", (_, _) => null)), tmpDir("dag5"))
    intercept[IllegalArgumentException] { missing.topoOrder() }
  }

  test("continue-on-failure: diamond builds the healthy side, reports the broken one") {
    // command.py:779-827 — a failing step skips its downstream, independent
    // branches keep building, the report carries the failure
    val store = tmpDir("dag-cof")
    def mk(leftFails: Boolean) = new StepDag(Seq(
      Step("root", Nil, "v1", (s, _) => {
        import s.implicits._; Seq(("k1", 1.0)).toDF("k", "v")
      }),
      Step("left", Seq("root"), "v1", (_, in) =>
        if (leftFails) sys.error("boom: left is broken")
        else in("root").withColumn("v", col("v") * 2)),
      Step("right", Seq("root"), "v1", (_, in) =>
        in("root").withColumn("v", col("v") * 3)),
      Step("sink", Seq("left"), "v1", (_, in) => in("left"))
    ), store)

    val r = mk(leftFails = true).run(spark, continueOnFailure = true)
    assert(r.executed == Seq("root", "right"))
    assert(r.failed.map(_._1) == Seq("left"))
    assert(r.failed.head._2.contains("boom"))
    assert(r.skippedDownstreamOfFailed == Seq("sink"))
    // the healthy branch committed; the broken one (and its downstream) stay
    // dirty and build once fixed
    val r2 = mk(leftFails = false).run(spark, continueOnFailure = true)
    assert(r2.executed == Seq("left", "sink") && r2.failed.isEmpty)
    assert(r2.skipped.toSet == Set("root", "right"))
    // default behavior (no flag) still throws
    intercept[RuntimeException] {
      mk(leftFails = true).run(spark, force = true)
    }
  }

  test("full build captures dep snapshot ids BEFORE the step body runs") {
    // What's-wrong #2 (r4): a dep committing between plan-build and write
    // must be NEXT run's work — the lineage must never stamp a snapshot id
    // whose data was not read
    val store = tmpDir("dag-race")
    def commitDep(tag: String): Unit = new StepDag(Seq(
      Step("dep", Nil, s"v-$tag", (s, _) => {
        import s.implicits._; Seq(("k1", tag)).toDF("k", "v")
      })), store).run(spark, force = true)
    commitDep("first")
    var raced = false
    val racing = new StepDag(Seq(
      Step.external("dep"),
      Step("out", Seq("dep"), "v1", (s, in) => {
        // simulate a concurrent upstream commit mid-step-body (once)
        if (!raced) { raced = true; commitDep("second") }
        in("dep")
      })), store)
    val r = racing.run(spark)
    assert(r.executed.contains("out"))
    // the mid-body commit advanced dep's snapshot AFTER `out` captured its
    // ids → `out` must still be dirty (the new snapshot is unconsumed)
    assert(racing.isDirty("out"),
      "a dep snapshot committed mid-build must not be stamped consumed")
    val r2 = racing.run(spark)
    assert(r2.executed == Seq("out"))
    assert(!racing.isDirty("out"))
  }

  test("execution-time ledger: persisted per step, ETA with version fallback") {
    // command.py:921-952 `.execution_time.json`
    val store = tmpDir("dag-eta")
    val dag = mkDag(store)
    val r = dag.run(spark)
    assert(r.durations.keySet == Set("data/a", "data/b", "data/c"))
    assert(r.durations.values.forall(_ > 0))
    assert(dag.executionTimes.keySet == Set("data/a", "data/b", "data/c"))
    // clean DAG: nothing pending
    assert(dag.eta() == ((0.0, 0)))
    // force: all three pending, all with recorded times
    val (sec, unknown) = dag.eta(force = true)
    assert(unknown == 0 && sec > 0)
    // a NEW version of a recorded step estimates from the previous version
    // (identifier strips the second-to-last path segment: `2024/a` and
    // `data/a` share identifier `a`)
    assert(dag.estimatedTime("2024/a") == dag.estimatedTime("data/a"))
    assert(dag.estimatedTime("data/a").isDefined)
    assert(dag.estimatedTime("never/ran/step").isEmpty)
  }

  test("private steps: validation, exclusion by default, non-public sidecar") {
    // tests/test_steps.py:240-245 + command.py:1044-1060
    val store = tmpDir("dag-priv")
    // a PUBLIC step depending on a PRIVATE one is rejected at run time when
    // private steps are NOT requested (command.py:997-1002: 'Use --private
    // flag'), and unlocked by includePrivate — the reference-valid private
    // pipeline stays constructible
    val mixed = new StepDag(Seq(
      Step("secret", Nil, "v1", (s, _) => {
        import s.implicits._; Seq(1).toDF("v")
      }, isPrivate = true),
      Step("open", Seq("secret"), "v1", (_, in) => in("secret"))),
      tmpDir("dag-priv-mixed"))
    intercept[IllegalArgumentException] { mixed.run(spark) }
    intercept[IllegalArgumentException] { mixed.eta() }
    val rMixed = mixed.run(spark, includePrivate = true)
    assert(rMixed.executed == Seq("secret", "open"))
    // private may depend on public; runs only with includePrivate
    val dag = new StepDag(Seq(
      Step("pub", Nil, "v1", (s, _) => {
        import s.implicits._; Seq(("k1", 1.0)).toDF("k", "v")
      }),
      Step("secret", Seq("pub"), "v1", (_, in) => in("pub"),
        isPrivate = true)), store)
    val r1 = dag.run(spark)
    assert(r1.executed == Seq("pub") && !r1.order.contains("secret"))
    val r2 = dag.run(spark, includePrivate = true)
    assert(r2.executed == Seq("secret"))
    // the private output's sidecar is stamped non-public (DataStepPrivate)
    val meta = dag.tableMeta(spark, "secret")
    assert(meta.exists(!_.isPublic))
    assert(dag.tableMeta(spark, "pub").forall(_.isPublic))
  }

  test("graph walks stay fast on a 10k-step chain+fan DAG (indexed, O(V+E))") {
    // a deep chain with a wide fan at the end — the shape that makes the
    // naive per-dequeue full scan quadratic. Loose wall bound: the indexed
    // walks finish in well under a second; the old O(V^2) spelling took
    // tens of seconds here.
    val chain = (0 until 5000).map { i =>
      Step(f"chain/$i%05d", if (i == 0) Nil else Seq(f"chain/${i - 1}%05d"),
        "v1", (s, _) => { import s.implicits._; Seq(1).toDF("x") })
    }
    val fan = (0 until 5000).map { i =>
      Step(f"fan/$i%05d", Seq("chain/04999"),
        "v1", (s, _) => { import s.implicits._; Seq(1).toDF("x") })
    }
    val dag = new StepDag(chain ++ fan, tmpDir("dag-big"))
    val t0 = System.nanoTime()
    val order = dag.topoOrder()
    val sel = dag.select("chain/00000", downstream = true)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(order.size == 10000 && order.take(2) == Seq("chain/00000", "chain/00001"))
    assert(sel.size == 10000) // full downstream closure from the chain root
    assert(sec < 5.0, f"graph walks took $sec%.2f s — index regression?")
  }
}
