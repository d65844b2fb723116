package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, ShuffledHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-round plan regression gate (run: tools/plan_gate.sh): executes the
  * most expensive registered queries plus the CDC merge/read plans and
  * FAILS (exit 1) on plan shapes that kill 100 TB scale:
  *
  *  1. CartesianProductExec anywhere;
  *  2. BroadcastNestedLoopJoinExec outside the explicit whitelist (the ANN
  *     brute-force baseline and zeroDay-style scalar crossJoins broadcast a
  *     model-sized side on purpose);
  *  3. WindowExec with an EMPTY partition spec (single-partition global
  *     window — the one-executor bottleneck);
  *  4. SortAggregateExec or WindowExec in the merge-apply write plans (the
  *     MOR and CoW commits' own writes, captured by a QueryExecutionListener)
  *     or a SortAggregateExec in the MOR-read plan (fixed-width hash
  *     aggregation only — a SortAggregate there means a var-width
  *     aggregation buffer snuck back in, the round-1 max_by(struct) trap);
  *  5. in the MOR read plan, every file scan under a BroadcastExchange must
  *     read ONLY delta files (broadcast-of-aggregate-over-base means the
  *     reconciliation working set is the whole table, not the delta
  *     backlog);
  *  6. a MOR delta or compaction write with more than one Exchange or any
  *     BroadcastExchange (its last-writer-wins dedup runs inside the bucket
  *     shuffle's partitions: one scan, one shuffle);
  *  7. a CoW write with more than one Exchange or any shuffled hash or
  *     sort-merge join (its current rows and winning events meet in the
  *     same keep-first bucket write; the winners are broadcast).
  *
  * Plans are inspected AFTER execution so AQE's final plan (isFinalPlan)
  * is what's audited, not the pre-runtime guess.
  */
object PlanGate {

  /** Flatten the physical plan, stepping through AQE / query-stage /
    * reused-exchange wrappers. */
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
    case q: QueryStageExec        => q +: walk(q.plan)
    case r: ReusedExchangeExec    => r +: walk(r.child)
    case other                    => other +: other.children.flatMap(walk)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    var failures = List.empty[String]
    def check(ctx: String, cond: Boolean, msg: String): Unit =
      if (!cond) {
        failures ::= s"$ctx: $msg"
        println(s"FAIL $ctx: $msg")
      } else println(s"pass $ctx: $msg")

    // intentional broadcast NLJs: model-sized side broadcast on purpose
    val bnljWhitelist = Set("q_ann_topk", "q_date_funcs", "q_datadiff",
      "q_embedding_neardup", "q_ann_ivf")

    // run an action on the dataset's OWN QueryExecution (df.write would
    // plan a fresh one and leave this AQE plan non-final)
    def finalize(df: DataFrame): Seq[SparkPlan] = {
      df.foreach(_ => ())
      walk(df.queryExecution.executedPlan)
    }

    def auditDf(name: String, df: DataFrame): Unit = {
      val nodes = finalize(df)
      check(name, !nodes.exists(_.nodeName.contains("CartesianProduct")),
        "no cartesian product")
      if (!bnljWhitelist.contains(name))
        check(name, !nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
          "no broadcast nested-loop join")
      val badWindows = nodes.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      check(name, badWindows.isEmpty, "no unpartitioned (global) window")
    }

    // the most expensive queries of the latest BENCH + the
    // scan/join/window cores + the round-4 publish fan-out
    val picks = Seq("q_dup_clusters", "q_simhash_pairs", "q_cdc_merge",
      "q_ngram_jaccard", "q_minhash_lsh_pairs", "q_groupby_agg_map",
      "q_contamination", "q_grapher_publish",
      "q_scan_filter", "q1_agg", "q_join_agg", "q_rolling", "q_dedup_exact")
    for (name <- picks)
      auditDf(name, SparkEntry.queries(name)(spark, dir))

    // ---- merge-apply write plans: the plans MergeApply itself executes ----
    // captured from the listener bus (a hand-built copy of the plan drifts
    // from the real write): every data write into a table dir, final plan
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        walk(qe.executedPlan).collectFirst {
          case DataWritingCommandExec(cmd: InsertIntoHadoopFsRelationCommand, _) =>
            cmd.outputPath.toString
        }.foreach(path => writes.add(path -> qe.executedPlan))
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    /** Audit the final plans of the `n` data writes under `tableDir`
      * (listener events arrive asynchronously, in order); returns them with
      * their output paths. */
    def auditWrites(ctx: String, tableDir: String, n: Int): Seq[(String, SparkPlan)] = {
      import scala.jdk.CollectionConverters._
      def captured = writes.asScala.toSeq.filter(_._1.contains(tableDir))
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (captured.size < n && System.nanoTime() < deadline) Thread.sleep(50)
      check(ctx, captured.size == n, s"captured the $n data writes of the commits")
      val nodes = captured.map(_._2).flatMap(walk)
      check(ctx, !nodes.exists(_.nodeName.contains("CartesianProduct")),
        "no cartesian product")
      check(ctx, !nodes.exists(_.nodeName.contains("SortAggregate")),
        "hash aggregation only (no var-width SortAggregate)")
      check(ctx, !nodes.exists(_.isInstanceOf[WindowExec]),
        "no window in the dedup path")
      captured
    }

    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("plangate").toString
    // the batches are WAL-style parquet segments, so a commit's plan starts
    // at a file scan, as the ingest's do
    def segment(name: String, df: DataFrame): DataFrame = {
      df.write.parquet(s"$tmp/wal/$name")
      spark.read.schema(cdc.Engine.eventSchema).parquet(s"$tmp/wal/$name")
    }
    val generated = cdc.EventGen.events(spark,
      cdc.EventGen.Config(nEvents = 10000, nUrls = 2000, parallelism = 4)).toDF
    val events = segment("events", generated)
    val late = segment("late", generated.limit(80).withColumn("lsn", col("lsn") + 1000000L))

    // copy-on-write: a first commit, then one that folds into its state
    val cow = cdc.Engine.createPagesTable(s"$tmp/cow", 4)
    cdc.MergeApply(spark, cow, events, 0L, stepId = "gate",
      mode = cdc.MergeApply.CopyOnWrite)
    cdc.MergeApply(spark, cow, late, 1L, stepId = "gate", mode = cdc.MergeApply.CopyOnWrite)
    for ((path, plan) <- auditWrites("merge-apply-cow", s"$tmp/cow/", 2)) {
      val nodes = walk(plan)
      val snap = path.substring(path.lastIndexOf('/') + 1)
      check("merge-apply-cow", nodes.count(_.isInstanceOf[ShuffleExchangeLike]) == 1,
        s"$snap write has exactly one exchange")
      check("merge-apply-cow",
        !nodes.exists(n => n.isInstanceOf[ShuffledHashJoinExec] || n.isInstanceOf[SortMergeJoinExec]),
        s"$snap write has no shuffled join")
    }

    // ---- merge-on-read: two delta commits around a compaction; the
    // table's reconciling read is audited below -----------------------------
    val t = cdc.Engine.createPagesTable(s"$tmp/mor", 4)
    cdc.MergeApply(spark, t, events, 0L, stepId = "gate")
    cdc.MergeApply.compact(spark, t)
    cdc.MergeApply(spark, t, late, 1L, stepId = "gate")
    val morWrites = auditWrites("merge-apply", s"$tmp/mor/", 3)
    // each delta commit and the compaction dedup inside the bucket write:
    // one scan, one shuffle (the bucket exchange), no broadcast
    def norm(s: String): String = s.stripPrefix("file:").dropWhile(_ == '/')
    val kindOf = t.metadata.snapshots.flatMap(t.filesOf)
      .map(f => norm(t.absolute(f.path)).split("/_bucket=")(0) -> f.kind).toMap
    check("merge-apply", morWrites.map(w => kindOf.get(norm(w._1))) ==
      Seq(Some("delta"), Some("base"), Some("delta")),
      "captured the delta, compaction and delta writes")
    for ((path, plan) <- morWrites) {
      val nodes = walk(plan)
      val snap = path.substring(path.lastIndexOf('/') + 1)
      val what = if (kindOf.get(norm(path)).contains("base")) "compaction" else "delta"
      check("merge-apply", nodes.count(_.isInstanceOf[ShuffleExchangeLike]) == 1,
        s"$snap $what write has exactly one exchange")
      check("merge-apply", !nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
        s"$snap $what write has no broadcast exchange")
    }

    // ---- MOR read reconciliation plan -------------------------------------
    val morDf = t.read(spark)
    val morNodes = finalize(morDf)
    check("mor-read", !morNodes.exists(_.nodeName.contains("CartesianProduct")),
      "no cartesian product")
    check("mor-read", !morNodes.exists(_.nodeName.contains("SortAggregate")),
      "hash aggregation only")
    // broadcast-of-aggregate-over-base gate: a base-file scan may appear
    // under a BroadcastExchange ONLY as the streamed side of a semi/anti
    // join (i.e. pruned to delta keys before anything aggregates it) — an
    // UNPRUNED base scan under a broadcast means the reconciliation working
    // set is the whole table, not the delta backlog
    val deltaFiles = t.metadata.snapshots.flatMap(t.filesOf)
      .filter(_.kind == "delta").map(f => norm(t.absolute(f.path))).toSet
    def unprunedBaseScans(p: SparkPlan, pruned: Boolean): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => unprunedBaseScans(a.executedPlan, pruned)
      case q: QueryStageExec        => unprunedBaseScans(q.plan, pruned)
      case r: ReusedExchangeExec    => unprunedBaseScans(r.child, pruned)
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType.toString.toLowerCase.contains("semi") ||
             j.joinType.toString.toLowerCase.contains("anti") =>
        unprunedBaseScans(j.left, pruned = true) ++
          unprunedBaseScans(j.right, pruned)
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        if (pruned) Nil
        else s.relation.location.inputFiles.toSeq
          .filterNot(f => deltaFiles.contains(norm(f)))
      case other => other.children.flatMap(unprunedBaseScans(_, pruned))
    }
    val broadcasts = morNodes.collect { case b: BroadcastExchangeExec => b }
    val offenders = broadcasts.flatMap(b => unprunedBaseScans(b.child, pruned = false))
    check("mor-read", broadcasts.nonEmpty,
      "reconciliation uses a broadcast build side")
    check("mor-read", offenders.isEmpty,
      s"no unpruned base scan under a broadcast (offenders: ${offenders.take(3)})")

    println(if (failures.isEmpty) "\nPLAN GATE: ALL CHECKS PASSED"
      else s"\nPLAN GATE: ${failures.size} FAILURES")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
