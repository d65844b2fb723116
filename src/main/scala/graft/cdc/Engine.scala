package graft.cdc

import graft.lake._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The streaming ingest engine: WAL tail → micro-batch merge-apply
  * (SURVEY.md §2.10, §7.1 module `cdc`).
  *
  * Structured Streaming file source tails the append-only event-segment
  * directory (the reference's watch-mode rebuild,
  * /root/reference/etl/command.py:305-315, lifted to micro-batches);
  * `foreachBatch` applies each batch through [[MergeApply]]. Exactly-once =
  * Spark checkpointing (source offsets) × batchId-in-manifest dedup (sink) —
  * a batch re-delivered after a crash is recognized and skipped, mirroring
  * the reference's checksum-gated upsert
  * (/root/reference/etl/grapher/to_db.py:209-220). Restart-with-same-
  * checkpoint resumes from the last committed offset; the lake table's
  * snapshot log is the durable record of applied (batchId, lsnRange).
  */
object Engine {

  val eventSchema: StructType = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = true),
    StructField("html", BinaryType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)
  ))

  /** The lake-table field layout matching the input_hint page shape, plus
    * the `_lsn` (LWW guard) and `_deleted` (tombstone) system columns. */
  def pagesFields: Seq[LakeField] = Seq(
    LakeField(1, "url", "string", nullable = false),
    LakeField(2, "warc_ts", "timestamp"),
    LakeField(3, "html", "binary"),
    LakeField(4, "text", "string"),
    LakeField(5, "lang", "string"),
    LakeField(6, "_lsn", "bigint", nullable = false),
    LakeField(7, "_deleted", "boolean", nullable = false)
  )

  def createPagesTable(dir: String, numBuckets: Int,
      retainSnapshots: Int = 100): LakeTable = {
    val t = new LakeTable(dir)
    t.create(pagesFields, numBuckets, "url",
      lwwColumn = Some("_lsn"), tombstoneColumn = Some("_deleted"),
      retainSnapshots = retainSnapshots)
    t
  }

  /** Tail `walDir` (parquet segments) and merge-apply each micro-batch into
    * `table`. `Trigger.AvailableNow` drains everything currently in the log
    * and stops — the batch-replay mode; pass a processing-time trigger for
    * continuous tailing.
    */
  def runStream(
      spark: SparkSession,
      walDir: String,
      checkpointDir: String,
      table: LakeTable,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None,
      mode: MergeApply.MergeMode = MergeApply.MergeOnRead,
      compactEvery: Int = 8,
      // file GC cadence for CONTINUOUS operation: every K batches, delete
      // data files no longer referenced by any retained snapshot (safe from
      // the writer — single-writer contract). 0 = manual vacuum only.
      vacuumEvery: Int = 0,
      // post-commit hook per applied batch — e.g. StepDag.run for continuous
      // materialized-view maintenance (downstream incremental steps consume
      // the change feed right after each micro-batch commit)
      onBatch: MergeApply.MergeStats => Unit = _ => ()
  ): StreamingQuery = {
    var reader = spark.readStream.schema(eventSchema)
    maxFilesPerTrigger.foreach(n =>
      reader = reader.option("maxFilesPerTrigger", n.toString))
    val events = reader
      .option("recursiveFileLookup", "true")
      .parquet(walDir)
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val stats = applyBatch(spark, table, batch, batchId, mode, compactEvery, vacuumEvery)
        if (!stats.skipped) onBatch(stats)
        ()
      }
      .start()
  }

  /** Batch replay: apply pre-partitioned event segments one batch each —
    * the deterministic harness used by golden tests and the benchmark
    * (replay semantics identical to the stream; batchIds are segment
    * indices). */
  def replaySegments(
      spark: SparkSession,
      segmentPaths: Seq[String],
      table: LakeTable,
      mode: MergeApply.MergeMode = MergeApply.MergeOnRead,
      compactEvery: Int = 8
  ): Seq[MergeApply.MergeStats] =
    segmentPaths.zipWithIndex.map { case (path, i) =>
      applyBatch(spark, table, spark.read.schema(eventSchema).parquet(path), i.toLong,
        mode, compactEvery, vacuumEvery = 0)
    }

  /** One batch of the stream or the replay: merge-apply, then maintenance
    * every K batches — compaction (merge-on-read only) bounds read
    * amplification, vacuum bounds on-disk garbage. A batch skipped as
    * already committed runs no maintenance. */
  private def applyBatch(spark: SparkSession, table: LakeTable, batch: DataFrame,
      batchId: Long, mode: MergeApply.MergeMode, compactEvery: Int,
      vacuumEvery: Int): MergeApply.MergeStats = {
    val stats = MergeApply(spark, table, batch, batchId, stepId = "cdc_ingest", mode = mode)
    def due(every: Int): Boolean = !stats.skipped && every > 0 && (batchId + 1) % every == 0
    if (mode == MergeApply.MergeOnRead && due(compactEvery)) MergeApply.compact(spark, table)
    if (due(vacuumEvery)) table.vacuum()
    stats
  }

  /** Independent reduction of an event log to final state — the golden
    * oracle (FIXTURES.md F2): last event per url wins; a final Delete means
    * absent. Computed with one max_by aggregation, no engine code shared
    * with the merge path beyond column names. */
  def goldenFinalState(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    events
      .groupBy(col("url"))
      .agg(max_by(
        struct(col("lsn"), col("op"), col("warc_ts"), col("html"),
          col("text"), col("lang")), col("lsn")).as("e"))
      .filter(col("e.op") =!= "D")
      .select(
        col("url"), col("e.warc_ts").as("warc_ts"), col("e.html").as("html"),
        col("e.text").as("text"), col("e.lang").as("lang"),
        col("e.lsn").as("_lsn"))
  }
}
