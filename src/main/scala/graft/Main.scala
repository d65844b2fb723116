package graft

import graft.cdc.{Engine, EventGen, MergeApply}
import graft.lake.{Catalog, LakeTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** spark-submit entry point — the engine's operational CLI (the analogue of
  * `etl run` / `etl reindex`, /root/reference/etl/command.py:164).
  *
  * {{{
  * spark-submit --class graft.Main <jar> gen     --out WAL_DIR --events N --segments K [--seed S]
  * spark-submit --class graft.Main <jar> ingest  --wal WAL_DIR --table DIR --checkpoint CKPT
  *                                               [--mode mor|cow] [--continuous SECONDS]
  *                                               [--buckets B] [--compact-every K] [--vacuum-every K]
  * spark-submit --class graft.Main <jar> compact --table DIR [--purge-tombstones]
  * spark-submit --class graft.Main <jar> vacuum  --table DIR
  * spark-submit --class graft.Main <jar> catalog --store DIR
  * spark-submit --class graft.Main <jar> state   --table DIR [--as-of SNAPSHOT]
  * spark-submit --class graft.Main <jar> history --table DIR
  * spark-submit --class graft.Main <jar> feed    --table DIR --from SNAP [--to SNAP]
  * }}}
  *
  * `history` prints the retained snapshot lineage (step id, batch id, LSN
  * range, per-op row counts, schema version, input checksum — the
  * north_rule's per-partition lineage, operator-visible); `feed` shows the
  * incremental change feed between two snapshots.
  */
object Main {

  private def parse(args: Array[String]): (String, Map[String, String]) = {
    require(args.nonEmpty,
      "usage: <gen|ingest|compact|vacuum|catalog|state|history|feed> [--k v ...]")
    val cmd = args.head
    val opts = args.tail.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case Array(k) if k.startsWith("--")    => k.stripPrefix("--") -> "true"
    }.toMap
    (cmd, opts)
  }

  def main(args: Array[String]): Unit = {
    val (cmd, o) = parse(args)
    val spark = SparkSession.builder()
      .appName(s"graft-$cmd")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cmd match {
      case "gen" =>
        val cfg = EventGen.Config(
          nEvents = o("events").toLong,
          nUrls = o.getOrElse("urls", (o("events").toLong / 20).max(1000L).toString).toLong,
          seed = o.getOrElse("seed", "42").toLong,
          parallelism = o.getOrElse("parallelism", "64").toInt)
        EventGen.writeWalSegments(spark, cfg, o("out"),
          o.getOrElse("segments", "8").toInt)
        println(s"wrote ${o("events")} events to ${o("out")}")

      case "ingest" =>
        val tableDir = o("table")
        val table = new LakeTable(tableDir)
        if (!table.exists)
          Engine.createPagesTable(tableDir,
            o.getOrElse("buckets", "32").toInt)
        val mode = o.getOrElse("mode", "mor") match {
          case "cow" => MergeApply.CopyOnWrite
          case _     => MergeApply.MergeOnRead
        }
        val trigger = o.get("continuous")
          .map(s => Trigger.ProcessingTime(s"$s seconds"))
          .getOrElse(Trigger.AvailableNow())
        val q = Engine.runStream(spark, o("wal"), o("checkpoint"), table,
          trigger = trigger,
          mode = mode,
          compactEvery = o.getOrElse("compact-every", "8").toInt,
          vacuumEvery = o.getOrElse("vacuum-every", "0").toInt)
        q.awaitTermination()
        val m = table.metadata
        println(s"ingested: snapshot=${m.currentSnapshotId.getOrElse(-1L)} " +
          s"batches=${m.snapshots.count(_.batchId >= 0)}")

      case "compact" =>
        val id = MergeApply.compact(spark, new LakeTable(o("table")),
          purgeTombstones = o.contains("purge-tombstones"))
        println(id.map(i => s"compacted into snapshot $i").getOrElse("nothing to compact"))

      case "vacuum" =>
        val n = new LakeTable(o("table")).vacuum()
        println(s"vacuum deleted $n unreferenced data files")

      case "catalog" =>
        Catalog.index(spark, o("store")).show(1000, truncate = false)

      case "state" =>
        val table = new LakeTable(o("table"))
        val df = table.read(spark,
          asOfSnapshot = o.get("as-of").map(_.toLong))
        println(s"rows=${df.count()}")
        df.show(20, truncate = 60)

      case "history" =>
        val m = new LakeTable(o("table")).metadata
        println(f"${"snap"}%6s ${"parent"}%6s ${"step"}%-16s ${"batch"}%6s " +
          f"${"lsnMin"}%10s ${"lsnMax"}%10s ${"+ins"}%8s ${"~upd"}%8s ${"-del"}%8s schema checksum")
        m.snapshots.foreach { s =>
          println(f"${s.snapshotId}%6d ${s.parentId.getOrElse(-1L)}%6d " +
            f"${s.stepId}%-16s ${s.batchId}%6d ${s.lsnMin}%10d ${s.lsnMax}%10d " +
            f"${s.rowsInserted}%8d ${s.rowsUpdated}%8d ${s.rowsDeleted}%8d " +
            f"v${s.schemaVersion}%-5s ${s.inputChecksum.getOrElse("-")}")
        }

      case "feed" =>
        val t = new LakeTable(o("table"))
        val to = o.get("to").map(_.toLong)
          .orElse(t.metadata.currentSnapshotId)
          .getOrElse(throw new IllegalArgumentException("empty table"))
        val df = t.changesBetween(spark, o("from").toLong, to)
        println(s"rows=${df.count()}")
        df.show(20, truncate = 60)

      case other => throw new IllegalArgumentException(s"unknown command: $other")
    }
    spark.stop()
  }
}
