package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming ingest metrics over the change-event stream (SURVEY.md §2.10:
  * tumbling/session windows are not needed for merge correctness — LSN
  * ordering is total — but they ARE the observability surface a production
  * tail needs). Watermarked event-time windows bound state.
  */
object IngestMetrics {

  /** Tumbling-window per-language ingest rates: events, deletes, bytes.
    * Works on both a streaming and a batch DataFrame of change events. */
  def perWindow(
      events: DataFrame,
      window_ : String = "1 minute",
      watermark: String = "10 minutes"
  ): DataFrame = {
    val wm =
      if (events.isStreaming) events.withWatermark("warc_ts", watermark)
      else events
    wm.groupBy(window(col("warc_ts"), window_), col("lang"))
      .agg(
        count(lit(1)).as("events"),
        sum(when(col("op") === "D", 1).otherwise(0)).as("deletes"),
        sum(length(col("html"))).as("html_bytes"),
        approx_count_distinct(col("url")).as("approx_urls"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("lang"), col("events"), col("deletes"),
        col("html_bytes"), col("approx_urls"))
  }

  /** Session windows per url: bursts of updates to the same page within a
    * gap-bounded session (crawl-recrawl burst detection). Streaming-only
    * semantics exercised with watermark + session_window. */
  def updateSessions(
      events: DataFrame,
      gap: String = "5 minutes",
      watermark: String = "10 minutes"
  ): DataFrame = {
    val wm =
      if (events.isStreaming) events.withWatermark("warc_ts", watermark)
      else events
    wm.groupBy(session_window(col("warc_ts"), gap), col("url"))
      .agg(count(lit(1)).as("updates"), max(col("lsn")).as("last_lsn"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("url"), col("updates"), col("last_lsn"))
  }

  /** Per-domain hot-key report (north_star "popular domains"): the top
    * domains by event count. Nothing on the ingest path calls it; the merge
    * takes its skew signal from its own commits. */
  def hotDomains(events: DataFrame, topK: Int = 20): DataFrame =
    events
      .withColumn("domain", regexp_extract(col("url"), "https?://([^/]+)/", 1))
      .groupBy("domain")
      .agg(count(lit(1)).as("events"))
      .orderBy(col("events").desc, col("domain"))
      .limit(topK)
}
