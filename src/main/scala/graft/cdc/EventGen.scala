package graft.cdc

import graft.model.ChangeEvent
import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic synthetic WAL generator — the engine's Snapshot analogue
  * (/root/reference/etl/snapshot.py:169 pins upstream files by md5; our
  * upstream is a seeded, replayable change-event log — no external data,
  * per BASELINE.md "synthesized deterministically").
  *
  * Properties:
  *  - pure function of (lsn, config): the same seed always produces the
  *    byte-identical event, independent of partitioning or cluster size —
  *    the content-addressing property the reference gets from md5-pinned
  *    snapshots;
  *  - hot-key skew: domains are drawn from a power-law, so a few domains
  *    (and urls) absorb a large share of events — exercises the
  *    map-side partial aggregation of the max-LSN dedup;
  *  - late arrivals: a fraction of events carry a warc_ts earlier than their
  *    LSN order (LWW is LSN-based, so correctness is unaffected);
  *  - the html/text pair is built so that `extractText(html) == text`
  *    byte-identically *by construction from independent code paths*: text
  *    is words joined by single spaces; html wraps entity-escaped text in a
  *    tag/script/style/comment scaffold (FIXTURES.md F1/F2).
  */
object EventGen {

  final case class Config(
      nEvents: Long,
      nUrls: Long = 10000,
      nDomains: Int = 100,
      seed: Long = 42L,
      deleteRatio: Double = 0.05,
      insertRatio: Double = 0.35,
      skew: Double = 2.0, // power-law exponent for domain popularity
      lateFraction: Double = 0.1,
      // Common-Crawl-realistic page sizes: a few KB of text per page
      minWords: Int = 120,
      maxWords: Int = 480,
      parallelism: Int = 32
  )

  private val vocab: Array[String] =
    ("the quick brown fox jumps over lazy dog data page web crawl index " +
      "archive text content site news article report value table chart " +
      "country year world energy climate health trade market stream merge").split(" ")

  private val langs = Array("en", "es", "de", "fr", "zh", "ru")
  private val langCdf = Array(0.50, 0.65, 0.75, 0.85, 0.95, 1.0)

  private val baseTsMillis = 1735689600000L // 2025-01-01T00:00:00Z

  /** splitmix64 — spec-fixed, JVM-independent PRNG step. */
  @inline private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  @inline private def toUnit(h: Long): Double =
    ((h >>> 11).toDouble) / (1L << 53).toDouble

  /** Entity-escape the 5 basic entities (inverse of the extractor's decode). */
  def escape(s: String): String =
    s.flatMap {
      case '&'  => "&amp;"
      case '<'  => "&lt;"
      case '>'  => "&gt;"
      case '"'  => "&quot;"
      case '\'' => "&#39;"
      case c    => c.toString
    }

  /** Pure event constructor: (lsn, cfg) → ChangeEvent. */
  def genEvent(lsn: Long, cfg: Config): ChangeEvent = {
    val h0 = mix(lsn ^ cfg.seed)
    val h1 = mix(h0); val h2 = mix(h1); val h3 = mix(h2)
    val h4 = mix(h3); val h5 = mix(h4); val h6 = mix(h5)

    // power-law domain pick: u^skew concentrates mass near domain 0
    val domain = math.min(cfg.nDomains - 1,
      (math.pow(toUnit(h0), cfg.skew) * cfg.nDomains).toInt)
    val pagesPerDomain = math.max(1L, cfg.nUrls / cfg.nDomains)
    val page = java.lang.Long.remainderUnsigned(h1, pagesPerDomain)
    val url = s"https://site$domain.example.com/page/$page"

    val uOp = toUnit(h2)
    val op =
      if (uOp < cfg.deleteRatio) "D"
      else if (uOp < cfg.deleteRatio + cfg.insertRatio) "I"
      else "U"

    val late =
      if (toUnit(h3) < cfg.lateFraction)
        -(java.lang.Long.remainderUnsigned(h3, 86400L) * 1000L)
      else 0L
    val ts = new java.sql.Timestamp(baseTsMillis + lsn * 1000L + late)

    val uLang = toUnit(h4)
    var li = 0
    while (langCdf(li) < uLang) li += 1
    val lang = langs(li)

    // --- text: words joined by single spaces (independent of the extractor)
    val nWords = cfg.minWords +
      java.lang.Long.remainderUnsigned(h5, (cfg.maxWords - cfg.minWords + 1).toLong).toInt
    val sb = new StringBuilder
    sb.append("site").append(domain).append(" page ").append(page)
      .append(" rev ").append(lsn)
    var w = 0
    var hw = h6
    while (w < nWords) {
      hw = mix(hw)
      sb.append(' ').append(vocab(java.lang.Long.remainderUnsigned(hw, vocab.length.toLong).toInt))
      w += 1
    }
    // entity-bearing tail exercises the decoder: raw text keeps the chars
    sb.append(" q&a <tag> \"quote\" 'tick'")
    val text = sb.toString

    // --- html: escaped text inside a scaffold with script/style/comment
    val body = escape(text)
    val html =
      s"""<html><head><title></title>
         |<style>body { color: #111; }</style>
         |<script type="text/javascript">var lsn = $lsn; if (lsn < 0) { alert("x"); }</script>
         |</head><body>
         |<!-- generated lsn=$lsn -->
         |<h1></h1><p>$body</p>
         |<div class="footer"></div>
         |</body></html>""".stripMargin

    ChangeEvent(lsn, op, url, ts, html.getBytes("UTF-8"), text, lang)
  }

  /** Distributed generation: `spark.range` partitions the LSN space; each
    * event is a pure map of its id (deterministic under any partitioning). */
  def events(spark: SparkSession, cfg: Config): Dataset[ChangeEvent] = {
    import spark.implicits._
    spark
      .range(0L, cfg.nEvents, 1L, cfg.parallelism)
      .map(id => genEvent(id, cfg))
  }

  /** Write the WAL as `nSegments` parquet segment directories under `dir`
    * (the append-only log the streaming source tails). Segment k holds LSNs
    * [k*n/nSegments, (k+1)*n/nSegments). */
  def writeWalSegments(
      spark: SparkSession,
      cfg: Config,
      dir: String,
      nSegments: Int
  ): Seq[String] = {
    val per = cfg.nEvents / nSegments
    (0 until nSegments).map { k =>
      val lo = k * per
      val hi = if (k == nSegments - 1) cfg.nEvents else (k + 1) * per
      import spark.implicits._
      val seg = spark
        .range(lo, hi, 1L, cfg.parallelism)
        .map(id => genEvent(id, cfg))
      val path = s"$dir/segment-$k"
      seg.write.mode("overwrite").parquet(path)
      path
    }
  }
}
