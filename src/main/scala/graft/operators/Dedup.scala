package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators for training-data pipelines:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding near-dup.
  *
  * Scale design: everything is shingle/band/bucket joins — the pairwise
  * comparison space is pruned by equi-joins on short keys (LSH bands,
  * quantizer cells), never an unbounded cross product. At 100 TB the
  * band-bucket join shuffles only (docId, bandKey) pairs; frequency-capped
  * buckets bound the worst-case fan-out.
  */
object Dedup {

  /** Distinct word n-gram shingles per document: one row (id, shingle),
    * via the native `word_ngrams` expression (graft.functions.WordNgramsExpr)
    * — ONE split + sliding window + hash-set dedup per row, versus the
    * interpreted HOF spelling (split + transform + array_distinct) that
    * re-evaluates per-element expression trees. Documents with fewer than n
    * tokens yield an empty array, which `explode` drops. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol),
      explode(graft.functions.NgramExpression.word_ngrams(col(textCol), n))
        .as("shingle"))

  /** Exact dedup: group by content hash, keep the lowest id
    * (hash-groupBy — one shuffle on the digest). */
  def exactDedupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** All pairs with shingle-Jaccard ≥ threshold: shingle equi-join →
    * common-count → |A∪B| via per-doc counts. Shuffles on shingle (pruned to
    * docs sharing ≥1 shingle — never all-pairs).
    *
    * `maxDf` > 0 applies a DOCUMENT-FREQUENCY CAP: shingles shared by more
    * than `maxDf` documents are dropped before the self-join (and per-doc
    * sizes count only surviving shingles, so the score stays a true Jaccard
    * over the capped shingle universe). Without it, one stop-shingle shared
    * by k docs fans out k² join rows — the cap bounds worst-case fan-out to
    * maxDf² per shingle, which is what makes this runnable at 10^10 docs.
    * The dropped (ubiquitous) shingles carry no near-dup signal — this is
    * the standard stop-shingle filter. */
  /** Per-shingle sorted id lists of the df-capped shingle stream, ended
    * with an explicit re-exchange on shingle. The re-exchange is the
    * REUSE POINT: both consumers (pair expansion and per-doc counts) hang
    * identical subtrees below it, so AQE's exchange reuse materializes the
    * expensive explode→sort→window→collect stage exactly once and the
    * second consumer reads the shuffled one-row-per-shingle output (≤maxDf
    * ids each — slim) instead of recomputing the pipeline. */
  private def cappedIdLists(
      capped: DataFrame, idCol: String, ids: Column): DataFrame =
    capped
      .groupBy(col("shingle")).agg(ids) // reuses the window's partitioning
      .repartition(col("shingle"))

  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxDf: Int = 0
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingles(df, idCol, textCol, n)
    val common =
      if (maxDf <= 0) {
        // uncapped: classic shingle self-join (a hot shingle fans out k²)
        val a = sh.select(col(idCol).as("i"), col("shingle"))
        val b = sh.select(col(idCol).as("j"), col("shingle"))
        a.join(b, Seq("shingle")).where(col("i") < col("j"))
          .groupBy("i", "j").agg(count(lit(1)).as("common"))
      } else {
        // capped: ONE shuffle on shingle. The df filter is a count-window
        // over the shingle partition (spills for pathological hot shingles —
        // no unbounded aggregation buffer), then the surviving ≤maxDf ids
        // per shingle pair up IN-PARTITION via a sorted collect_list + the
        // sorted_pairs generator (fan-out ≤ maxDf²/2 per shingle, bounded
        // by construction; one pass, no intermediate pair arrays — the
        // nested-transform HOF spelling it replaces materialized k slices
        // + k inner arrays + one flattened array per shingle, interpreted).
        // No self-join, and the shingle stage is evaluated once on this
        // path instead of being recomputed under both join sides.
        val wDf = Window.partitionBy(col("shingle"))
        val capped = sh
          .withColumn("__df", count(lit(1)).over(wDf))
          .where(col("__df") <= maxDf)
        val ids = sort_array(collect_list(col(idCol))).as("ids")
        val pairs = cappedIdLists(capped, idCol, ids)
          .select(graft.functions.SortedPairs.sorted_pairs(col("ids")))
        pairs.groupBy(col("i"), col("j"))
          .agg(count(lit(1)).as("common"))
      }
    // per-doc shingle counts over the SAME capped universe, so the score
    // stays a true Jaccard over surviving shingles. On the capped path they
    // are derived from the per-shingle id lists (bounded ≤ maxDf each), NOT
    // by re-running the shingle+window pipeline: the re-exchange inside
    // cappedIdLists makes the whole explode→sort→window→collect stage ONE
    // reused shuffle stage shared with the pairs branch (guide §2.4 — the
    // previous spelling ran the sort+window three times, once per branch,
    // because exchange reuse only dedupes below an Exchange boundary).
    val counts =
      if (maxDf <= 0) sh.groupBy(col(idCol)).agg(count(lit(1)).as("c"))
      else {
        val wDf = Window.partitionBy(col("shingle"))
        val capped = sh
          .withColumn("__df", count(lit(1)).over(wDf))
          .where(col("__df") <= maxDf)
        val ids = sort_array(collect_list(col(idCol))).as("ids")
        cappedIdLists(capped, idCol, ids)
          .select(explode(col("ids")).as(idCol))
          .groupBy(col(idCol)).agg(count(lit(1)).as("c"))
      }
    val jac = col("common") / (col("ci") + col("cj") - col("common"))
    common
      .join(counts.select(col(idCol).as("i"), col("c").as("ci")), Seq("i"))
      .join(counts.select(col(idCol).as("j"), col("c").as("cj")), Seq("j"))
      .select(col("i"), col("j"), round(jac, 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** MinHash signatures: k independent permutations approximated by
    * min(hash(shingle, seed)). `md5Based = true` keys the hash on md5 hex
    * strings (portable to any engine, used by the DuckDB oracle);
    * false uses xxhash64 (faster, codegen'd — the production path). */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      n: Int = 3,
      md5Based: Boolean = false
  ): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
    if (md5Based) {
      // min over an md5 HEX STRING plans a SortAggregate (string agg buffers
      // are not mutable in UnsafeRow), sorting the whole exploded shingle
      // stream by doc on both the partial and final sides. Instead decompose
      // each digest into two sign-flipped longs — signed lexicographic
      // (hi, lo) order == unsigned 128-bit order == hex-string order — take
      // the min with the fixed-width MinLongPair aggregate (HashAggregate,
      // map-side partial agg, zero sorts), and re-hex after the aggregate.
      // Bit-identical output (oracle hash-gated). The decomposition is ONE
      // custom expression per hash (md5_pair128: one digest straight to two
      // longs), pre-projected BELOW the aggregate so the aggregate's update
      // expressions read bound struct fields — aggregate inputs are
      // evaluated inline per update, so an expression child would be
      // re-digested once per referencing field.
      val signBit = lit(Long.MinValue)
      val projected = sh.select(
        col(idCol) +: (0 until numHashes).map { k =>
          graft.functions.Md5Pair128
            .md5_pair128(col("shingle"), lit(s"#$k")).as(s"p$k")
        }: _*)
      val aggs = (0 until numHashes).map { k =>
        graft.functions.MinPairExpression
          .min_long_pair(col(s"p$k")("a"), col(s"p$k")("b")).as(s"m$k")
      }
      def hex16(c: Column): Column = lpad(lower(hex(c)), 16, "0")
      val sigCols = (0 until numHashes).map { k =>
        concat(hex16(col(s"m$k")("a").bitwiseXOR(signBit)),
               hex16(col(s"m$k")("b").bitwiseXOR(signBit))).as(s"h$k")
      }
      projected.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
        .select(col(idCol) +: sigCols: _*)
    } else {
      val sigs = (0 until numHashes)
        .map(k => min(xxhash64(col("shingle"), lit(k))).as(s"h$k"))
      sh.groupBy(col(idCol)).agg(sigs.head, sigs.tail: _*)
    }
  }

  /** LSH banding: group the signature into `bands` bands of `rowsPerBand`
    * hashes; docs sharing any band key are candidate pairs. The band join is
    * an equi-join on (band, bandKey) — the scale path for near-dup at 10^10
    * docs (no pairwise scan). */
  def minhashLshPairs(
      signatures: DataFrame,
      idCol: String,
      numHashes: Int,
      bands: Int
  ): DataFrame = {
    val rowsPerBand = numHashes / bands
    // band key = the band's signature components THEMSELVES, not
    // md5(concat_ws) of them: component-tuple equality is exactly the
    // digest-key equality the md5 spelling approximated (fixed-width
    // components — no separator aliasing; md5 only added a digest per band
    // per doc and a ~2^-64 false-pair risk). Same candidate pairs, one
    // md5 + concat + string-casts per (doc × band) removed from the scan.
    val bandCols = (0 until bands).map { bIdx =>
      val parts = (0 until rowsPerBand).map { r =>
        col(s"h${bIdx * rowsPerBand + r}").as(s"bk$r")
      }
      struct(lit(bIdx).as("band") +: parts: _*)
    }
    val bkCols = (0 until rowsPerBand).map(r => s"bk$r")
    val banded = signatures
      .select(col(idCol), explode(array(bandCols: _*)).as("b"))
      .select(col(idCol) +: col("b.band").as("band") +:
        bkCols.map(c => col(s"b.$c").as(c)): _*)
    val l = banded.select(col(idCol).as("i") +: col("band") +:
      bkCols.map(col): _*)
    val r = banded.select(col(idCol).as("j") +: col("band") +:
      bkCols.map(col): _*)
    l.join(r, "band" +: bkCols).where(col("i") < col("j"))
      .select("i", "j").distinct()
  }

  /** SimHash over the token multiset: `bits`-bit signature where bit b is
    * the sign of Σ_tokens (2·bit_b(hash(token)) − 1). Hash basis = first 4
    * md5 hex chars (16 bits, engine-portable). Pure column algebra: one
    * explode + one groupBy with `bits` conditional sums. */
  def simhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 16
  ): DataFrame = {
    // basis = first 4 md5 hex chars = top 16 bits of the digest: one
    // md5_pair128 digest → shift, instead of hex-encode + substring + conv
    // string-parse per token (same value bit-for-bit, oracle hash-gated)
    val toks = df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .select(col(idCol),
        graft.functions.Md5Pair128.md5_pair128(col("tok"), lit(""))("a")
          .bitwiseXOR(lit(Long.MinValue)).as("h64"))
      .select(col(idCol), shiftrightunsigned(col("h64"), 48).as("hv"))
    // branchless ±1: bit∈{0,1} → 2·bit−1 ∈ {−1,1}, exactly the when(){1}
    // else {-1} spelling but without a predicate per (row × bit) in the
    // generated aggregate update (bits per-row branches add up at 10^10 docs)
    val bitSums = (0 until bits).map { b =>
      sum(shiftright(col("hv"), b).bitwiseAND(1) * 2 - 1).as(s"s$b")
    }
    val summed = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    summed.select(col(idCol), sig.as("simhash"))
  }

  /** SimHash near-dup candidate pairs with Hamming verification: split the
    * `bits`-bit signature into `bands` contiguous bit-bands; docs sharing
    * any band key are candidates (a pair within Hamming distance d < bands
    * must agree on ≥1 band — pigeonhole), then verify
    * bit_count(a XOR b) ≤ maxHamming exactly. Same banded equi-join shape
    * as MinHash LSH: never all-pairs, fan-out bounded per band bucket. */
  def simhashPairs(
      signatures: DataFrame, // (idCol, simhash long)
      idCol: String,
      bits: Int,
      bands: Int,
      maxHamming: Int
  ): DataFrame = {
    require(bits % bands == 0, "bits must divide into equal bands")
    require(maxHamming < bands,
      "pigeonhole guarantee needs maxHamming < bands (else pairs are missed)")
    val width = bits / bands
    val mask = (1L << width) - 1
    val bandCols = (0 until bands).map { bIdx =>
      struct(lit(bIdx).as("band"),
        shiftright(col("simhash"), bIdx * width).bitwiseAND(mask).as("bk"))
    }
    val banded = signatures
      .select(col(idCol), col("simhash"), explode(array(bandCols: _*)).as("b"))
      .select(col(idCol), col("simhash"),
        col("b.band").as("band"), col("b.bk").as("bk"))
    val l = banded.select(col(idCol).as("i"), col("simhash").as("sa"),
      col("band"), col("bk"))
    val r = banded.select(col(idCol).as("j"), col("simhash").as("sb"),
      col("band"), col("bk"))
    l.join(r, Seq("band", "bk")).where(col("i") < col("j"))
      .select(col("i"), col("j"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** 64-bit SimHash held as FOUR independent 16-bit chunk signatures
    * (`sim0..sim3`) — semantically one 64-bit signature split into 4
    * contiguous 16-bit bands, kept as separate columns so band keys and
    * per-chunk Hamming never touch a signed 64-bit sign bit (portable to
    * any engine without unsigned 64-bit ints).
    *
    * This is the SCALE parametrization: each band key ranges over 2^16
    * values, so LSH bucket sizes SHRINK as the corpus grows — unlike the
    * 16-bit/4-bit-band variant above whose constant 16-value band space
    * makes candidate pairs grow as n²/16.
    *
    * Basis hash per token: `md5Based = true` takes hex chars [4c+1, 4c+4]
    * of md5(token) for chunk c (engine-portable — the DuckDB oracle path);
    * `false` (production default) takes the four 16-bit slices of ONE
    * xxhash64(token) call (codegen'd, no string hex parsing). */
  def simhashWide(
      df: DataFrame,
      idCol: String,
      textCol: String,
      md5Based: Boolean = false
  ): DataFrame = {
    val chunks = 4
    val bitsPer = 16
    val toks = df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
    val withHv =
      if (md5Based) {
        // chunk c = hex chars [4c+1, 4c+4] = digest bytes [2c, 2c+1] = bits
        // [63−16c .. 48−16c] of the digest's high half: ONE md5_pair128
        // digest + shifts, instead of hex-encode + 4×(substring + conv
        // string-parse) per token. Projected in its own select so the
        // 4 chunk columns read the bound h64, not 4 re-digests
        // (CollapseProject keeps a non-cheap alias referenced >1× put).
        toks.select(col(idCol),
            graft.functions.Md5Pair128.md5_pair128(col("tok"), lit(""))("a")
              .bitwiseXOR(lit(Long.MinValue)).as("h64"))
          .select(col(idCol) +: (0 until chunks).map(c =>
            shiftrightunsigned(col("h64"), 48 - 16 * c)
              .bitwiseAND(lit(0xFFFFL)).as(s"hv$c")): _*)
      } else {
        val h = xxhash64(col("tok"))
        toks.select(col(idCol) +: (0 until chunks).map(c =>
          shiftright(h, c * bitsPer).bitwiseAND(lit(0xFFFFL)).as(s"hv$c")): _*)
      }
    // branchless ±1 (see simhash above): 64 aggregate updates per token row
    // run without a conditional each
    val bitSums = for { c <- 0 until chunks; b <- 0 until bitsPer } yield
      sum(shiftright(col(s"hv$c"), b).bitwiseAND(1) * 2 - 1).as(s"s${c}_$b")
    val summed = withHv.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sigCols = (0 until chunks).map { c =>
      (0 until bitsPer).map(b =>
        when(col(s"s${c}_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"sim$c")
    }
    summed.select(col(idCol) +: sigCols: _*)
  }

  /** Near-dup candidate pairs from the wide simhash: docs sharing ANY 16-bit
    * chunk value are candidates (pigeonhole: Hamming ≤ maxHamming < 4 bands
    * ⇒ at least one band agrees exactly), verified by the exact 64-bit
    * Hamming distance (sum of per-chunk bit_count(xor)). Banded equi-join on
    * (band, 16-bit key): bucket sizes are ~n/2^16 per key — bounded fan-out
    * at 10^10 docs, never all-pairs. */
  def simhashWidePairs(
      signatures: DataFrame, // (idCol, sim0..sim3)
      idCol: String,
      maxHamming: Int
  ): DataFrame = {
    require(maxHamming < 4,
      "pigeonhole guarantee needs maxHamming < 4 bands (else pairs are missed)")
    val chunks = 0 until 4
    val bandCols = chunks.map(c =>
      struct(lit(c).as("band"), col(s"sim$c").as("bk")))
    val banded = signatures
      .select(col(idCol) +: chunks.map(c => col(s"sim$c"))
        :+ explode(array(bandCols: _*)).as("b"): _*)
      .select(col(idCol) +: chunks.map(c => col(s"sim$c"))
        :+ col("b.band").as("band") :+ col("b.bk").as("bk"): _*)
    val l = banded.select(col(idCol).as("i") +:
      chunks.map(c => col(s"sim$c").as(s"a$c")) :+ col("band") :+ col("bk"): _*)
    val r = banded.select(col(idCol).as("j") +:
      chunks.map(c => col(s"sim$c").as(s"b$c")) :+ col("band") :+ col("bk"): _*)
    val hamming = chunks.map(c =>
      bit_count(col(s"a$c").bitwiseXOR(col(s"b$c")))).reduce(_ + _)
    l.join(r, Seq("band", "bk")).where(col("i") < col("j"))
      .select(col("i"), col("j"), hamming.cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Benchmark decontamination: per-document fraction of its distinct
    * n-gram shingles that appear in the benchmark shingle set — the
    * standard check that training data does not contain eval-benchmark
    * text. The benchmark side is tiny next to the corpus (eval suites are
    * KBs–MBs) → broadcast hash join in the shingle scan stage; the corpus
    * never shuffles by shingle. */
  def contaminationFrac(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      benchmarkShingles: DataFrame, // one column: shingle
      n: Int = 3
  ): DataFrame = {
    val sh = shingles(docs, idCol, textCol, n)
    val bench = benchmarkShingles.select(col("shingle")).distinct()
      .withColumn("__hit", lit(1))
    sh.join(broadcast(bench), Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(round(
        sum(coalesce(col("__hit"), lit(0))).cast("double") / count(lit(1)), 6)
        .as("contaminated_frac"))
  }

  /** Edge-count cutoff of the union-find fast path in [[dupClusters]]
    * (16 B/edge → ≤128 MB in the task). Specs lower it to force the
    * iterative path. */
  @volatile private[graft] var localClusterMaxEdges: Long = 8000000L

  /** Duplicate clusters from candidate pairs — the terminal step of every
    * near-dup pipeline (keep one doc per TRANSITIVE duplicate group, not
    * per pair): connected components by iterative min-label propagation.
    * Each node's label converges to the minimum doc id in its component in
    * O(component diameter) rounds; near-dup clusters are shallow (a dup
    * group's pair graph is dense), so convergence is a handful of rounds.
    * Per round: one equi-join + one min-aggregation, with
    * `localCheckpoint` truncating the iterative lineage (the classic
    * Spark iterative-algorithm trap: an unbounded plan tree). The
    * convergence check is a slim count of changed labels.
    *
    * Input: (i, j) candidate pairs (i < j). Output: (id, label) — label =
    * min id of the component; docs in no pair are singletons and simply
    * don't appear (their label is themselves by definition).
    *
    * Cluster-mode contract: pass `checkpointDir` (e.g. the lake's scratch
    * area on the shared FS) and every round's state is a RELIABLE
    * `Dataset.checkpoint` — executor loss mid-iteration recomputes from
    * the persisted round, not from an unrecoverable localCheckpoint block
    * (localCheckpoint stores blocks on executors; losing one fails the
    * job). Default (None) keeps the fast local path for single-JVM runs.
    * Round files accumulate under the dir for the duration of the call —
    * O(rounds × labels) bytes; the caller owns the dir's lifecycle.
    *
    * Small graphs (≤ [[localClusterMaxEdges]] edges) with integral ids and
    * no reliable-checkpoint contract short-circuit to union-find in a
    * single executor task — identical labels, one job instead of rounds ×
    * (join+agg+ckpt+count). */
  def dupClusters(pairs: DataFrame, maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def ckpt(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true)
    val edges = ckpt(pairs.select(col("i").as("a"), col("j").as("b"))
      .unionByName(pairs.select(col("j").as("a"), col("i").as("b")))
      .distinct())

    // Scale-adaptive small-graph fast path (guide §1.2/§2: fix the
    // distributed algorithm to the data size, don't run a 32-task
    // multi-round iteration over a graph that fits one task): when the
    // materialized edge set is small AND the ids are integral, resolve the
    // components with union-find inside ONE executor task — a single job
    // replacing ~4 jobs × rounds of join/agg/checkpoint/count scheduling.
    // The cutoff (16 B/edge → ≤128 MB in the task) keeps it a bounded
    // executor-side computation, never a driver collect; larger graphs take
    // the iterative min-label propagation below, unchanged.
    // The edge count is a job of its own, so it runs only when the other
    // two conditions already admit the fast path.
    val integralIds = edges.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    if (integralIds && checkpointDir.isEmpty &&
        edges.count() <= localClusterMaxEdges) {
      import spark.implicits._
      val longEdges = edges.select(
        col("a").cast("long"), col("b").cast("long")).as[(Long, Long)]
      val labeled = longEdges.coalesce(1).mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x // path compression
          while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          // union by MIN id so every root is its component's minimum
          if (ra != rb) {
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        import scala.jdk.CollectionConverters._
        parent.keySet().iterator().asScala.map(id => (id, find(id)))
      }
      val idType = edges.schema.fields.head.dataType
      return labeled.toDF("id", "label")
        .select(col("id").cast(idType), col("label").cast(idType))
    }

    var labels = ckpt(edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("label").as("bl")), Seq("b"))
        .groupBy(col("a").as("id")).agg(min(col("bl")).as("nl"))
      // old label carried through the checkpoint so the convergence count
      // is a filter over materialized data, not another join
      val next = ckpt(labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"),
          col("label").as("__old")))
      changed = next.filter(col("label") =!= col("__old")).count()
      labels = next.drop("__old")
      iter += 1
    }
    require(changed == 0, s"dupClusters did not converge in $maxIters rounds")
    labels
  }

  /** Embedding near-duplicates within coarse cells (IVF-style): pairs are
    * only compared inside the same `cellCol` partition — the pruning that
    * makes near-dup tractable at scale. Cosine computed in double with a
    * sequential fold (deterministic).
    *
    * `maxCellSize` > 0 bounds the within-cell quadratic blow-up: a cell with
    * n > maxCellSize members is split into ceil(n/maxCellSize) sub-buckets
    * by id modulus, and pairs are only compared inside a sub-bucket. A hot
    * cell's cost drops from n² to ≈ n·maxCellSize at a recall cost
    * (cross-sub pairs are skipped) — the standard IVF sub-quantization
    * trade. The modulus is on the numeric id (engine-portable, mirrored by
    * the DuckDB oracle). */
  def embeddingNearDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cellCol: String,
      threshold: Double,
      maxCellSize: Int = 0
  ): DataFrame = {
    val base =
      if (maxCellSize <= 0) df.withColumn("__sub", lit(0L))
      else {
        // cell counts: one slim agg, #cells rows → AQE broadcasts the join
        val counts = df.groupBy(col(cellCol)).agg(count(lit(1)).as("__n"))
        df.join(counts, Seq(cellCol))
          .withColumn("__nsub",
            ceil(col("__n") / lit(maxCellSize.toDouble)).cast("long"))
          .withColumn("__sub", pmod(col(idCol).cast("long"), col("__nsub")))
          .drop("__n", "__nsub")
      }
    val a = base.select(col(cellCol), col("__sub"),
      col(idCol).as("i"), col(vecCol).as("va"))
    val b = base.select(col(cellCol), col("__sub"),
      col(idCol).as("j"), col(vecCol).as("vb"))
    a.join(b, Seq(cellCol, "__sub")).where(col("i") < col("j"))
      .select(col("i"), col("j"),
        round(Ann.cosine(col("va"), col("vb")), 6).as("cos"))
      .where(col("cos") >= threshold)
  }
}
