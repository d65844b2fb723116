package graft

import graft.functions.TextAnalysis
import graft.operators.{Ann, Dedup, Multimodal}
import org.apache.spark.sql.functions._

/** Dedup / similarity / text-analysis / multimodal operator tests with
  * planted ground truth. */
class TrainOpsSpec extends SparkSpec {
  import spark.implicits._

  // planted corpus: (1,2) near-dup (one word changed), (3) unrelated,
  // (4) exact dup of 1
  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy cat again and again today"),
    (3L, "completely different words about spark catalyst optimizer plans"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val g = Dedup.exactDedupGroups(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect()
    assert(g.length == 3)
    val dup = g.find(_._3 == 2).get
    assert(dup._2 == 1L) // keeps the lowest id
  }

  test("ngram jaccard finds the planted near-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L))) // exact dup → jaccard 1.0
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH candidates contain the near-dup, not the unrelated doc") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 8, 3)
    val pairs = Dedup.minhashLshPairs(sig, "doc_id", 8, 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // md5-based variant agrees on the exact-dup pair
    val sigMd5 = Dedup.minhashSignatures(docs, "doc_id", "text", 8, 3, md5Based = true)
    assert(Dedup.minhashLshPairs(sigMd5, "doc_id", 8, 4)
      .as[(Long, Long)].collect().toSet.contains((1L, 4L)))
  }

  test("md5 minhash: MinLongPair signatures == min(md5 string), via HashAggregate") {
    // randomized corpus (fixed seed): many docs, shared + unique shingles
    val rnd = new scala.util.Random(42)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val corpus = (1L to 60L).map { id =>
      (id, Seq.fill(12 + rnd.nextInt(20))(words(rnd.nextInt(words.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")

    val fast = Dedup.minhashSignatures(corpus, "doc_id", "text", 8, 3,
      md5Based = true)
    // reference: the straightforward min-over-hex-string aggregation
    val sh = Dedup.shingles(corpus, "doc_id", "text", 3)
    val refSigs = (0 until 8)
      .map(k => min(md5(concat(col("shingle"), lit(s"#$k")))).as(s"h$k"))
    val ref = sh.groupBy(col("doc_id")).agg(refSigs.head, refSigs.tail: _*)
    assert(fast.orderBy("doc_id").collect().toSeq ==
      ref.orderBy("doc_id").collect().toSeq)
    // the point of the decomposition: fixed-width buffer -> HashAggregate,
    // and the string-buffer SortAggregate fallback is gone
    val plan = fast.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("SortAggregate"), plan)
    // a row with either component null is skipped, even when its first
    // component is below the running minimum
    val pairs = Seq((5L, Option(7L)), (3L, None), (6L, Option(1L))).toDF("a", "b")
    val m = pairs.select(graft.functions.MinPairExpression
      .min_long_pair($"a", $"b").as("m")).select($"m.a", $"m.b")
      .as[(Long, Option[Long])].collect().head
    assert(m == ((5L, Some(7L))))
  }

  test("simhash: identical texts equal, near-dups close in hamming") {
    val sh = Dedup.simhash(docs, "doc_id", "text", 16)
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(4L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) <= hamming(sh(1L), sh(3L)))
  }

  test("ANN: brute-force top-k ranks by cosine; IVF prunes to cells") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f), 0), (1L, Array(0.9f, 0.1f, 0f), 0),
      (2L, Array(0f, 1f, 0f), 0), (3L, Array(-1f, 0f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = Ann.bruteForceTopK(vecs.filter($"vec_id" === 0), vecs,
        "vec_id", "embedding", 2)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    assert(top.map(_._2).toSeq == Seq(1L, 2L))
    val ivf = Ann.ivfTopK(vecs.filter($"vec_id" === 0), vecs, "vec_id",
        "embedding", "label", 3)
      .as[(Long, Long, Double)].collect()
    assert(ivf.map(_._2).toSet == Set(1L, 2L)) // cell 1 (vec 3) pruned away
  }

  test("simhash wide (64-bit production path): planted near-dups at hamming ≤3 recovered") {
    // xxhash64 basis (production default) — the scale parametrization with
    // 2^16-value band keys
    val sig = Dedup.simhashWide(docs, "doc_id", "text")
    val rows = sig.collect()
    assert(rows.forall(r => (1 to 4).forall(c =>
      r.getLong(c) >= 0L && r.getLong(c) <= 0xFFFFL))) // each chunk is 16-bit
    val pairs = Dedup.simhashWidePairs(sig, "doc_id", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair.get((1L, 4L)).contains(0)) // planted exact dup: hamming 0
    // planted one-word near-dup: a single token flip moves few signature
    // bits on a 13-token doc — must be recovered within hamming ≤ 3
    assert(byPair.contains((1L, 2L)) && byPair.contains((2L, 4L)))
    assert(byPair((1L, 2L)) <= 3)
    assert(!byPair.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // md5-based (oracle) variant agrees on the planted structure
    val sigMd5 = Dedup.simhashWide(docs, "doc_id", "text", md5Based = true)
    val pMd5 = Dedup.simhashWidePairs(sigMd5, "doc_id", maxHamming = 3)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pMd5.get((1L, 4L)).contains(0))
    assert(!pMd5.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // pigeonhole guard: maxHamming must be < 4 bands
    intercept[IllegalArgumentException] {
      Dedup.simhashWidePairs(sig, "doc_id", maxHamming = 4)
    }
  }

  test("dupClusters resolves transitive duplicate groups to min-id labels") {
    import graft.operators.Sampling
    // components: {1,2,3,4} via a chain (1-2, 2-3, 3-4) and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("i", "j")
    val labels = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))

    // hash sampling: deterministic, repartition-stable, roughly proportional
    val ids = spark.range(0, 2000).select($"id".as("doc_id"))
    val s1 = Sampling.hashSample(ids, "doc_id", 0.25, seed = 7)
      .as[Long].collect().toSet
    val s2 = Sampling.hashSample(ids.repartition(13), "doc_id", 0.25, seed = 7)
      .as[Long].collect().toSet
    assert(s1 == s2) // layout-independent (df.sample is not)
    assert(s1.size > 350 && s1.size < 650) // ~500 expected
    assert(Sampling.hashSample(ids, "doc_id", 0.0).count() == 0)
    assert(Sampling.hashSample(ids, "doc_id", 1.0).count() == 2000)

    // vocabulary: counts and deterministic tie-break
    val docs2 = Seq("b a a", "a b  c").toDF("text") // double space → empty token dropped
    val vocab = graft.functions.TextAnalysis.topKTokens(docs2, "text", 2)
      .as[(String, Long)].collect().toSeq
    assert(vocab == Seq(("a", 3L), ("b", 2L)))
  }

  test("dupClusters matches a union-find reference on random graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 30
      val pairsSeq = Seq.fill(40) {
        val a = rnd.nextInt(n); val b = rnd.nextInt(n)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter(p => p._1 != p._2).distinct
      // union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      pairsSeq.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
      val nodes = pairsSeq.flatMap(p => Seq(p._1, p._2)).distinct
      val minByRoot = nodes.groupBy(id => find(id.toInt)).map { case (r, ids) => r -> ids.min }
      val expected = nodes.map(id => id -> minByRoot(find(id.toInt))).toMap
      val got = Dedup.dupClusters(pairsSeq.toDF("i", "j"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected)
    }
  }

  test("production-hash recall floors: simhash banding lossless at ≤3 bits; minhash LSH; multi-probe ANN") {
    // The oracle gate proves the md5 bases; this pins RECALL for the
    // xxhash64 production paths against exact ground truth. Planted
    // near-dups: 2 of 40 tokens mutated (Jaccard well above 0.5).
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 800).map(i => s"w$i")
    def doc(len: Int) = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = Seq.fill(50)(doc(40))
    def mutate(d: String): String = {
      val t = d.split(" ").clone()
      (0 until 2).foreach(_ => t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.size)))
      t.mkString(" ")
    }
    val corpus = (bases ++ bases.map(mutate)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text").cache()

    // minhash(xxhash64) LSH candidates vs EXACT Jaccard ≥ 0.5 pairs
    val exactJac = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3,
      threshold = 0.5).select("i", "j").as[(Long, Long)].collect().toSet
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text", numHashes = 8, n = 3)
    val mhCand = Dedup.minhashLshPairs(sigs, "doc_id", 8, bands = 4)
      .as[(Long, Long)].collect().toSet
    assert(exactJac.size >= 40) // the plant worked
    val mhRecall = exactJac.count(mhCand.contains).toDouble / exactJac.size
    assert(mhRecall >= 0.8, s"minhash(xxhash64) LSH recall $mhRecall < 0.8")

    // simhashWide(xxhash64): banding must be LOSSLESS for Hamming ≤ 3
    // (pigeonhole: ≤3 flipped bits cannot touch all 4 bands)
    val wide = Dedup.simhashWide(corpus, "doc_id", "text").cache()
    val sigMap = wide.collect().map(r => r.getLong(0) ->
      (0 until 4).map(c => r.getLong(c + 1))).toMap
    val exactHam = (for {
      (i, si) <- sigMap.toSeq; (j, sj) <- sigMap.toSeq if i < j
      if (0 until 4).map(c => java.lang.Long.bitCount(si(c) ^ sj(c))).sum <= 3
    } yield (i, j)).toSet
    val bandCand = Dedup.simhashWidePairs(wide, "doc_id", maxHamming = 3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(exactHam.nonEmpty)
    assert(exactHam.subsetOf(bandCand),
      s"simhash banding dropped ${(exactHam -- bandCand).size} true pairs")

    // multi-probe sign-LSH ANN: top-1 recall vs brute force, and ≥ the
    // single-probe recall (probing can only add candidate buckets)
    val dim = 8
    def vec() = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
    val targets = (0 until 300).map(i => (i.toLong, vec())).toDF("vec_id", "embedding")
    val queries = targets.limit(25)
    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("qid", "tid", "cos").as[(Long, Long, Double)].collect()
        .groupBy(_._1).map { case (q, ts) => q -> ts.maxBy(t => (t._3, -t._2))._2 }
    val truth = top1(Ann.bruteForceTopK(queries, targets, "vec_id", "embedding", 1))
    val single = top1(Ann.lshTopK(queries, targets, "vec_id", "embedding", 1, dim,
      planes = 4, multiProbe = false))
    val multi = top1(Ann.lshTopK(queries, targets, "vec_id", "embedding", 1, dim,
      planes = 4, multiProbe = true))
    def recall(got: Map[Long, Long]): Double =
      truth.count { case (q, t) => got.get(q).contains(t) }.toDouble / truth.size
    assert(recall(multi) >= recall(single))
    assert(recall(multi) >= 0.5, s"multi-probe top-1 recall ${recall(multi)}")
    corpus.unpersist(); wide.unpersist()
  }

  test("dupClusters reliable-checkpoint path survives a worst-case 50-round diameter") {
    // a PATH graph is the worst case for min-label propagation: the label
    // needs O(diameter) rounds to reach the far end. 51 nodes → 50 rounds.
    // Run it through the RELIABLE Dataset.checkpoint path (the cluster-mode
    // contract: executor loss recomputes from persisted rounds, unlike
    // localCheckpoint's executor-resident blocks).
    val n = 50
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("i", "j")
    val ckptDir = tmpDir("dup-ckpt")
    val labels = Dedup.dupClusters(pairs, maxIters = n + 2,
        checkpointDir = Some(ckptDir))
      .as[(Long, Long)].collect().toMap
    assert(labels.size == n + 1 && labels.values.forall(_ == 0L))
    // the checkpoint dir was actually used (reliable files on disk)
    val fs = new org.apache.hadoop.fs.Path(ckptDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(ckptDir)).nonEmpty)
  }

  test("repetition score and benchmark contamination") {
    // "a b c" repeated: 8 tokens → 6 trigrams, 3 distinct → dup_frac 0.5
    val rep = Seq((1L, "a b c a b c a b"), (2L, "x y")).toDF("doc_id", "text")
      .select($"doc_id",
        TextAnalysis.duplicateNgramFrac($"text", 3).as("f"))
      .as[(Long, Option[Double])].collect().toMap
    assert(rep(1L).contains(0.5))
    assert(rep(2L).isEmpty) // < 3 tokens → null

    val bench = Dedup.shingles(docs.filter($"doc_id" === 1), "doc_id", "text", 3)
      .select("shingle")
    val cont = Dedup.contaminationFrac(docs, "doc_id", "text", bench, 3)
      .as[(Long, Double)].collect().toMap
    assert(cont(1L) == 1.0 && cont(4L) == 1.0) // doc 4 is an exact dup of 1
    assert(cont(3L) == 0.0)                    // unrelated doc untouched
    assert(cont(2L) > 0.0 && cont(2L) < 1.0)   // near-dup partially contaminated
  }

  test("ngram jaccard: capped path equals uncapped when no shingle is hot") {
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, maxDf = 64)
      .as[(Long, Long, Double)].collect().toSet
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(capped == uncapped)
    // a cap below the planted dup cluster's df drops its shared shingles
    val tight = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, maxDf = 1)
    assert(tight.count() == 0)
  }

  test("IVF k-means trainer: deterministic cells, argmin-consistent") {
    // two well-separated clusters around (0,0) and (10,10)
    val vecs = Seq(
      (1L, Array(0.1f, 0.0f)), (2L, Array(0.0f, 0.2f)), (3L, Array(0.2f, 0.1f)),
      (4L, Array(10.0f, 9.9f)), (5L, Array(9.8f, 10.1f)), (6L, Array(10.2f, 10.0f))
    ).toDF("vec_id", "embedding")
    val cents = Ann.trainIvfCells(vecs, "vec_id", "embedding", k = 2, iters = 4)
    assert(cents.size == 2)
    val assigned = vecs.select(col("vec_id"),
        Ann.assignCells(col("embedding"), cents).as("cell"))
      .as[(Long, Int)].collect().toMap
    // each cluster lands in one cell, clusters in different cells
    assert(Set(assigned(1L), assigned(2L), assigned(3L)).size == 1)
    assert(Set(assigned(4L), assigned(5L), assigned(6L)).size == 1)
    assert(assigned(1L) != assigned(4L))
    // deterministic across runs
    val cents2 = Ann.trainIvfCells(vecs, "vec_id", "embedding", k = 2, iters = 4)
    assert(cents == cents2)
    // converged centroids sit at the cluster means
    val c0 = cents(assigned(1L))
    assert(math.abs(c0(0) - 0.1) < 1e-6 && math.abs(c0(1) - 0.1) < 1e-6)
  }

  test("ANN: LSH buckets are deterministic and self-consistent") {
    val vecs = Seq(
      (0L, Array.fill(8)(1f)), (1L, Array.fill(8)(1f)),
      (2L, Array.fill(8)(-1f))
    ).toDF("vec_id", "embedding")
    val b = vecs.select(col("vec_id"),
        Ann.lshBucket(col("embedding"), 8, 4).as("bucket"))
      .as[(Long, Int)].collect().toMap
    assert(b(0L) == b(1L)) // identical vectors share a bucket
    val found = Ann.lshTopK(vecs.filter($"vec_id" === 0), vecs, "vec_id",
        "embedding", 5, 8, 4)
      .as[(Long, Long, Double)].collect()
    assert(found.map(_._2).contains(1L))

    // multi-probe recall dominance: on a seeded random corpus, probing the
    // flip-one-bit neighbor buckets never loses candidates — each query's
    // best-cosine result is >= the single-probe one, and total candidates
    // can only grow
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 80L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val qs = corpus.filter($"vec_id" < 5)
    def bestCos(multiProbe: Boolean): Map[Long, Double] =
      Ann.lshTopK(qs, corpus, "vec_id", "embedding", 1, 8, 4, multiProbe)
        .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val single = bestCos(false); val multi = bestCos(true)
    assert(single.keySet.subsetOf(multi.keySet)) // multi never loses a query
    single.foreach { case (q, c) => assert(multi(q) >= c) }
  }

  test("text analysis: langId, quality, token counts, fingerprint") {
    val df = Seq((1L, "the cat and the dog of a house"),
      (2L, "el perro y la casa de el gato")).toDF("doc_id", "text")
    val pred = df.select(col("doc_id"), TextAnalysis.langPred(
        TextAnalysis.markerCount(col("text"), TextAnalysis.markers(0)._2),
        TextAnalysis.markerCount(col("text"), TextAnalysis.markers(1)._2),
        TextAnalysis.markerCount(col("text"), TextAnalysis.markers(2)._2))
        .as("pred"))
      .as[(Long, String)].collect().toMap
    assert(pred(1L) == "en" && pred(2L) == "es")

    val counts = df.select(
        TextAnalysis.wsTokenCount(col("text")).as("ws"),
        TextAnalysis.bpeTokenCount(col("text")).as("bpe"))
      .as[(Int, Int)].collect()
    assert(counts(0) == ((8, 8)))

    val q = df.select(TextAnalysis.qualityScore(col("text"))).as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))

    val fp = Seq("A  B", "a b").toDF("text")
      .select(TextAnalysis.fingerprint(col("text"))).as[String].collect()
    assert(fp(0) == fp(1)) // case + whitespace normalized
  }

  test("multimodal: binary plumbing with stubbed decode is deterministic") {
    val media = Seq(
      Multimodal.MediaRow(1L, "text/utf-8", "hello world".getBytes("UTF-8")),
      Multimodal.MediaRow(2L, "image/fake", Array.fill[Byte](600)(7))
    ).toDS
    val f = Multimodal.extractFeatures(spark, media)
      .collect().sortBy(_.id)
    assert(f(0).n_bytes == 11 && f(0).n_frames == 1)
    assert(f(1).n_bytes == 600 && f(1).n_frames == 3)
    assert(f.forall(x => x.width >= 64 && x.height >= 64))
    // determinism across runs
    val f2 = Multimodal.extractFeatures(spark, media).collect().sortBy(_.id)
    assert(f.toSeq == f2.toSeq)

    // frame sampling: stride fan-out bounded by maxFrames, empty media drop
    val frames = Multimodal.sampleFrames(
        Seq((1L, 10L), (2L, 1L), (3L, 0L)).toDF("id", "n_frames"),
        stride = 3, maxFrames = 3)
      .select("id", "frame_idx").as[(Long, Long)].collect().sorted
    assert(frames.toSeq == Seq((1L, 0L), (1L, 3L), (1L, 6L), (2L, 0L)))

    // byte-budget repartitioning balances by payload size, not row count:
    // no output partition may hold much more than the byte budget (chunk
    // granularity: budget + one chunk + one max row of slack)
    val sized = (1 to 100).map(i =>
      (i.toLong, if (i <= 4) 1000L else 10L)).toDF("id", "bytes")
    val parts = Multimodal.repartitionByPayload(sized, "bytes", 1200L)
    assert(parts.count() == 100)
    val perPart = parts
      .groupBy(spark_partition_id().as("p"))
      .agg(sum($"bytes").as("b"))
      .select("b").as[Long].collect()
    assert(perPart.length >= 3) // ~5 KB total / 1.2 KB budget
    assert(perPart.max <= 1200L + 1200L + 1000L, s"skewed: ${perPart.toSeq}")

    // real decoders on planted real bytes: a handcrafted 7×5 BMP and a
    // 8kHz mono 16-bit WAV with 100 sample frames, routed by kind through
    // the same mapPartitions plumbing as the stub
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val bmp: Array[Byte] =
      "BM".getBytes ++ le32(122) ++ le32(0) ++ le32(54) ++ // file header
        le32(40) ++ le32(7) ++ le32(-5) ++ le16(1) ++ le16(24) ++ // info: 7 × -5 (top-down)
        Array.fill[Byte](122 - 30)(0)
    val wav: Array[Byte] =
      "RIFF".getBytes ++ le32(36 + 200) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
        le32(16000) ++ le16(2) ++ le16(16) ++
        "data".getBytes ++ le32(200) ++ Array.fill[Byte](200)(7)
    val real = Multimodal.extractFeatures(spark, Seq(
        Multimodal.MediaRow(10L, "image/bmp", bmp),
        Multimodal.MediaRow(11L, "audio/wav", wav),
        Multimodal.MediaRow(12L, "text/utf-8", "hello".getBytes)
      ).toDS()).collect().map(f => f.id -> f).toMap
    assert(real(10L).width == 7 && real(10L).height == 5 && real(10L).n_frames == 1)
    assert(real(11L).width == 8000 && real(11L).height == 1 && real(11L).n_frames == 100)
    assert(real(12L).digest == graft.ops.Checksums.md5Hex("hello")) // stub path intact

    // 1000+ input partitions: the offset lookup is a map-literal element_at,
    // not a per-partition when-chain — the plan must stay O(1) deep and the
    // byte bound must still hold
    val wide = spark.range(0, 2000, 1, 1200)
      .select($"id", (lit(5L) + ($"id" % 7)).as("bytes"))
    val wideParts = Multimodal.repartitionByPayload(wide, "bytes", 500L)
    assert(wideParts.count() == 2000)
    val wideBytes = wideParts
      .groupBy(spark_partition_id().as("p"))
      .agg(sum($"bytes").as("b"))
      .select("b").as[Long].collect()
    assert(wideBytes.max <= 500L + 500L + 11L, s"skewed: ${wideBytes.max}")
  }

  test("dupClusters: union-find fast path and iterative path agree") {
    // the same random graphs through BOTH code paths: the single-task
    // union-find fast path (default for small graphs) and the iterative
    // min-label propagation (forced via the edge cutoff = 0)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 40
      val pairsSeq = Seq.fill(60) {
        val a = rnd.nextInt(n); val b = rnd.nextInt(n)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter(p => p._1 != p._2).distinct
      val fast = Dedup.dupClusters(pairsSeq.toDF("i", "j"))
        .as[(Long, Long)].collect().toMap
      val cutoff = Dedup.localClusterMaxEdges
      Dedup.localClusterMaxEdges = 0
      try {
        val iterative = Dedup.dupClusters(pairsSeq.toDF("i", "j"))
          .as[(Long, Long)].collect().toMap
        assert(fast == iterative)
      } finally Dedup.localClusterMaxEdges = cutoff
    }
  }

  test("bucket-aligned repartition: bucket k lands in shuffle partition k") {
    import org.apache.spark.sql.functions._
    val b = 32
    val df = spark.range(0, 5000)
      .select(concat(lit("u"), $"id").as("url"))
      .withColumn("_bucket", graft.lake.LakeTable.bucketOf($"url", b))
    val placed = graft.lake.LakeTable.repartitionByBucket(df, b)
      .select($"_bucket", spark_partition_id().as("pid"))
      .distinct().as[(Int, Int)].collect()
    assert(placed.nonEmpty && placed.forall { case (bkt, pid) => bkt == pid })
    // and the preimage table really is a bijection for assorted bucket counts
    for (bb <- Seq(1, 4, 8, 32, 64, 100))
      assert(graft.lake.LakeTable.bucketPreimages(bb).distinct.length == bb)
  }
}
