package graft

import org.apache.spark.sql.functions._

/** Native Catalyst expressions vs the declarative spellings they replace. */
class ExprSpec extends SparkSpec {
  import spark.implicits._

  test("dot_product native expression ≡ HOF fold, codegen'd, null-safe") {
    import graft.operators.Ann
    val rnd = new scala.util.Random(7)
    val vecs = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat()), Array.fill(64)(rnd.nextFloat()))
    }.toDF("id", "a", "b")
    // bit-identical to the interpreted HOF fold (same fold order)
    val diff = vecs.select(
        Ann.dot($"a", $"b").as("native"),
        AnnHofs.dotHof($"a", $"b").as("hof"))
      .filter($"native" =!= $"hof")
    assert(diff.count() == 0)
    // cosine built on it matches too
    val c = vecs.select(Ann.cosine($"a", $"b").as("c"))
      .filter($"c" < -1.0 || $"c" > 1.0)
    assert(c.count() == 0)
    // null in → null out
    val n = vecs.select(Ann.dot(lit(null).cast("array<float>"), $"b").as("d"))
      .as[Option[Double]].head()
    assert(n.isEmpty)
    // the plan stays in whole-stage codegen (no CodegenFallback wrapper);
    // repartition blocks ConvertToLocalRelation from pre-evaluating the
    // projection at plan time
    val q = vecs.repartition(2).select(Ann.dot($"a", $"b"))
    q.collect() // finalize the adaptive plan
    // "*(n)" prefixes mark whole-stage-codegen stages; the projection with
    // dot_product must carry one (a CodegenFallback expr would strip it)
    assert(q.queryExecution.executedPlan.toString
      .linesIterator.exists(l => l.contains("*(") && l.contains("dot_product")))
  }

  test("token_set_count ≡ size(filter(split, isin)) HOF, codegen'd") {
    import graft.functions.TextAnalysis
    val cases = Seq(
      "the quick the fox of and the", "el la de y y", "", " ", "  the  ",
      "nothe the thex", "und der die das", "the", "a a a a", "x y z",
      "über the straße of", "the  a", // double spaces → empty tokens kept
      "a,b the a b") // a word set member containing a comma
    val df = cases.toDF("text").repartition(2)
    for (words <- TextAnalysis.markers.map(_._2) :+ Seq("a,b", "the")) {
      val both = df.select(
        TextAnalysis.markerCount($"text", words).as("fast"),
        size(filter(split($"text", " "),
          t => t.isin(words.map(lit(_)): _*))).as("ref"))
      assert(both.filter($"fast" =!= $"ref").count() == 0, s"words=$words")
    }
    // null in → null out, matching the HOF form under default size(null)
    val n = df.limit(1).select(
      TextAnalysis.markerCount(lit(null).cast("string"),
        TextAnalysis.markers.head._2).as("c"))
      .as[Option[Int]].collect().head
    assert(n.isEmpty)
    // stays inside whole-stage codegen (the ArrayFilter HOF stripped it)
    val q = df.select(TextAnalysis.markerCount($"text",
      TextAnalysis.markers.head._2))
    q.collect()
    assert(q.queryExecution.executedPlan.toString
      .linesIterator.exists(l => l.contains("*(") && l.contains("token_set_count")))
  }

  test("lsh_bucket native expression ≡ HOF spelling (exact, incl. sign table)") {
    import graft.operators.Ann
    val rnd = new scala.util.Random(23)
    val dims = Seq(3, 8, 64)
    for (dim <- dims; planes <- Seq(1, 4, 8)) {
      val vecs = (1 to 60).map { i =>
        (i.toLong, Array.fill(dim)((rnd.nextFloat() - 0.5f) * 4))
      }.toDF("id", "v").repartition(2)
      val both = vecs.select(
        Ann.lshBucket($"v", dim, planes).as("fast"),
        AnnHofs.lshBucketHof($"v", dim, planes).as("ref"))
      assert(both.filter($"fast" =!= $"ref").count() == 0,
        s"dim=$dim planes=$planes")
    }
    // degenerate shapes the zip_with null-padding used to collapse to 0
    val short = Seq((1L, Array(1f, 2f))).toDF("id", "v")
    val b = short.select(Ann.lshBucket($"v", 5, 4).as("b"),
      AnnHofs.lshBucketHof($"v", 5, 4).as("r")).collect().head
    assert(b.getInt(0) == 0 && b.getInt(1) == 0)
    // longer than dim: the HOF still folds the extra elements (null-padded
    // index, whose xxhash64 skips the null), and so must the native form
    val long = Seq.tabulate(40)(i => (i.toLong,
      Array.fill(5 + i % 3)((rnd.nextFloat() - 0.5f) * 4))).toDF("id", "v")
    val l = long.select(Ann.lshBucket($"v", 3, 8).as("fast"),
      AnnHofs.lshBucketHof($"v", 3, 8).as("ref"))
    assert(l.filter($"fast" =!= $"ref").count() == 0)
    assert(l.filter($"fast" =!= 0).count() > 0)
    // stays in whole-stage codegen
    val q = Seq((1L, Array(1f, 2f, 3f))).toDF("id", "v").repartition(2)
      .select(Ann.lshBucket($"v", 3, 4))
    q.collect()
    assert(q.queryExecution.executedPlan.toString
      .linesIterator.exists(l => l.contains("*(") && l.contains("lsh_bucket")))
  }

  test("argmin_cell native expression ≡ least+when-chain HOF spelling") {
    import graft.operators.Ann
    val rnd = new scala.util.Random(31)
    for (dim <- Seq(3, 16); k <- Seq(2, 5)) {
      val cents = Seq.fill(k)(Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
      // include exact-duplicate centroids to exercise the tie rule
      val withTie = cents.updated(k - 1, cents.head)
      val vecs = (1 to 50).map { i =>
        (i.toLong, Array.fill(dim)((rnd.nextFloat() - 0.5f) * 3))
      }.toDF("id", "v").repartition(2)
      for (cs <- Seq(cents, withTie)) {
        val both = vecs.select(
          Ann.assignCells($"v", cs).as("fast"),
          AnnHofs.assignCellsHof($"v", cs).as("ref"))
        assert(both.filter($"fast" =!= $"ref").count() == 0,
          s"dim=$dim k=$k tie=${cs == withTie}")
      }
    }
    // k-means end-to-end sanity: planted clusters recovered identically
    val planted = (Seq.fill(30)(Array(1f, 0f)) ++ Seq.fill(30)(Array(0f, 1f)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
    val cs2 = Ann.trainIvfCells(planted, "vec_id", "v", k = 2, iters = 3)
    val cells = planted.select(Ann.assignCells($"v", cs2).as("c"))
      .as[Int].collect()
    assert(cells.take(30).distinct.length == 1 &&
      cells.drop(30).distinct.length == 1 && cells.distinct.length == 2)
  }

  test("sorted_pairs generator ≡ nested-transform pair expansion") {
    import graft.functions.SortedPairs
    val rnd = new scala.util.Random(11)
    val arrays = Seq(Seq.empty[Long], Seq(7L), Seq(1L, 2L), Seq(3L, 1L, 2L)) ++
      Seq.fill(5)(Seq.fill(1 + rnd.nextInt(12))(rnd.nextInt(100).toLong).toSeq)
    val df = arrays.toDF("ids").repartition(2)
    val fast = df.select(SortedPairs.sorted_pairs($"ids"))
      .as[(Long, Long)].collect().sorted.toSeq
    // reference = the previous HOF spelling
    val ref = df.select(explode(flatten(transform($"ids", (b, jdx) =>
        transform(slice($"ids", lit(1), jdx),
          a => struct(a.as("i"), b.as("j")))))).as("p"))
      .select($"p.i", $"p.j")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(fast == ref)
    assert(fast.size == arrays.map(a => a.size * (a.size - 1) / 2).sum)
  }

  test("word_ngrams byte-slicing ≡ split/StringBuilder reference, codegen'd") {
    import graft.functions.WordNgrams
    import org.apache.spark.unsafe.types.UTF8String
    // reference = the previous implementation's exact spelling
    def reference(text: String, n: Int): Seq[String] = {
      val toks = text.split(" ", -1)
      val m = toks.length - n + 1
      if (m <= 0) return Seq.empty
      val seen = new java.util.LinkedHashSet[String]()
      (0 until m).foreach(i => seen.add(toks.slice(i, i + n).mkString(" ")))
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    }
    val cases = Seq(
      "the quick brown fox", "a b c", "a b", "", " ", "  ", "a  b c",
      " leading", "trailing ", "  double  spaces  everywhere  ",
      "über straße größe naïve café", "日本語 の テスト 文字列 です",
      "x", "repeat repeat repeat repeat repeat")
    for (n <- Seq(1, 2, 3, 5); text <- cases) {
      val got = WordNgrams.compute(UTF8String.fromString(text), n)
        .array.toSeq.map(_.toString)
      assert(got == reference(text, n), s"n=$n text='$text'")
    }
    // whole-stage codegen carries the expression (was CodegenFallback, which
    // forces per-row InternalRow materialization in the Generate stage)
    val df = cases.toDF("text").repartition(2)
      .select(graft.functions.NgramExpression.word_ngrams($"text", 3).as("g"))
    df.collect()
    assert(df.queryExecution.executedPlan.toString
      .linesIterator.exists(l => l.contains("*(") && l.contains("word_ngrams")))
  }
}
