package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (Array[Float]) — brute-force cosine top-k baseline + LSH/IVF-bucketed
  * scale paths. All math runs as native fused Catalyst expressions
  * (dot_product, lsh_bucket, argmin_cell — one codegen'd pass each) in
  * double precision with deterministic left-to-right folds,
  * engine-portable and bit-identical to the declarative HOF spellings
  * retained here as test references; no UDFs in the hot path.
  */
object Ann {

  /** Elementwise-double dot product of two numeric-array columns — the
    * native Catalyst expression (fused codegen loop, no intermediate array;
    * graft.functions.DotProductExpr); identical left-to-right fold as the
    * HOF form below. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_product(a, b)

  /** The declarative HOF spelling of the same fold — kept as the reference
    * implementation the native expression is tested against (ExprSpec). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: every query row against every target row.
    * The baseline path — correct at any scale but O(|Q|·|T|); broadcast the
    * (small) query side so the scan parallelizes over targets without a
    * shuffle. Ranking is on cosine rounded to 6 decimals with id tiebreak
    * (deterministic). */
  def bruteForceTopK(
      queries: DataFrame,
      targets: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")))
    val t = targets.select(col(idCol).as("tid"), col(vecCol).as("tv"))
    val scored = t.crossJoin(q)
      .where(col("qid") =!= col("tid"))
      .select(col("qid"), col("tid"),
        round(cosine(col("qv"), col("tv")), 6).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("tid"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .drop("rn")
  }

  /** Sign-bit LSH bucket id from `planes` fixed hyperplanes. Hyperplane
    * p's component j is a deterministic pseudo-random ±1 derived from
    * xxhash64(j, p) — reproducible everywhere, no stored model. Computed by
    * the native LshBucketExpr (sign table precomputed once at plan time,
    * all planes fused into one vector pass) — the HOF spelling it replaces
    * re-evaluated the constant xxhash64(j, p) per element × plane × ROW
    * interpreted (see LshBucketExpression; equivalence test in ExprSpec). */
  def lshBucket(vec: Column, dim: Int, planes: Int): Column =
    graft.functions.LshBucketOps.lsh_bucket(vec, dim, planes)

  /** The declarative HOF spelling — kept as the reference implementation
    * the native expression is tested against (ExprSpec). */
  private[graft] def lshBucketHof(vec: Column, dim: Int, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      // sum_j vec[j] * sign(hash(j, p))
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), lit(dim - 1)),
          (x, j) => x.cast("double") *
            when(pmod(xxhash64(j, lit(p)), lit(2)) === 0, 1.0).otherwise(-1.0)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1 << p)).otherwise(0)
    }
    bits.reduce(_ + _)
  }

  /** LSH-bucketed ANN: queries only compare against targets in the same
    * sign-bit bucket — the scale path (equi-join on bucket id; each bucket
    * holds ~|T|/2^planes candidates).
    *
    * `multiProbe = true` raises recall by ALSO probing every bucket at
    * Hamming distance 1 from the query's bucket (flip each sign bit —
    * vectors near a hyperplane land on either side): the QUERY side fans
    * out ×(planes+1) (queries are the small broadcast side, so the fan-out
    * is cheap); the corpus is still touched only in the probed buckets. A
    * target matches a query through at most one key, so no pair dedup is
    * needed. */
  def lshTopK(
      queries: DataFrame,
      targets: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      planes: Int = 4,
      multiProbe: Boolean = false
  ): DataFrame = {
    val qBase = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      lshBucket(col(vecCol), dim, planes).as("bucket"))
    val q =
      if (!multiProbe) qBase
      else qBase.withColumn("bucket", explode(array(
        (col("bucket") +: (0 until planes).map(p =>
          col("bucket").bitwiseXOR(lit(1 << p)))): _*)))
    val t = targets.select(col(idCol).as("tid"), col(vecCol).as("tv"),
      lshBucket(col(vecCol), dim, planes).as("bucket"))
    val scored = t.join(broadcast(q), Seq("bucket"))
      .where(col("qid") =!= col("tid"))
      .select(col("qid"), col("tid"),
        round(cosine(col("qv"), col("tv")), 6).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("tid"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .drop("rn")
  }

  /** Distance² between a vector column and one literal centroid. */
  private def sqDistToLit(vec: Column, centroid: Seq[Double]): Column =
    aggregate(
      zip_with(vec, typedLit(centroid),
        (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
      lit(0.0), (acc, x) => acc + x)

  /** Train an IVF coarse quantizer: Lloyd's k-means as pure DataFrame ops.
    * Deterministic: centroids initialize from the k lowest-id vectors; each
    * iteration is ONE aggregation job over the data (assign = argmin over k
    * broadcast literal centroids in the scan stage, recompute = groupBy(cell)
    * elementwise mean via posexplode). k and dim are small (coarse cells),
    * so the per-row argmin is k·dim multiply-adds — scan-bound, no shuffle
    * of vectors except the slim (cell, component) partial sums.
    * Returns the centroids; use `assignCells` to attach the cell column. */
  def trainIvfCells(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 5
  ): Seq[Seq[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    var centroids: Seq[Seq[Double]] = df
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>")).as[Seq[Double]]
      .collect().toSeq
    for (_ <- 1 to iters) {
      val assigned = df.select(
        assignCells(col(vecCol), centroids).as("cell"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
      val sums = assigned
        .groupBy("cell", "pos")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect() // k·dim rows — model-sized, not data-sized
      val byCell = sums.groupBy(_.getInt(0))
      centroids = centroids.indices.map { c =>
        byCell.get(c) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1)).map(r => r.getDouble(2) / r.getLong(3)).toSeq
          case None => centroids(c) // empty cell keeps its centroid
        }
      }
    }
    centroids
  }

  /** Nearest-centroid assignment (the IVF cell id) as a scan-stage column:
    * argmin over k literal centroids, ties to the lowest cell id — the
    * native ArgminCellExpr (one fused pass, bit-identical distances; the
    * HOF spelling below ran k interpreted zip_with folds per row and then
    * re-evaluated them under least() + a when-chain). No shuffle, no UDF. */
  def assignCells(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    require(centroids.nonEmpty)
    if (centroids.size == 1) lit(0)
    else graft.functions.ArgminCellOps.argmin_cell(vec, centroids)
  }

  /** The declarative spelling — kept as the reference implementation the
    * native expression is tested against (ExprSpec). */
  private[graft] def assignCellsHof(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    require(centroids.nonEmpty)
    val ds = centroids.map(c => sqDistToLit(vec, c))
    if (ds.size == 1) return lit(0)
    val minD = least(ds: _*)
    ds.zipWithIndex.tail
      .foldLeft(when(ds.head === minD, lit(0))) { case (acc, (d, i)) =>
        acc.when(d === minD, lit(i))
      }
      .otherwise(lit(0))
  }

  /** IVF-style ANN with a precomputed coarse cell column: compare only
    * within the query's cell (cells = k-means centroids in a real system;
    * any coarse quantizer column works). */
  def ivfTopK(
      queries: DataFrame,
      targets: DataFrame,
      idCol: String,
      vecCol: String,
      cellCol: String,
      k: Int
  ): DataFrame = {
    val q = broadcast(queries.select(col(cellCol),
      col(idCol).as("qid"), col(vecCol).as("qv")))
    val t = targets.select(col(cellCol), col(idCol).as("tid"), col(vecCol).as("tv"))
    val scored = t.join(q, Seq(cellCol))
      .where(col("qid") =!= col("tid"))
      .select(col("qid"), col("tid"),
        round(cosine(col("qv"), col("tv")), 6).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("tid"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .drop("rn")
  }
}
