package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The declarative higher-order-function spellings of `Ann`'s native
  * expressions (dot_product, lsh_bucket, argmin_cell) — the reference
  * implementations ExprSpec tests the native forms against. */
object AnnHofs {

  /** Elementwise-double dot product as one left-to-right fold. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Sign-bit LSH bucket: bit p is set when sum_j vec[j]·sign(xxhash64(j, p)) > 0. */
  def lshBucketHof(vec: Column, dim: Int, planes: Int): Column = {
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

  /** Distance² between a vector column and one literal centroid. */
  private def sqDistToLit(vec: Column, centroid: Seq[Double]): Column =
    aggregate(
      zip_with(vec, typedLit(centroid),
        (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
      lit(0.0), (acc, x) => acc + x)

  /** Nearest-centroid cell: argmin of the distances, ties to the lowest id. */
  def assignCellsHof(vec: Column, centroids: Seq[Seq[Double]]): Column = {
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
}
