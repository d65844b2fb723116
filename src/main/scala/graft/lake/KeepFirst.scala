package graft.lake

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, UnaryNode}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col

/** Last-writer-wins dedup inside partitions: sort each partition by the
  * group columns and a descending tie-break, then keep the first row of each
  * group — the max-tie-break row, when every row of a group sits in one
  * partition (the bucket-aligned write guarantees it). One pass over sorted
  * `UnsafeRow`s: no aggregate, no exchange, no join, no `Row` round trip.
  *
  * The filter is a logical node planned by [[KeepFirstStrategy]], which
  * [[keepFirstPerGroup]] installs once per session (`extraStrategies`).
  * The node passes its child's ordering and partitioning through, so a
  * write partitioned by a leading group column keeps the one sort below it;
  * its physical form requires that ordering, so the planner re-sorts if an
  * optimizer rule ever dropped the sort. */
private[lake] object KeepFirst {

  /** Rows of `df` sorted within partitions by `groupBy` ascending and
    * `latest` descending, keeping the first (largest-`latest`) row of each
    * `groupBy` group in each partition. */
  def keepFirstPerGroup(df: DataFrame, groupBy: Seq[String], latest: String): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    install(spark)
    val sorted = df.sortWithinPartitions(groupBy.map(col) :+ col(latest).desc: _*)
      .queryExecution.analyzed.asInstanceOf[Sort]
    new classic.Dataset(spark, KeepFirstNode(sorted.order, groupBy.size, sorted),
      Encoders.row(df.schema))
  }

  private def install(spark: classic.SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(KeepFirstStrategy))
      ex.extraStrategies = KeepFirstStrategy +: ex.extraStrategies
  }
}

/** Keep the first row of each run of equal values of the leading
  * `groupKeys` sort keys of `ordering`. */
private[lake] final case class KeepFirstNode(ordering: Seq[SortOrder], groupKeys: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def withNewChildInternal(c: LogicalPlan): KeepFirstNode = copy(child = c)
}

private[lake] object KeepFirstStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KeepFirstNode(ordering, groupKeys, child) =>
      KeepFirstExec(ordering, groupKeys, planLater(child)) :: Nil
    case _ => Nil
  }
}

private[lake] final case class KeepFirstExec(ordering: Seq[SortOrder], groupKeys: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(ordering)

  override protected def doExecute(): RDD[InternalRow] = {
    val keys = ordering.take(groupKeys).map(_.child)
    val input = child.output
    child.execute().mapPartitions { rows =>
      val keyOf = UnsafeProjection.create(keys, input)
      var last: UnsafeRow = null
      rows.filter { row =>
        val k = keyOf(row)
        val first = last == null || k != last
        if (first) last = k.copy()
        first
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): KeepFirstExec = copy(child = c)
}
