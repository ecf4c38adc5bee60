package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples,
  ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** A plain-Scala pass over one partition's rows, in the order
  * `OrderedKernel` gives them. An input row may be reused once the
  * iterator moves on, so a kernel copies any row it keeps longer. It
  * hands out input rows (or copies of them, with replaced columns
  * set in place) in the layout of the node's output. */
trait RowKernel extends Serializable {
  def run(rows: Iterator[InternalRow]): Iterator[InternalRow]
  // plan strings name the kernel, not an identity hash
  override def toString: String = getClass.getSimpleName
}

/** A `RowKernel` in the plan: over all of `child`'s rows in one
  * partition when `keys` is empty, else over rows clustered by
  * `keys`; each partition sorted by `ordering`, which the kernel
  * keeps in its output. `output` is `child.output` with fresh,
  * nullable attributes for the columns whose values the kernel
  * replaces.
  *
  * The node is one step of its query: Catalyst plans only the
  * exchange and sort that the kernel's input lacks, Observations
  * above and below it complete with the query, and a sort above it
  * that `ordering` satisfies is removed. */
case class OrderedKernel(kernel: RowKernel, keys: Seq[Expression],
                         ordering: Seq[SortOrder],
                         output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  // the kernel reads every input column by ordinal: none may be
  // pruned below it
  override lazy val references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet -- child.outputSet
  override def outputOrdering: Seq[SortOrder] = ordering
  // a kernel may drop or rewrite rows: no child constraint holds above
  override lazy val constraints: ExpressionSet = ExpressionSet()
  override protected def withNewChildInternal(c: LogicalPlan): OrderedKernel =
    copy(child = c)
}

object OrderedKernel {

  /** `kernel` over `df`: rows grouped by the columns `keys` (all in
    * one partition when there are none), each partition sorted by
    * `orderBy` ascending with nulls first. The kernel replaces the
    * values of the columns `replaced` and keeps the rows in
    * (`keys`, `orderBy`) order within a partition. */
  def apply(df: DataFrame, kernel: RowKernel, keys: Seq[String],
            orderBy: Seq[String], replaced: Seq[String] = Nil): DataFrame = {
    val plan = df.queryExecution.analyzed
    def attr(c: String): Attribute = plan.output.find(_.name == c)
      .getOrElse(throw new IllegalArgumentException(
        s"OrderedKernel: no column $c in ${plan.output.map(_.name)}"))
    require((keys ++ orderBy).forall(c => !replaced.contains(c)),
      "OrderedKernel: a replaced column cannot be a key or a sort column")
    val replacedAttrs = replaced.map(attr)
    // nullable whatever the input said: a kernel may null a value
    val output = plan.output.map { a =>
      if (replacedAttrs.contains(a)) a.newInstance().withNullability(true)
      else a
    }
    val ordering = (keys ++ orderBy).map(c => SortOrder(attr(c), Ascending))
    register(df.sparkSession)
    GraftPlanBridge.ofRows(df.sparkSession,
      OrderedKernel(kernel, keys.map(attr), ordering, output, plan))
  }

  /** Adds `Planner` to `spark`'s strategies once. */
  private def register(spark: SparkSession): Unit = {
    val exp = GraftPlanBridge.experimental(spark)
    if (!exp.extraStrategies.contains(Planner))
      exp.extraStrategies = Planner +: exp.extraStrategies
  }

  private object Planner extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case k: OrderedKernel =>
        OrderedKernelExec(k.kernel, k.keys, k.ordering, k.output,
          planLater(k.child)) :: Nil
      case _ => Nil
    }
  }
}

/** Physical `OrderedKernel`: requires its input clustered (or in one
  * partition) and sorted, and runs the kernel once per partition. */
case class OrderedKernelExec(kernel: RowKernel, keys: Seq[Expression],
                             ordering: Seq[SortOrder],
                             output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def producedAttributes: AttributeSet = outputSet -- child.outputSet

  override def requiredChildDistribution: Seq[Distribution] =
    (if (keys.isEmpty) AllTuples else ClusteredDistribution(keys)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = ordering :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case p: Expression if !p.references.subsetOf(outputSet) =>
      UnknownPartitioning(p.asInstanceOf[Partitioning].numPartitions)
    case p => p
  }
  override def outputOrdering: Seq[SortOrder] = ordering

  override protected def doExecute(): RDD[InternalRow] = {
    val k = kernel
    child.execute().mapPartitions(k.run, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): OrderedKernelExec =
    copy(child = c)
}
