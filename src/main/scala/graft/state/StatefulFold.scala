package graft.state

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{InputRDDCodegen, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Folds one partition, sorted by the fold's ordering, into output rows
  * of `outputSchema`; column 0 (`stateKey`) of input and output is the key. */
trait FoldKernel extends Serializable {
  def outputSchema: StructType
  def run(rows: Iterator[InternalRow]): Iterator[InternalRow]
}

/**
 * Logical per-key fold of `child`, clustered on the key and sorted by
 * `ordering`. `references` is the whole child output, because kernels read
 * columns by ordinal and none may be pruned. `output.head` is the child's
 * stateKey attribute itself, so the child's key partitioning passes through.
 */
final case class StatefulFold(
    kernel: FoldKernel,
    ordering: Seq[SortOrder],
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def references: AttributeSet = child.outputSet
  override protected def stringArgs: Iterator[Any] =
    Iterator(kernel.getClass.getSimpleName, ordering, output)
  override protected def withNewChildInternal(newChild: LogicalPlan): StatefulFold =
    copy(child = newChild)
}

/**
 * Physical fold. Its requirements let `EnsureRequirements` insert the key
 * exchange and the sort, or only the sort where the child is already
 * key-partitioned (the RTS backward pass). Requiring exactly
 * `numPartitions` makes AQE reject a coalesced read: the fold is CPU bound
 * and coalescing cuts its parallelism.
 *
 * As in a scan of an RDD, the stage's generated code writes the kernel's
 * rows once, fused with the projection above. The child is read with
 * `execute()`, so a child that codegen puts in the fold's stage runs
 * interpreted.
 */
final case class StatefulFoldExec(
    kernel: FoldKernel,
    ordering: Seq[SortOrder],
    output: Seq[Attribute],
    numPartitions: Int,
    child: SparkPlan) extends UnaryExecNode with InputRDDCodegen {

  override def references: AttributeSet = child.outputSet
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(output.take(1), requiredNumPartitions = Some(numPartitions)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = ordering :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def inputRDD: RDD[InternalRow] = {
    val fold = kernel
    child.execute().mapPartitions(fold.run)
  }
  override protected val createUnsafeProjection: Boolean = true
  // the generated input loop is the fold's own, as in a leaf
  override def needCopyResult: Boolean = false
  override protected def canCheckLimitNotReached: Boolean = true

  override protected def doExecute(): RDD[InternalRow] = {
    val outSchema = schema
    inputRDD.mapPartitions { rows =>
      val toUnsafe = UnsafeProjection.create(outSchema)
      rows.map(toUnsafe)
    }
  }

  override protected def stringArgs: Iterator[Any] =
    Iterator(kernel.getClass.getSimpleName, ordering, output, numPartitions)
  override protected def withNewChildInternal(newChild: SparkPlan): StatefulFoldExec =
    copy(child = newChild)
}

/** Plans [[StatefulFold]]; [[register]] adds it to a session's planner. */
object StatefulFoldStrategy extends SparkStrategy {

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case f: StatefulFold =>
      StatefulFoldExec(f.kernel, f.ordering, f.output,
        SQLConf.get.defaultNumShufflePartitions, planLater(f.child)) :: Nil
    case _ => Nil
  }

  /** Idempotent, and safe from concurrent threads. */
  def register(session: SparkSession): Unit = {
    val methods = session.experimental
    methods.synchronized {
      if (!methods.extraStrategies.contains(this))
        methods.extraStrategies = methods.extraStrategies :+ this
    }
  }
}
