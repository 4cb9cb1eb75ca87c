package graft.prov

import org.apache.parquet.io.api.Binary
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, SpecializedGetters, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Element capture inside a relational frame's plan: passes its child's
  * rows through unchanged and streams each row's element
  * (`elementId`, `deps`, `values` — string expressions over the child)
  * into [[ElementSideWriter]]'s staging area for `sink`'s task, in the
  * pass of whatever action computes it. [[ProvFrame.result]] places
  * one over every pending frame of the chain.
  *
  * The optimizer pushes nothing through an unknown node, so the tee
  * always sees every row of its frame: a filter, limit or projection
  * above it stays above it, and its `references` keep the recorded
  * columns alive beneath it. It does not generate code, so it splits a
  * whole-stage-codegen stage once.
  */
final case class ElementTee(
    elementId: Expression,
    deps: Expression,
    values: Seq[Expression],
    sink: ElementSideWriter.Sink,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): ElementTee =
    copy(child = newChild)
}

final case class ElementTeeExec(
    elementId: Expression,
    deps: Expression,
    values: Seq[Expression],
    sink: ElementSideWriter.Sink,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val rdd = child.execute()
    val n = rdd.getNumPartitions
    // a fresh run per built RDD: AQE may coalesce this plan differently
    // in another action, and commit keeps one complete run per task
    val run = ElementSideWriter.newRun(sink, n)
    val exprs = elementId +: deps +: values
    val childOutput = child.output
    val nValues = values.length
    val sinkLocal = sink
    rdd.mapPartitionsWithIndex({ (pid, it) =>
      val proj = UnsafeProjection.create(exprs, childOutput)
      def bin(r: SpecializedGetters, i: Int): Binary = {
        val s = r.getUTF8String(i)
        if (s == null) null else Binary.fromConstantByteArray(s.getBytes)
      }
      ElementSideWriter.capturing(sinkLocal, run, pid, n, it) { row =>
        val e = proj(row)
        val d = e.getArray(1)
        ElementSideWriter.StagedRow(bin(e, 0),
          Seq(Seq.tabulate(nValues)(i => bin(e, 2 + i))),
          Seq.tabulate(d.numElements())(bin(d, _)))
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ElementTeeExec =
    copy(child = newChild)
}

/** Plans [[ElementTee]]; [[ProvFrame.result]] self-registers it, and
  * `graft.GraftExtensions` injects it.
  */
object ElementTeeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: ElementTee =>
      ElementTeeExec(t.elementId, t.deps, t.values, t.sink, planLater(t.child)) :: Nil
    case _ => Nil
  }
}
