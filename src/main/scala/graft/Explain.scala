package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** Plan-inspection helper: prints the formatted physical plan of named
  * queries so pushdown/broadcast/codegen can be audited, each followed
  * by one `census` line counting the plan's exchange and join nodes.
  * Usage: runMain graft.Explain <sfDir> <query1> [query2 ...]
  *
  * The census line reads
  * `census <query> plan: Exchange=.. BroadcastExchange=.. SortMergeJoin=.. BroadcastHashJoin=.. build(<n>): ...`:
  * `plan` counts the returned frame's planned (pre-execution) plan;
  * `build` sums the executed plans of the `n` queries that ran while
  * the frame was built (a gate that materializes an intermediate —
  * connected components, an index save, a candidate pull — runs its
  * joins there). A plan-shape A/B between two checkouts is then
  * `grep '^census'` on each side and a diff.
  */
object Explain {

  private val kinds =
    Seq("Exchange", "BroadcastExchange", "SortMergeJoin", "BroadcastHashJoin")

  /** Exchange and join node counts of `plans`, unwrapping AQE's
    * wrapper nodes (`AdaptiveSparkPlanExec`, query stages) and reading
    * into subqueries; a reused exchange is not counted again.
    */
  private[graft] def census(plans: Seq[SparkPlan]): Map[String, Int] = {
    val counts = scala.collection.mutable.Map(kinds.map(_ -> 0): _*)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec        => walk(s.plan)
      case _ =>
        p match {
          case _: ShuffleExchangeExec   => counts("Exchange") += 1
          case _: BroadcastExchangeExec => counts("BroadcastExchange") += 1
          case _: SortMergeJoinExec     => counts("SortMergeJoin") += 1
          case _: BroadcastHashJoinExec => counts("BroadcastHashJoin") += 1
          case _                        => ()
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    plans.foreach(walk)
    counts.toMap
  }

  private def censusText(plans: Seq[SparkPlan]): String = {
    val c = census(plans)
    kinds.map(k => s"$k=${c(k)}").mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSpark.session(4, "graft-explain")
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = executed.add(qe.executedPlan)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    // the listener bus dispatches asynchronously: wait until the
    // captured set stops growing
    def drained(): Seq[SparkPlan] = {
      var n = -1
      while (n != executed.size) { n = executed.size; Thread.sleep(500) }
      val out = executed.toArray(Array.empty[SparkPlan]).toSeq
      executed.clear()
      out
    }
    names.foreach { n =>
      println(s"\n===== $n =====")
      try {
        drained()
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.explain("formatted")
        val built = drained()
        println(s"census $n plan: ${censusText(Seq(df.queryExecution.executedPlan))} " +
          s"build(${built.size}): ${censusText(built)}")
      } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
