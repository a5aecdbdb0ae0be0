package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** Shuffles planned by the file writes a block runs, counted in each
  * write's final executed plan (adaptive stages included). */
object WritePlans extends AdaptiveSparkPlanHelper {

  /** Run `body`; return its result and, per file write it ran (in
    * completion order), the `ShuffleExchangeExec` count of that write. */
  def shufflesPerWrite[A](spark: SparkSession)(body: => A): (A, Seq[Int]) = {
    val marker = java.util.UUID.randomUUID().toString
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) done.countDown()
        else if (find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          writes.add(collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }.size): Unit
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      // listener events arrive in order: the marker query's event comes
      // after every write's
      spark.range(1).select(lit(marker)).collect(): Unit
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the marker query's event never reached the listener")
      import scala.jdk.CollectionConverters._
      (out, writes.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
