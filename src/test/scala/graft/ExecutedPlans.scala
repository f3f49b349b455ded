package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The physical plans a call executes. An operator that answers eagerly
  * (the compressed tiers' top-k returns a local frame) leaves nothing
  * of its work in the returned frame's plan; its scans, joins and
  * exchanges show only in the SQL executions it ran. */
object ExecutedPlans {

  /** Runs `body`; returns the final physical plan of each SQL execution
    * it ran, in completion order. */
  def of(spark: SparkSession)(body: => Any): Seq[String] = {
    val plans = new ConcurrentLinkedQueue[String]()
    val marker = spark.range(1)
    val markerQe = marker.queryExecution
    val drained = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe eq markerQe) drained.countDown() else plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order: once the marker's has, so has
      // every event of `body`
      marker.collect()
      assert(drained.await(60, TimeUnit.SECONDS), "query execution events never arrived")
      plans.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }
}
