package org.apache.spark.graftx

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One SQL execution as the listener bus saw it: its physical plan (text
 * and node tree) and the task count of each of its jobs' result stages,
 * in job order. */
final case class CapturedExecution(id: Long, plan: String, info: SparkPlanInfo, resultTasks: Seq[Int]) {
  /** Node names of this execution's own plan: a cached relation's scan is
   * a leaf (the plan that built the cache ran in its own execution). */
  def nodeNames: Seq[String] = {
    def walk(n: SparkPlanInfo): Seq[String] =
      n.nodeName +: (if (n.nodeName == "InMemoryTableScan") Nil else n.children.flatMap(walk))
    walk(info)
  }
}

/** Records every SQL execution submitted while [[capture]] runs its body,
 * from any session of the context. Lives under `org.apache.spark` to
 * drain the listener bus before reading. */
object ExecutionCapture {

  def capture[T](sc: SparkContext)(body: => T): (T, Seq[CapturedExecution]) = {
    val plans = new ConcurrentHashMap[Long, (String, SparkPlanInfo)]()
    val tasks = new ConcurrentHashMap[Long, ArrayBuffer[(Int, Int)]]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, (s.physicalPlanDescription, s.sparkPlanInfo))
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .foreach { id =>
            val jobs = tasks.computeIfAbsent(id.toLong, _ => ArrayBuffer[(Int, Int)]())
            jobs.synchronized { jobs += j.jobId -> j.stageInfos.maxBy(_.stageId).numTasks }
          }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    val out = try body finally {
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    val execs = plans.asScala.toSeq.sortBy(_._1).map { case (id, (plan, info)) =>
      val jobs = Option(tasks.get(id)).map(_.sortBy(_._1).map(_._2).toSeq).getOrElse(Nil)
      CapturedExecution(id, plan, info, jobs)
    }
    (out, execs)
  }
}
