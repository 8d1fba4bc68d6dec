package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Records the job group of every job the context starts while attached,
  * and the physical plan of every SQL execution. Listener events arrive
  * asynchronously; [[jobs]] and [[executions]] first drain the listener
  * bus ([[Runner.drain]]), whose marker jobs are not recorded. */
final class JobRecorder(sc: SparkContext) extends SparkListener {
  private val started = new ConcurrentLinkedQueue[(Int, String)]()
  private val plans = new ConcurrentLinkedQueue[String]()

  sc.addSparkListener(this)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = js.properties.getProperty("spark.jobGroup.id")
    if (g != Runner.drainGroup) started.add(js.jobId -> g)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => plans.add(x.physicalPlanDescription)
    case _ =>
  }

  /** (job id, job group or null) of every job started so far. */
  def jobs(): Seq[(Int, String)] = {
    Runner.drain(sc)
    started.asScala.toSeq
  }

  /** The physical plan description of every SQL execution started so
    * far. */
  def executions(): Seq[String] = {
    Runner.drain(sc)
    plans.asScala.toSeq
  }

  def detach(): Unit = sc.removeSparkListener(this)
}
