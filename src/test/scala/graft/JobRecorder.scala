package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Records the job group of every job the context starts while attached,
  * and the physical plan of every SQL execution. Listener events arrive
  * asynchronously; [[jobs]] and [[executions]] first run a marker job and
  * wait until the listener has seen it, and since one listener's events
  * arrive in posting order, everything started before the marker has been
  * recorded by then. */
final class JobRecorder(sc: SparkContext) extends SparkListener {
  private val started = new ConcurrentLinkedQueue[(Int, String)]()
  private val plans = new ConcurrentLinkedQueue[String]()
  private val marker = s"job-recorder-marker-${System.identityHashCode(this)}"
  @volatile private var markerSeen = false

  sc.addSparkListener(this)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = js.properties.getProperty("spark.jobGroup.id")
    if (g == marker) markerSeen = true else started.add(js.jobId -> g)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => plans.add(x.physicalPlanDescription)
    case _ =>
  }

  /** (job id, job group or null) of every job started so far. */
  def jobs(): Seq[(Int, String)] = {
    drain()
    started.asScala.toSeq
  }

  /** The physical plan description of every SQL execution started so
    * far. */
  def executions(): Seq[String] = {
    drain()
    plans.asScala.toSeq
  }

  private def drain(): Unit = {
    val t = new Thread(() => {
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
    })
    t.start(); t.join()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
    assert(markerSeen, "listener bus did not deliver the marker job within 60 s")
    markerSeen = false
  }

  def detach(): Unit = sc.removeSparkListener(this)
}
