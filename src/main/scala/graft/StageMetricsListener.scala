package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** One completed stage's executor metrics; `name` lists the operation
  * scopes of its RDDs (`WholeStageCodegen (3)`, `Exchange`, ...), or the
  * first line of its call site when no RDD has one. */
final case class StageRow(id: Int, name: String, tasks: Int, runMs: Long,
    gcMs: Long, recordsIn: Long, bytesIn: Long, shuffleReadRecords: Long,
    shuffleReadBytes: Long, shuffleWriteRecords: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

/** Keeps every completed stage's metrics under the job group of the job
  * that ran it ([[Runner.run]] gives each run its own group; AQE re-plan
  * and broadcast jobs inherit the thread-local group, so late-submitted
  * stages attribute correctly). Shuffle and spill bytes and task time are
  * stable across co-tenant load, unlike wall times (VERDICT r2: three bench
  * "regressions" were queue noise). Events arrive asynchronously: read a
  * group after [[Runner.drain]]. */
final class StageMetricsListener extends SparkListener {
  private val jobGroup = TrieMap.empty[Int, String]
  private val stageJob = TrieMap.empty[Int, Int]
  private val jobCount = TrieMap.empty[String, Int]
  private val rows = TrieMap.empty[String, Vector[StageRow]]

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = js.properties.getProperty("spark.jobGroup.id")
    if (g != null) {
      jobGroup(js.jobId) = g
      js.stageIds.foreach(sid => stageJob(sid) = js.jobId)
      jobCount.updateWith(g)(n => Some(n.getOrElse(0) + 1))
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val m = si.taskMetrics
    for (jid <- stageJob.get(si.stageId); g <- jobGroup.get(jid) if m != null) {
      val scopes = si.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
      val name =
        if (scopes.nonEmpty) scopes.mkString(", ")
        else si.name.linesIterator.nextOption().getOrElse("")
      val row = StageRow(si.stageId, name,
        si.numTasks, m.executorRunTime, m.jvmGCTime,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
      rows.updateWith(g)(v => Some(v.getOrElse(Vector.empty) :+ row))
    }
  }

  /** The completed stages of `group`'s jobs, in completion order. */
  def stages(group: String): Seq[StageRow] = rows.getOrElse(group, Vector.empty)

  /** `f` summed over `group`'s stages. */
  def total(group: String)(f: StageRow => Long): Long = stages(group).map(f).sum

  /** How many jobs `group` started. */
  def jobs(group: String): Int = jobCount.getOrElse(group, 0)
}
