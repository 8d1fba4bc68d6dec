package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** [[SparkEntry.prepareArtifacts]] builds its steps concurrently: callers
  * racing on one session share every write, a prepared dir costs nothing
  * more, and each prep job stays in the group of the caller that asked. */
class ConcurrentPrepSpec extends SparkSpec {

  test("two concurrent prepareArtifacts calls write each artifact table once") {
    // a private copy of the sf dir, so no earlier suite has prepared it
    val dir = Files.createTempDirectory("graft-prep")
    Files.list(Paths.get(sfDir)).iterator().asScala
      .foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
    val sc = spark.sparkContext
    val rec = new JobRecorder(sc)
    val groups = Seq("prep-spec-a", "prep-spec-b")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val callers = groups.map(g => new Thread(() => {
      sc.setJobGroup(g, g)
      try SparkEntry.prepareArtifacts(spark, dir.toString)
      catch { case e: Throwable => errors.add(e) }
    }))
    callers.foreach(_.start())
    callers.foreach(_.join())
    assert(errors.isEmpty, errors.asScala.map(_.toString).mkString("\n"))

    val tag = Artifacts.name("", dir.toString).stripPrefix("graft__")
    // every saveAsTable runs one CTAS execution naming its table
    val ctas = raw"(?s).*CreateDataSourceTableAsSelectCommand\s+Arguments: \S*?`(graft_\w+)`.*".r
    val written = rec.executions().collect { case ctas(t) if t.contains(tag) => t }
    val expected = Seq("minhash_sig", "shingle5", "shingle3", "simhash", "ccbase",
      "ivf16", "ivfpq_8_16", "int8").map(Artifacts.name(_, dir.toString))
    expected.foreach(b => assert(written.exists(_.startsWith(b)), s"$b never written"))
    val twice = written.groupBy(identity).collect { case (t, ws) if ws.size > 1 => t }
    assert(twice.isEmpty, s"written more than once: ${twice.mkString(", ")}")

    val prepJobs = rec.jobs()
    assert(prepJobs.nonEmpty)
    val foreign = prepJobs.filterNot(j => groups.contains(j._2))
    assert(foreign.isEmpty, s"jobs outside the callers' groups: ${foreign.mkString(", ")}")

    sc.setJobGroup("prep-spec-c", "prep-spec-c")
    try SparkEntry.prepareArtifacts(spark, dir.toString)
    finally sc.clearJobGroup()
    val third = rec.jobs().filter(_._2 == "prep-spec-c")
    rec.detach()
    assert(third.isEmpty, s"${third.size} jobs on an already prepared dir")
  }
}
