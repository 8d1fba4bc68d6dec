package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[Artifacts]] the only place that names, cleans up or guards a
  * derived catalog table: the hand-rolled steps it replaced must not grow
  * back anywhere else in `src/main/scala`. Writing the tables themselves
  * (`saveAsTable` inside an `Artifacts.table` write closure, or in
  * `Ivf`/`Pq.persist`) stays with the caller and is not checked here. */
class ArtifactStoreSourceSpec extends AnyFunSuite {

  private val forbidden = Seq(
    "(?i)DROP\\s+TABLE\\s+IF\\s+EXISTS" -> "drops an artifact table",
    "spark\\.sql\\.warehouse\\.dir" -> "builds a warehouse path",
    "\\bfs\\.delete\\(" -> "deletes a warehouse path",
    java.util.regex.Pattern.quote("""replaceAll("[^A-Za-z0-9]", "_")""") ->
      "mangles a dir into a table name",
    "WeakReference\\[SparkSession\\]" -> "keeps a second per-session cache")

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[Path] = {
    val all = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(all.exists(_.getFileName.toString == "Artifacts.scala"),
      s"engine sources not found under ${root.toAbsolutePath}")
    all
  }

  test("artifact naming, cleanup and guarding live only in Artifacts.scala") {
    val hits = for {
      f <- sources if f.getFileName.toString != "Artifacts.scala"
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      (re, what) <- forbidden if re.r.findFirstIn(line).isDefined
    } yield s"${root.relativize(f)}:${n + 1} $what: ${line.trim}"
    assert(hits.isEmpty, hits.mkString(
      "route derived catalog tables through Artifacts.table instead:\n", "\n", ""))
  }

  /** The fits stay in-repo and on the caller's threads: Spark ML's k-means
    * costs a job per seeding step and Lloyd round and depends on the input's
    * partitioning, and the global execution context's threads carry
    * whatever session and job group they were created with, not the
    * caller's. */
  test("no Spark ML and no global execution context in the engine") {
    val banned = Seq("org.apache.spark.ml", "ExecutionContext.global")
    val hits = for {
      f <- sources
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${root.relativize(f)}:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  /** Session state is installed once: [[GraftSession]] is the only
    * builder, the optimizer rules come only from [[GraftExtensions]],
    * functions are registered only there and in `Wireduck.setup`, and no
    * query, function helper or table loader sets a conf. */
  test("sessions are built and set up in one place, never at query time") {
    def rel(f: Path) = root.relativize(f).toString
    val rules: Seq[(String, Path => Boolean)] = Seq(
      "SparkSession.builder" -> (f => rel(f) != "graft/GraftSession.scala"),
      "extraOptimizations" -> (_ => true),
      "createOrReplaceTempFunction" -> (f =>
        !Set("graft/GraftExtensions.scala", "graft/api/Wireduck.scala")(rel(f))),
      "udf.register" -> (f =>
        !Set("graft/GraftExtensions.scala", "graft/api/Wireduck.scala")(rel(f))),
      "conf.set(" -> (f => rel(f).startsWith("graft/queries/") ||
        rel(f).startsWith("graft/functions/") || rel(f) == "graft/api/Tables.scala"))
    val hits = for {
      f <- sources
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      (token, banned) <- rules if line.contains(token) && banned(f)
    } yield s"${rel(f)}:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
