package graft.bench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.api.Wireduck
import graft.pcap.Glossary
import graft.tools.MakeTsharkGolden

/** A workload: its queries in the order every pass runs them (the first is
  * the cold first query), the warm-up passes after the cold pass, whether
  * the cold pass is also the first timed pass, optional set-up work, and the
  * checks that run once after the timed phase. */
final case class Workload(
    queries: Seq[BenchQuery],
    warmupPasses: Int,
    minPasses: Int,
    coldPassTimed: Boolean = false,
    prepare: Option[(SparkSession, Tracer) => Unit] = None,
    finalChecks: (SparkSession, Map[String, Outcome], Path) => Seq[(Boolean, String)] =
      (_, _, _) => Nil)

object Workloads {
  /** The sql_pipeline query set, in registry order. */
  val sqlQueries: Seq[String] = Seq(
    "q06_multi_join", "q13_window_running", "q38b_window_range_supp",
    "q40_window_distribution", "q41_multi_distinct", "q63_range_join_auto",
    "dd_lsh_eval", "dd_minhash_lsh_pairs", "dd_simjoin_auto", "tx_repetition",
    "sim_ann_ivf_persisted", "sim_ann_pq",
    "gr_triangles", "gr_link_predict", "gr_pagerank", "mm_admission_funnel")

  /** SparkEntry.prepareArtifacts, component by component:
    * (span name, object, method, arguments after (session, dir)). Looked up
    * by reflection so that a renamed or removed component drops out of the
    * breakdown instead of breaking the build; prepareArtifacts itself runs
    * afterwards and builds anything not listed here. */
  private val prepComponents: Seq[(String, String, String, Seq[AnyRef])] = Seq(
    ("minhash_sig", "graft.queries.TextQueries", "minhashSigTable", Nil),
    ("shingle", "graft.queries.TextQueries", "shingleTable", Nil),
    ("shingle3", "graft.queries.TextQueries", "shingleTableN", Seq(Int.box(3))),
    ("simhash", "graft.queries.TextQueries", "simhashTable", Nil),
    ("cc_base", "graft.queries.TextQueries", "ccBaseTables", Nil),
    ("graph", "graft.queries.GraphQueries", "prepare", Nil),
    ("multimodal", "graft.queries.MultimodalQueries", "prepare", Nil),
    ("ivf", "graft.functions.AnnIndexes", "ivfPersisted", Seq(Int.box(16))),
    ("serving_ivf", "graft.functions.AnnIndexes", "servingIvf", Nil),
    ("ivfpq", "graft.functions.AnnIndexes", "ivfPqPersisted", Seq(Int.box(8), Int.box(16))),
    ("int8", "graft.functions.AnnIndexes", "int8Persisted", Seq(Int.box(64))))

  private def prepTraced(spark: SparkSession, sf: String, tracer: Tracer): Unit = {
    prepComponents.foreach { case (span, obj, method, extra) =>
      val args: Seq[AnyRef] = Seq(spark, sf) ++ extra
      val target = scala.util.Try(Class.forName(obj + "$").getField("MODULE$").get(null)).toOption
      target.flatMap(t => t.getClass.getMethods
        .find(m => m.getName == method && m.getParameterCount == args.size)
        .map(t -> _)).foreach { case (t, m) =>
        tracer.span(s"prep.$span") {
          m.invoke(t, args: _*) match {
            case df: org.apache.spark.sql.Dataset[_] => df.count()
            case _ =>
          }
        }
      }
    }
    tracer.span("prep.rest")(SparkEntry.prepareArtifacts(spark, sf))
  }

  private def want(what: String, got: Any, expected: Long): Option[String] =
    if (got != null && got.toString.toLong == expected) None
    else Some(s"$what: got $got, expected $expected")

  private def firstFailure(checks: Option[String]*): Option[String] =
    checks.flatten.headOption

  private def longs(rows: Array[Row], col: String): Seq[Long] =
    rows.toSeq.map(r => r.getAs[Any](col) match {
      case null => 0L
      case v => v.toString.toLong
    })

  def apply(name: String, inputs: Path, sf: Option[String]): Workload =
    name match {
      case "pcap_scan" =>
        val m = manifest(inputs)
        val qs = fullSetQueries(inputs, m.get("full")) ++ splitQueries(inputs, m.get("narrow"))
        Workload(qs, warmupPasses = 1, minPasses = 3,
          finalChecks = (spark, _, _) => Seq(goldenCheck(spark,
            inputs.resolve(m.get("golden_file").asText).toString)))
      case "sql_pipeline" =>
        val dir = sf.getOrElse(throw new IllegalArgumentException("sql_pipeline needs --sf"))
        val fns = SparkEntry.queries
        val qs = sqlQueries.map(n => BenchQuery(n, s => fns(n)(s, dir), collect = true))
        Workload(qs, warmupPasses = 0, minPasses = 1, coldPassTimed = true,
          prepare = Some((spark, tracer) =>
            if (tracer.enabled) prepTraced(spark, dir, tracer)
            else SparkEntry.prepareArtifacts(spark, dir)),
          finalChecks = (spark, last, work) => dumpForOracle(spark, dir, last, work))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  private def manifest(inputs: Path): JsonNode =
    new ObjectMapper().readTree(inputs.resolve("manifest.json").toFile)

  /** The whole-file set: every default column over three protocol
    * families, per-conversation stats, and a FIX display-filter projection. */
  private def fullSetQueries(inputs: Path, m: JsonNode): Seq[BenchQuery] = {
    val dir = inputs.resolve(m.get("dir").asText).toString
    val e = m.get("expected")
    def x(k: String): Long = e.get(k).asLong
    val fullScan = BenchQuery("full_scan",
      s => s.read.format("pcap").option("protocols", Layers.fullProtocols.mkString(","))
        .load(dir),
      collect = false,
      observe = Seq(count(lit(1)).as("rows"), sum(col("`frame.len`")).as("bytes")),
      check = o => firstFailure(
        want("full_scan rows", o.observed("rows"), x("packets")),
        want("full_scan sum(frame.len)", o.observed("bytes"), x("frame_len"))))
    val sessions = BenchQuery("tcp_sessions",
      s => s.sql(
        s"""SELECT `tcp.stream` AS stream, count(*) AS n, sum(`tcp.len`) AS bytes,
           |       min(`frame.time_epoch`) AS first_ts, max(`frame.time_epoch`) AS last_ts
           |FROM read_pcap('$dir', 'ip,tcp')
           |WHERE `tcp.stream` IS NOT NULL
           |GROUP BY `tcp.stream`""".stripMargin),
      collect = true,
      check = o => firstFailure(
        want("tcp_sessions distinct tcp.stream", o.rows.length, x("tcp_streams")),
        want("tcp_sessions packets", longs(o.rows, "n").sum, x("tcp_frames")),
        want("tcp_sessions sum(tcp.len)", longs(o.rows, "bytes").sum, x("tcp_len"))))
    val fixMessages = BenchQuery("fix_messages",
      s => s.read.format("pcap").option("protocols", "ip,tcp,fix").option("cfilter", Layers.filter)
        .load(dir)
        .select(col("`frame.time_epoch`"), col("`ip.src`"), col("`ip.dst`"),
          col("`tcp.srcport`"), col("`tcp.dstport`"), col("`fix.msgtype`")),
      collect = false,
      observe = Seq(count(lit(1)).as("rows")),
      check = o => want("fix_messages rows", o.observed("rows"), x("fix_frames")))
    Seq(fullScan, sessions, fixMessages)
  }

  /** Split size for the narrow capture: eight partitions of its ~62 MB. */
  val narrowSplit = "8m"

  /** The split capture: the README flagship aggregate and a frame-only
    * per-second sum, both over intra-file partitions. */
  private def splitQueries(inputs: Path, m: JsonNode): Seq[BenchQuery] = {
    val file = inputs.resolve(m.get("dir").asText).resolve(m.get("files").get(0).get("name").asText)
      .toString
    val e = m.get("expected")
    def x(k: String): Long = e.get(k).asLong
    val flagship = BenchQuery("flagship",
      s => s.sql(
        s"""SELECT `tcp.srcport` AS sport, `tcp.dstport` AS dport, count(*) AS n,
           |       sum(`tcp.len`) AS bytes
           |FROM read_pcap('$file', 'ip,tcp', split => '$narrowSplit')
           |GROUP BY `tcp.srcport`, `tcp.dstport`""".stripMargin),
      collect = true,
      check = { o =>
        val groups = o.rows.toSeq.map(r => (r.getAs[Long]("n"), r.getAs[Long]("bytes")))
        def groupsOf(n: Long, b: Long) = groups.count(_ == ((n, b)))
        firstFailure(
          want("flagship groups", groups.size, x("flagship_groups")),
          want("flagship packets", groups.map(_._1).sum, x("flagship_count")),
          want("flagship sum(tcp.len)", groups.map(_._2).sum, x("flagship_tcp_len")),
          want("flagship (429, 259678) groups", groupsOf(429, 259678), x("server_groups_429_259678")),
          want("flagship (56, 19702) groups", groupsOf(56, 19702), x("client_groups_56_19702")),
          want("flagship (1, 0) SYN groups", groupsOf(1, 0), x("syn_groups_1_0")))
      })
    val perSecond = BenchQuery("bytes_per_second",
      s => s.read.format("pcap").option("split", narrowSplit).load(file)
        .groupBy(date_trunc("second", col("`frame.time_epoch`")).as("second"))
        .agg(sum(col("`frame.len`")).as("bytes")),
      collect = true,
      check = o => firstFailure(
        want("bytes_per_second groups", o.rows.length, x("seconds")),
        want("bytes_per_second sum(frame.len)", longs(o.rows, "bytes").sum, x("frame_len"))))
    Seq(flagship, perSecond)
  }

  /** The unmodified fix.pcap scanned by the engine must render exactly as
    * the committed tshark golden on every column both carry. */
  private def goldenCheck(spark: SparkSession, fixCopy: String): (Boolean, String) = {
    val lines = Files.readAllLines(
      java.nio.file.Paths.get("src/test/resources/tshark_golden/fix.tsv")).asScala
    val cols = lines.head.stripPrefix("#fields:").split("\t", -1).toSeq
    val golden = lines.tail.filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
    val known = Glossary.protocols.map(_.filter_name).toSet
    val protos = cols.map(_.takeWhile(_ != '.')).distinct.filter(known)
    val df = Wireduck.readPcap(spark, fixCopy, protocols = protos)
    val shared = cols.filter(df.columns.contains)
    val ours = df.select(shared.map(c => col(s"`$c`")): _*).collect()
      .map(r => shared.indices.map(i => MakeTsharkGolden.render(r.get(i))))
      .map(v => v.head -> v).toMap
    val idx = shared.map(cols.indexOf(_))
    val bad = golden.flatMap { g =>
      ours.get(g.head) match {
        case None => Seq(s"frame ${g.head} missing")
        case Some(o) => shared.indices.collect {
          case i if o(i) != g(idx(i)) => s"frame ${g.head} ${shared(i)}: ${o(i)} != ${g(idx(i))}"
        }
      }
    }
    (bad.isEmpty && ours.size == golden.size && shared.size > 2,
      s"fix.pcap vs tshark golden (${shared.size} columns): ${bad.size} cells differ, " +
        s"${ours.size}/${golden.size} frames; first: ${bad.take(3).mkString("; ")}")
  }

  /** Writes each query's last collected result and its DuckDB oracle SQL
    * for run.py's compare; the compare counts into failed/attempted there. */
  private def dumpForOracle(spark: SparkSession, sf: String, last: Map[String, Outcome],
      work: Path): Seq[(Boolean, String)] = {
    val out = work.resolve("oracle")
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val sqls = sqlQueries.flatMap { n =>
      val q = byName(n)
      q.oracle.orElse(q.oracleGen.map(_(spark, sf))).map(n -> _)
    }
    sqlQueries.filter(n => last.get(n).exists(_.schema != null)).foreach { n =>
      spark.createDataFrame(last(n).rows.toSeq.asJava, last(n).schema)
        .coalesce(1).write.mode("overwrite").parquet(out.resolve(n).toString)
    }
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(sqls.map { case (n, s) => n -> Json.str(s) }))
    sqlQueries.filterNot(n => sqls.exists(_._1 == n)).map(n => (false, s"$n has no DuckDB oracle"))
  }
}
