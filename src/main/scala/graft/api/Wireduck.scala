package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pcap.Glossary

/** The user-facing session surface — parity with the reference's extension
  * load sequence (`LOAD wireduck`, reference `src/wireduck_extension.cpp:
  * 476-504`, SURVEY §3.1) re-expressed as a plain library call.
  */
object Wireduck {

  /** Equivalent of `LOAD wireduck`: check tshark (warn only — the native
    * backend needs no tshark, unlike the reference which refuses to load,
    * `:477-484`), register glossary views and the compat scalar function,
    * the engine's codegen functions ([[graft.GraftExtensions.functions]],
    * for a session built without the extension) and every
    * `sessionDefaults` key the session leaves unset. Call it once, before
    * the first query: queries read this state and never install it. */
  def setup(spark: SparkSession): Unit = {
    if (!Glossary.checkTsharkInstalled())
      spark.log.info("[graft] tshark not detected; native pcap backend only")
    Glossary.register(spark)
    spark.udf.register("check_tshark_installed",
      () => Glossary.checkTsharkInstalled())
    val reg = spark.sessionState.functionRegistry
    graft.GraftExtensions.functions.foreach { case (id, info, build) =>
      reg.registerFunction(id, info, build)
    }
    for ((k, v) <- sessionDefaults if !spark.sessionState.conf.contains(k))
      spark.conf.set(k, v)
  }

  /** Confs the engine's plans rely on: the range-join bin width (1 h in
    * microseconds, the grain of `q63_range_join_auto`'s sessions), and
    * `nanosAsLong`, without which Spark refuses the TIMESTAMP(NANOS)
    * `events.ts` that [[Tables.load]] normalizes. */
  private val sessionDefaults: Seq[(String, String)] = Seq(
    graft.plans.RangeJoinBinRewrite.WidthKey -> (3600L * 1000000L).toString,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** `initialize_glossary()` parity (A8): returns the two status rows. */
  def initializeGlossary(spark: SparkSession): DataFrame = Glossary.init(spark)

  /** Ergonomic `read_pcap` entry (A1). `protocols` drives the dynamic
    * glossary schema; `climit` caps packets read per file; `cfilter` is a
    * display-filter applied at the source. */
  def readPcap(
      spark: SparkSession,
      path: String,
      protocols: Seq[String] = Seq.empty,
      climit: Option[Long] = None,
      cfilter: Option[String] = None,
      compatStrict: Boolean = false,
      desegment: Boolean = false,
      backend: Option[String] = None): DataFrame = {
    var r = spark.read.format("pcap")
    if (protocols.nonEmpty) r = r.option("protocols", protocols.mkString(","))
    climit.foreach(n => r = r.option("climit", n.toString))
    cfilter.foreach(f => r = r.option("cfilter", f))
    if (compatStrict) r = r.option("compat", "strict")
    if (desegment) r = r.option("desegment", "true")
    backend.foreach(b => r = r.option("backend", b))
    r.load(path)
  }

  /** Rewrite a (filtered / transformed) capture scan back to classic pcap
    * part-files under `dir` — see [[graft.pcap.PcapWriter]]. The input
    * needs `frame.time_epoch` and `frame.raw` (scan with
    * `protocols := ["frame"]` to reach the raw column). */
  def writePcap(df: DataFrame, dir: String, linktype: Int = 1, nanos: Boolean = false): Unit =
    graft.pcap.PcapWriter.write(df, dir, linktype, nanos = nanos)

  def writePcapng(df: DataFrame, dir: String, linktype: Int = 1): Unit =
    graft.pcap.PcapWriter.writePcapng(df, dir, linktype)

  implicit private class LogOps(s: SparkSession) {
    def log = org.slf4j.LoggerFactory.getLogger("graft")
  }
}
