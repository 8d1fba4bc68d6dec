package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Session state is installed once, by [[GraftSession]] and
  * [[graft.api.Wireduck.setup]]: building and running a query leaves the
  * session's confs, optimizer rules and function registrations as they
  * were, so a query's plan and result do not depend on which queries ran
  * before it in the session. */
class SessionStateSpec extends SparkSpec {

  /** One query per path that used to change the session while it was
    * built: the two rule appends (and q63's width), the per-query
    * `hamming_distance` registrations, the glossary query's setup call,
    * `vector_dot` and `pq_adc_score` registration on every call, the
    * `nanosAsLong` set on every `events` load, and the pHash probe. */
  private val formerMutators = Seq(
    "q63_range_join_auto", "dd_simjoin_auto", "dd_simhash_pairs", "mm_phash_topk",
    "pcap_glossary_fields", "sim_ann_lsh", "sim_ann_pq", "q14_window_lag",
    "st_phash_serve")

  private val functions = Seq("vector_dot", "hamming_distance", "pq_adc_score",
    "check_tshark_installed").map(FunctionIdentifier(_))

  private def state() = (
    spark.conf.getAll,
    spark.experimental.extraOptimizations,
    functions.map(spark.sessionState.functionRegistry.lookupFunctionBuilder))

  /** The optimized plan with the ids Spark numbers per build stripped
    * (expression ids, lambda variable suffixes, and the identities of the
    * closures a typed operator captures), and a hash of the rows in a fixed
    * order. */
  private def run(name: String): (String, Int) = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan.toString
      .replaceAll("#\\d+L?", "").replaceAll("@[0-9a-f]+", "")
      .replaceAll("(lambda \\w+)_\\d+", "$1")
    (plan, df.collect().map(_.toString).sorted.toSeq.hashCode)
  }

  test("building and running a query leaves confs, rules and functions unchanged") {
    val (confs, rules, builders) = state()
    for (name <- formerMutators) {
      run(name)
      val (c, r, b) = state()
      assert(c === confs, s"$name changed the session confs")
      assert(r === rules, s"$name changed the optimizer rules")
      functions.zip(b.zip(builders)).foreach { case (f, (now, was)) =>
        assert(now.isDefined && was.isDefined && (now.get eq was.get),
          s"$name re-registered ${f.funcName}")
      }
    }
  }

  /** The queries of the `sql_pipeline` benchmark workload. */
  private val pipeline = Seq(
    "q06_multi_join", "q13_window_running", "q38b_window_range_supp",
    "q40_window_distribution", "q41_multi_distinct", "q63_range_join_auto",
    "dd_lsh_eval", "dd_minhash_lsh_pairs", "dd_simjoin_auto", "tx_repetition",
    "sim_ann_ivf_persisted", "sim_ann_pq",
    "gr_triangles", "gr_link_predict", "gr_pagerank", "mm_admission_funnel")

  test("the sql_pipeline queries leave no cached relation behind") {
    // a cached frame outlives its run: a later run of any query that
    // reads the same relation is then served from memory
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    for (name <- pipeline) {
      val q = SparkEntry.registry.find(_.name == name).get
      val ran = Runner.run(spark, q, sfDir, Runner.noop, s"session-state-$name",
        clearCache = false)
      assert(ran.isRight, s"$name failed: $ran")
      assert(cache.isEmpty, s"$name left a cached relation behind")
    }
  }

  test("plans and results do not depend on the order queries run in") {
    val mixed = Seq("q63_range_join_auto", "sim_ann_pq", "dd_simjoin_auto",
      "q14_window_lag", "mm_phash_topk", "sim_ann_lsh")
    val forward = mixed.map(n => n -> run(n)).toMap
    val reverse = mixed.reverse.map(n => n -> run(n)).toMap
    for (n <- mixed) {
      assert(reverse(n)._1 === forward(n)._1, s"$n planned differently")
      assert(reverse(n)._2 === forward(n)._2, s"$n returned different rows")
    }
  }
}
