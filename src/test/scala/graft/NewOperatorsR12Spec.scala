package graft

import org.apache.spark.sql.functions._

/** Property specs for the round-12 operators. Oracle hash-matching is the
  * driver's gate; these pin operator INVARIANTS a hash can't express. */
class NewOperatorsR12Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("sim_ivf_delete: post-compaction search == tombstone-filtered search; no deleted id served") {
    import spark.implicits._
    // run the registered query once: persists base, tombstones, compacted
    val served = graft.queries.SimilarityQueries.simIvfDelete.fn(spark, sf)
      .collect()
    // topK = 10 minus the query's own row when it lands in the top-k
    // (vec_id 0 is not tombstoned, so it usually does)
    assert(served.length === 9 || served.length === 10)
    // VERDICT r11 #4's contract: no tombstoned id can be served
    assert(served.forall(_.getAs[Long]("vec_id") % 10 != 3))

    // the serving-through-tombstones path over the UNCOMPACTED base must
    // answer identically to the compacted table the query served from
    val name = Artifacts.name("ivfdelete", sf)
    val index = graft.functions.AnnIndexes.ivf(spark, sf, k = 16)
    val filtered = graft.functions.Ivf.Index(
      index.centroids,
      spark.table(s"${name}_assigned")
        .join(broadcast(spark.table(s"${name}_tombstones")), Seq("vec_id"), "left_anti"))
    val emb = graft.functions.AnnIndexes.embeddings(spark, sf)
    val q = emb.filter($"vec_id" === 0)
      .select($"vec_id".cast("long").as("query_id"), $"embedding".as("qe"))
    val throughTombstones = graft.functions.Ivf
      .searchBatch(filtered, q, topK = 10, nProbe = 4)
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"label", $"cosine")
      .collect()
    assert(served.map(_.toSeq).toSeq === throughTombstones.map(_.toSeq).toSeq)

    // compaction really dropped the tombstoned rows from the base layout
    val baseN = spark.table(s"${name}_assigned").count()
    val tombN = spark.table(s"${name}_tombstones").count()
    val compN = spark.table(s"${name}_compacted").count()
    assert(tombN > 0 && compN === baseN - tombN)
  }

  test("st_session_tws batch twin == st_session_state batch twin (same fold, same oracle)") {
    val tws = graft.queries.StreamingQueries.stSessionTws.fn(spark, sf).collect()
    val fmgws = graft.queries.StreamingQueries.stSessionState.fn(spark, sf).collect()
    assert(tws.nonEmpty)
    assert(tws.map(_.toSeq).toSeq === fmgws.map(_.toSeq).toSeq)
  }

  test("pcap echo oracles: the echoed projection replays to the query result (conversations)") {
    // the echo is the oracle's entire view of the capture — verify the
    // Spark-side replay from the echo parquet matches the registered
    // query's own result, which is what the DuckDB oracle re-derives
    val res = graft.queries.PcapQueries.pcapConversations.fn(spark, sf).collect()
    val echo = spark.read.parquet(
      graft.queries.PcapQueries.echoDir("pcap_conversations"))
    val perDir = echo.groupBy(col("stream"), col("srcport"))
      .agg(count(lit(1)).as("n"), sum(col("frame_len")).as("bytes"),
        min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"))
    val replay = perDir.groupBy(col("stream"))
      .agg(min(col("srcport")).as("port_a"), max(col("srcport")).as("port_b"),
        sum(col("n")).as("n_packets"), sum(col("bytes")).as("n_bytes"),
        expr("min_by(n, srcport)").as("a_to_b_packets"),
        expr("min_by(bytes, srcport)").as("a_to_b_bytes"),
        (max(col("last_us")) - min(col("first_us"))).as("duration_us"))
      .orderBy(col("stream")).collect()
    assert(res.map(_.toSeq).toSeq === replay.map(_.toSeq).toSeq)
  }
}
