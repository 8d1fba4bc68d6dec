package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventPipeline
import graft.streaming.EventPipeline.Event

class StreamingSpec extends SparkSpec {

  private def ev(id: Long, minute: Int, uid: Long, tpe: String, v: Double) =
    Event(id, new Timestamp(1700000000000L + minute * 60000L), uid, tpe, v, "{}")

  test("windowed counts: streaming result equals batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      ev(1, 0, 1, "click", 1.0), ev(2, 10, 1, "click", 2.0),
      ev(3, 70, 2, "view", 3.0), ev(4, 80, 2, "click", 4.0))

    // batch
    val batch = EventPipeline.windowedCounts(events.toDF(), "1 hour")
      .orderBy("window_start", "event_type").collect()

    // streaming via MemoryStream
    val stream = MemoryStream[Event]
    stream.addData(events: _*)
    val q = EventPipeline.windowedCounts(stream.toDF(), "1 hour")
      .writeStream.format("memory").queryName("wc").outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("wc").orderBy("window_start", "event_type").collect()

    assert(batch.map(_.toSeq).toSeq === streamed.map(_.toSeq).toSeq)
    assert(batch.length === 3) // (h0: click×2) (h1: click, view)
  }

  test("stream-static enrichment: streaming result equals batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val events = Seq(
      ev(1, 0, 1, "click", 1.0), ev(2, 10, 2, "click", 2.0),
      ev(3, 20, 9, "view", 3.0), // user 9 has no dim row → UNKNOWN
      ev(4, 70, 1, "click", 4.0))

    val batch = EventPipeline.enrichedSegmentCounts(events.toDF(), dim)
      .orderBy("window_start", "segment").collect()
    assert(batch.map(r => (r.getAs[String]("segment"), r.getAs[Long]("n"))).toSeq ===
      Seq(("BUILDING", 1L), ("MACHINERY", 1L), ("UNKNOWN", 1L), ("BUILDING", 1L)))

    val stream = MemoryStream[Event]
    stream.addData(events: _*)
    val q = EventPipeline.enrichedSegmentCounts(stream.toDF(), dim)
      .writeStream.format("memory").queryName("enrich").outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("enrich").orderBy("window_start", "segment").collect()
    assert(batch.map(_.toSeq).toSeq === streamed.map(_.toSeq).toSeq)
  }

  test("chained stateful distinct users: streaming (append) equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      ev(1, 0, 1, "click", 1.0), ev(2, 10, 1, "view", 1.0), // u1 twice in h0
      ev(3, 20, 2, "click", 1.0),                           // u2 in h0
      ev(4, 70, 2, "view", 1.0))                            // u2 in h1
    val batch = EventPipeline.distinctUsers(events.toDF())
      .orderBy("window_start").collect()
    assert(batch.map(r => r.getLong(1)).toSeq === Seq(2L, 1L))

    val stream = MemoryStream[Event]
    stream.addData(events: _*)
    val q = EventPipeline.distinctUsers(stream.toDF())
      .writeStream.format("memory").queryName("du").outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode holds windows open until the watermark passes them —
      // an event far in the future closes h0 and h1
      stream.addData(ev(9, 600, 3, "click", 1.0))
      q.processAllAvailable()
      stream.addData(ev(10, 601, 3, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("du").orderBy("window_start").collect()
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("stream-stream interval join: attribution pairs equal batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      ev(1, 0, 1, "click", 1.0), ev(2, 10, 1, "click", 1.0),
      ev(3, 40, 1, "click", 1.0), ev(4, 12, 2, "click", 1.0))
    val purchases = Seq(
      ev(10, 35, 1, "purchase", 9.0), // attributes clicks at minute 10 only (0 is outside 30m)
      ev(11, 90, 2, "purchase", 5.0)) // no click within 30m

    val batch = EventPipeline
      .attributePurchases(clicks.toDF(), purchases.toDF(), windowMinutes = 30)
      .orderBy("purchase_id", "click_id").collect()

    val cs = MemoryStream[Event]
    val ps = MemoryStream[Event]
    cs.addData(clicks: _*)
    ps.addData(purchases: _*)
    val q = EventPipeline
      .attributePurchases(cs.toDF(), ps.toDF(), windowMinutes = 30)
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("attr").orderBy("purchase_id", "click_id").collect()

    assert(batch.map(_.toSeq).toSeq === streamed.map(_.toSeq).toSeq)
    assert(batch.map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"))).toSeq
      === Seq((10L, 2L)))
  }

  test("stream-stream LEFT OUTER join: unmatched purchase emits nulls after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      ev(1, 0, 1, "click", 1.0), ev(2, 10, 1, "click", 1.0),
      ev(4, 12, 2, "click", 1.0))
    val purchases = Seq(
      ev(10, 35, 1, "purchase", 9.0), // attributes the click at minute 10
      ev(11, 90, 2, "purchase", 5.0)) // outside any click window → null row

    val batch = EventPipeline
      .attributePurchasesOuter(clicks.toDF(), purchases.toDF(), windowMinutes = 30)
      .orderBy("purchase_id", "click_id").collect()

    val cs = MemoryStream[Event]
    val ps = MemoryStream[Event]
    cs.addData(clicks: _*)
    ps.addData(purchases: _*)
    val q = EventPipeline
      .attributePurchasesOuter(cs.toDF(), ps.toDF(), windowMinutes = 30)
      .writeStream.format("memory").queryName("attro").outputMode("append").start()
    try {
      q.processAllAvailable()
      // null emission is watermark-driven: purchase 11 stays in state until
      // BOTH sides' watermarks pass its interval — push them far forward
      cs.addData(ev(20, 300, 9, "click", 1.0))
      ps.addData(ev(21, 300, 9, "purchase", 1.0))
      q.processAllAvailable()
      cs.addData(ev(22, 301, 9, "click", 1.0))
      ps.addData(ev(23, 301, 9, "purchase", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("attro")
      .filter($"purchase_id" <= 11).orderBy("purchase_id", "click_id").collect()

    assert(batch.map(_.toSeq).toSeq === streamed.map(_.toSeq).toSeq)
    // the unmatched purchase came through exactly once, click columns null
    val unmatched = streamed.filter(_.getAs[Long]("purchase_id") == 11L)
    assert(unmatched.length === 1)
    assert(unmatched(0).isNullAt(unmatched(0).fieldIndex("click_id")))
    assert(unmatched(0).isNullAt(unmatched(0).fieldIndex("click_ts")))
  }

  test("sessionization closes sessions on gap, keeps open session in state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val sessions = EventPipeline.sessionize(spark, stream.toDS(), gapMinutes = 30)
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // batch 1: two events 10min apart (same session), then 40min gap
      stream.addData(ev(1, 0, 7, "click", 1.0), ev(2, 10, 7, "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("sess").count() === 0) // session still open

      // batch 2: event at minute 60 closes the first session (gap 50 > 30)
      stream.addData(ev(3, 60, 7, "view", 5.0))
      q.processAllAvailable()
      val closed = spark.table("sess").as[EventPipeline.UserSession].collect()
      assert(closed.length === 1)
      assert(closed(0).user_id === 7L)
      assert(closed(0).n_events === 2L)
      assert(closed(0).total_value === 3.0)
    } finally q.stop()
  }

  test("streaming dedup drops duplicates; watermark evicts state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventPipeline.dedupEvents(stream.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      // batch 1: id 1 twice + id 2 → duplicates dropped, state = {1, 2}
      stream.addData(ev(1, 0, 1, "a", 1.0), ev(1, 0, 1, "a", 1.0), ev(2, 10, 1, "a", 1.0))
      q.processAllAvailable()
      assert(spark.table("dedup").count() === 2)
      val afterB1 = q.lastProgress.stateOperators(0).numRowsTotal
      assert(afterB1 === 2)

      // batch 2: an event far past the 2h watermark advances it; keys 1
      // and 2 (event time < watermark) are EVICTED from state
      stream.addData(ev(3, 300, 1, "a", 1.0))
      q.processAllAvailable()
      // watermark application is next-batch: nudge one more batch through
      stream.addData(ev(4, 301, 1, "a", 1.0))
      q.processAllAvailable()
      val afterEvict = q.lastProgress.stateOperators(0).numRowsTotal
      assert(afterEvict < afterB1 + 2, s"state must shrink by eviction, got $afterEvict")

      // id 1 re-sent AFTER its state was evicted: passes again — the
      // documented bound of watermark-scoped dedup
      stream.addData(ev(1, 302, 1, "a", 1.0))
      q.processAllAvailable()
      assert(spark.table("dedup").filter($"event_id" === 1).count() === 2)
    } finally q.stop()
  }

  test("transformWithState sessionize: timer closes an idle session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = MemoryStream[Event]
    val q = EventPipeline.sessionizeTws(spark, stream.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sesstws").outputMode("append").start()
    try {
      // batch 1: user 7 opens a session (two events 10 min apart), user 8
      // a one-event session; nothing closes yet
      val b1 = Seq(ev(1, 0, 7, "click", 1.0), ev(2, 10, 7, "click", 2.0),
        ev(3, 5, 8, "view", 0.5))
      stream.addData(b1: _*)
      q.processAllAvailable()
      assert(spark.table("sesstws").count() === 0)

      // batch 2: user 7's gap-crossing event closes session 1 on input
      // and advances the watermark past user 8's minute-35 deadline, so
      // user 8's session fires on TIMER with no further input from user 8
      // — the boundary the NoTimeout variant can never cross
      val b2 = Seq(ev(4, 120, 7, "purchase", 3.0))
      stream.addData(b2: _*)
      q.processAllAvailable()

      // batch 3+4: a far-future sentinel pushes the watermark past user
      // 7's minute-150 deadline too — every non-sentinel session closes
      stream.addData(ev(5, 1000, 99, "view", 0.0))
      q.processAllAvailable() // watermark computed from batch 3...
      stream.addData(ev(6, 1001, 99, "view", 0.0)) // ...applies in batch 4
      q.processAllAvailable()

      val streamed = spark.table("sesstws").as[EventPipeline.UserSession]
        .collect().sortBy(s => (s.user_id, s.session_start.getTime))
      // streaming == batch ACROSS the timer boundary (VERDICT r11 #2):
      // the batch twin over the same non-sentinel events emits all
      // sessions — exactly what the timers released
      val batch = EventPipeline.sessionizeTws(
          spark, (b1 ++ b2).toDS(), gapMinutes = 30)
        .collect().sortBy(s => (s.user_id, s.session_start.getTime))
      assert(batch.length === 3) // 7: two sessions; 8: one
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.map(_.user_id).toSet === Set(7L, 8L)) // sentinel still open in state
      val u8 = streamed.find(_.user_id == 8L).get
      assert(u8.n_events === 1L && u8.total_value === 0.5)
    } finally {
      q.stop()
      prevProvider match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("flatMapGroupsWithState timeout sessionize: idle session closes; streaming equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventPipeline.sessionizeTimeout(spark, stream.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessfmgws").outputMode("append").start()
    try {
      // batch 1: user 7 opens a session (two events 10 min apart), user 8
      // a one-event session; nothing can close yet
      val b1 = Seq(ev(1, 0, 7, "click", 1.25), ev(2, 10, 7, "click", 2.0),
        ev(3, 5, 8, "view", 0.5))
      stream.addData(b1: _*)
      q.processAllAvailable()
      assert(spark.table("sessfmgws").count() === 0)

      // batch 2: user 7's gap-crossing event closes session 1 the
      // NoTimeout way and opens session 2 — AND advances the watermark
      // to minute 110, so the follow-up no-data batch fires user 8's
      // minute-35 inactivity timer: the first timeout-closed session,
      // with no further input from user 8
      val b2 = Seq(ev(4, 120, 7, "purchase", 3.0))
      stream.addData(b2: _*)
      q.processAllAvailable()
      assert(spark.table("sessfmgws").count() === 2)

      // batch 3+4: a sentinel user far in the future pushes the
      // watermark (10 min delay) past user 7's minute-150 deadline, so
      // the still-open session 2 fires on TIMEOUT with no further input
      // from user 7 — the state-timeout boundary the NoTimeout variant
      // can never cross.
      val sentinel = Seq(ev(5, 1000, 99, "view", 0.0))
      stream.addData(sentinel: _*)
      q.processAllAvailable() // watermark computed from batch 3...
      stream.addData(ev(6, 1001, 99, "view", 0.0)) // ...applies in batch 4
      q.processAllAvailable()

      val streamed = spark.table("sessfmgws").as[EventPipeline.UserSession]
        .collect().sortBy(s => (s.user_id, s.session_start.getTime))
      // batch twin over the SAME non-sentinel events emits all sessions
      val batch = EventPipeline.sessionizeTimeout(
          spark, (b1 ++ b2).toDS(), gapMinutes = 30)
        .collect().sortBy(s => (s.user_id, s.session_start.getTime))
      assert(batch.length === 3) // 7: two sessions; 8: one
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.map(_.user_id).toSet === Set(7L, 8L)) // sentinel still open in state
    } finally q.stop()
  }

  test("streaming windowed top-k: timer emits ranked types equal to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hour0 = Seq(
      ev(1, 0, 1, "click", 1.0), ev(2, 5, 2, "click", 1.0), ev(3, 10, 3, "click", 1.0),
      ev(4, 15, 1, "view", 1.0), ev(5, 20, 2, "view", 1.0),
      ev(6, 25, 1, "buy", 1.0), ev(7, 30, 4, "cart", 1.0))
    val stream = MemoryStream[Event]
    val q = EventPipeline.topkTypes(spark, stream.toDS(), k = 3)
      .writeStream.format("memory").queryName("topk").outputMode("append").start()
    try {
      stream.addData(hour0: _*)
      q.processAllAvailable()
      assert(spark.table("topk").count() === 0) // window still open

      // far-future events advance the watermark past hour0's end: the
      // event-time timer fires and emits the ranked top-3 exactly once
      stream.addData(ev(8, 180, 9, "view", 1.0))
      q.processAllAvailable()
      stream.addData(ev(9, 185, 9, "view", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("topk").orderBy("window_start", "rnk").collect()
      val batch = EventPipeline.topkTypes(spark, hour0.toDS(), k = 3)
        .orderBy("window_start", "rnk").collect()
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
      assert(streamed.length === 3)
      assert(streamed(0).getString(2) === "click" && streamed(0).getLong(3) === 3L)
      assert(streamed(1).getString(2) === "view") // tie-break: buy beats cart at rank 3
      assert(streamed(2).getString(2) === "buy")
    } finally q.stop()
  }

  test("incremental near-dup: streamed docs flag against the static corpus index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the corpus and the stream are signed and banded by the same
    // per-row Columns the batch dd_incremental uses
    import graft.queries.TextQueries.{minhashSigned, sigBands}
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different corpus text about spark joins and shuffles"))
    val corpusBands = sigBands(minhashSigned(corpus.toDF("doc_id", "text")))
      .withColumnRenamed("doc_id", "corpus_id")

    val stream = MemoryStream[(Long, String)]
    val newBands = sigBands(minhashSigned(stream.toDS().toDF("doc_id", "text")))
    val flagged = newBands.join(corpusBands, Seq("band", "bucket"))
      .select(col("doc_id")).dropDuplicates("doc_id")
    val q = flagged.writeStream.format("memory").queryName("incdup")
      .outputMode("append").start()
    try {
      // doc 10 duplicates corpus doc 1 (all bands collide); doc 11 is novel
      stream.addData(
        (10L, "the quick brown fox jumps over the lazy dog tonight"),
        (11L, "a totally novel document with no shared shingles anywhere here"))
      q.processAllAvailable()
      val got = spark.table("incdup").as[Long].collect().sorted.toSeq
      assert(got === Seq(10L))
    } finally q.stop()
  }

  test("CDC upsert: state advances across batches; late events cannot regress it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventPipeline.latestPerUser(spark, stream.toDS())
      .writeStream.format("memory").queryName("upsert").outputMode("update").start()
    try {
      stream.addData(ev(1, 10, 7, "view", 1.0), ev(2, 20, 7, "click", 2.0))
      q.processAllAvailable()
      stream.addData(ev(3, 30, 7, "buy", 3.0), ev(4, 5, 7, "late", 9.0))
      q.processAllAvailable()
      // last emission for user 7 must be the minute-30 buy; the late
      // minute-5 event in the same batch lost to the stored maximum
      val rows = spark.table("upsert").as[EventPipeline.Latest].collect()
      val fin = rows.maxBy(r => (r.ts.getTime, r.event_id))
      assert(fin.event_id === 3L && fin.event_type === "buy" && fin.value === 3.0)

      // streaming final state equals the batch twin over the same events
      val all = Seq(ev(1, 10, 7, "view", 1.0), ev(2, 20, 7, "click", 2.0),
        ev(3, 30, 7, "buy", 3.0), ev(4, 5, 7, "late", 9.0))
      val batch = EventPipeline.latestPerUser(spark, all.toDS()).collect()
      assert(batch.length === 1 && batch(0).event_id === 3L)
    } finally q.stop()
  }

  test("sessionize batch mode agrees with hand computation") {
    import spark.implicits._
    val events = Seq(
      ev(1, 0, 1, "a", 1.0), ev(2, 5, 1, "a", 1.0),   // session 1 (open at end)
      ev(3, 100, 1, "a", 1.0),                         // closes session 1
      ev(4, 0, 2, "b", 2.0)).toDS()                    // user 2 open only
    val out = EventPipeline.sessionize(spark, events, 30).collect()
    // batch mode emits only closed sessions; user1's first session closed by ev3
    assert(out.length === 1)
    assert(out(0).n_events === 2 && out(0).total_value === 2.0)
  }

  test("sessionize batch: 1M-event hot key folds without buffering") {
    import spark.implicits._
    // one user, 1M events: 10,000 sessions of 100 events (1 min apart),
    // starting every 3 h (81-min idle gap between sessions). The old
    // toSeq.sortBy would materialize all 1M rows on one executor thread;
    // the sorted-group fold is O(1).
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val events = spark.range(1000000).select(
      col("id").as("event_id"),
      expr(s"timestamp_millis(${base}L + (id div 100) * 10800000 + (id % 100) * 60000)").as("ts"),
      lit(42L).as("user_id"),
      lit("e").as("event_type"),
      lit(1.0).as("value"),
      lit("{}").as("props")).as[EventPipeline.Event]
    val sess = EventPipeline.sessionize(spark, events, gapMinutes = 30)
    // ordering comes from Spark's spillable sort, not user code
    val plan = sess.queryExecution.executedPlan.toString()
    assert(plan.contains("Sort"), s"expected Spark-side sort in plan:\n$plan")
    val agg = sess.agg(count(lit(1)), sum(col("n_events")), sum(col("total_value"))).collect()(0)
    // 10,000 sessions, last one withheld as open
    assert(agg.getLong(0) === 9999L)
    assert(agg.getLong(1) === 999900L)
    assert(agg.getDouble(2) === 999900.0)
  }

  test("file-stream source: events land in windowed aggregate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    val out = java.nio.file.Files.createTempDirectory("evck").toString
    Seq(ev(1, 0, 1, "click", 1.5), ev(2, 5, 1, "view", 2.5)).toDF()
      .write.mode("overwrite").json(dir)
    val q = EventPipeline.windowedCounts(
      EventPipeline.readEventStream(spark, dir), "1 hour")
      .writeStream.format("memory").queryName("fileagg")
      .option("checkpointLocation", out).outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val rows = spark.table("fileagg").collect()
    assert(rows.map(_.getAs[Long]("n")).sum === 2)
  }

  test("streaming pcap directory source: new capture files become micro-batches") {
    val fixPcap = getClass.getResource("/fix.pcap").getPath
    val dir = java.nio.file.Files.createTempDirectory("pcapstream")
    val ck = java.nio.file.Files.createTempDirectory("pcapck").toString
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixPcap), dir.resolve("cap-001.pcap"))

    val stream = spark.readStream.format("pcap").load(dir.toString)
    val q = stream.groupBy().count()
      .writeStream.format("memory").queryName("pcapcnt")
      .option("checkpointLocation", ck).outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("pcapcnt").collect()(0).getLong(0) === 485L)
      // a second rotated capture file lands -> next micro-batch picks it up
      java.nio.file.Files.copy(java.nio.file.Paths.get(fixPcap), dir.resolve("cap-002.pcap"))
      q.processAllAvailable()
      assert(spark.table("pcapcnt").collect()(0).getLong(0) === 970L)
    } finally q.stop()
  }

  test("streaming pcap: checkpoint restart does not re-read committed files") {
    import org.apache.spark.sql.functions._
    val fixPcap = getClass.getResource("/fix.pcap").getPath
    val dir = java.nio.file.Files.createTempDirectory("pcapstream2")
    val ck = java.nio.file.Files.createTempDirectory("pcapck2").toString
    val out = java.nio.file.Files.createTempDirectory("pcapout2").toString
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixPcap), dir.resolve("cap-001.pcap"))

    def run(): Unit = {
      val q = spark.readStream.format("pcap").load(dir.toString)
        .select(col("`frame.number`"), col("`frame.len`"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() === 485L)
    // stop, land a second file, restart from the same checkpoint: the
    // persisted file log must not re-assign cap-001 (was: in-memory
    // seen-set → every restart re-read everything, at-least-once)
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixPcap), dir.resolve("cap-002.pcap"))
    run()
    assert(spark.read.parquet(out).count() === 970L)
    // a third restart with nothing new appends nothing
    run()
    assert(spark.read.parquet(out).count() === 970L)
  }

  test("streaming pcap: cfilter, compat=strict and climit read the rows a batch read does") {
    val dir = java.nio.file.Files.createTempDirectory("pcapstream3")
    val ck = java.nio.file.Files.createTempDirectory("pcapck3").toString
    Seq("fix", "mixed").foreach(n => java.nio.file.Files.copy(
      java.nio.file.Paths.get(getClass.getResource(s"/$n.pcap").getPath),
      dir.resolve(s"$n.pcap")))
    val opts = Map("protocols" -> "tcp", "cfilter" -> "tcp.len > 0",
      "compat" -> "strict", "climit" -> "300")
    val q = spark.readStream.format("pcap").options(opts).load(dir.toString)
      .writeStream.format("memory").queryName("pcapopts")
      .option("checkpointLocation", ck).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("pcapopts")
    val batch = spark.read.format("pcap").options(opts).load(dir.toString)
    assert(streamed.schema == batch.schema)
    val n = batch.count()
    // the limit and the filter both bite: fewer rows than either alone
    assert(n > 0 && n < spark.read.format("pcap").option("protocols", "tcp")
      .option("cfilter", "tcp.len > 0").load(dir.toString).count())
    assert(n < spark.read.format("pcap").option("climit", "300").load(dir.toString).count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // whole-second timestamps, as compat=strict emits them
    assert(streamed.selectExpr("`frame.time_epoch`").collect()
      .forall(r => r.getTimestamp(0).getTime % 1000 == 0))
  }

  test("funnel pattern: first view→click→purchase chain, state crosses batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 30L * 60000000L // 30 min per step
    val events = Seq(
      // user 1: view@0 → click@20 (valid) → purchase@45 (25 min after click) = match
      ev(1, 0, 1, "view", 1.0), ev(2, 20, 1, "click", 1.0),
      ev(3, 45, 1, "purchase", 1.0),
      // second full chain must NOT emit (first-match-only)
      ev(4, 100, 1, "view", 1.0), ev(5, 110, 1, "click", 1.0),
      ev(6, 120, 1, "purchase", 1.0),
      // user 2: click@10 has no prior view → its purchase can't match;
      // then view@200 → click@220, purchase@300 is 80 min later → stale
      ev(10, 10, 2, "click", 1.0), ev(11, 35, 2, "purchase", 1.0),
      ev(12, 200, 2, "view", 1.0), ev(13, 220, 2, "click", 1.0),
      ev(14, 300, 2, "purchase", 1.0),
      // user 3: a LATER view refreshes the chain; click captures view@60
      ev(20, 0, 3, "view", 1.0), ev(21, 60, 3, "view", 1.0),
      ev(22, 75, 3, "click", 1.0), ev(23, 95, 3, "purchase", 1.0))

    val batch = EventPipeline.funnelMatch(spark, events.toDS(), gapUs)
      .collect().sortBy(_.user_id)
    val base = 1700000000000L
    def us(minute: Int) = (base + minute * 60000L) * 1000L
    assert(batch.map(m => (m.user_id, m.view_us, m.click_us, m.purchase_us)).toSeq ===
      Seq((1L, us(0), us(20), us(45)), (3L, us(60), us(75), us(95))))

    // streaming in TWO micro-batches: user 1's purchase and user 3's whole
    // chain arrive in batch 2 — view/click state must carry over
    val stream = MemoryStream[Event]
    val q = EventPipeline.funnelMatch(spark, stream.toDS(), gapUs)
      .writeStream.format("memory").queryName("fm").outputMode("append").start()
    try {
      stream.addData(events.take(2): _*)
      q.processAllAvailable()
      stream.addData(events.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("fm")
      .as[EventPipeline.FunnelMatch].collect().sortBy(_.user_id)
    assert(streamed.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("token-bucket rate limit: streaming equals batch, state crosses batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // period 10 min, capacity 2: user 1 fires every 5 min — only every
    // other event finds a full period of credit after the burst drains
    val P = 10L * 60000000L
    val events = (0 until 8).map(i => ev(i + 1, i * 5, 1, "click", 1.0)) :+
      ev(100, 3, 2, "view", 1.0) // a second key, single event
    val batch = EventPipeline
      .rateLimit(spark, events.toDS(), periodUs = P, capacity = 2L)
      .collect().sortBy(a => (a.user_id, a.event_id))
    // full bucket admits 1 and 2; refill lets 3 scrape exactly one
    // period; after that only every other 5-min event finds credit
    assert(batch.filter(_.user_id == 1L).map(_.admitted).toSeq ===
      Seq(true, true, true, false, true, false, true, false))
    assert(batch.filter(_.user_id == 2L).map(_.admitted).toSeq === Seq(true))

    // streaming in TWO micro-batches: the bucket state must carry over
    val stream = MemoryStream[Event]
    val q = EventPipeline.rateLimit(spark, stream.toDS(), periodUs = P, capacity = 2L)
      .writeStream.format("memory").queryName("rl").outputMode("append").start()
    try {
      stream.addData(events.take(4): _*)
      q.processAllAvailable()
      stream.addData(events.drop(4): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("rl")
      .as[EventPipeline.Admission].collect()
      .sortBy(a => (a.user_id, a.event_id))
    assert(streamed.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("online ANN serving: foreachBatch streaming result equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.functions.AnnIndexes.embeddings(spark, sfDir)
    val index = graft.functions.AnnIndexes.servingIvf(spark, sfDir)
    val queries = emb.filter($"vec_id" % 50 === 7)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
      .as[(Long, Array[Float])].collect().toSeq
    assert(queries.nonEmpty)
    val batch = graft.queries.StreamingQueries.stAnnServe.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // ranking windows are illegal inside an append stream — online
    // retrieval is per-micro-batch searchBatch under foreachBatch, with
    // the query set split across TWO batches (results must be identical
    // to the one-shot batch serve: the index is static state)
    val stream = MemoryStream[(Long, Array[Float])]
    val acc = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = stream.toDF().toDF("query_id", "qe")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val res = graft.functions.Ivf.searchBatch(index, b, topK = 3, nProbe = 4)
          .filter(col("query_id") =!= col("vec_id")).collect()
        acc.synchronized { acc ++= res.map(_.toSeq) }
        ()
      }.start()
    try {
      val (first, second) = queries.splitAt(queries.size / 2)
      stream.addData(first: _*)
      q.processAllAvailable()
      stream.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: Seq[Any]) = (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])
    assert(acc.sortBy(key) === batch.sortBy(key))
  }

  test("streaming Bloom dedup probe: streaming (append) equals batch; no false negatives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus: 6 known docs; arriving: 2 exact dups + 2 fresh
    val corpusTexts = Seq("alpha beta", "gamma delta", "epsilon zeta",
      "eta theta", "iota kappa", "lambda mu")
    val corpus = corpusTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select($"doc_id", md5($"text").as("h"))
    val bloomMap = graft.functions.BloomDedup.fitMapRow(
      graft.functions.BloomDedup.fit(corpus))
    val arriving = Seq(
      (100L, "alpha beta"), (101L, "brand new text"),
      (102L, "lambda mu"), (103L, "another fresh one"))

    val batch = graft.functions.BloomDedup.probe(
      arriving.toDF("doc_id", "text").select($"doc_id", md5($"text").as("h")),
      bloomMap).orderBy("doc_id").collect()
    // the Bloom guarantee: exact members are ALWAYS hits
    val byId = batch.map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(byId(100L) && byId(102L))

    val stream = MemoryStream[(Long, String)]
    stream.addData(arriving: _*)
    val q = graft.functions.BloomDedup.probe(
      stream.toDF().toDF("doc_id", "text").select($"doc_id", md5($"text").as("h")),
      bloomMap)
      .writeStream.format("memory").queryName("bloomprobe")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("bloomprobe").orderBy("doc_id").collect()
    assert(batch.map(_.toSeq).toSeq === streamed.map(_.toSeq).toSeq)
  }

  test("streaming curation gate: quality ∧ ¬bloom verdict equals batch, stateless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((0L, "known doc body"), (1L, "other known body"))
      .toDF("doc_id", "text").select($"doc_id", md5($"text").as("h"))
    val bloomMap = graft.functions.BloomDedup.fitMapRow(
      graft.functions.BloomDedup.fit(corpus))
    val arriving = Seq(
      (100L, "known doc body"), // member → rejected as dup
      (101L, ("w " * 25).trim), // 25 tokens, fresh → accepted
      (102L, "too short"))      // fresh but fails the quality gate
    def gate(df: org.apache.spark.sql.DataFrame) = {
      val hashed = df.select($"doc_id", $"text", md5($"text").as("h"))
      hashed
        .withColumn("n_tokens", size(split($"text", "\\s+")).cast("long"))
        .join(graft.functions.BloomDedup.probe(
          hashed.select($"doc_id", $"h"), bloomMap), Seq("doc_id"))
        .select($"doc_id", $"n_tokens", $"bloom_hit",
          ($"n_tokens" >= 20L && !$"bloom_hit").as("accepted"))
    }
    val batch = gate(arriving.toDF("doc_id", "text")).orderBy("doc_id").collect()
    assert(batch.map(r => r.getLong(0) -> r.getBoolean(3)).toMap ===
      Map(100L -> false, 101L -> true, 102L -> false))

    val stream = MemoryStream[(Long, String)]
    stream.addData(arriving: _*)
    val q = gate(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curationgate")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("curationgate").orderBy("doc_id").collect()
    assert(batch.map(_.toSeq).toSeq === streamed.map(_.toSeq).toSeq)
  }

  test("streaming CMS sketch build: complete-mode cells equal batch; state stays ≤ 768 rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq("alpha beta alpha", "beta gamma", "alpha delta delta",
      "gamma gamma gamma")
    val batch = graft.queries.TextQueries.cmsCells(texts.toDF("text"))
      .orderBy("j", "bucket").collect()
    // the counter matrix is bounded by construction: depth 3 × width 256
    assert(batch.length <= 768)
    // total mass = 3 salts × token occurrences
    val nToks = texts.map(_.split(" ").length).sum
    assert(batch.map(_.getAs[Long]("cell_cnt")).sum === 3L * nToks)

    val stream = MemoryStream[String]
    texts.foreach(t => stream.addData(t)) // one micro-batch per document
    val q = graft.queries.TextQueries.cmsCells(stream.toDF().toDF("text"))
      .writeStream.format("memory").queryName("cmscells")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("cmscells").orderBy("j", "bucket").collect()
    assert(batch.map(_.toSeq).toSeq === streamed.map(_.toSeq).toSeq)
  }

  test("streaming k-means M-step: complete-mode stats equal batch; state = k cells") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val index = graft.functions.AnnIndexes.ivf(spark, sfDir, k = 16)
    val arriving = graft.functions.AnnIndexes.embeddings(spark, sfDir)
      .filter($"vec_id" % 10 === 7)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    val batch = graft.queries.SimilarityQueries
      .kmeansStats(arriving.toSeq.toDF("vec_id", "embedding"), index.centroids)
      .orderBy("cell").collect()
    assert(batch.length <= 16) // state bounded at k cells by construction

    val stream = MemoryStream[(Long, Seq[Float])]
    // several micro-batches so the complete-mode accumulation is exercised
    arriving.grouped(math.max(1, arriving.length / 4))
      .foreach(g => stream.addData(g.toSeq))
    val q = graft.queries.SimilarityQueries
      .kmeansStats(stream.toDF().toDF("vec_id", "embedding"), index.centroids)
      .writeStream.format("memory").queryName("kmstats")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("kmstats").orderBy("cell").collect()
    assert(batch.map(_.toSeq).toSeq === streamed.map(_.toSeq).toSeq)
  }

  test("online pHash serving: foreachBatch streaming result equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hv = graft.queries.MultimodalQueries.halves(
      graft.queries.MultimodalQueries.fingerprints(spark, sfDir, "image"))
    val corpus = hv.filter(col("doc_id") % 10 =!= 0).cache()
    val queries = hv.filter(col("doc_id") % 10 === 0)
      .as[(Long, Long, Long)].collect().toSeq
    assert(queries.nonEmpty)
    val batch = graft.queries.StreamingQueries.stPhashServe.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // per-query ranking windows are illegal inside an append stream —
    // online similarity serving is the per-micro-batch probe under
    // foreachBatch, the arriving queries split across TWO batches; the
    // results must equal the one-shot batch serve (the corpus is static)
    val stream = MemoryStream[(Long, Long, Long)]
    val acc = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = stream.toDF().toDF("query_id", "q1", "q2")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val res = graft.queries.MultimodalQueries
          .hammingTopK(spark, corpus, b, topK = 3).collect()
        acc.synchronized { acc ++= res.map(_.toSeq) }
        ()
      }.start()
    try {
      val (first, second) = queries.splitAt(queries.size / 2)
      stream.addData(first: _*)
      q.processAllAvailable()
      stream.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: Seq[Any]) = (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])
    assert(acc.sortBy(key) === batch.sortBy(key))
  }

  test("online audio fingerprint serving: foreachBatch streaming result equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hv = graft.queries.MultimodalQueries.halves(
      graft.queries.MultimodalQueries.fingerprints(spark, sfDir, "audio"))
    val corpus = hv.filter(col("doc_id") % 10 =!= 1).cache()
    val queries = hv.filter(col("doc_id") % 10 === 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(queries.nonEmpty)
    val batch = graft.queries.StreamingQueries.stAfpServe.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val stream = MemoryStream[(Long, Long, Long)]
    val acc = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = stream.toDF().toDF("query_id", "q1", "q2")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val res = graft.queries.MultimodalQueries
          .hammingTopK(spark, corpus, b, topK = 3).collect()
        acc.synchronized { acc ++= res.map(_.toSeq) }
        ()
      }.start()
    try {
      val (first, second) = queries.splitAt(math.max(1, queries.size / 2))
      stream.addData(first: _*)
      q.processAllAvailable()
      stream.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: Seq[Any]) = (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])
    assert(acc.sortBy(key) === batch.sortBy(key))
  }

  test("online video signature serving: foreachBatch streaming result equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val media = graft.multimodal.Media.synthesize(
      graft.api.Tables.load(spark, sfDir, "documents"))
    val hv = graft.queries.MultimodalQueries.halves(
      graft.multimodal.Media.videoSignatures(spark, media).toDF())
    val corpus = hv.filter(col("doc_id") % 10 =!= 2).cache()
    val queries = hv.filter(col("doc_id") % 10 === 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(queries.nonEmpty)
    val batch = graft.queries.StreamingQueries.stVsigServe.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val stream = MemoryStream[(Long, Long, Long)]
    val acc = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = stream.toDF().toDF("query_id", "q1", "q2")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val res = graft.queries.MultimodalQueries
          .hammingTopK(spark, corpus, b, topK = 3).collect()
        acc.synchronized { acc ++= res.map(_.toSeq) }
        ()
      }.start()
    try {
      val (first, second) = queries.splitAt(math.max(1, queries.size / 2))
      stream.addData(first: _*)
      q.processAllAvailable()
      stream.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: Seq[Any]) = (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])
    assert(acc.sortBy(key) === batch.sortBy(key))
  }

  test("image admission: foreachBatch streaming verdicts equal the batch gate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static artifacts fitted ONCE: decoded dimensions + corpus fingerprints
    val media = graft.multimodal.Media.synthesize(
      graft.api.Tables.load(spark, sfDir, "documents"))
    val dims = graft.multimodal.Media.extractMeta(spark, media).toDF()
      .filter(col("media_type") === "image")
      .select(col("doc_id"), col("width"), col("height")).cache()
    val ph = graft.queries.MultimodalQueries.mmPhash.fn(spark, sfDir)
      .select(col("doc_id"), col("phash")).cache()
    val corpus = graft.queries.MultimodalQueries.phashBands(ph)
      .filter(col("doc_id") % 10 =!= 0).cache()
    val queries = ph.filter(col("doc_id") % 10 === 0)
      .as[(Long, String)].collect().toSeq
    assert(queries.nonEmpty)
    val batch = graft.queries.MultimodalQueries.stImageAdmission
      .fn(spark, sfDir).collect().map(_.toSeq).toSeq
    val stream = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = stream.toDF().toDF("doc_id", "phash")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val res = graft.queries.MultimodalQueries
          .imageAdmission(spark, dims, corpus,
            graft.queries.MultimodalQueries.phashBands(b)).collect()
        acc.synchronized { acc ++= res.map(_.toSeq) }
        ()
      }.start()
    try {
      val (first, second) = queries.splitAt(math.max(1, queries.size / 2))
      stream.addData(first: _*)
      q.processAllAvailable()
      stream.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: Seq[Any]) = r.head.asInstanceOf[Long]
    assert(acc.sortBy(key) === batch.sortBy(key))
  }

  test("ingest admission: foreachBatch streaming verdicts equal the batch gate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static artifacts fitted ONCE (the production posture): Bloom word
    // map, IVF centroids, corpus (cell, bucket) table
    val hashed = graft.api.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), md5(col("text")).as("h"))
    val bloomMap = graft.functions.BloomDedup.fitMapRow(
      graft.functions.BloomDedup.fit(
        hashed.filter(col("doc_id") % 10 =!= 7).select(col("doc_id"), col("h"))))
    val index = graft.functions.AnnIndexes.ivf(spark, sfDir, k = 16)
    val bits = graft.queries.SimilarityQueries.neardupBits(
      graft.api.Tables.load(spark, sfDir, "embeddings").count())
    val corpusCells = index.assigned
      .filter(col("vec_id") % 10 =!= 7)
      .select(col("vec_id"), col("embedding"), col("cell"),
        graft.functions.Vectors.lshBucket(col("embedding"), bits).as("bucket"))
      .cache()
    val batch = graft.queries.StreamingQueries.stIngestAdmission.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // the arriving lane carries (doc_id, text, embedding) — split into
    // two micro-batches; each batch re-runs the SAME stateless gate
    // against the static artifacts
    val arriving = hashed.filter(col("doc_id") % 10 === 7)
      .join(graft.api.Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
      .as[(Long, String, String, Array[Float])].collect().toSeq
    val stream = MemoryStream[(Long, String, String, Array[Float])]
    val acc = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = stream.toDF().toDF("doc_id", "text", "h", "embedding")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val quality = b
          .withColumn("n_tokens", size(split(col("text"), "\\s+")).cast("long"))
        val probed = graft.functions.BloomDedup.probe(
          b.select(col("doc_id"), col("h")), bloomMap)
        val cells = b.select(col("doc_id"),
          graft.functions.Ivf.cellCol(index.centroids, col("embedding")).as("cell"),
          graft.functions.Vectors.lshBucket(col("embedding"), bits).as("bucket"),
          col("embedding"))
        val hits = cells.as("a")
          .join(corpusCells.as("x"),
            col("x.cell") === col("a.cell") && col("x.bucket") === col("a.bucket"))
          .filter(graft.functions.Vectors.cosine(
            col("x.embedding"), col("a.embedding")) >= 0.4)
          .groupBy(col("a.doc_id").as("doc_id"))
          .agg(count(lit(1)).as("n_dups"))
        val res = quality.select(col("doc_id"), col("n_tokens"))
          .join(probed, Seq("doc_id"))
          .join(hits, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n_tokens"), col("bloom_hit"),
            coalesce(col("n_dups"), lit(0L)).as("n_dups"),
            (col("n_tokens") >= 20L && !col("bloom_hit") &&
              coalesce(col("n_dups"), lit(0L)) === 0L).as("admitted"))
          .collect()
        acc.synchronized { acc ++= res.map(_.toSeq) }
        ()
      }.start()
    try {
      val (first, second) = arriving.splitAt(arriving.size / 2)
      stream.addData(first: _*)
      q.processAllAvailable()
      stream.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: Seq[Any]) = r.head.asInstanceOf[Long]
    assert(acc.sortBy(key) === batch.sortBy(key))
  }
}
