package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: synthesize an sf1-scale stress dataset at /tmp/sf1 by
  * deterministic 10× replication of the driver's sf0.1 tables (which are
  * read-only — TESTDATA.md). Keys shift per copy so FK joins keep their
  * selectivity; documents get a per-copy suffix token (near-dups stay
  * near-dups without exploding exact-dup groups 10×); embeddings get a
  * deterministic per-copy orthogonal-ish jitter so the ANN corpus grows
  * without 10 identical twins per vector degenerating the near-dup
  * families into quadratic pair dumps. Dims (region/nation/supplier/part)
  * stay as-is. NOT an oracle input — bench-only (BENCH_sf1.json).
  */
object MakeSf1 {
  def main(args: Array[String]): Unit = {
    val src = "/root/testdata/sf0.1"
    val dst = args.headOption.getOrElse("/tmp/sf1")
    val K = 10
    val spark = graft.GraftSession()
    import spark.implicits._

    def t(name: String): DataFrame = graft.api.Tables.load(spark, src, name)
    val copies = spark.range(K.toLong).select($"id".cast("long").as("cp"))
    def rep(df: DataFrame): DataFrame = df.crossJoin(broadcast(copies))

    // key spans (next power-of-10 above the sf0.1 max keeps ids readable)
    def span(df: DataFrame, col0: String): Long = {
      val mx = df.agg(max(col(col0))).head.getLong(0)
      var s = 1L
      while (s <= mx) s *= 10
      s
    }
    val oSpan = span(t("orders"), "o_orderkey")
    val cSpan = span(t("customer"), "c_custkey")
    val dSpan = span(t("documents"), "doc_id")
    val vSpan = span(t("embeddings"), "vec_id")
    val eSpan = span(t("events"), "event_id")
    val uSpan = span(t("events"), "user_id")

    new java.io.File(dst).mkdirs()
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[sf1] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    for (dim <- Seq("region", "nation", "supplier", "part"))
      write(t(dim), dim)

    write(rep(t("customer"))
      .withColumn("c_custkey", $"c_custkey" + $"cp" * cSpan).drop("cp"), "customer")
    write(rep(t("orders"))
      .withColumn("o_orderkey", $"o_orderkey" + $"cp" * oSpan)
      .withColumn("o_custkey", $"o_custkey" + $"cp" * cSpan).drop("cp"), "orders")
    write(rep(t("lineitem"))
      .withColumn("l_orderkey", $"l_orderkey" + $"cp" * oSpan).drop("cp"), "lineitem")
    // Tables.loadEvents expects ts as RAW NANOS (the driver files are
    // parquet TIMESTAMP(NANOS), read as long): write the scaled copy's
    // ts back as a nanos BIGINT, not a micros TimestampType
    write(rep(t("events"))
      .withColumn("event_id", $"event_id" + $"cp" * eSpan)
      .withColumn("user_id", $"user_id" + $"cp" * uSpan)
      .withColumn("ts", expr("unix_micros(ts) * 1000L"))
      .drop("cp"), "events")
    // the copy suffix shifts only the tail shingles: near-dup relations
    // survive, exact-dup groups do not multiply by K
    write(rep(t("documents"))
      .withColumn("doc_id", $"doc_id" + $"cp" * dSpan)
      .withColumn("text", concat($"text", lit(" copy"), $"cp"))
      .withColumn("n_chars", length(concat($"text", lit(" copy"), $"cp")).cast("long"))
      .drop("cp"), "documents")
    // deterministic per-(copy, vec, dim) jitter ~±0.05 breaks identical
    // twins while keeping the corpus distribution
    write(rep(t("embeddings"))
      .withColumn("embedding",
        when($"cp" === 0, $"embedding").otherwise(
          transform($"embedding", (x, i) =>
            (x + (pmod(xxhash64($"vec_id", $"cp", i), lit(1000L)).cast("float")
              - 500f) / 10000f).cast("float"))))
      .withColumn("vec_id", $"vec_id" + $"cp" * vSpan)
      .drop("cp"), "embeddings")

    spark.stop()
  }
}
