package graft

/** The artifact store's contract: one name per (kind, dir), one write per
  * (session, kind, dir), leftovers of an earlier run replaced, and a
  * write-once guard that fits may nest. */
class ArtifactsSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("a leftover warehouse directory from a previous run is replaced, not failed on") {
    val kind = "spec_leftover"
    val base = Artifacts.name(kind, "/spec/leftover")
    // a previous run's table: files in the warehouse, nothing in this catalog
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    spark.range(3).write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(wh, base + "_t").toString)
    assert(!spark.catalog.tableExists(base + "_t"))
    val got = Artifacts.table(spark, kind, "/spec/leftover", Seq("_t")) { b =>
      spark.range(5).write.saveAsTable(b + "_t")
    }
    assert(got === base)
    assert(spark.table(base + "_t").count() === 5)
  }

  test("Tables.load infers a table's schema once, and again once the table is rewritten") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-schema").toString
    val path = s"$dir/region.parquet"
    Seq((0L, "a")).toDF("r_regionkey", "r_name").write.parquet(path)
    val rec = new JobRecorder(spark.sparkContext)
    try {
      graft.api.Tables.load(spark, dir, "region")
      assert(rec.jobs().size === 1, "the first load infers the footer schema")
      val again = graft.api.Tables.load(spark, dir, "region")
      assert(rec.jobs().size === 1, "a second load of an unchanged table started a job")
      assert(again.schema.fieldNames.toSeq === Seq("r_regionkey", "r_name"))
      Seq((0L, "a", "c")).toDF("r_regionkey", "r_name", "r_comment")
        .write.mode("overwrite").parquet(path)
      val written = rec.jobs().size
      val rewritten = graft.api.Tables.load(spark, dir, "region")
      assert(rec.jobs().size === written + 1, "a rewritten table must be inferred again")
      assert(rewritten.schema.fieldNames.toSeq === Seq("r_regionkey", "r_name", "r_comment"))
      assert(rewritten.collect().map(_.getString(2)).toSeq === Seq("c"))
    } finally rec.detach()
  }

  test("a second call for the same (kind, dir) runs no write") {
    var writes = 0
    def build(): String = Artifacts.table(spark, "spec_once", "/spec/once") { b =>
      writes += 1
      spark.range(2).write.saveAsTable(b)
    }
    val first = build()
    val second = build()
    assert(first === second)
    assert(writes === 1)
  }

  test("two dirs give two distinct table names") {
    val a = Artifacts.table(spark, "spec_dirs", "/spec/a") { b =>
      spark.range(1).write.saveAsTable(b)
    }
    val b = Artifacts.table(spark, "spec_dirs", "/spec/b") { b =>
      spark.range(4).write.saveAsTable(b)
    }
    assert(a !== b)
    assert(spark.table(a).count() === 1)
    assert(spark.table(b).count() === 4)
  }

  test("dirs that fold to one identifier still get their own tables") {
    for (pair <- Seq(Seq("/spec/x/a/b", "/spec/x/a_b"), Seq("/spec/SF", "/spec/sf"))) {
      val bases = pair.zipWithIndex.map { case (dir, i) =>
        Artifacts.table(spark, "spec_fold", dir) { b =>
          spark.range(i + 1).write.saveAsTable(b)
        }
      }
      assert(bases.distinct.size === 2, bases.mkString(" vs "))
      assert(bases.map(spark.table(_).count()) === Seq(1L, 2L), pair.mkString(" vs "))
    }
  }

  test("q44 run on dir A, then B, then A again answers the third run from A's tables") {
    val q44 = graft.queries.RelationalQueries.q44BucketedJoin
    val a1 = rows(q44.fn(spark, "/root/testdata/sf0.001"))
    val b = rows(q44.fn(spark, "/root/testdata/sf0.01"))
    val a2 = rows(q44.fn(spark, "/root/testdata/sf0.001"))
    assert(a1 !== b, "the two scale factors must give different answers")
    assert(a2 === a1)
  }

  test("an sf dir rewritten mid-session is rebuilt, not served stale") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rewrite").toString
    def writeEmbeddings(n: Int, seed: Int): Unit = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map(i => (i.toLong, Array.fill(64)(rnd.nextFloat()), s"l${i % 3}"))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    writeEmbeddings(40, 1)
    val fp1 = Artifacts.inputs(spark, dir)
    val cents1 = functions.AnnIndexes.ivf(spark, dir, k = 4).centroids
    assert(functions.AnnIndexes.int8Persisted(spark, dir)._1.count() === 40)
    writeEmbeddings(60, 2)
    assert(Artifacts.inputs(spark, dir) !== fp1)
    assert(functions.AnnIndexes.int8Persisted(spark, dir)._1.count() === 60)
    val cents2 = functions.AnnIndexes.ivf(spark, dir, k = 4).centroids
    assert(cents1.map(_.toSeq).toSeq !== cents2.map(_.toSeq).toSeq)
  }

  test("fits nest: a guarded fit may call guarded fits 100 keys deep") {
    val depth = 100
    def nested(i: Int): String = Artifacts.cached(spark, s"spec-nest:$i") {
      if (i < depth) nested(i + 1)
      s"v$i"
    }
    assert(nested(0) === "v0")
    for (i <- 0 to depth)
      assert(Artifacts.cached[String](spark, s"spec-nest:$i")(fail("refit")) === s"v$i")
  }

  test("a fit that re-enters its own key fails instead of recursing") {
    def self(): String = Artifacts.cached(spark, "spec-self")(self())
    intercept[IllegalStateException](self())
  }

  test("a fit that throws leaves no entry, so the next call retries") {
    intercept[RuntimeException] {
      Artifacts.cached[String](spark, "spec-retry")(throw new RuntimeException("boom"))
    }
    assert(Artifacts.cached(spark, "spec-retry")("ok") === "ok")
  }
}
