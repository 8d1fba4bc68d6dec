package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exactness properties of [[graft.plans.RangeJoinBinRewrite]]: the
  * rewritten binned join must return the IDENTICAL multiset as the naive
  * theta join for adversarial inputs — negative coordinates (floor vs
  * truncating division), degenerate (end < start) intervals, duplicate
  * rows (multiset semantics), empty sides — across several bin widths. */
class RangeJoinRewriteSpec extends SparkSpec {

  /** Runs `body` at bin width `width` (0 turns the rule off), then puts
    * back the width the session had, so later suites keep its default. */
  private def withRule[T](width: Long)(body: => T): T = {
    val key = graft.plans.RangeJoinBinRewrite.WidthKey
    val before = spark.conf.getOption(key)
    spark.conf.set(key, width.toString)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Deterministic pseudo-random interval set (no Random — reproducible). */
  private def intervals(n: Int, salt: Int, dup: Boolean): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).flatMap { i =>
      val h = (i * 2654435761L + salt * 40503L)
      val s = (h % 2000L) - 1000L           // negatives included
      val len = (h / 7 % 37L) - 3L          // some DEGENERATE (end < start)
      val base = Seq((i.toLong, s, s + len))
      if (dup && i % 11 == 0) base ++ base else base // duplicate rows
    }
    rows.toDF("id", "s", "e")
  }

  private def joined(l: DataFrame, r: DataFrame): Seq[(Long, Long)] = {
    l.as("l").join(r.as("r"),
        col("l.s") <= col("r.e") && col("r.s") <= col("l.e"))
      .select(col("l.id"), col("r.id"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
  }

  test("binned rewrite matches the naive join exactly across widths") {
    val l = intervals(120, 1, dup = true)
    val r = intervals(90, 2, dup = false)
    val naive = joined(l, r)
    assert(naive.nonEmpty)
    // duplicate left rows must yield duplicate pairs (multiset check)
    assert(naive.size > naive.distinct.size)
    for (w <- Seq(1L, 3L, 7L, 100L, 100000L)) {
      val binned = withRule(w)(joined(l, r))
      assert(binned === naive, s"width $w diverged")
    }
  }

  test("rewrite fires (plan has bin explodes) and stays off without the conf") {
    val l = intervals(20, 3, dup = false)
    val r = intervals(20, 4, dup = false)
    val on = withRule(10L) {
      l.as("l").join(r.as("r"),
          col("l.s") <= col("r.e") && col("r.s") <= col("l.e"))
        .queryExecution.executedPlan.toString()
    }
    assert(on.contains("Generate explode") && !on.contains("BroadcastNestedLoopJoin"))
    val off = withRule(0L) {
      spark.conf.unset(graft.plans.RangeJoinBinRewrite.WidthKey)
      l.as("l").join(r.as("r"),
          col("l.s") <= col("r.e") && col("r.s") <= col("l.e"))
        .queryExecution.executedPlan.toString()
    }
    assert(!off.contains("Generate explode"),
      "width unset ⇒ the rule must be a no-op")
  }

  test("joins with a cross-side equality are left untouched") {
    val l = intervals(20, 5, dup = false).withColumn("k", col("id") % 5)
    val r = intervals(20, 6, dup = false).withColumn("k", col("id") % 5)
    val p = withRule(10L) {
      l.as("l").join(r.as("r"),
          col("l.k") === col("r.k") &&
            col("l.s") <= col("r.e") && col("r.s") <= col("l.e"))
        .queryExecution.executedPlan.toString()
    }
    assert(!p.contains("Generate explode"),
      "an existing equi key already partitions the join — no rewrite")
  }
}
