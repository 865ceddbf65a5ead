package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `Bench.timeQueries`: a query that throws is reported as failed, never
  * as a fast timing, and stays out of the per-query map, `n` and the
  * total.
  */
class BenchSpec extends SparkSpec {

  private def good(s: SparkSession, d: String): DataFrame = s.range(100).toDF("id")

  test("a throwing query lands in failed and out of n, total and the per-query map") {
    val t = Bench.timeQueries(spark, "unused", Seq(
      "a_good" -> (good _),
      "b_bad" -> ((_: SparkSession, _: String) => sys.error("boom")),
      "c_bad_at_run" -> ((s: SparkSession, _: String) =>
        s.read.parquet("/nonexistent/graft/bench/table.parquet")),
      "d_good" -> (good _)))
    assert(t.failed.toSeq == Seq("b_bad", "c_bad_at_run"))
    assert(t.best.map(_._1) == Seq("a_good", "d_good"))
    assert(t.samples.map(_._1) == Seq("a_good", "d_good"))
    assert(t.total == t.best.map(_._2).sum && t.total > 0)
    // fewer queries than the isolated re-measure takes: all good ones, no failed one
    assert(t.isolated.map(_._1).sorted == Seq("a_good", "d_good"))
    // a failed query is not run again
    assert(t.runs("b_bad") == 1 && t.runs("c_bad_at_run") == 1)
    assert(t.runs("a_good") >= 2)
  }

  test("a query that throws only on a later run is dropped everywhere") {
    val calls = new AtomicInteger
    val flaky = (s: SparkSession, d: String) =>
      if (calls.incrementAndGet() >= 2) sys.error("second run fails") else good(s, d)
    val t = Bench.timeQueries(spark, "unused", Seq("a_good" -> (good _), "b_flaky" -> flaky))
    assert(t.failed.toSeq == Seq("b_flaky"))
    assert(t.best.map(_._1) == Seq("a_good"))
    assert(t.isolated.map(_._1) == Seq("a_good"))
    assert(t.runs("b_flaky") == 2)
  }
}
