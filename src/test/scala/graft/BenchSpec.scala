package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The BENCH_LOCAL.json refresh ratchet: a committed profile may only
  * be replaced by a run within the drift bound, and a profile the gate
  * cannot read refuses the refresh instead of disabling the gate. A
  * query that throws ends the run instead of timing as a success. */
class BenchSpec extends SparkSpec {

  private val profile =
    """{"metric":"total","value":65.5,"unit":"s","queries":{"a":{"metric":"q","value":1.0}}}"""

  test("ratchet: no committed file means no baseline — refresh allowed") {
    assert(Bench.ratchetRefusal(None, 999.0, 0.10).isEmpty)
  }

  test("ratchet: a parsed total gates the refresh by the drift bound") {
    assert(Bench.ratchetRefusal(Some(profile), 60.0, 0.10).isEmpty)
    assert(Bench.ratchetRefusal(Some(profile), 72.0, 0.10).isEmpty)  // within 10%
    val refused = Bench.ratchetRefusal(Some(profile), 73.0, 0.10)
    assert(refused.exists(_.contains("committed 65.5s")), refused)
    assert(Bench.ratchetRefusal(Some(profile), 73.0, 10.0).isEmpty) // explicit override
  }

  test("ratchet: a file present but unparseable refuses the refresh") {
    Seq("", "not json", """{"metric": "total", "value": 65.5}""",
        """{"value":65.5,"metric":"total"}""", """{"metric":"total","value":1.2.3}""")
      .foreach { txt =>
        val refused = Bench.ratchetRefusal(Some(txt), 1.0, 0.10)
        assert(refused.exists(_.contains("metric")), s"$txt -> $refused")
      }
  }

  test("a query that throws fails the bench run, naming the query") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF()
    val calls = new java.util.concurrent.atomic.AtomicInteger
    // throws in the warm-up pass
    val broken: (SparkSession, String) => DataFrame =
      (s, _) => s.sql("SELECT no_such_column FROM range(1)")
    // passes the warm-up, throws in the timed pass
    val flaky: (SparkSession, String) => DataFrame = (s, _) =>
      if (calls.incrementAndGet() > 1) throw new IllegalStateException("injected")
      else s.range(1).toDF()
    assert(Bench.timeQueries(spark, "", Seq("ok" -> ok), 3).map(_._1) == Seq("ok"))
    val warm = intercept[Bench.QueryFailed](
      Bench.timeQueries(spark, "", Seq("ok" -> ok, "broken" -> broken), 3))
    assert(warm.getMessage.contains("query broken failed"), warm.getMessage)
    val timed = intercept[Bench.QueryFailed](
      Bench.timeQueries(spark, "", Seq("ok" -> ok, "flaky" -> flaky), 3))
    assert(timed.getMessage == "query flaky failed: injected")
  }

  test("reference gate: only an explicit SPARK_GRAFT_CPUS=32 counts") {
    assert(!Bench.referenceCores(Map.empty)) // a bare run, whatever the host's cores
    assert(!Bench.referenceCores(Map("SPARK_GRAFT_CPUS" -> "4")))
    assert(Bench.referenceCores(Map("SPARK_GRAFT_CPUS" -> "32")))
  }
}
