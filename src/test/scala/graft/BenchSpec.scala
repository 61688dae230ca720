package graft

import org.scalatest.funsuite.AnyFunSuite

/** The BENCH_LOCAL.json refresh ratchet: a committed profile may only
  * be replaced by a run within the drift bound, and a profile the gate
  * cannot read refuses the refresh instead of disabling the gate. */
class BenchSpec extends AnyFunSuite {

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
}
