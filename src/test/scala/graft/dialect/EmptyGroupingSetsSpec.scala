package graft.dialect

import graft.SparkSpec

/** Standard empty-input grouping-sets semantics (EmptyGroupingSetsRule,
  * found by the differential fuzzer): ROLLUP/CUBE over an empty input
  * must emit the () grand-total row like Trino/Postgres/DuckDB, not
  * Spark's zero rows. */
class EmptyGroupingSetsSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  private def rows(sql: String): Seq[Row] = spark.sql(sql).collect().toSeq

  test("ROLLUP over empty input emits the grand-total row") {
    val r = rows("SELECT x, count(*) AS c, sum(y) AS s FROM VALUES (1, 2) t(x, y) WHERE x > 5 GROUP BY ROLLUP(x)")
    assert(r == Seq(Row(null, 0L, null)))
  }

  test("CUBE over empty input emits exactly one row") {
    val r = rows("SELECT x, y, count(*) AS c FROM VALUES (1, 2) t(x, y) WHERE x > 5 GROUP BY CUBE(x, y)")
    assert(r == Seq(Row(null, null, 0L)))
  }

  test("GROUPING SETS including () emits the () row; without () emits none") {
    val withEmpty = rows("SELECT x, count(*) AS c FROM VALUES (1) t(x) WHERE x > 5 GROUP BY GROUPING SETS ((x), ())")
    assert(withEmpty == Seq(Row(null, 0L)))
    val without = rows("SELECT x, count(*) AS c FROM VALUES (1) t(x) WHERE x > 5 GROUP BY GROUPING SETS ((x))")
    assert(without.isEmpty)
  }

  test("grouping() and grouping_id() carry the all-bits values on the synthetic row") {
    val r = rows("SELECT x, grouping(x) AS g, grouping_id(x, y) AS gid, count(*) AS c " +
      "FROM VALUES (1, 2) t(x, y) WHERE x > 5 GROUP BY ROLLUP(x, y)")
    assert(r == Seq(Row(null, 1.toByte, 3L, 0L)))
  }

  test("non-empty input is unchanged (same rows as vanilla rollup)") {
    val r = rows("SELECT x, count(*) AS c FROM VALUES (1), (1), (2) t(x) GROUP BY ROLLUP(x) ORDER BY x ASC NULLS FIRST")
    assert(r == Seq(Row(null, 3L), Row(1, 2L), Row(2, 1L)))
  }

  test("HAVING applies to the synthetic row too") {
    // count(*) = 0 fails HAVING count(*) > 0 → row suppressed, like Trino.
    val kept = rows("SELECT x, count(*) AS c FROM VALUES (1) t(x) WHERE x > 5 GROUP BY ROLLUP(x) HAVING count(*) = 0")
    assert(kept == Seq(Row(null, 0L)))
    val dropped = rows("SELECT x, count(*) AS c FROM VALUES (1) t(x) WHERE x > 5 GROUP BY ROLLUP(x) HAVING count(*) > 0")
    assert(dropped.isEmpty)
  }

  test("every aggregate keeps the engine's own global-empty value (no whitelist drift)") {
    val r = rows("SELECT x, count(*) AS c, count(y) AS cy, min(y) AS mn, max(y) AS mx, " +
      "avg(y) AS av, collect_list(y) AS cl, count_if(y > 0) AS ci " +
      "FROM VALUES (1, 2) t(x, y) WHERE x > 5 GROUP BY ROLLUP(x)")
    val g = rows("SELECT count(*) AS c, count(y) AS cy, min(y) AS mn, max(y) AS mx, " +
      "avg(y) AS av, collect_list(y) AS cl, count_if(y > 0) AS ci " +
      "FROM VALUES (1, 2) t(x, y) WHERE x > 5")
    assert(r.length == 1 && g.length == 1)
    assert(r.head.toSeq.drop(1) == g.head.toSeq, "() row must equal the global aggregate on empty input")
  }

  test("nested/derived uses still work (rollup inside a subquery with outer filter)") {
    val r = rows("SELECT * FROM (SELECT x, count(*) AS c FROM VALUES (1) t(x) WHERE x > 5 " +
      "GROUP BY ROLLUP(x)) sub WHERE c = 0")
    assert(r == Seq(Row(null, 0L)))
  }
}
