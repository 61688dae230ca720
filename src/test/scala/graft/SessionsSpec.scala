package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.config.EngineConfig
import graft.engine.Engine

/** The session factory: a session fresh from [[Sessions.build]] already
  * speaks the served dialect, so an Engine sharing it changes nothing —
  * a query means the same before and after any Engine touches it. */
class SessionsSpec extends AnyFunSuite {

  /** A new factory session over the shared SparkContext (not the shared
    * test session, which other specs' Engines have already touched). */
  private def withFreshSession(body: SparkSession => Unit): Unit = {
    val base = SparkSpec.session // ensures a SparkContext exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = Sessions.build("graft-sessions-spec", cores = 2)
      assert(s ne base)
      body(s)
    } finally {
      base.sparkContext.setLogLevel("ERROR")
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("a fresh factory session has the dialect rules, shims and settings") {
    withFreshSession { s =>
      assert(s.sql("SELECT CAST(TIMESTAMP '2024-01-02 03:04:05' AS TIME)")
        .collect().head.get(0) == java.time.LocalTime.of(3, 4, 5))
      assert(s.sql("SELECT k, count(*) FROM (SELECT 1 AS k WHERE false) " +
        "GROUP BY ROLLUP(k)").collect().toSeq == Seq(Row(null, 0L)))
      assert(s.sessionState.functionRegistry
        .lookupFunction(FunctionIdentifier("strpos")).map(_.getSource)
        .contains("scala_udf"))
      assert(s.sql("SELECT strpos('hello world', 'world')").collect().head.get(0) == 7)
      assert(s.sql("""SELECT "k" FROM (SELECT 41 + 1 AS k)""").collect().head.get(0) == 42)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    }
  }

  test("an Engine on a factory session does not change what a query means") {
    withFreshSession { s =>
      // "k" is a column only with double-quoted identifiers, and Trino's
      // greatest is NULL on a NULL argument where Spark's skips it
      def query() = s.sql("""SELECT "k", greatest(k, CAST(NULL AS INT)) AS g,
        |  strpos(CAST(k AS STRING), '2') AS p FROM VALUES (12), (3) AS t(k)""".stripMargin)
      def analyzed() = query().queryExecution.analyzed.toString.replaceAll("#\\d+", "")
      val (planBefore, rowsBefore) = (analyzed(), query().collect().toSeq)
      assert(rowsBefore.toSet == Set(Row(12, null, 2), Row(3, null, 0)))
      // the flagship query's own data directory, as MetaOps hands it in
      val dir = new java.io.File(new java.net.URI(SparkEntry.entry(s).inputFiles.head)).getParent
      new Engine(EngineConfig.fromEnv(Map.empty).toOption.get, Some(dir), Some(s)).spark
      assert(analyzed() == planBefore)
      assert(query().collect().toSeq == rowsBefore)
    }
  }
}
