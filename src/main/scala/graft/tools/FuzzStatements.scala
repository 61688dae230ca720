package graft.tools


import graft.config.EngineConfig
import graft.engine.Engine
import graft.service.QueryService

/** Statement-surface fuzzer (VERDICT r10 item 6): the differential
  * fuzzer ([[FuzzDump]]) covers SELECT shapes, where Catalyst is the
  * implementation; the served STATEMENT wrappers — `SHOW STATS FOR
  * (SELECT …)`, `EXPLAIN` / `EXPLAIN (TYPE …)` / `EXPLAIN ANALYZE`,
  * `DESCRIBE` vs `information_schema` — are OUR shim code, which DuckDB
  * cannot replay. So this harness checks them by SELF-CONSISTENCY
  * against the engine's own query path, through the real
  * `QueryService.execute` surface (the same route the MCP tools take):
  *
  *  - `EXPLAIN (TYPE VALIDATE) q` must answer `true` for every
  *    grammar-generated query (the grammar emits only valid SQL);
  *  - `EXPLAIN q` / `(TYPE LOGICAL)` / `(TYPE DISTRIBUTED)` /
  *    `(TYPE IO)` must produce a non-empty single-column "Query Plan";
  *  - `EXPLAIN ANALYZE q` must run the plan and report a row count
  *    equal to COUNT(*) of the same query run directly;
  *  - `SHOW STATS FOR (q)` must emit Trino's 7-column shape whose
  *    summary-row `row_count` equals the direct COUNT, and whose
  *    per-column rows cover exactly the query's output columns;
  *  - `DESCRIBE t` must agree with `information_schema.columns` on the
  *    column names AND positions for every table in BOTH catalogs
  *    (spark_catalog temp views and tpch.tiny V2 tables).
  *
  * Every query is seeded — a failure reproduces from its index.
  *
  * Usage: runMain graft.tools.FuzzStatements <sfDir> [n] [seed]
  *   n = number of fuzzed SELECT seeds; each seed exercises 4 wrapper
  *   checks, so greens ≈ 4n + table sweeps.
  */
object FuzzStatements {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val n = args.lift(1).map(_.toInt).getOrElse(200)
    val seed = args.lift(2).map(_.toLong).getOrElse(20260814L)
    val spark = graft.Sessions.build("graft-fuzz-statements")
    val engine = new Engine(EngineConfig.fromEnv(Map.empty).toOption.get,
      Some(sfDir), Some(spark))
    val qs = new QueryService(engine)

    var green = 0
    var red = 0
    def check(tag: String)(cond: => Boolean): Unit = {
      val ok = try cond catch {
        case e: Throwable =>
          System.err.println(s"[fuzz-stmt] $tag THREW: " +
            Option(e.getMessage).getOrElse(e.toString)
              .linesIterator.take(2).mkString(" / "))
          false
      }
      if (ok) green += 1
      else { red += 1; System.err.println(s"[fuzz-stmt] $tag FAILED") }
    }
    def rightRows(sql: String): Option[(Seq[String], Seq[Seq[Any]])] =
      qs.execute(sql) match {
        case Right(r) => Some((r.columns, r.rows))
        case Left(err) =>
          System.err.println(s"[fuzz-stmt] Left($err) for: " +
            sql.linesIterator.mkString(" ").take(160))
          None
      }

    (0 until n).foreach { i =>
      val sql = FuzzDump.genQuery(seed + i)
      val tag = f"seed_$i%04d"
      // ground truth through the same surface (strip the trailing
      // ORDER BY-compatible shape by counting via subquery)
      lazy val directCount: Long =
        rightRows(s"SELECT COUNT(*) AS n FROM ($sql) g_t")
          .map(_._2.head.head.toString.toLong).getOrElse(-1L)

      check(s"$tag validate") {
        rightRows(s"EXPLAIN (TYPE VALIDATE) $sql")
          .exists(_._2.head.head.toString == "true")
      }
      check(s"$tag explain") {
        val forms = Seq(s"EXPLAIN $sql", s"EXPLAIN (TYPE LOGICAL) $sql",
          s"EXPLAIN (TYPE DISTRIBUTED) $sql", s"EXPLAIN (TYPE IO) $sql")
        forms.forall(f => rightRows(f).exists { case (cols, rows) =>
          cols == Seq("Query Plan") && rows.nonEmpty &&
            rows.head.head.toString.nonEmpty
        })
      }
      check(s"$tag analyze") {
        // EXPLAIN ANALYZE runs the plan; its reported "rows" must equal
        // the direct count of the same query
        rightRows(s"EXPLAIN ANALYZE $sql").exists { case (_, rows) =>
          val txt = rows.map(_.head.toString).mkString("\n")
          val m = """(\d+) output rows""".r.findFirstMatchIn(txt)
          m.exists(_.group(1).toLong == directCount)
        }
      }
      check(s"$tag prepare_execute") {
        // PREPARE name FROM q; EXECUTE name must return the same rows
        // as running q directly (engine-scoped statement store)
        val name = f"fz_$i%04d"
        rightRows(s"PREPARE $name FROM $sql").exists(_._2 == Seq(Seq("PREPARE"))) && {
          val direct = rightRows(sql)
          val viaExec = rightRows(s"EXECUTE $name")
          val ok = direct.isDefined && viaExec == direct
          rightRows(s"DEALLOCATE PREPARE $name")
          ok
        }
      }
      check(s"$tag show_stats") {
        rightRows(s"SHOW STATS FOR ($sql)").exists { case (cols, rows) =>
          val shapeOk = cols == Seq("column_name", "data_size",
            "distinct_values_count", "nulls_fraction", "row_count",
            "low_value", "high_value")
          val summary = rows.filter(r => r.head == null)
          val rowCountOk = summary.size == 1 &&
            summary.head(4).toString.toDouble == directCount.toDouble
          val outCols = rightRows(s"SELECT * FROM ($sql) g_t LIMIT 0")
            .map(_._1.toSet).getOrElse(Set.empty)
          val colsOk =
            rows.filter(_.head != null).map(_.head.toString).toSet == outCols
          shapeOk && rowCountOk && colsOk
        }
      }
    }

    // DESCRIBE vs information_schema.columns, both catalogs
    val described: Seq[(String, String)] =
      FuzzDump.tables.map(t => (t.name, t.name)) ++
        Seq("customer", "nation", "region", "orders", "lineitem", "part",
          "supplier").map(t => (s"tpch.tiny.$t", t))
    described.foreach { case (qualified, bare) =>
      check(s"describe_$qualified") {
        rightRows(s"DESCRIBE $qualified").exists { case (cols, rows) =>
          val names = rows.map(_.head.toString)
          val catalogPred =
            if (qualified.startsWith("tpch.")) "table_catalog = 'tpch'"
            else "table_catalog = 'spark_catalog'"
          val infoNames = rightRows(
            s"""SELECT column_name FROM information_schema.columns
                WHERE table_name = '$bare' AND $catalogPred
                ORDER BY ordinal_position""").map(_._2.map(_.head.toString))
          val ok = cols == Seq("Column", "Type", "Extra", "Comment") &&
            infoNames.contains(names)
          if (!ok) System.err.println(
            s"[fuzz-stmt] $qualified: describe=$names info=$infoNames cols=$cols")
          ok
        }
      }
    }

    println(s"[fuzz-stmt] $green green / $red red " +
      s"(${n} seeds x 5 wrappers + ${described.size} DESCRIBE sweeps)")
    if (red > 0) sys.exit(2)
    spark.stop()
  }
}
