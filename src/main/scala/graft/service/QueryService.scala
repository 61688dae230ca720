package graft.service

import java.util.UUID
import java.util.concurrent.{CompletableFuture, TimeUnit, TimeoutException}

import org.apache.spark.sql.DataFrame

import graft.engine.Engine
import graft.security.{Attribution, ReadOnlyGuard}

/** execute_query: guard → [[Statements]] → bounded collect → rows, mirroring
  * the reference's hot path (reference internal/trino/client.go:501-630):
  * trailing-semicolon strip, read-only guard (unless
  * TRINO_ALLOW_WRITE_QUERIES), per-query timeout — realized here as a
  * Spark job group that is CANCELLED on deadline (abandoning the future
  * would leave tasks poisoning later queries), and a row cap bounding
  * driver memory (embedded-engine addition, SURVEY.md §4).
  */
class QueryService(engine: Engine) {

  /** Columns in schema order + rows; `truncated` set when the row cap
    * clipped the result. `queryId` is the Spark job-group id the query
    * ran under (the embedded analogue of Trino's query id — usable to
    * correlate with the Spark UI / event log), `wallMillis` its
    * end-to-end wall time. */
  final case class QueryResult(columns: Seq[String], rows: Seq[Seq[Any]],
      truncated: Boolean, queryId: String = "", wallMillis: Long = 0L) {
    /** JSON array of objects in schema column order (the reference's
      * exact result shape, handlers.go:83). */
    def toJson: String =
      Json.write(rows.map(r => scala.collection.immutable.ListMap(columns.zip(r): _*)), indent = 2)
    /** Rows plus the query-feedback envelope Trino users expect (query
      * id + basic stats; Trino's REST shape has id/stats/data). */
    def toJsonWithStats: String =
      Json.write(scala.collection.immutable.ListMap(
        "queryId" -> queryId,
        "stats" -> scala.collection.immutable.ListMap(
          "wallMillis" -> wallMillis,
          "rows" -> rows.length.toLong,
          "truncated" -> truncated),
        "data" -> rows.map(r => scala.collection.immutable.ListMap(columns.zip(r): _*))),
        indent = 2)
  }

  def execute(query: String,
      user: Option[Attribution.User] = None): Either[String, QueryResult] = {
    // Attribution/impersonation → thread-local job tags (the embedded
    // analogue of X-Trino-User / Client-Tags headers; reference
    // client.go:531-540, handlers.go:31-52).
    val principal =
      if (engine.config.enableImpersonation)
        Attribution.impersonationPrincipal(user, engine.config.impersonationField)
      else Attribution.queryUsername(user)
    actingUser.set(principal)

    val stripped = ReadOnlyGuard.stripTrailingSemicolon(query)
    // Prepared-statement surface (Trino pass-through shapes) routes
    // BEFORE the read-only guard: PREPARE/DEALLOCATE only touch stored
    // TEXT (nothing executes), and EXECUTE re-enters execute() with the
    // substituted statement so the guard, allowlists, and dialect
    // pipeline all apply to the inner SQL exactly as if sent directly —
    // a prepared write statement prepares fine and is denied at
    // EXECUTE, where Trino's analyzer rejects it too.
    PreparedStatements.matchStatement(stripped).foreach {
      case Left(err) => return Left(err)
      case Right(PreparedStatements.Prepare(name, sql)) =>
        // a body that is itself a prepared-statement form would recurse
        // at EXECUTE (PREPARE q FROM EXECUTE q); Trino's grammar
        // rejects these bodies at PREPARE too
        if (PreparedStatements.matchStatement(sql).isDefined)
          return Left(s"invalid statement for PREPARE: $sql")
        engine.preparedStatements(name) = sql
        return collectBounded(ShowMeta.oneCol(engine.spark, "Result",
          Seq(org.apache.spark.sql.Row("PREPARE"))))
      case Right(PreparedStatements.Deallocate(name)) =>
        if (engine.preparedStatements.remove(name).isEmpty)
          return Left(s"Prepared statement not found: $name")
        return collectBounded(ShowMeta.oneCol(engine.spark, "Result",
          Seq(org.apache.spark.sql.Row("DEALLOCATE"))))
      case Right(PreparedStatements.Execute(name, args)) =>
        val sql = engine.preparedStatements.getOrElse(name,
          return Left(s"Prepared statement not found: $name"))
        return PreparedStatements.substitute(sql, args)
          .flatMap(resolved => execute(resolved, user))
      case Right(PreparedStatements.ExecuteImmediate(sql)) =>
        return execute(sql, user)
      case Right(PreparedStatements.DescribeInput(name)) =>
        val sql = engine.preparedStatements.getOrElse(name,
          return Left(s"Prepared statement not found: $name"))
        // parameter types are not inferred (Trino reports "unknown" for
        // untyped positions; every position is untyped here)
        val rows = (1 to PreparedStatements.paramCount(sql))
          .map(i => org.apache.spark.sql.Row(i, "unknown"))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("Position",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("Type",
            org.apache.spark.sql.types.StringType)))
        return collectBounded(engine.spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema))
      case Right(PreparedStatements.DescribeOutput(name)) =>
        val sql = engine.preparedStatements.getOrElse(name,
          return Left(s"Prepared statement not found: $name"))
        ReadOnlyGuard.denial(sql, engine.config.allowWriteQueries)
          .foreach(err => return Left(err))
        // substitute NULL for parameters: analysis-only, never executed
        val probed = PreparedStatements.substitute(sql,
          Seq.fill(PreparedStatements.paramCount(sql))("NULL"))
        return probed.flatMap(Statements.analyze(engine, _)).flatMap { qe =>
          val rows = qe.analyzed.schema.fields.toSeq.map(f =>
            org.apache.spark.sql.Row(f.name, "", "", "",
              TypeNames.trino(f.dataType), 0, false))
          val st = org.apache.spark.sql.types.StructType(Seq(
            ("Column Name", org.apache.spark.sql.types.StringType: org.apache.spark.sql.types.DataType),
            ("Catalog", org.apache.spark.sql.types.StringType),
            ("Schema", org.apache.spark.sql.types.StringType),
            ("Table", org.apache.spark.sql.types.StringType),
            ("Type", org.apache.spark.sql.types.StringType),
            ("Type Size", org.apache.spark.sql.types.IntegerType),
            ("Aliased", org.apache.spark.sql.types.BooleanType)
          ).map { case (n, t) => org.apache.spark.sql.types.StructField(n, t) })
          collectBounded(engine.spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](
              scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), st))
        }
    }
    // USE catalog.schema / USE schema — session-namespace switch
    // (validated against the allowlist-filtered metadata surface; only
    // engine state changes, nothing executes)
    UseStatement.matchUse(stripped).foreach { case (c, s) =>
      return UseStatement(engine, c, s).flatMap(_ =>
        collectBounded(ShowMeta.oneCol(engine.spark, "Result",
          Seq(org.apache.spark.sql.Row("USE")))))
    }
    // SET/RESET SESSION over the live engine properties, and the
    // transaction statements BI clients issue unconditionally (no-ops:
    // read-only single-statement engine — every query is its own
    // transaction). All engine-state only, nothing executes.
    SessionProps.matchStatement(stripped).foreach { stmt =>
      def ok(label: String) = collectBounded(ShowMeta.oneCol(engine.spark,
        "Result", Seq(org.apache.spark.sql.Row(label))))
      stmt match {
        case SessionProps.SetProp(n, v) =>
          return SessionProps.set(engine, n, v).flatMap(_ => ok("SET SESSION"))
        case SessionProps.ResetProp(n) =>
          return SessionProps.reset(engine, n).flatMap(_ => ok("RESET SESSION"))
        case SessionProps.StartTransaction => return ok("START TRANSACTION")
        case SessionProps.Commit => return ok("COMMIT")
        case SessionProps.Rollback => return ok("ROLLBACK")
      }
    }
    ReadOnlyGuard.denial(stripped, engine.config.allowWriteQueries)
      .foreach(err => return Left(err))

    // One error path for the SHOW routes below: a throwing catalog or
    // listing surfaces as a tool error, never an exception out of
    // execute() (SHOW SCHEMAS FROM nonexistent_catalog, r10 ADVICE).
    def serve(df: => DataFrame): Either[String, QueryResult] =
      (try Right(df) catch { case e: Throwable => Left(Statements.failed(e)) })
        .flatMap(collectBounded)
    // SHOW STATS FOR t — Trino's statistics surface (pass-through in the
    // reference); computed here since Spark's SHOW has no STATS form.
    // Under the opt-in SQL allowlist flag the same table gate applies.
    // Shared gate for the SHOW statement paths: the SAME catalog/schema
    // checks SqlAllowlist.check applies to regular SQL, then the table
    // check — a deployment using only catalog/schema allowlists must
    // still gate here (SHOW STATS reveals actual column min/max values).
    def showGate(t: String): Option[String] =
      if (!engine.config.enforceSqlAllowlists) None
      else {
        val (c, s, tbl) = MetadataService.resolve(engine, t)
        val lists = engine.allowlists
        if (lists.allowedCatalogs.nonEmpty && !lists.isCatalogAllowed(c))
          Some(s"catalog access denied: $c not in allowlist")
        else if (lists.allowedSchemas.nonEmpty && !lists.isSchemaAllowed(c, s))
          Some(s"schema access denied: $c.$s not in allowlist")
        else lists.tableAccessError(c, s, tbl)
      }
    ShowStats.matchStats(stripped).foreach { t =>
      showGate(t).foreach(err => return Left(err))
      return serve(ShowStats.forTable(engine, t))
    }
    // SHOW STATS FOR (SELECT ...): the inner query is planned like a
    // standalone statement, then the one-pass stats aggregate runs over
    // its result. (The whole statement already passed the read-only
    // guard above — its write-keyword scan covers the inner text too.)
    ShowStats.matchStatsQuery(stripped).foreach { inner =>
      return Statements.build(engine, inner)
        .flatMap(df => serve(ShowStats.forDataFrame(engine, df)))
    }
    // SHOW CREATE TABLE / SHOW SESSION — also reference pass-throughs
    // Spark can't serve on temp-view-backed relations (ShowMeta).
    ShowMeta.matchCreateTable(stripped).foreach { t =>
      showGate(t).foreach(err => return Left(err))
      return serve(ShowMeta.createTable(engine, t))
    }
    ShowMeta.matchSession(stripped).foreach { like =>
      return collectBounded(ShowMeta.session(engine, like))
    }
    // DESCRIBE t / DESC t / SHOW COLUMNS FROM t — Trino treats these as
    // synonyms emitting Column/Type/Extra/Comment; Spark's own DESCRIBE
    // has a different shape (col_name/data_type/comment), so route to
    // the same renderer get_table_schema uses. Multi-token DESCRIBE
    // forms (FUNCTION/QUERY/EXTENDED) still pass through to Spark.
    ShowMeta.matchDescribe(stripped).foreach { case (t, like) =>
      showGate(t).foreach(err => return Left(err))
      return serve(ShowMeta.describeTable(engine, t, like))
    }
    // SHOW CATALOGS / SCHEMAS / TABLES — Trino's single-column listing
    // shapes (Catalog / Schema / Table); Spark's own forms emit
    // different columns, so intercept and serve from the allowlist-
    // filtered metadata surface (same listings as the MCP tools).
    ShowMeta.matchCatalogs(stripped).foreach { like =>
      return serve(ShowMeta.catalogs(engine, like))
    }
    ShowMeta.matchSchemas(stripped).foreach { case (c, like) =>
      return serve(ShowMeta.schemas(engine, c, like))
    }
    ShowMeta.matchTables(stripped).foreach { case (q, like) =>
      return serve(ShowMeta.tables(engine, q, like))
    }
    // SHOW FUNCTIONS — function discovery over the dialect surface
    // (reference pass-through; Spark's own SHOW FUNCTIONS has the wrong
    // shape and lists Spark-spelling names). No allowlist gate: the
    // function surface is engine-global, not relation data.
    ShowFunctions.matchFunctions(stripped).foreach { like =>
      return collectBounded(ShowFunctions.functions(engine, like))
    }
    // EXPLAIN statement forms Spark's parser rejects — Trino's
    // (TYPE ...) options and EXPLAIN ANALYZE — plus plain EXPLAIN q,
    // normalized to Trino's "Query Plan" column (Spark-mode spellings
    // like EXPLAIN EXTENDED pass through to Spark's parser). The
    // explained query is planned by Statements like any other, so the
    // allowlist gate, USE and MATCH_RECOGNIZE apply to it unchanged.
    ExplainStatements.matchStatement(stripped).foreach {
      case Left(err) => return Left(err)
      case Right(ExplainStatements.Analyze(verbose, q)) =>
        return Statements.build(engine, q).flatMap { df =>
          val group = s"graft-query-${UUID.randomUUID()}"
          val start = System.nanoTime()
          // Execute the DataFrame's OWN plan (df.count() would build
          // and run a different aggregate plan, leaving this plan's
          // runtime metrics at zero): toRdd is the executed plan's
          // row stream; counting it materializes nothing driver-side.
          withTimeoutAndCancel(group)(df.queryExecution.toRdd.count()).map { n =>
            val wall = (System.nanoTime() - start) / 1000000L
            QueryResult(Seq("Query Plan"),
              Seq(Seq(ExplainStatements.renderAnalyzed(df, n, wall, verbose))),
              truncated = false, queryId = group, wallMillis = wall)
          }
        }
      case Right(ExplainStatements.Typed(tpe, _, q)) =>
        return explainToResult(q, if (tpe == "DISTRIBUTED") "" else tpe)
      case Right(ExplainStatements.Plain(q)) =>
        return explainToResult(q, "")
    }
    // planned inside the runner: an eager command (an allowed write)
    // runs under the query's job group and deadline too
    bounded(Statements.build(engine, stripped))
  }

  /** ExplainService output (rows of single-key maps) → QueryResult. */
  private def explainToResult(inner: String, tpe: String): Either[String, QueryResult] =
    new ExplainService(engine).explain(inner, tpe).map { rows =>
      val cols = rows.headOption.map(_.keys.toSeq).getOrElse(Seq("Query Plan"))
      QueryResult(cols, rows.map(_.values.toSeq), truncated = false,
        queryId = s"graft-query-${UUID.randomUUID()}", wallMillis = 0L)
    }

  /** Run an already-built DataFrame through the same timeout/cap path. */
  def collectBounded(df: DataFrame): Either[String, QueryResult] = bounded(Right(df))

  /** Build `built` and take at most the row cap of it, both in one job
    * group under the query deadline. */
  private def bounded(built: => Either[String, DataFrame]): Either[String, QueryResult] = {
    val cap = engine.sessionMaxResultRows
    val group = s"graft-query-${UUID.randomUUID()}"
    val start = System.nanoTime()
    withTimeoutAndCancel(group) {
      built.map { df =>
        val taken = df.take(cap + 1)
        val truncated = taken.length > cap
        val rows = taken.take(cap).toSeq.map(_.toSeq)
        QueryResult(df.schema.fieldNames.toSeq, rows, truncated,
          queryId = group, wallMillis = (System.nanoTime() - start) / 1000000L)
      }
    }.flatten
  }

  /** Deadline enforcement with job-group cancel (client.go:525 moved to
    * Spark's cancellation model; SURVEY.md §7 gotcha 8). */
  private def withTimeoutAndCancel[T](group: String)(body: => T): Either[String, T] = {
    val spark = engine.spark
    val fut = new CompletableFuture[T]()
    val user = Option(actingUser.get).getOrElse("")
    val runner = new Thread(() => {
      spark.sparkContext.setJobGroup(group, "graft query", interruptOnCancel = true)
      Attribution.tagThread(spark, user)
      try fut.complete(body)
      catch { case e: Throwable => fut.completeExceptionally(e) }
      finally {
        Attribution.clearThread(spark)
        spark.sparkContext.clearJobGroup()
      }
    }, group)
    runner.setDaemon(true)
    runner.start()
    try Right(fut.get(engine.sessionQueryTimeoutSeconds.toLong, TimeUnit.SECONDS))
    catch {
      case _: TimeoutException =>
        // and FUTURE jobs: a deadline that fires while the runner is
        // still planning would otherwise let its job start afterwards
        // and hold the cores, unbounded, for every later query
        spark.sparkContext.cancelJobGroupAndFutureJobs(group)
        Left(s"query execution failed: query timed out after " +
          s"${engine.sessionQueryTimeoutSeconds}s")
      case e: java.util.concurrent.ExecutionException =>
        Left(Statements.failed(e.getCause))
    }
  }

  /** Acting user for the next execute() on this thread (request-scoped,
    * like the reference's context values). */
  private val actingUser = new ThreadLocal[String] { override def initialValue = "" }
}
