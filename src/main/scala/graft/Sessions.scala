package graft

import org.apache.spark.sql.SparkSession

/** The one session policy: every SparkSession graft builds — the
  * Engine's, the harness mains', the tools' and the test suite's —
  * comes from [[build]], so a bench, a verify dump, a profile and a
  * served `execute_query` all run the same dialect on the same settings.
  */
object Sessions {

  /** Local cores: SPARK_GRAFT_CPUS, else every core the JVM sees. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A session on `local[cores]` (or `master`) with one shuffle
    * partition per core, UTC, no UI, `file:` served by
    * [[graft.fs.LocalFileSystem]], graft's log policy and the served
    * dialect. `static` carries SparkContext-level settings that only
    * take effect at build (e.g. an executor class path); runtime SQL
    * settings belong in `spark.conf.set` after the build. */
  def build(appName: String, cores: Int = Sessions.cores, master: Option[String] = None,
      static: Map[String, String] = Map.empty): SparkSession = {
    val parts = cores.toString
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName(appName)
      .withExtensions(GraftExtensions.injectRules _)
      .config("spark.sql.shuffle.partitions", parts)
      // AQE initial shuffle-partition count: deployment config, NOT a
      // hardcoded 8x-cores — at local[32]/small SF that multiplier made
      // every shuffle write 256 reducer partitions and tripled the full
      // bench wall-clock (191.7s vs 68.0s measured at sf0.1). On a real
      // cluster, size it to the input via SPARK_GRAFT_INITIAL_PARTITIONS.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS", parts))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // file: writes set their modes in-process, not by a forked chmod
      // per file and directory (graft.fs.LocalFileSystem)
      .config("spark.hadoop.fs.file.impl", classOf[graft.fs.LocalFileSystem].getName)
      .config(static)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // The corpus-wide-scalar pattern (unpartitioned window over a tiny
    // aggregate — deliberate, see PlanAuditSpec) triggers a benign
    // WindowExec warning per run; at WARN level those lines flood a
    // caller that keeps only a bounded output tail and can push the
    // result line out.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    serve(s)
  }

  private val served = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** Switch `s` to the served Trino dialect, once per session (a second
    * call is a no-op, so Engines sharing a session do not re-register).
    * Sessions from [[build]] already have it; this is for sessions
    * built elsewhere and handed to an Engine. */
  def serve(s: SparkSession): SparkSession = served.synchronized {
    if (!served.contains(s)) {
      // Trino quotes identifiers with "double quotes" (the sanitizer
      // pins that, reference client.go:445); Spark defaults to backticks.
      s.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
      // Trino has a first-class TIME type (unrestricted SELECT
      // pass-through, reference client.go:284-290); Spark 4.1 ships
      // TimeType behind a flag — enable it so TIME literals, make_time,
      // EXTRACT, comparisons and parquet round-trips all work.
      s.conf.set("spark.sql.timeType.enabled", "true")
      // NOTE on string literals: Trino treats backslash as an ORDINARY
      // character ('' is the only escape); Spark's parser processes
      // C-style escapes. The dialect pre-pass doubles backslashes inside
      // single-quoted literals (TrinoFunctions.preprocess) so the served
      // SQL surface gets Trino semantics — '\d+' stays '\d+'. Spark's
      // escapedStringLiterals flag is NOT the fix: it also stops ''
      // from collapsing, which Trino requires.
      graft.dialect.TrinoFunctions.register(s)
      served.add(s)
    }
    s
  }
}
