package servebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

import graft.config.EngineConfig
import graft.engine.Engine
import graft.mcp.HttpTransport
import graft.security.BearerAuth

/** One benchmark run inside a single JVM; `run.py` launches it, then
  * checks and summarizes what it writes to `--out`.
  *
  * {{{
  * servebench.Main run --workload agent_explore --data DIR --seed 7
  *   --seconds 10 --clients 4 --setups 3 --trace 0 --out FILE
  * }}}
  */
object Main {
  final case class Opts(args: Map[String, String], flags: Set[String]) {
    def apply(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    def num(k: String): Double = apply(k).toDouble
    def flag(k: String): Boolean = flags(k)
  }

  private def parse(argv: Seq[String]): Opts = {
    val kv = Map.newBuilder[String, String]; val flags = Set.newBuilder[String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) { kv += k -> argv(i + 1); i += 2 }
      else { flags += k; i += 1 }
    }
    Opts(kv.result(), flags.result())
  }

  private val Secret = "servebench-hmac-secret"
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse("")
    val o = parse(argv.toSeq.drop(1))
    mode match {
      case "run" => new Run(o).execute()
      case "pruning-gap" => pruningGap(o("data"), o("out"))
      case other =>
        System.err.println(s"unknown mode '$other' (run | pruning-gap)"); sys.exit(2)
    }
  }

  /** The 63 pipeline-family queries timed two ways in one window: with
    * `df.count()`, whose plan Catalyst prunes to what a count needs, and
    * with the query's own plan (`queryExecution.toRdd.count()`), which is
    * what a caller is served. Each query runs once untimed first; the two
    * forms then alternate which goes first. */
  private def pruningGap(dataDir: String, out: String): Unit = {
    val engine = new Engine(EngineConfig.fromEnv(Map.empty).fold(e => sys.error(e), identity), Some(dataDir))
    val spark = engine.spark
    val qs = graft.SparkEntry.queries.toSeq
      .filter { case (k, _) => Workloads.PipelineFamilies.exists(k.startsWith) }.sortBy(_._1)
    def time(body: => Long): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    val rows = qs.zipWithIndex.map { case ((name, fn), i) =>
      fn(spark, dataDir).queryExecution.toRdd.count()
      val count = () => time(fn(spark, dataDir).count())
      val served = () => time(fn(spark, dataDir).queryExecution.toRdd.count())
      val (c, sv) = if (i % 2 == 0) { val c = count(); (c, served()) } else { val sv = served(); (count(), sv) }
      name -> (c, sv)
    }
    val body = rows.map { case (n, (c, sv)) => s"""${js(n)}:{"count_s":${num(c)},"served_s":${num(sv)}}""" }
    Files.writeString(Paths.get(out),
      s"""{"queries":${rows.size},"count_total_s":${num(rows.map(_._2._1).sum)},""" +
        s""""served_total_s":${num(rows.map(_._2._2).sum)},"per_query":${body.mkString("{", ",", "}")}}""" + "\n")
    spark.stop()
  }

  /** One checked call: the statement id, its latency split, and what the
    * reply held. `metaMs`/`queryMs` split pipeline queries into building
    * the DataFrame and executing its plan. */
  final case class Rec(rid: String, id: String, kind: String, expect: String, t0: Long, t1: Long,
      out: Outcome, metaMs: Double = -1, queryMs: Double = -1) {
    def ms: Double = (t1 - t0) / 1e6
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  private def js(s: String): String = "\"" + esc(s) + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))

  private def recJson(r: Rec): String =
    s"""{"rid":${js(r.rid)},"id":${js(r.id)},"kind":${js(r.kind)},"expect":${js(r.expect)},"ms":${num(r.ms)},""" +
      s""""meta_ms":${num(r.metaMs)},"query_ms":${num(r.queryMs)},"well_formed":${r.out.wellFormed},""" +
      s""""is_error":${r.out.isError},"rows":${r.out.rows},"hash":${js(r.out.hash)},"text":${js(r.out.text)}}"""

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def peakRssMb: Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Fixed-work probe from the public `Bench.calibrate`, captured from the
    * line it prints: cpu, write and read seconds. */
  private def probe(dataDir: String): Map[String, Double] = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try graft.Bench.calibrate(dataDir) finally System.setErr(saved)
    val line = buf.toString("UTF-8")
    "(cpu|write|read)=([0-9.]+)s".r.findAllMatchIn(line)
      .map(m => s"probe_${m.group(1)}_s" -> m.group(2).toDouble).toMap
  }

  final class Run(o: Opts) {
    private val workload = o("workload")
    private val dataDir = o("data")
    private val seed = o("seed").toLong
    private val seconds = o.num("seconds")
    private val traced = o("trace") == "1"
    private val isAgent = workload == "agent_explore"
    private val isPipeline = workload == "pipeline_batch"
    private val token = BearerAuth.mintJwt(Secret, "servebench-agent",
      System.currentTimeMillis() / 1000L + 86400L)
    private val cfg: EngineConfig = EngineConfig.fromEnv(
      if (isAgent) Map("TRINO_ALLOWED_SCHEMAS" -> "spark_catalog.default",
        "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true", "OAUTH_ENABLED" -> "true",
        "OAUTH_PROVIDER" -> "hmac", "JWT_SECRET" -> Secret)
      else Map.empty).fold(e => sys.error(e), identity)

    private val injected = Stmt("inject:missing_column", "query", "execute_query",
      Seq("query" -> "SELECT no_such_column FROM region"))
    private lazy val wl: Workload = {
      val base = Workloads.agentExplore
      if (!o.flag("inject-failure")) base
      else base.copy(pool = base.pool :+ injected,
        deck = base.deck :+ (1 -> Seq(injected.id)))
    }

    private val firstCall = Stmt("setup:list_tables", "meta", "list_tables", Nil)

    /** `new Engine` to the first successful tool reply. Traced runs build
      * the session themselves (the same settings `Engine` uses) so session
      * start, table registration and the first call time apart. */
    private def setupOnce(): (Served, Double, Map[String, Double]) = {
      val t0 = System.nanoTime()
      var split = Map.empty[String, Double]
      val engine =
        if (!traced) new Engine(cfg, Some(dataDir))
        else {
          val s = SparkSession.builder().master(s"local[$cpus]")
            .withExtensions { ext =>
              ext.injectResolutionRule(_ => graft.dialect.TimeCastRule)
              ext.injectPostHocResolutionRule(_ => graft.dialect.EmptyGroupingSetsRule)
            }
            .appName(cfg.source)
            .config("spark.sql.shuffle.partitions", cpus)
            .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus)
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
          val t1 = System.nanoTime()
          val e = new Engine(cfg, Some(dataDir), Some(s))
          e.spark
          val t2 = System.nanoTime()
          split = Map("session_s" -> (t1 - t0) / 1e9, "register_s" -> (t2 - t1) / 1e9)
          e
        }
      val tFirst = System.nanoTime()
      val server = new BenchServer(engine)
      val transport = if (!isAgent) None else {
        val t = new HttpTransport(server, 0, auth = BearerAuth.fromConfig(cfg))
        t.start(); Some(t)
      }
      val served = new Served(engine, server, transport, token)
      val reply = served.connect().call(BenchServer.request("setup", firstCall))
      val out = Reply.outcome(reply, "setup")
      val t3 = System.nanoTime()
      if (!out.wellFormed || out.isError) sys.error(s"setup call failed: ${out.text}")
      if (traced) split += "first_call_s" -> (t3 - tFirst) / 1e9
      (served, (t3 - t0) / 1e9, split)
    }

    private def call(conn: Conn, rid: String, s: Stmt, tr: Option[Trace]): Rec = {
      val line = BenchServer.request(rid, s)
      val t0 = System.nanoTime()
      val ts0 = tr.map(_.nowNs).getOrElse(0L)
      val reply = try conn.call(line) catch { case e: Exception => s"client error: $e" }
      val t1 = System.nanoTime()
      tr.foreach(t => t.add(Span(rid, "client.call", "", ts0, t.nowNs)))
      lastReply.put(s.id, reply)
      Rec(rid, s.id, s.kind, s.expect, t0, t1, Reply.outcome(reply, rid))
    }
    private val lastReply = new java.util.concurrent.ConcurrentHashMap[String, String]()

    /** Closed loop: each client sends its next call when the reply to the
      * previous one is in. `rounds` seeded rounds of the deck are dealt to
      * the clients. Returns the calls and the window length that makes
      * calls / window the summed client rate. */
    private def loop(served: Served, clients: Int, rounds: Int, salt: Long,
        tr: Option[Trace]): (Seq[Rec], Double) = {
      val rng = new SplittableRandom(seed * 1000003L + salt)
      val shares = Seq.fill(clients)(ArrayBuffer.empty[Stmt])
      (0 until rounds).foreach(_ => shuffled(wl.round, rng).zipWithIndex.foreach {
        case (s, i) => shares(i % clients) += s
      })
      val results = shares.zipWithIndex.map { case (share, c) =>
        val recs = ArrayBuffer.empty[Rec]
        var secs = 0.0
        val th = new Thread(() => {
          val conn = served.connect()
          val start = System.nanoTime()
          share.zipWithIndex.foreach { case (s, i) => recs += call(conn, s"c$salt-$c-$i", s, tr) }
          secs = (System.nanoTime() - start) / 1e9
        }, s"servebench-client-$c")
        th.start()
        (th, recs, () => secs)
      }
      results.foreach(_._1.join())
      val all = results.flatMap(_._2)
      val rate = results.map { case (_, recs, secs) => recs.size / secs() }.sum
      (all, all.size / rate)
    }

    /** Fixed work per run: the number of rounds (or pipeline passes) that
      * take about `--seconds` on a 4-core host. Counting work instead of
      * stopping on a clock keeps the work of every run the same. */
    private def units(nominalSeconds: Double): Int = math.max(1, math.ceil(seconds / nominalSeconds).toInt)

    /** Every pool statement once, dealt round-robin to the workload's
      * clients. */
    private def checkPass(served: Served): Seq[Rec] = {
      val clients = o("clients").toInt
      val parts = wl.pool.zipWithIndex.groupBy(_._2 % clients).values.toSeq
      val workers = parts.map { part =>
        val recs = ArrayBuffer.empty[Rec]
        val th = new Thread(() => {
          val conn = served.connect()
          part.foreach { case (s, i) => recs += call(conn, s"k-$i", s, None) }
        })
        th.start(); (th, recs)
      }
      workers.foreach(_._1.join())
      workers.flatMap(_._2).sortBy(_.rid)
    }

    // -- pipeline ---------------------------------------------------------

    private lazy val pipelineQueries: Seq[(String, (SparkSession, String) => DataFrame)] = {
      val qs = Workloads.PipelineSlice.map(k => k -> graft.SparkEntry.queries(k))
      val all = if (!o.flag("inject-failure")) qs
        else qs :+ (injected.id -> ((s: SparkSession, _: String) => s.sql("SELECT no_such_column FROM region")))
      shuffled(all, new SplittableRandom(seed))
    }

    private def shuffled[T](xs: Seq[T], rng: SplittableRandom): Seq[T] = {
      val a = xs.toBuffer
      for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toSeq
    }

    /** Row count and order-insensitive digest of a DataFrame's own plan. */
    private def digestPlan(df: DataFrame): (Long, String) = {
      val schema = df.schema
      val parts = df.queryExecution.toRdd.mapPartitions { it =>
        val conv = CatalystTypeConverters.createToScalaConverter(schema)
        var n = 0L; var sum = 0L
        it.foreach { r => n += 1; sum += Reply.rowHash(Main.canonicalValue(conv(r))) }
        Iterator((n, sum))
      }.collect()
      (parts.map(_._1).sum, Reply.hex(parts.map(_._2).sum))
    }

    private def runQuery(spark: SparkSession, name: String,
        fn: (SparkSession, String) => DataFrame, rid: String, digest: Boolean,
        tr: Option[Trace], exprs: Option[ArrayBuffer[Long]]): Rec = {
      val sc = spark.sparkContext
      val tag = Trace.TagPrefix + rid
      tr.foreach(_ => sc.addJobTag(tag))
      val ts0 = tr.map(_.nowNs).getOrElse(0L)
      val t0 = System.nanoTime()
      var t1 = t0
      val out =
        try {
          val df = fn(spark, dataDir)
          t1 = System.nanoTime()
          val o =
            if (digest) { val (n, h) = digestPlan(df); Outcome(wellFormed = true, isError = false, n, h, "") }
            else Outcome(wellFormed = true, isError = false, df.queryExecution.toRdd.count(), "", "")
          exprs.foreach(_ += df.queryExecution.optimizedPlan.collect {
            case p => p.expressions.map(_.collect { case e => e }.size).sum.toLong
          }.sum)
          o
        } catch {
          case e: Throwable =>
            if (t1 == t0) t1 = System.nanoTime()
            Outcome(wellFormed = true, isError = true, 0, "", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        } finally tr.foreach(_ => sc.removeJobTag(tag))
      val t2 = System.nanoTime()
      tr.foreach(t => t.add(Span(rid, "ops.query", "", ts0, t.nowNs)))
      Rec(rid, name, "pipeline", "ok", t0, t2, out, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
    }

    private def pass(spark: SparkSession, label: String, digest: Boolean,
        tr: Option[Trace] = None, exprs: Option[ArrayBuffer[Long]] = None): Seq[Rec] =
      pipelineQueries.map { case (name, fn) =>
        runQuery(spark, name, fn, s"$label-$name", digest, tr, exprs)
      }

    // -- the run ----------------------------------------------------------

    def execute(): Unit = {
      val host = probe(dataDir)
      val setups = (1 to o("setups").toInt).map { i =>
        val (served, secs, split) = setupOnce()
        if (i < o("setups").toInt) { served.stop(); None -> (secs, split) }
        else Some(served) -> (secs, split)
      }
      val served = setups.last._1.get
      val spark = served.engine.spark
      val fields = ArrayBuffer.empty[String]
      fields += s""""setup_s":${setups.map(s => num(s._2._1)).mkString("[", ",", "]")}"""
      fields += host.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")

      // Agent: the priming statements, two warm-up rounds, then the checked
      // pass. Pipeline: the checked pass is the first (cold) pass.
      val gc0 = gcMs
      val (warm, check, checkS) =
        if (isPipeline) {
          val t0 = System.nanoTime()
          val c = pass(spark, "check", digest = true)
          (Nil, c, (System.nanoTime() - t0) / 1e9)
        } else {
          val primed = wl.prime.map(s => call(served.connect(), s"k-${s.id}", s, None))
          val (w, _) = loop(served, o("clients").toInt, 2, 0, None)
          val t0 = System.nanoTime()
          val c = checkPass(served)
          (w, primed ++ c, (System.nanoTime() - t0) / 1e9)
        }
      val (timed, windowS, batchS, layers) =
        if (isPipeline) pipelineWindow(spark)
        else callWindow(served, checkS)
      fields += s""""batch_s":${num(batchS)}"""
      fields += s""""gc_ms":${gcMs - gc0}"""
      fields += s""""window_s":${num(windowS)}"""
      fields += s""""rss_peak_mb":${num(peakRssMb)}"""
      fields += s""""check":${check.map(recJson).mkString("[", ",\n", "]")}"""
      fields += s""""warm":${warm.map(recJson).mkString("[", ",\n", "]")}"""
      fields += s""""calls":${timed.map(recJson).mkString("[", ",\n", "]")}"""
      layers.foreach { l =>
        val setupMed = Seq("session_s", "register_s", "first_call_s").map(k =>
          s"setup.$k" -> median(setups.flatMap(_._2._2.get(k))))
        fields += s""""layers":${(l ++ setupMed).map { case (k, v) => s"${js(k)}:${num(v)}" }.mkString("{", ",", "}")}"""
      }
      Files.writeString(Paths.get(o("out")), fields.filter(_.nonEmpty).mkString("{", ",\n", "}\n"))
      served.stop()
    }

    /** Untraced: the timed window. Traced: an untraced half window and a
      * traced half window, so the tracing overhead shows. `batch_s` is the
      * checked pass. */
    private def callWindow(served: Served, checkS: Double)
        : (Seq[Rec], Double, Double, Option[Map[String, Double]]) = {
      val clients = o("clients").toInt
      val rounds = units(wl.roundSeconds)
      if (!traced) {
        val (t, s) = loop(served, clients, rounds, 1, None)
        (t, s, checkS, None)
      } else {
        val (base, _) = loop(served, clients, math.max(1, rounds / 2), 1, None)
        val tr = new Trace
        val sc = served.engine.spark.sparkContext
        sc.addSparkListener(tr)
        served.server.tracer = Some(tr)
        val gc0 = gcMs
        val (t, s) = loop(served, clients, math.max(1, rounds / 2), 2, Some(tr))
        val gc = gcMs - gc0
        served.server.tracer = None
        org.apache.spark.sql.servebench.SparkAccess.drain(sc)
        sc.removeSparkListener(tr)
        tr.dump(Paths.get(o("out") + ".spans.jsonl"))
        val l = callLayers(served, tr, t, s) ++ Map(
          "jvm.gc_ms" -> gc.toDouble,
          "trace.overhead_ms" -> (median(t.map(_.ms)) - median(base.map(_.ms))))
        (base ++ t, s, checkS, Some(l))
      }
    }

    /** `--seconds` per timed pipeline pass: two warm passes at
      * `--seconds 10`. A warm pass of the slice takes about 15 s on a
      * 4-core host, so a run measures longer than `--seconds`. */
    private val PipelinePassSeconds = 5.0

    /** Whole warm passes (untraced), or one untraced and one traced pass.
      * `batch_s` is the median pass. */
    private def pipelineWindow(spark: SparkSession)
        : (Seq[Rec], Double, Double, Option[Map[String, Double]]) = {
      def timedPass(label: String, tr: Option[Trace] = None,
          exprs: Option[ArrayBuffer[Long]] = None): (Seq[Rec], Double) = {
        val t0 = System.nanoTime()
        val recs = pass(spark, label, digest = false, tr, exprs)
        (recs, (System.nanoTime() - t0) / 1e9)
      }
      if (!traced) {
        val passes = (0 until units(PipelinePassSeconds)).map(p => timedPass(s"p$p"))
        (passes.flatMap(_._1), passes.map(_._2).sum, median(passes.map(_._2)), None)
      } else {
        val (base, baseS) = timedPass("base")
        val tr = new Trace
        val sc = spark.sparkContext
        sc.addSparkListener(tr)
        val exprs = ArrayBuffer.empty[Long]
        val gc0 = gcMs
        val (t, windowS) = timedPass("traced", Some(tr), Some(exprs))
        val gc = gcMs - gc0
        org.apache.spark.sql.servebench.SparkAccess.drain(sc)
        sc.removeSparkListener(tr)
        tr.dump(Paths.get(o("out") + ".spans.jsonl"))
        val work = tr.workByRequest()
        val buckets = t.groupBy(r => Workloads.opsBucket(r.id)).map { case (b, rs) => b -> rs.map(_.ms).sum / 1000 }
        val l = sparkLayers(tr, t.map(_.rid), work, windowS) ++
          Seq("text", "dedup", "embed", "index", "mm", "other").map(b => s"ops.${b}_s" -> buckets.getOrElse(b, 0.0)) ++
          Map("ops.plan_exprs" -> exprs.sum.toDouble,
            "ops.index_write_bytes" -> work.values.flatMap(_.tasks).map(_.outBytes).sum.toDouble,
            "jvm.gc_ms" -> gc.toDouble,
            // per query: the passes' queries differ too much for a median
            "trace.overhead_ms" -> (windowS - baseS) * 1000 / math.max(1, t.size),
            "trace.self_handle_ms" -> median(t.map(r => r.ms - sparkUnion(work.get(r.rid)))),
            "trace.unexplained_ms" -> median(t.map(r => r.ms - sparkUnion(work.get(r.rid)))))
        (base ++ t, windowS, baseS, Some(l))
      }
    }

    /** Wall time covered by a request's SQL executions and jobs (ms); RDD
      * actions such as `toRdd.count()` run jobs outside any execution. */
    private def sparkUnion(w: Option[Trace.Work]): Double =
      w.map(x => Trace.unionMs(x.execs.filter(_.endMs >= 0).map(e => (e.startMs, e.endMs)) ++
        x.jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)))).getOrElse(0.0)

    /** Spark-side per-call metrics shared by every workload. */
    private def sparkLayers(tr: Trace, rids: Seq[String], work: Map[String, Trace.Work],
        windowS: Double): Map[String, Double] = {
      val ws = rids.map(work.get)
      val jobs = ws.flatMap(_.toSeq.flatMap(_.jobs))
      val tasks = ws.flatMap(_.toSeq.flatMap(_.tasks))
      val nTasks = tasks.map(_.n).sum.toDouble
      val n = math.max(1, rids.size).toDouble
      val cores = cpus.toDouble
      val base = Map(
        "spark.exec_ms" -> jobs.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs).toDouble).sum / n,
        "spark.optimize_ms" -> ws.flatMap(_.toSeq.flatMap(_.execs)).map(_.optimizeMs.toDouble).sum / n,
        "spark.plan_ms" -> ws.flatMap(_.toSeq.flatMap(_.execs)).map(_.planMs.toDouble).sum / n,
        "spark.qe_per_call" -> ws.map(_.map(_.execs.size).getOrElse(0).toDouble).sum / n,
        "spark.jobs_per_call" -> jobs.size / n,
        "spark.tasks_per_job" -> (if (jobs.isEmpty) 0.0 else nTasks / jobs.size),
        "spark.task_run_s" -> tasks.map(_.runMs).sum / 1000.0 / n,
        "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / n,
        "spark.sched_delay_ms" -> (if (nTasks == 0) 0.0 else tasks.map(_.schedMs).sum / nTasks),
        "spark.core_util" -> tasks.map(_.runMs).sum / 1000.0 / (windowS * cores),
        "spark.shuffle_bytes" -> tasks.map(_.shuffleBytes).sum / n,
        "spark.spill_bytes" -> tasks.map(_.spillBytes).sum / n,
        "trace.self_query_ms" -> ws.flatMap(_.toSeq).flatMap { w =>
          w.execs.filter(_.endMs >= 0).map { e =>
            (e.endMs - e.startMs) - Trace.unionMs(w.jobs.filter(j => j.endMs >= 0 && j.execId == e.id)
              .map(j => (j.startMs, j.endMs)))
          }
        }.sum / n,
        "trace.self_job_ms" -> jobs.filter(_.endMs >= 0).map { j =>
          (j.endMs - j.startMs) - Trace.unionMs(j.stages.flatMap(tr.stageSpans.get))
        }.sum / n)
      val replayed = rids.flatMap(replay.get)
      val executedAnalysis = ws.flatMap(_.toSeq.flatMap(_.execs)).map(_.analyzeMs.toDouble).sum / n
      base ++ Map("spark.parse_ms" -> replayed.map(_._1).sum / n,
        "spark.analyze_ms" -> (replayed.map(_._2).sum / n + executedAnalysis))
    }

    /** Statement text of each traced request, when it is SQL. */
    private val sqlOf = new java.util.concurrent.ConcurrentHashMap[String, String]()

    /** Parse and analysis ms of each traced SQL request, from the
      * QueryPlanningTracker of its statement planned again on the warm
      * session after the window: the served call plans it inside
      * QueryService, out of the listener's reach, so these are replay
      * estimates, not measurements of the served call. */
    private lazy val replay: Map[String, (Double, Double)] = {
      val spark = SparkSession.active
      sqlOf.asScala.toSeq.flatMap { case (rid, sql) =>
        try {
          val p = spark.sql(graft.dialect.TrinoFunctions.preprocess(sql)).queryExecution.tracker.phases
          Some(rid -> ((p.get("parsing").map(_.durationMs).getOrElse(0L).toDouble,
            p.get("analysis").map(_.durationMs).getOrElse(0L).toDouble)))
        } catch { case _: Throwable => None }
      }.toMap
    }
    private def replayMs(rid: String): Double = replay.get(rid).map(p => p._1 + p._2).getOrElse(0.0)

    private def timeUs(reps: Int)(body: => Any): Double = {
      body
      val ts = (1 to reps).map { _ => val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e3 }
      median(ts)
    }

    /** Per-layer split of the traced call window. */
    private def callLayers(served: Served, tr: Trace, calls: Seq[Rec],
        windowS: Double): Map[String, Double] = {
      val handle = tr.spans.asScala.filter(_.name == "mcp.handle").map(s => s.rid -> s).toMap
      val work = tr.workByRequest()
      val byId = calls.groupBy(_.id).keys.map(wl.stmt).toSeq
      // SQL that runs through the standard pipeline: replayable
      calls.foreach { r =>
        val s = wl.stmt(r.id)
        val q = s.args.toMap.get("query")
        if (s.tool == "execute_query" && s.expect == "ok" && q.exists(x =>
            !x.contains("MATCH_RECOGNIZE") && !x.contains("information_schema")))
          sqlOf.put(r.rid, q.get)
      }
      val auth = BearerAuth.fromConfig(served.engine.config)
      val bearerUs = auth.map(a => timeUs(200)(a.validate(Some(s"Bearer $token")))).getOrElse(0.0)
      val spark = served.engine.spark
      val pure: Map[String, (Double, Double, Double, Double)] = byId.map { s =>
        val q = s.args.toMap.get("query")
        val guard = q.filter(_ => s.tool == "execute_query").map { x =>
          timeUs(20)(graft.security.ReadOnlyGuard.isReadOnly(graft.security.ReadOnlyGuard.stripTrailingSemicolon(x)))
        }.getOrElse(0.0)
        val pre = q.map(x => timeUs(20)(try graft.dialect.TrinoFunctions.preprocess(x) catch { case _: Throwable => "" }))
          .getOrElse(0.0)
        val allow = q.filter(x => served.engine.config.enforceSqlAllowlists && !x.contains("MATCH_RECOGNIZE"))
          .map { x =>
            timeUs(20)(try graft.security.SqlAllowlist.check(
              spark.sessionState.sqlParser.parsePlan(graft.dialect.TrinoFunctions.preprocess(x)),
              served.engine.allowlists, served.engine.sessionCatalog, served.engine.sessionSchema)
            catch { case _: Throwable => None })
          }.getOrElse(0.0)
        val json = Option(lastReply.get(s.id)).map { reply =>
          val text = try {
            val root = graft.service.Json.parse(reply).asInstanceOf[collection.Map[String, Any]]
            val content = root("result").asInstanceOf[collection.Map[String, Any]]("content")
              .asInstanceOf[Seq[collection.Map[String, Any]]].head
            content("text").toString
          } catch { case _: Throwable => "" }
          val tree = try graft.service.Json.parse(text) catch { case _: Throwable => text }
          timeUs(3) {
            val body = graft.service.Json.write(tree, indent = 2)
            graft.service.Json.write(scala.collection.immutable.ListMap("jsonrpc" -> "2.0", "id" -> "x",
              "result" -> scala.collection.immutable.ListMap("content" ->
                Seq(scala.collection.immutable.ListMap("type" -> "text", "text" -> body)), "isError" -> false)))
          } / 1000.0
        }.getOrElse(0.0)
        s.id -> (guard, pre, allow, json)
      }.toMap
      def handleMs(r: Rec) = handle.get(r.rid).map(_.ms).getOrElse(r.ms)
      def pureMs(r: Rec) = { val p = pure(r.id); (p._1 + p._2 + p._3) / 1000.0 + p._4 + bearerUs / 1000.0 }
      val queries = calls.filter(_.kind == "query")
      val sparkL = sparkLayers(tr, calls.map(_.rid), work, windowS)
      def phaseMs(r: Rec) = work.get(r.rid).map(_.execs.map(e => (e.optimizeMs + e.planMs).toDouble).sum).getOrElse(0.0)
      Map(
        "mcp.transport_ms" -> median(calls.map(r => r.ms - handleMs(r))),
        "mcp.handle_ms" -> median(calls.map(handleMs)),
        "mcp.bytes_out" -> mean(calls.map(r => served.server.bytesOut.getOrElse(r.rid, 0L).toDouble)),
        "security.bearer_us" -> bearerUs,
        "security.guard_us" -> median(queries.map(r => pure(r.id)._1)),
        "security.sql_allowlist_us" -> median(queries.map(r => pure(r.id)._3)),
        "dialect.preprocess_us" -> median(queries.map(r => pure(r.id)._2)),
        "service.result_json_ms" -> mean(queries.map(r => pure(r.id)._4)),
        "service.result_rows" -> mean(queries.map(_.out.rows.toDouble)),
        "service.residual_ms" -> median(queries.map(r =>
          handleMs(r) - sparkUnion(work.get(r.rid)) - phaseMs(r) - pureMs(r) - replayMs(r.rid))),
        "trace.self_handle_ms" -> median(calls.map(r => handleMs(r) - sparkUnion(work.get(r.rid)))),
        "trace.unexplained_ms" -> median(calls.map(r => handleMs(r) - sparkUnion(work.get(r.rid)) - pureMs(r)))
      ) ++ sparkL
    }
  }

  /** Canonical text of an external row value (see [[Reply.canonical]]). */
  def canonicalValue(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canonicalValue).mkString("{", "\u0001", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonicalValue(k) + "=" + canonicalValue(x) }.sorted.mkString("<", "\u0001", ">")
    case s: scala.collection.Seq[_] => s.map(canonicalValue).mkString("[", "\u0001", "]")
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case d: Double => Reply.canonicalDouble(d)
    case f: Float => Reply.canonicalDouble(f.toDouble)
    case other => other.toString
  }
}
