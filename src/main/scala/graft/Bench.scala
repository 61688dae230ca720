package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  // Committed quiet-host probe references (seconds), measured on the
  // reference box at an idle moment. Overridable for other hardware:
  // SPARK_GRAFT_PROBE_REFS="cpu,write,read".
  private val ProbeRefs = (0.052, 0.135, 0.026)
  private val ProbeTolerance = 1.30

  /** Fixed-work calibration probe. The r14 host degradation was an
    * I/O-side drift at NEAR-ZERO loadavg (same HEAD: 39.1 s → 44.7 s at
    * sf0.01, write path 119 MB/s), which the load-average guard cannot
    * see — so the refresh gate also demands that fixed work completes
    * within tolerance of the committed quiet-host timings. Three legs:
    * cpu (a 32M-step mix loop), write (64 MB + fsync to the tmp
    * filesystem the bench's index sinks use), read (stream a testdata
    * parquet — page-cache-warm on the reference box, so it times the
    * cached-read path, which is what the queries see). Returns the
    * degradation reason, or None when the host is within tolerance. */
  def calibrate(sfDir: String): Option[String] = {
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    var sink = 0L // defeat dead-code elimination
    val cpu = time {
      var i = 0L
      var h = 1469598103934665603L
      while (i < (1L << 25)) {
        h ^= i * 0x9E3779B97F4A7C15L; h *= 1099511628211L; i += 1
      }
      sink ^= h
    }
    // min-of-3: one fsync can absorb an unrelated journal flush; a
    // DEGRADED write path slows every attempt, so the min still trips
    val write =
      try {
        val buf = new Array[Byte](1 << 20)
        java.util.Arrays.fill(buf, 42.toByte)
        (1 to 3).map { _ =>
          val tmp = java.nio.file.Files.createTempFile("graft_probe", ".bin")
          val t = time {
            val ch = java.nio.channels.FileChannel.open(tmp,
              java.nio.file.StandardOpenOption.WRITE)
            var i = 0
            while (i < 64) {
              ch.write(java.nio.ByteBuffer.wrap(buf)); i += 1
            }
            ch.force(true)
            ch.close()
          }
          java.nio.file.Files.delete(tmp)
          t
        }.min
      } catch { case _: Throwable => 0.0 }
    // 8 passes over the (page-cached) biggest table: times the cached
    // read path the queries actually ride at this scale
    val read =
      try {
        val src = java.nio.file.Paths.get(sfDir, "lineitem.parquet")
        if (!java.nio.file.Files.exists(src)) 0.0
        else time {
          var pass = 0
          while (pass < 8) {
            val in = java.nio.file.Files.newInputStream(src)
            val b = new Array[Byte](1 << 20)
            var n = in.read(b)
            while (n > 0) { sink += b(0) + n; n = in.read(b) }
            in.close()
            pass += 1
          }
        }
      } catch { case _: Throwable => 0.0 }
    if (sink == 42L) System.err.println("") // keep `sink` observable
    val (cpuRef, writeRef, readRef) =
      sys.env.get("SPARK_GRAFT_PROBE_REFS").map(_.split(",")) match {
        case Some(Array(a, b, c)) => (a.toDouble, b.toDouble, c.toDouble)
        case _ => ProbeRefs
      }
    def over(name: String, got: Double, ref: Double): Option[String] =
      if (ref > 0 && got > ref * ProbeTolerance)
        Some(f"$name probe $got%.3fs > ${ProbeTolerance}x committed $ref%.3fs")
      else None
    System.err.println(f"[bench] calibration probe: cpu=$cpu%.3fs " +
      f"write=$write%.3fs read=$read%.3fs (refs $cpuRef%.3f/$writeRef%.3f/$readRef%.3f)")
    over("cpu", cpu, cpuRef)
      .orElse(over("write", write, writeRef))
      .orElse(over("read", read, readRef))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Host-contention guard, sampled BEFORE we load the box ourselves:
    // a contended run is a valid bench result (the JSON line on stdout
    // stays the contract) but must never become the committed idle
    // profile — r12's driver run overwrote a 59.3 s reference with a
    // contended 63.5 s one and the regression gate loosened 7%. This
    // enforces the r11 "re-run idle" protocol in code.
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_MAX_LOAD", "4.0").toDouble
    // fixed-work calibration, also sampled BEFORE Spark loads the box
    val probeResult = calibrate(sfDir)
    val spark = Sessions.build("graft-bench")
    // Local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 times a subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // A query that throws ends the run: a failure timed as a fast
    // success would lower the total, and could ratchet the committed
    // profile down with it.
    val results =
      try timeQueries(spark, sfDir, selected.toSeq, reps).toMap
      catch { case e: QueryFailed =>
        System.err.println(s"[bench] ${e.getMessage}")
        spark.stop()
        sys.exit(1)
      }
    // The harness records only a bounded tail of stdout, so the JSON line
    // must stay well under 2000 chars: report the total over ALL queries
    // (the operative BASELINE.md metric) plus per-query seconds for the
    // slowest 24, rounded to 3 decimals.
    // Locale.ROOT: the f-interpolator uses the default locale, and a
    // comma-decimal locale would corrupt the JSON
    def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(v))
    val slowest = results.toSeq.sortBy(-_._2).take(24)
    val qs = slowest.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // Full (un-truncated) per-query profile for humans and the judge:
    // the stdout line keeps only the slowest 24 to fit the driver's
    // bounded tail; BENCH_LOCAL.json records everything.
    val allQs = results.toSeq.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"queries":$allQs,"sf":"$sfDir"}"""
    // Only a FULL default-profile run may refresh the committed
    // reference: a SPARK_GRAFT_ONLY subset or an off-sf run once
    // clobbered BENCH_LOCAL.json with a 1-query profile and the
    // bench_check gate compared against garbage — and an off-config
    // run (cpus/reps/partitions overridden) would record a profile the
    // gate's thresholds don't mean anything against.
    // (the reference config is local[32], median-of-3, AQE partitions
    // = cores — what bench_check.sh runs)
    val referenceConfig = only.isEmpty && sfDir == "/root/testdata/sf0.1" &&
      referenceCores(sys.env) && reps == 3 &&
      !sys.env.contains("SPARK_GRAFT_INITIAL_PARTITIONS")
    val quietHost = loadAvg < 0 || loadAvg <= maxLoad // -1 = unmeasurable
    if (referenceConfig && !quietHost)
      System.err.println(f"[bench] NOT refreshing BENCH_LOCAL.json: " +
        f"1-min load average at start was $loadAvg%.1f > $maxLoad%.1f " +
        "(contended host; re-run idle, or raise SPARK_GRAFT_MAX_LOAD)")
    // The fixed-work probe (sampled at start, before Spark loaded the
    // box) catches the degradation class loadavg cannot: I/O drift on
    // an otherwise-idle host (r14). It only GATES the refresh — the
    // stdout JSON is unconditional either way.
    val probeFailure =
      if (referenceConfig && quietHost) probeResult else None
    probeFailure.foreach(reason =>
      System.err.println(s"[bench] NOT refreshing BENCH_LOCAL.json: " +
        s"host degraded — $reason (re-run when the probe is clean, or " +
        "override SPARK_GRAFT_PROBE_REFS on other hardware)"))
    // Ratchet gate (r15): loadavg AND all three fixed-work probes
    // passed on a session where the full bench still ran ~1.3× the
    // committed profile UNIFORMLY across untouched query families —
    // the degradation was multi-core throughput (SMT contention /
    // steal), invisible to single-threaded probes sampled before Spark
    // loads the box. The committed profile may therefore only be
    // replaced by a run within DRIFT of it (default 10%, i.e. normally
    // only by an equal-or-better run): a uniformly contended run can
    // never silently loosen the regression gate. Override for a
    // legitimate slow-down trade-off or new hardware with
    // SPARK_GRAFT_REFRESH_DRIFT (e.g. 10.0 to force).
    val drift = sys.env.getOrElse("SPARK_GRAFT_REFRESH_DRIFT", "0.10").toDouble
    val local = java.nio.file.Paths.get("BENCH_LOCAL.json")
    val committed =
      if (!java.nio.file.Files.exists(local)) None
      else Some(try new String(java.nio.file.Files.readAllBytes(local), "UTF-8")
        catch { case _: java.io.IOException => "" }) // unreadable = unparseable
    if (referenceConfig && quietHost && probeFailure.isEmpty)
      ratchetRefusal(committed, total, drift) match {
        case Some(reason) =>
          System.err.println(s"[bench] NOT refreshing BENCH_LOCAL.json: $reason")
        case None =>
          try java.nio.file.Files.write(local, (full + "\n").getBytes("UTF-8"))
          catch { case _: Throwable => () } // bench result on stdout is the contract
      }
    spark.stop()
  }

  /** A query that threw in the bench's warm-up or timed pass. */
  private[graft] final class QueryFailed(name: String, cause: Throwable)
    extends RuntimeException(s"query $name failed: " +
      Option(cause.getMessage).getOrElse(cause.toString), cause)

  /** Warm-up, then the median of `reps` timed runs per query, in
    * seconds. The first run of a query is dominated by planning,
    * codegen compilation and JIT — measured at ~3× steady state — so
    * every query runs once untimed before any is timed.
    * The median of `reps` is robust to one GC pause or contention
    * burst (BENCH_r10 measured 1.7x the same-HEAD idle profile when a
    * single run set the number) while still charging any real
    * per-query regression; an explicit GC between queries keeps one
    * query's garbage from billing the next. Throws [[QueryFailed]]
    * naming the first query that throws. */
  private[graft] def timeQueries(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      reps: Int): Seq[(String, Double)] = {
    def run(name: String, fn: (SparkSession, String) => DataFrame): Long =
      try fn(spark, sfDir).count()
      catch { case scala.util.control.NonFatal(e) => throw new QueryFailed(name, e) }
    queries.foreach { case (name, fn) => run(name, fn) }
    queries.map { case (name, fn) =>
      System.gc()
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        run(name, fn)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      name -> times(times.size / 2)
    }
  }

  /** The reference profile is a local[32] run. The core count defaults
    * to the host's, so only an explicit SPARK_GRAFT_CPUS=32 counts: a
    * bare run on a 32-core host must not refresh BENCH_LOCAL.json. */
  private[graft] def referenceCores(env: Map[String, String]): Boolean =
    env.get("SPARK_GRAFT_CPUS").contains("32")

  /** The refresh ratchet's decision: the reason to refuse replacing the
    * committed profile, or None to allow it. `committed` is the text of
    * BENCH_LOCAL.json, None when the file does not exist (no baseline
    * yet). The total is read through a regex anchored to the total
    * metric — a bare "value": grab would silently ratchet against the
    * wrong number if the JSON layout ever serialized per-query values
    * first — and a file the regex misses is refused, never treated as
    * "no baseline", which would switch the gate off without a word. */
  private[graft] def ratchetRefusal(committed: Option[String], total: Double,
      drift: Double): Option[String] =
    committed.flatMap { txt =>
      """"metric":"total","value":([0-9.]+)""".r.findFirstMatchIn(txt)
        .flatMap(_.group(1).toDoubleOption) match {
        case None => Some("it exists but has no \"metric\":\"total\" value " +
          "(format drift?); fix or remove it rather than lose the regression gate")
        case Some(c) if total > c * (1.0 + drift) => Some(f"total $total%.1fs > " +
          f"${1.0 + drift}%.2fx committed $c%.1fs (uniform multi-core contention " +
          "the probes cannot see; re-run quiet, or raise " +
          "SPARK_GRAFT_REFRESH_DRIFT for a real trade-off)")
        case _ => None
      }
    }
}
