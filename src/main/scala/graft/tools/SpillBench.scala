package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Memory-pressure evidence: run the heaviest pipeline/relational
  * queries at 100× data with the executor heap CAPPED so the sorts and
  * aggregations are forced through UnsafeExternalSorter spill, and
  * report wall-time plus the spill counters from task metrics.
  *
  * Why this exists: the 10×/100× sweeps in PERF.md prove the plans are
  * sub-linear, but on a 128 GiB box ~1.4 GB of input never leaves RAM —
  * "would it survive an executor whose partition does NOT fit in
  * memory" (the everyday 100 TB condition) was the one untested claim.
  * A query that completes here with memoryBytesSpilled > 0 and no OOM
  * has demonstrated the graceful-degradation path a real cluster needs.
  *
  * Usage:
  *   SPARK_DRIVER_MEM=2g sbt "runMain graft.tools.SpillBench /tmp/sfsynth10 [q1,q2,...]"
  * (build.sbt forks `run` with -Xmx$SPARK_DRIVER_MEM; in local mode the
  * driver JVM IS the executor, so this caps executor memory too.)
  */
object SpillBench {
  // The heaviest 100×-sweep queries whose plans carry corpus-sized
  // shuffles/sorts (PERF.md round-9 tables) — projection-only queries
  // like text_charlm_score can't spill and are excluded.
  private val DefaultQueries = Seq(
    "tpch_q21",              // 4-way join on 60M lineitem
    "tpch_q18",              // groupBy(60M) + semi join + top-k
    "dedup_simhash",         // banded self-join + hamming verify + distinct
    "dedup_minhash",         // band-bucket shuffle + pair distinct
    "time_sessionize_gaps",  // per-user window sort, 9.5M sessions out
    "dedup_exact")           // full-corpus hash shuffle + window

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sfsynth100")
    val queries = args.lift(1).map(_.split(",").toSeq).getOrElse(DefaultQueries)
    // Deliberately NOT local[32]: at a 2 GB heap, 32 concurrent tasks
    // leave ~40 MB of execution memory each and the job dies in
    // non-spillable allocations (parquet batches, join build sides)
    // before the spillable sorts get a chance — measured: tpch_q21
    // OOMs. The documented sizing rule (PERF.md / SURVEY: partitions
    // must fit executor memory) is applied instead: fewer concurrent
    // tasks, MORE shuffle partitions (each reduce partition smaller),
    // smaller scan splits. These are the same knobs a 100 TB cluster
    // job sets; override via env to explore.
    //
    // Default concurrency is HEAP-DERIVED, not a constant: 2 tasks per
    // heap GB (min 2). 8 tasks at 2 GB sits exactly on the cliff —
    // tpch_q18's per-task peak is ~435 MB, so 8 concurrent peaks
    // exceed the heap and the run survives only when the scheduler
    // happens not to align them (measured: intermittent OOM across
    // same-commit reruns). 4 tasks at 2 GB (~580 MB peak each) is
    // deterministic-stable, 3/3 reruns, ~1.4x the 8-task wall time.
    val heapGb = math.max(1L, Runtime.getRuntime.maxMemory() / (1024L * 1024 * 1024))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(
      math.min(2 * heapGb, Runtime.getRuntime.availableProcessors().toLong).toInt)
    val shufParts = sys.env.getOrElse("SPILL_SHUFFLE_PARTS", "256")
    val spark = graft.Sessions.build("graft-spill-bench", cores = cpus)
    spark.conf.set("spark.sql.shuffle.partitions", shufParts)
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      sys.env.getOrElse("SPILL_MAX_PART_BYTES", "33554432"))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS", shufParts))

    val memSpill = new AtomicLong
    val diskSpill = new AtomicLong
    val peakExec = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          peakExec.getAndAccumulate(m.peakExecutionMemory,
            (a: Long, b: Long) => math.max(a, b))
        }
      }
    })

    val heap = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    println(f"[spill] heap=${heap}MB cores=$cpus dir=$dir")
    println(f"[spill] ${"query"}%-24s ${"wall_s"}%8s ${"spill_mem"}%12s ${"spill_disk"}%12s ${"peak_task"}%12s  rows")
    def mb(b: Long): String = f"${b / 1048576.0}%.0fMB"
    queries.foreach { q =>
      try {
        memSpill.set(0); diskSpill.set(0); peakExec.set(0)
        val t0 = System.nanoTime()
        val rows = graft.SparkEntry.queries(q)(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // Listener events are posted async (listenerBus is private[spark],
        // so no waitUntilEmpty from here); a short drain pause suffices for
        // a measurement tool.
        Thread.sleep(1000)
        println(f"[spill] $q%-24s $wall%8.1f ${mb(memSpill.get)}%12s ${mb(diskSpill.get)}%12s ${mb(peakExec.get)}%12s  $rows")
      } catch {
        case e: Throwable =>
          println(s"[spill] $q FAILED: ${Option(e.getMessage).getOrElse(e.toString).take(300)}")
      }
    }
    spark.stop()
  }
}
