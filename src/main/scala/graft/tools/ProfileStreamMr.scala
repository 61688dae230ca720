package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.Streams

/** Streaming MATCH_RECOGNIZE throughput + convergence measurement: feed
  * N synthetic funnel events through [[Streams.matchRecognizeRows]] (the
  * full-measures face — cross-variable DEFINE, expression-aggregate
  * measures) in micro-batches, time the run end-to-end, and assert the
  * emitted matches EQUAL the batch matcher's on the same rows. One tool,
  * two claims: sustained events/s with bounded per-key state, and
  * batch/stream agreement at a scale the unit tests don't reach.
  *
  * Usage: runMain graft.tools.ProfileStreamMr [nEvents] [nUsers]
  *   [nBatches] [horizonSeconds]
  *
  * Events are 10 ms apart in event time, so the state bound is
  * horizon/10ms events across all users: the default 600 s horizon over
  * 200k+ events forces windows to seal and buffers to drain mid-run
  * (the steady-state shape); pass a horizon beyond the stream's span to
  * measure the worst case (nothing seals until the flush).
  */
object ProfileStreamMr {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(500000)
    val users = args.lift(1).map(_.toInt).getOrElse(5000)
    val nBatches = args.lift(2).map(_.toInt).getOrElse(10)
    val horizonArg = args.lift(3).map(_.toLong).getOrElse(600L)
    val spark = graft.Sessions.build("graft-profile-stream-mr")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rnd = new scala.util.Random(42)
    val base = 1700000000000L
    val events = (1 to n).map { i =>
      Streams.Event(i.toLong, new Timestamp(base + i.toLong * 10L),
        rnd.nextInt(users).toLong,
        Seq("view", "click", "click", "noop")(rnd.nextInt(4)),
        rnd.nextInt(1000) / 10.0)
    }
    val horizon = horizonArg
    // seal every window: two events far past the last horizon
    val flushTs = base + n.toLong * 10L + 3 * horizon * 1000L
    val flush = Seq(
      Streams.Event(n + 1L, new Timestamp(flushTs), users + 1L, "noop", 0.0),
      Streams.Event(n + 2L, new Timestamp(flushTs + 1000L), users + 1L, "noop", 0.0))
    val clause =
      """PARTITION BY user_id ORDER BY ts, event_id
        |MEASURES FIRST(A.ts) AS start_ts, LAST(B.ts) AS end_ts,
        |         SUM(B.value * 2) AS s2, COUNT(B.*) AS nb
        |PATTERN (A B+)
        |DEFINE A AS event_type = 'view',
        |       B AS event_type = 'click' AND B.value > A.value""".stripMargin

    val mem = MemoryStream[Streams.Event]
    val q = Streams.matchRecognizeRows(mem.toDS(), clause,
        horizonSeconds = horizon, watermark = "1 second")
      .writeStream.format("memory").queryName("mr_profile")
      .outputMode("append").start()
    val t0 = System.nanoTime()
    try {
      val per = math.max(1, n / nBatches)
      events.grouped(per).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
      flush.foreach { e => mem.addData(e); q.processAllAvailable() }
      val wall = (System.nanoTime() - t0) / 1e9
      val got = spark.table("mr_profile").count()
      // the batch matcher has no `within` horizon, so EXACT convergence
      // holds only when every batch match completes inside the horizon
      // (Flink's within cuts — or shortens — the longer ones, by design)
      val batchDf = graft.dialect.MatchRecognize.run((events ++ flush).toDF(),
        graft.dialect.MatchRecognize.parseClause(clause)).cache()
      val want = batchDf.count()
      val maxSpanMs = batchDf.selectExpr(
        "max(unix_millis(end_ts) - unix_millis(start_ts)) AS s")
        .collect()(0).getLong(0)
      val exact = maxSpanMs < horizon * 1000L
      println(f"[stream-mr] events=$n%d users=$users%d batches=$nBatches%d " +
        f"horizon=${horizon}s max_span=${maxSpanMs / 1000L}%d s " +
        f"wall=$wall%.1f s rate=${n / wall}%.0f ev/s " +
        f"matches=$got%d batch_matches=$want%d " +
        (if (exact && got == want) "CONVERGED"
         else if (exact) "MISMATCH"
         else s"HORIZON-CUT (raise the horizon above the max span for " +
           "an exact check)"))
      if (exact && got != want) sys.exit(1)
    } finally q.stop()
    spark.stop()
  }
}
