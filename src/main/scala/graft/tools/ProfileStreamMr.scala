package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.Streams

/** Streaming MATCH_RECOGNIZE throughput + convergence measurement: feed
  * N synthetic funnel events through [[Streams.matchRecognizeRows]] (the
  * full-measures face — cross-variable DEFINE, expression-aggregate
  * measures) in micro-batches, time the run end-to-end, and assert the
  * emitted match rows EQUAL the batch matcher's on the same rows. One
  * tool, two claims: sustained events/s with bounded per-key state, and
  * batch/stream agreement at a scale the unit tests don't reach.
  *
  * Usage: runMain graft.tools.ProfileStreamMr [nEvents] [nUsers]
  *   [nBatches] [horizonSeconds]
  *
  * Events are 10 ms apart in event time, so the state bound is
  * horizon/10ms events across all users. The default horizon is the
  * smallest whole second above the longest batch match (1,144 s at the
  * defaults), so the exact check runs and a mismatch exits 1; a shorter
  * one seals windows mid-run (the steady state) but cuts matches the
  * horizon-free batch matcher keeps, so that run prints HORIZON-CUT.
  */
object ProfileStreamMr {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(500000)
    val users = args.lift(1).map(_.toInt).getOrElse(5000)
    val nBatches = args.lift(2).map(_.toInt).getOrElse(10)
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
    val clause =
      """PARTITION BY user_id ORDER BY ts, event_id
        |MEASURES FIRST(A.ts) AS start_ts, LAST(B.ts) AS end_ts,
        |         SUM(B.value * 2) AS s2, COUNT(B.*) AS nb
        |PATTERN (A B+)
        |DEFINE A AS event_type = 'view',
        |       B AS event_type = 'click' AND B.value > A.value""".stripMargin

    // the batch reference; the flush rows below are `noop`s of a user
    // of their own, so they match nothing
    val batchDf = graft.dialect.MatchRecognize.run(events.toDF(),
      graft.dialect.MatchRecognize.parseClause(clause)).cache()
    val want = batchDf.count()
    val maxSpanMs = batchDf.selectExpr(
      "max(unix_millis(end_ts) - unix_millis(start_ts)) AS s")
      .collect()(0).getLong(0)
    val horizon = args.lift(3).map(_.toLong).getOrElse(maxSpanMs / 1000L + 1L)
    val exact = maxSpanMs < horizon * 1000L
    // seal every window: two events far past the last horizon
    val flushTs = base + n.toLong * 10L + 3 * horizon * 1000L
    val flush = Seq(
      Streams.Event(n + 1L, new Timestamp(flushTs), users + 1L, "noop", 0.0),
      Streams.Event(n + 2L, new Timestamp(flushTs + 1000L), users + 1L, "noop", 0.0))

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
      val stream = spark.table("mr_profile")
      val got = stream.count()
      // every match row, both ways (a multiset difference)
      val batch = batchDf.select(stream.columns.map(batchDf.col): _*)
      val differ = stream.exceptAll(batch).count() + batch.exceptAll(stream).count()
      println(f"[stream-mr] events=$n%d users=$users%d batches=$nBatches%d " +
        f"horizon=${horizon}s max_span=${maxSpanMs / 1000L}%d s " +
        f"wall=$wall%.1f s rate=${n / wall}%.0f ev/s " +
        f"matches=$got%d batch_matches=$want%d differing_rows=$differ%d " +
        (if (exact && differ == 0) "CONVERGED"
         else if (exact) "MISMATCH"
         else s"HORIZON-CUT (raise the horizon above the max span for " +
           "an exact check)"))
      if (exact && differ != 0) sys.exit(1)
    } finally q.stop()
    spark.stop()
  }
}
