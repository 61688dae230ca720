package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}

/** Per-job wall-clock profiler for one inventory query: after one
  * untimed warm-up run, times `reps` runs of the query's served plan
  * (`queryExecution.toRdd`, what servebench and EXPLAIN ANALYZE run, so
  * count pruning hides no projection) and prints, per run, every Spark
  * job's duration — the gaps between jobs are driver-side time:
  * planning, codegen compile, collect processing. `explain` prints the
  * formatted plan first. Usage:
  *   SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.tools.ProfileQuery <name> [reps] [explain]"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val qname = args(0)
    val reps = args.lift(1).filter(_.forall(_.isDigit)).map(_.toInt).getOrElse(3)
    val spark = graft.Sessions.build("graft-profile")
    val jobs = collection.concurrent.TrieMap.empty[Int, (Long, String)]
    val lines = collection.mutable.ArrayBuffer.empty[(Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("").take(60)
        jobs(js.jobId) = (js.time, desc)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.remove(je.jobId).foreach { case (t0, desc) =>
          lines.synchronized {
            lines += ((t0,
              f"job ${je.jobId}%3d start=$t0%d end=${je.time}%d ${(je.time - t0) / 1e3}%7.3fs  $desc"))
          }
        }
    })
    val fn = graft.SparkEntry.queries(qname)
    if (args.contains("explain")) fn(spark, sfDir).explain("formatted")
    fn(spark, sfDir).queryExecution.toRdd.count() // warmup
    Thread.sleep(300) // job events arrive asynchronously; let them drain
    (1 to reps).foreach { i =>
      lines.synchronized(lines.clear())
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).queryExecution.toRdd.count()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"== $qname rep$i rows=$n total ${total}%.3fs ==")
      lines.synchronized(lines.sortBy(_._1)).foreach(l => println(l._2))
    }
    spark.stop()
  }
}
