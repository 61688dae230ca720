package graft.tools


/** Scaling measurement: run a set of queries on two dirs (e.g. sf0.1
  * and its 10× synthesis from [[SynthScale]]) in ONE JVM, warm + 2
  * timed reps each, and print per-query seconds plus the scale ratio.
  * A ratio near the data factor = linear scaling; well above it =
  * super-linear (a plan that would not survive 100 TB).
  *
  * Usage: runMain graft.tools.ScaleBench <baseDir> <bigDir> [q1,q2,...]
  */
object ScaleBench {
  private val DefaultQueries = Seq(
    "embed_dedup_clusters", "dedup_components", "dedup_simhash",
    "dedup_substring", "dedup_minhash", "dedup_minhash_md5",
    "embed_srp_topdups_md5", "tpch_q21", "time_sessionize_gaps",
    "dedup_exact", "text_charlm_score", "embed_ivf_kmeans")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val big = args.lift(1).getOrElse("/tmp/sfsynth1")
    val queries = args.lift(2).map(_.split(",").toSeq).getOrElse(DefaultQueries)
    val spark = graft.Sessions.build("graft-scale-bench")

    def time(name: String, dir: String): (Double, Long) = {
      val fn = graft.SparkEntry.queries(name)
      fn(spark, dir).count() // warm: planning + codegen + JIT
      var best = Double.MaxValue
      var rows = 0L
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        rows = fn(spark, dir).count()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, rows)
    }

    println(f"[scale] ${"query"}%-24s ${"base_s"}%8s ${"big_s"}%8s ${"ratio"}%6s  rows base -> big")
    queries.foreach { q =>
      try {
        val (tb, rb) = time(q, base)
        val (tg, rg) = time(q, big)
        println(f"[scale] $q%-24s $tb%8.2f $tg%8.2f ${tg / tb}%6.1f  $rb -> $rg")
      } catch {
        case e: Throwable =>
          println(s"[scale] $q FAILED: ${Option(e.getMessage).getOrElse(e.toString).take(200)}")
      }
    }
    spark.stop()
  }
}
