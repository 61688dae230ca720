package graft.tools


/** Dump `.explain("formatted")` for named queries to plans/<dir>/ as
  * <query>_<suffix>.txt — the before/after evidence files the
  * optimization rounds commit. Usage:
  *   runMain graft.tools.DumpPlans <outDir> <suffix> <q1,q2,...>
  * Queries with side effects (index builds) still only PLAN here —
  * explain does not execute the write, but fn() itself may build an
  * index eagerly; that is the declared shape of those queries.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.build("graft-dump-plans")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plans] wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
