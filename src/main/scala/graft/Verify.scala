package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Deliberately KEEP the default INT96 timestamp encoding: arrow reads
    // INT96 as tz-NAIVE ns, matching DuckDB's naive timestamp[us] values.
    // TIMESTAMP_MICROS would stamp isAdjustedToUTC=true and every
    // timestamp column would come back tz-aware ≠ the naive oracle
    // (verified: it flips fn_datetime/time_* red). The round-2
    // fn_cast_types hash gap was the literals' NOT-NULL marking, fixed
    // at the query (see Funcs "fn_cast_types").
    val spark = Sessions.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (same contract as Bench): SPARK_GRAFT_ONLY
    // dumps a subset; the driver never sets it, so its runs stay total.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
