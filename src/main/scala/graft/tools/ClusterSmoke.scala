package graft.tools

import org.apache.spark.sql.SparkSession

/** Multi-executor smoke: the iterative operators (connected components,
  * LSH bucket pairs, the persisted dedup index) run on a REAL
  * multi-executor topology — `local-cluster[2,2,2048]`, two separate
  * executor JVMs — with a RELIABLE checkpoint directory configured, and
  * their results must hash-equal the single-JVM local run.
  *
  * What this proves that local[32] cannot: [[graft.ops.Lineage.cut]]
  * actually takes the reliable-`checkpoint()` branch when a checkpoint
  * dir is set (the label tables and banded bucket tables land on shared
  * storage, not executor block managers), the custom native expressions
  * serialize to executor JVMs that did NOT define them, and
  * results are bit-identical when work is split across executors —
  * the determinism claims (decimal sums, hash-ordered seeds) under a
  * genuinely different task placement.
  *
  * Usage:
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *     sbt 'runMain graft.tools.ClusterSmoke'
  * (local-cluster workers are launched from SPARK_HOME and need
  * SPARK_SCALA_VERSION against a binary distribution; the graft
  * classes reach executor JVMs via spark.executor.extraClassPath).
  */
object ClusterSmoke {
  private val Queries =
    Seq("dedup_components", "dedup_minhash", "dedup_index_merge",
      // the MATCH_RECOGNIZE matcher: its Pat AST and GroupMatcher
      // must serialize to executor JVMs that did not define
      // them — a local[32] run never proves that
      "mr_funnel",
      // aggregate MEASURES: Spark's aggregate folds run inside the
      // executor-side GroupMatcher
      "mr_funnel_agg",
      // DEFINEs and MEASURES evaluated in the matcher: the resolved
      // Catalyst expressions and slot locators (cross-variable refs,
      // running aggregates, nested navigation, expression arguments)
      // must serialize into executor-side GroupMatchers and compile
      // there
      "mr_vshape", "mr_pack_runs", "mr_funnel_delta",
      "mr_run_context", "mr_order_revenue",
      // BM25 incremental merge: the touched-bucket terms swap is
      // RENAME-based (write tmp buckets, fs.rename into terms/) and the
      // corpus_stats file is driver-written — this run proves the swap
      // on a topology where executors write the files and the DRIVER
      // renames them, i.e. both sides must see the same FS view (the
      // r12 verdict's remaining cluster-scale caveat)
      "bm25_index_merge",
      // r13 dialect wave: RegExpReplaceLambda is a custom
      // HigherOrderFunction evaluated on executors — prove it (and its
      // NamedLambdaVariable binding) serializes into executor JVMs;
      // unnest_lateral rides only built-in generators but pins the
      // rewrite output end-to-end on a real topology
      "fn_regexp_lambda", "unnest_lateral",
      // r14 dialect wave: quantified_cmp's struct-valued scalar
      // subqueries must broadcast their one-row results to executors
      // and ReuseSubquery must hold on a real exchange topology;
      // limit_fetch_ties pins the rank()-window WITH TIES rewrite
      "quantified_cmp", "limit_fetch_ties",
      // r15 dialect wave: JSON_TABLE's chained correlated LATERALs
      // (posexplode over the StaticInvoke row source) must plan and
      // execute on a real exchange topology; fn_json_clauses pins the
      // SQL/JSON behavior shims + constructors executor-side; the
      // OFFSET+TIES rank/row_number/window-max triple must agree
      // across a SinglePartition exchange
      "fn_json_table", "fn_json_clauses", "limit_ties_offset",
      // r15 session 3: NESTED PATH's tagged-union explode_outer levels
      // (branch structs built by transform lambdas) and the dynamic-key
      // json_object carrier (ctor_dyn rides in fn_json_clauses) on a
      // real topology
      "fn_json_table_nested",
      // r15 optimization round: the ANN twins' driver-collected
      // quantizer + zero-shuffle projection assignment (cellExprQuant
      // literals must serialize to executor JVMs), the persisted IVF
      // index's build→merge→pruned-probe chain with executor-written
      // partitioned cells, and the PQ twin's literal-map ADC — all on
      // a real exchange topology
      "embed_ivf_merge", "embed_pq_topk_md5")

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def run(master: String, sfDir: String,
      ckpt: Option[String]): Map[String, String] = {
    val classesDir =
      new java.io.File("target/scala-2.13/classes").getAbsolutePath
    // local-cluster executors are SEPARATE JVMs launched from
    // SPARK_HOME — they must find the graft classes themselves
    val spark = graft.Sessions.build("graft-cluster-smoke", cores = 8,
      master = Some(master),
      static = Map("spark.executor.extraClassPath" -> classesDir))
    // reliable checkpointing: Lineage.cut switches every iterative
    // operator to checkpoint() because this is set
    ckpt.foreach(spark.sparkContext.setCheckpointDir)
    try {
      Queries.map { name =>
        val rows = graft.SparkEntry.queries(name)(spark, sfDir)
          .collect().map(_.toString).sorted
        name -> s"${rows.length}:${md5(rows.mkString("\n"))}"
      }.toMap
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val ckptDir =
      java.nio.file.Files.createTempDirectory("graft-cluster-ckpt").toString
    val localHashes = run("local[8]", sfDir, None)
    val clusterHashes =
      run("local-cluster[2,2,2048]", sfDir, Some(ckptDir))
    // the reliable-checkpoint branch must have actually fired: RDD
    // checkpoint data lands under <dir>/<uuid>/rdd-*; an empty dir
    // would mean Lineage.cut silently stayed on localCheckpoint
    val ckptFiles = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        else 1
      walk(new java.io.File(ckptDir))
    }
    require(ckptFiles > 0,
      s"no reliable checkpoint data written under $ckptDir")
    val bad = Queries.filter(q => localHashes(q) != clusterHashes(q))
    Queries.foreach { q =>
      val ok = if (localHashes(q) == clusterHashes(q)) "OK " else "DIFF"
      println(s"[cluster-smoke] $ok $q local=${localHashes(q)} " +
        s"cluster=${clusterHashes(q)}")
    }
    if (bad.nonEmpty) {
      println(s"CLUSTER SMOKE FAILED: ${bad.mkString(", ")}")
      sys.exit(1)
    }
    println(s"CLUSTER SMOKE OK (${Queries.size} queries, " +
      "2-executor local-cluster, reliable checkpoints)")
  }
}
