package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Persisted BM25 inverted index — the serving half of the retrieval
  * pair ([[TextAnalysis.bm25TopK]] is the ad-hoc one-scan half; this is
  * the analog of `Similarity.buildPqIndex`/`pqTopKIndexed` and
  * `Dedup.buildMinhashIndex`/`probeMinhashIndex`).
  *
  * Layout (all parquet under `path/`):
  *  - `postings/` — (tok, doc_id, tf, dl), written `partitionBy` a
  *    256-way md5 term bucket so a probe's directory listing prunes to
  *    the query terms' buckets. Each posting row carries the document
  *    LENGTH (the classic "norms with the postings" layout): a probe
  *    never opens a corpus-sized side table.
  *  - `terms/` — (tok, df): vocabulary-sized, partitioned by the SAME
  *    md5 term bucket as the postings, so incremental maintenance
  *    rewrites only the buckets an ingest batch touches (a flat terms
  *    table forced a vocabulary-wide rewrite per merge) and a probe
  *    prunes its df lookups exactly like its postings scan.
  *  - `corpus_stats` — (n docs, t total tokens) as a tiny driver-written
  *    properties file, not a parquet table: a merge updates it with ZERO
  *    Spark jobs (two-long addition on the driver) and a probe reads it
  *    driver-side into literals — one fewer scan + crossJoin per probe,
  *    one fewer job + tmp-dir swap per merge (r12 verdict: the merge's
  *    cost was fixed per-action overhead, not data). Written LAST by
  *    build, so its existence certifies a complete index.
  *
  * Probe cost scales with the query terms' posting lists, never the
  * corpus — the shape that matters at 100 TB, where the ad-hoc scan is
  * the floor and this is the serving path. Scores are BITWISE equal to
  * [[TextAnalysis.bm25TopK]] (same detLn idf, same double algebra, same
  * DECIMAL(18,12) exact summation), pinned in Bm25Spec and by sharing
  * the ad-hoc query's DuckDB oracle.
  */
object Retrieval {

  /** 'b' + the term's first `hexChars` md5 hex chars — 16^hexChars
    * write buckets (default 256). The letter prefix keeps
    * partition-column type inference from reading all-digit buckets
    * ("07") back as integers; md5 (not hash()) so the DuckDB oracle can
    * replay bucket assignment exactly. Bucket width is an index LAYOUT
    * parameter: 256+ for a corpus-scale index (pruning wins), 16 for a
    * small verification corpus (256 near-empty partitioned-write files
    * would be pure overhead). The index is self-describing with ONE
    * source of truth — the postings directory names themselves
    * ([[bucketHexWidth]]); merge and probe both read the width from
    * there, so the layouts can never disagree. */
  private def termBucket(tok: org.apache.spark.sql.Column, hexChars: Int) =
    concat(lit("b"), substring(md5(tok), 1, hexChars))

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Tokenize with the corpus repartitioned by DOC ID first: one
    * exchange of the raw document text, after which hash(doc_id)
    * satisfies both the (tok, doc_id) tf aggregation (a hash partition
    * on a subset of the grouping keys is a valid clustering) and the
    * per-doc dl window — the token stream itself never shuffles
    * (guide §2.4: operations keyed the same way share one exchange).
    * The former shape shuffled partially-aggregated tf pairs twice:
    * once for the tf groupBy, once more for the dl window. */
  private def tfWithDl(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("graft_text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(split(lower(col("graft_text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(wDoc))
  }

  /** Run independent index-output actions concurrently (guide §2.6):
    * the writes are independent consumers of one ALREADY-MATERIALIZED
    * cached stream, so the second job's tasks back-fill executors freed
    * by the first job's tail instead of waiting for it.
    *
    * Bounded and owned: a DEDICATED fixed pool sized to the lane count
    * (named daemon threads), created per call and shut down after — not
    * `ExecutionContext.Implicits.global`, whose process-wide fork-join
    * pool (r15) let lanes outlive session shutdown
    * (RejectedExecutionException in the test tail) and, under host
    * load, scheduled three unthrottled Spark jobs racing to materialize
    * one unpopulated persist (the r15 bm25_index_build 4.7× regression
    * at local[32]). Callers MUST materialize any shared persist with
    * one job before forking lanes.
    *
    * Crash consistency does NOT depend on lane order: both index paths
    * write the corpus_stats completeness marker strictly AFTER awaitAll
    * returns, so a failed lane aborts the whole operation before the
    * index is certified complete. A failed lane does not return early:
    * every lane settles first, then the first failure (in lane order)
    * is rethrown — the caller's cleanup (unpersist, tmp-dir removal)
    * never races a sibling that is still writing. */
  private[ops] def awaitAll[A](fs: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    if (fs.size <= 1) return fs.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(fs.size,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-index-lane-${n.getAndIncrement()}")
          t.setDaemon(true); t
        }
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val outcomes =
      try fs.map(f => Future(f())).map(Await.ready(_, Duration.Inf).value.get)
      finally pool.shutdown()
    outcomes.map(_.get)
  }

  /** Build the index: ONE corpus exchange for the whole tf+dl stream
    * ([[tfWithDl]]), postings clustered by bucket before the
    * partitioned write (one writer and one file per bucket — the same
    * partitioned-write rule as the minhash band index).
    *
    * Execution order (r16, fixing the r15 regression): the corpus-stats
    * aggregate runs FIRST as the single job that materializes the
    * persisted stream, then the two partitioned writes run
    * SEQUENTIALLY. r15 forked all three actions unmaterialized on the
    * global EC and the racing cache-population jobs regressed
    * 2.48 s → 11.68 s at local[32] under host load (driver ground
    * truth); even with the cache pre-materialized and a bounded pool,
    * two CONCURRENT 256-bucket partitioned writes still contend on the
    * task-commit coordinator and the fsync path whenever the host is
    * loaded (measured this round: 2.05 s quiet vs 6.3 s in a dirty
    * window at local[32]) — and overlapping them buys nothing
    * measurable when the host is quiet (sequential 2.37 s ≈ r14's
    * 2.48 s). The build takes the robust shape; the MERGE keeps its
    * measured-win overlap (one append + one driver-heavy re-agg —
    * not two bulk writes). The stats file still lands strictly LAST —
    * it is the completeness marker. */
  def buildBm25Index(docs: DataFrame, idCol: String, textCol: String,
      path: String, hexChars: Int = 2): Unit = {
    // tf+dl feeds all three outputs (postings, terms, corpus): persist
    // the AGGREGATED stream once (MEMORY_AND_DISK — spills, never
    // OOMs) so the corpus text is tokenized exactly once
    val tf = tfWithDl(docs, idCol, textCol).persist()
    try {
      // one job: computes the corpus facts AND populates the cache
      val facts = tf.agg(countDistinct(col("doc_id")).as("n"),
        sum(col("tf")).as("t")).collect()(0)
      byBucket(tf.select(col("tok"), col("doc_id"), col("tf"), col("dl"),
          termBucket(col("tok"), hexChars).as("bucket")))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/postings")
      byBucket(tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
          .withColumn("bucket", termBucket(col("tok"), hexChars)))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/terms")
      writeCorpusStats(docs.sparkSession, path,
        facts.getLong(0), facts.getLong(1))
    } finally tf.unpersist()
  }

  /** Merge a NEW batch of documents into a persisted index — the
    * incremental-maintenance half of the daily operation (index the
    * standing corpus once, fold each ingest batch in, probe between
    * folds). Doc ids must be new to the index: a re-submitted id would
    * double-count df/dl (the same contract as the minhash index's
    * even/odd split).
    *
    * Postings APPEND (new parquet files land inside the existing
    * bucket directories — ids are disjoint so no rewrite is needed);
    * the terms table is INCREMENTAL: only the buckets the batch's
    * vocabulary touches are re-aggregated (old-bucket ∪ new df, a
    * partition-PRUNED read) and swapped in per bucket
    * (write-then-rename, never read-and-overwrite the same path) —
    * merge cost scales with the BATCH vocabulary, never the standing
    * vocabulary; corpus stats add two longs. Because df/N/total-tokens
    * are additive over disjoint doc sets, `build(A); merge(B)` yields
    * an index BITWISE-identical in probe results to `build(A ∪ B)` —
    * pinned in Bm25Spec. */
  def mergeBm25Index(newDocs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = newDocs.sparkSession
    // The index is self-describing: new postings must land in the SAME
    // bucket layout the standing index was built with (width read from
    // the postings directory names — the one source of truth).
    val bhex = bucketHexWidth(spark, path)
    // same one-exchange tf+dl stream as the build ([[tfWithDl]])
    val tfNew = tfWithDl(newDocs, idCol, textCol).persist()
    try {
      // ONE driver round-trip — run FIRST, so it is the single job that
      // materializes the cache (forked lanes must never race to
      // populate it; see awaitAll) — for all batch-level facts: doc
      // count and token total (the corpus-stats delta — Σtf per batch
      // equals the Σdl the per-doc grouping would give) plus the set of
      // term buckets the batch touches (≤ 16^bhex strings, driver-sized
      // by construction — the bucket space is the layout constant, not
      // the vocabulary)
      val facts = tfNew.agg(
        countDistinct(col("doc_id")).as("n"),
        sum(col("tf")).as("t"),
        collect_set(termBucket(col("tok"), bhex)).as("buckets")).collect()(0)
      val touched = facts.getSeq[String](2).sorted
      // Two independent lanes over the WARM cached stream, overlapped
      // (guide §2.6): (a) the postings append; (b) the touched-bucket
      // terms re-aggregation and swap. Corpus stats still land LAST,
      // after both lanes.
      awaitAll(Seq(
        () => byBucket(tfNew.select(col("tok"), col("doc_id"), col("tf"), col("dl"),
              termBucket(col("tok"), bhex).as("bucket")))
            .write.mode("append").partitionBy("bucket")
            .parquet(s"$path/postings"),
        () => {
          val dfNew = tfNew.groupBy(col("tok")).agg(count(lit(1)).as("df"))
          byBucket(spark.read.parquet(s"$path/terms")
              .filter(col("bucket").isin(touched: _*)) // partition pruning
              .select(col("tok"), col("df"))
              .union(dfNew)
              .groupBy(col("tok")).agg(sum(col("df")).as("df"))
              .withColumn("bucket", termBucket(col("tok"), bhex)))
            .write.mode("overwrite").partitionBy("bucket")
            .parquet(s"$path/terms_merge_tmp")
          // swap in ONLY the touched buckets; untouched buckets are
          // never read, rewritten, or moved
          touched.foreach { b =>
            replaceDir(spark, s"$path/terms_merge_tmp/bucket=$b",
              s"$path/terms/bucket=$b")
          }
          deleteDir(spark, s"$path/terms_merge_tmp")
        }))
      // corpus stats: standing values + the batch delta (already on the
      // driver from the facts row) — pure driver-side addition, no
      // Spark job, no tmp-dir swap
      val (n0, t0) = readCorpusStats(spark, path)
      writeCorpusStats(spark, path,
        n0 + facts.getLong(0), t0 + facts.getLong(1))
    } finally tfNew.unpersist()
  }

  /** `df` hash-partitioned on its `bucket` column into the session's
    * shuffle-partition count, for a `partitionBy("bucket")` write: each
    * bucket still lands in one task (one file per bucket directory), and
    * the explicit count keeps AQE from coalescing the small exchange
    * into a single task that writes every bucket alone. */
  private def byBucket(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col("bucket"))

  /** Write the corpus stats file ("n=…\nt=…"). Driver-side, no job.
    * delete-then-create, never truncate-in-place: an index cloned by
    * hardlink (the merge queries' fresh-copy step) must not have the
    * SOURCE index's stats rewritten through a shared inode. */
  private def writeCorpusStats(spark: SparkSession, path: String,
      n: Long, t: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/corpus_stats")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, false)
    val out = fs.create(p, true)
    try out.write(s"n=$n\nt=$t".getBytes("UTF-8"))
    finally out.close()
  }

  /** Read (n docs, t total tokens) from the stats file. A missing or
    * malformed file is a corrupt / half-built / legacy-layout index —
    * refuse loudly rather than serve idf over wrong totals. */
  private[graft] def readCorpusStats(spark: SparkSession,
      path: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$path/corpus_stats")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p))
      throw new java.io.IOException(s"$path/corpus_stats is missing — " +
        "corrupt, incomplete, or pre-stats-file BM25 index; rebuild it " +
        "with buildBm25Index")
    val in = fs.open(p)
    val kv =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.contains("=")).map { l =>
          val Array(k, v) = l.split("=", 2); (k, v.trim.toLong)
        }.toMap
      finally in.close()
    (kv.getOrElse("n", throw new java.io.IOException(
        s"$path/corpus_stats lacks n — corrupt index")),
      kv.getOrElse("t", throw new java.io.IOException(
        s"$path/corpus_stats lacks t — corrupt index")))
  }

  /** The bucket hex width read from the postings directory names
    * ("bucket=bXX" → 2) — one driver-side listing, no Spark job (the
    * probe shouldn't pay a collect to learn the layout). */
  private def bucketHexWidth(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$path/postings")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).iterator
      .map(_.getPath.getName)
      .collectFirst { case n if n.startsWith("bucket=b") =>
        n.length - "bucket=b".length }
      // a postings dir with no bucket=b* entries is corrupt or
      // half-written — assuming a default width would silently return
      // empty probes against a differently-laid-out index
      .getOrElse(throw new java.io.IOException(
        s"$path/postings contains no bucket=b* directories — " +
          "corrupt or incomplete BM25 index"))
  }

  private def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  private def replaceDir(spark: SparkSession, tmp: String, dst: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dst), true)
    // rename returns false (not an exception) on failure — surface it,
    // or the index would silently lose its terms table
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(dst)))
      throw new java.io.IOException(s"rename $tmp -> $dst failed")
  }

  /** Hybrid retrieval: reciprocal-rank fusion (Cormack, Clarke &
    * Buettcher, SIGIR 2009) of the lexical and the dense ranking —
    * the standard RAG-serving composition over the two retrieval
    * families this engine already pins ([[TextAnalysis.bm25TopK]] and
    * [[Similarity.cosineTopK]]).
    *
    * `rrf(d) = Σ_lists 1 / (rrfK + rank_list(d))`, absent-from-list
    * contributing 0 — computed over the top-`poolK` of each list,
    * fused, re-ranked, top-`k` returned.
    *
    * Scale shape: the two candidate generators are the pinned serving
    * plans (one corpus scan each, TakeOrderedAndProject top-poolK —
    * no global sort, no token explode); everything downstream of them
    * operates on two ≤poolK-row lists, so the single-partition
    * row_number windows and the join-free union-pivot fusion (one hash
    * aggregate in [[rrfFuse]]) are CONSTANT-size regardless of corpus
    * scale. At 100 TB the cost is exactly the two scans (or two index
    * probes, substituting the persisted-index halves) — fusion itself
    * is free.
    *
    * Determinism: ranks are integers over (score desc, id asc) orders
    * whose scores are already bitwise cross-engine (detLn/decimal BM25,
    * quantized-dot cosine); `1.0 / (rrfK + rank)` is one IEEE divide
    * and the fused score one IEEE add, so the whole fusion replays
    * exactly in DuckDB. */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame,
      queryTerms: Seq[String], anchorId: Long,
      poolK: Int, k: Int, rrfK: Int = 60,
      idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rrfFuse(Seq(
      ("r_bm25", TextAnalysis.bm25TopK(docs, idCol, textCol, queryTerms, poolK),
        idCol, "bm25"),
      ("r_cos", Similarity.cosineTopK(embeddings, vecIdCol, vecCol,
        anchorId, poolK), vecIdCol, "cos_sim")), k, rrfK)

  /** The same fusion served ENTIRELY from persisted indexes — the
    * production RAG shape: one bucket-pruned BM25 probe
    * ([[probeBm25Index]], bitwise-equal to the ad-hoc scan) + one
    * brute/ANN probe, zero corpus scans, constant-size fusion. With
    * the brute dense side this equals [[hybridRrf]] bit for bit
    * (pinned in Bm25Spec); swap in `Similarity.ivfTopKIndexed` /
    * `pqTopKIndexed` as the dense list for the approximate serving
    * path — [[rrfFuse]] only needs (id, score) lists. */
  def hybridRrfIndexed(spark: SparkSession, bm25IndexPath: String,
      embeddings: DataFrame, queryTerms: Seq[String], anchorId: Long,
      poolK: Int, k: Int, rrfK: Int = 60,
      vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rrfFuse(Seq(
      ("r_bm25", probeBm25Index(spark, bm25IndexPath, queryTerms, poolK),
        "doc_id", "bm25"),
      ("r_cos", Similarity.cosineTopK(embeddings, vecIdCol, vecCol,
        anchorId, poolK), vecIdCol, "cos_sim")), k, rrfK)

  /** N-list reciprocal-rank fusion over (rankColName, list, idCol,
    * scoreCol) tuples: each list is ranked over (score desc, id asc),
    * fused score = Σ 1/(rrfK+rank) with absent-from-list contributing
    * 0, top-k by (rrf desc, id).
    *
    * Fusion is JOIN-FREE: the tagged rank lists union and pivot
    * through one hash aggregate (`max(when(list = name, rank))` — each
    * id appears at most once per list). An N-way full-outer join would
    * plan N−1 sort-merge exchange pairs (Spark has no full-outer
    * broadcast join); the union-pivot is one aggregate over ≤ N·poolK
    * rows — constant-size at any corpus scale, like every other step
    * here. The per-list rank columns come out in fixed order and the
    * fused sum reduces left-to-right, so the double arithmetic is
    * bit-stable across plans and engines. */
  def rrfFuse(lists: Seq[(String, DataFrame, String, String)],
      k: Int, rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(lists.nonEmpty, "rrfFuse: at least one ranked list")
    val ranked = lists.map { case (rankName, df, idCol, scoreCol) =>
      val w = Window.orderBy(col(scoreCol).desc, col(idCol))
      (rankName,
        df.select(col(idCol).as("doc_id"),
          lit(rankName).as("graft_list"),
          row_number().over(w).cast("long").as("graft_rank")))
    }
    val pivots = ranked.map { case (rankName, _) =>
      max(when(col("graft_list") === rankName, col("graft_rank"))).as(rankName)
    }
    val pivoted = ranked.map(_._2).reduce(_ unionByName _)
      .groupBy(col("doc_id"))
      .agg(pivots.head, pivots.tail: _*)
    val kd = lit(rrfK).cast("long")
    val rrf = ranked.map { case (rankName, _) =>
      coalesce(lit(1.0) / (kd + col(rankName)), lit(0.0))
    }.reduce(_ + _)
    pivoted
      .select(col("doc_id") +: rrf.as("rrf") +:
        ranked.map { case (rankName, _) => col(rankName) }: _*)
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  /** Probe: bucket-pruned postings scan + a |Q|-row broadcast idf side
    * built from the terms/corpus tables; group, exact-sum, top-k. */
  def probeBm25Index(spark: SparkSession, path: String,
      queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "probeBm25Index: query terms must be non-empty")
    val bhex = bucketHexWidth(spark, path)
    val buckets = queryTerms.map(t => "b" + md5Hex(t).substring(0, bhex)).distinct
    val post = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isin(buckets: _*)) // partition pruning
      .filter(col("tok").isin(queryTerms: _*))
    val terms = spark.read.parquet(s"$path/terms")
      .filter(col("bucket").isin(buckets: _*)) // partition pruning
      .filter(col("tok").isin(queryTerms: _*))
    // corpus totals as literals (driver-side stats read): no corpus
    // scan, no crossJoin stage in the probe plan
    val (nDocs, tToks) = readCorpusStats(spark, path)
    val idf = terms
      .select(col("tok"), lit(nDocs).as("n"), lit(tToks).as("t"),
        TextAnalysis.bm25Idf(lit(nDocs), col("df")).as("idf"))
    val tfd = col("tf").cast("double")
    val dlr = (col("dl") * col("n")).cast("double") / col("t").cast("double")
    val score = col("idf") * (tfd * lit(2.2)) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * dlr))
    post.join(broadcast(idf), "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(score.cast(DecimalType(18, 12))).cast("double").as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }
}
