package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.Streams.Event

/** Streaming results must converge to the batch semantics the oracle
  * checks (time_tumbling_agg / time_sessionize_gaps): feed the same
  * rows through MemoryStream micro-batches and compare. */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  private val rows = Seq(
    Event(1, ts(0), 1, "view", 1.0),
    Event(2, ts(5), 1, "view", 2.0),
    Event(3, ts(10), 2, "click", 3.0),
    Event(4, ts(65), 1, "view", 4.0), // next hour, > 30 min gap for user 1
    Event(5, ts(70), 2, "click", 5.0), // > 30 min gap for user 2
    Event(6, ts(80), 1, "view", 6.0)) // same session as event 4

  test("streaming tumbling agg equals the batch window aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.tumblingAgg(mem.toDF(), watermark = "10 seconds")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    try {
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*)
      q.processAllAvailable()
      val streaming = spark.table("tumbling")
        .orderBy("hour_start", "event_type")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      val batch = rows.toDF()
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
        .select(col("window.start"), col("event_type"), col("n"), col("total_value"))
        .orderBy("start", "event_type")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(streaming.toSeq == batch.toSeq)
      assert(streaming.length == 4) // (10:00, view), (10:00, click), (11:00, view), (11:00, click)
    } finally q.stop()
  }

  test("streaming dedup keeps first arrival per key, equals batch dropDuplicates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.dedupStream(mem.toDF(), Seq("event_id"), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // duplicates both inside one micro-batch and across micro-batches
      mem.addData(rows.take(3): _*)
      mem.addData(rows(1), rows(2))            // cross-batch duplicates
      q.processAllAvailable()
      mem.addData(rows(2), rows(3), rows(3))   // in-batch duplicate
      q.processAllAvailable()
      val streaming = spark.table("dedup_stream")
        .orderBy("event_id").collect().map(_.getLong(0))
      val batch = rows.take(4).toDF().dropDuplicates("event_id")
        .orderBy("event_id").collect().map(_.getLong(0))
      assert(streaming.toSeq == batch.toSeq)
      assert(streaming.length == 4) // ids 1-4 exactly once each
    } finally q.stop()
  }

  test("checkpointed restart resumes the dedup stream with no loss and no duplicates") {
    // the production recovery contract: a curation stream killed
    // mid-corpus and restarted from its checkpoint must neither re-emit
    // processed keys (state restored) nor miss new files (source offsets
    // restored). File source + parquet sink, both checkpoint-backed.
    val src = java.nio.file.Files.createTempDirectory("graft-restart-src")
    val out = java.nio.file.Files.createTempDirectory("graft-restart-out")
    val chk = java.nio.file.Files.createTempDirectory("graft-restart-chk")
    Seq(src, out, chk).foreach(_.toFile.deleteOnExit())
    import spark.implicits._
    val schema = Seq((0L, "u")).toDF("event_id", "k").schema
    def startQuery() = Streams
      .dedupStream(
        spark.readStream.schema(schema).parquet(src.toString)
          .withColumn("ts", expr("timestamp_micros(event_id * 1000000)")),
        Seq("event_id"), watermark = "1 hour")
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", chk.toString)
      .outputMode("append").start()

    // first life: ids 1-3 (with 2 duplicated in the batch)
    Seq((1L, "a"), (2L, "b"), (2L, "b2"), (3L, "c")).toDF("event_id", "k")
      .coalesce(1).write.mode("append").parquet(src.toString)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // second life: a duplicate of 2 plus new ids 4-5 arrive while down
    Seq((2L, "b3"), (4L, "d"), (5L, "e")).toDF("event_id", "k")
      .coalesce(1).write.mode("append").parquet(src.toString)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L, 3L, 4L, 5L),
      s"restart lost or duplicated keys: ${got.mkString(",")}")
  }

  test("streaming curation filter over the documents source equals batch") {
    // stateless curation (quality filter + projection) applied to a
    // document STREAM — the online-ingest face of the batch pipeline
    val dir = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.load(spark, dir, "documents")
    // the file stream source wants a DIRECTORY it can watch
    val watched = java.nio.file.Files.createTempDirectory("graft-docs-stream")
    watched.toFile.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      watched.resolve("documents.parquet"))
    val stream = spark.readStream.schema(docs.schema)
      .parquet(watched.toString)
      .filter(graft.ops.TextAnalysis.repetitionRatio(col("text"), 3) < 0.05)
      .select(col("doc_id"))
    val q = stream.writeStream.format("memory").queryName("stream_curation")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streaming = spark.table("stream_curation")
        .collect().map(_.getLong(0)).toSet
      val batch = docs
        .filter(graft.ops.TextAnalysis.repetitionRatio(col("text"), 3) < 0.05)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(streaming == batch && streaming.nonEmpty)
    } finally q.stop()
  }

  test("streaming char-LM scoring with a batch-trained model equals batch bit for bit") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.load(spark, dir, "documents")
    // offline: train the model in batch, collect the small artifact
    val model = graft.ops.TextAnalysis.charLmModel(docs, "text")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val watched = java.nio.file.Files.createTempDirectory("graft-lm-stream")
    watched.toFile.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      watched.resolve("documents.parquet"))
    // online: stateless scoring of the stream with the trained model
    val q = graft.streaming.Streams.charLmScoreStream(
        spark.readStream.schema(docs.schema).parquet(watched.toString), model)
      .writeStream.format("memory").queryName("stream_lm")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streaming = spark.table("stream_lm").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val batch = graft.ops.TextAnalysis.charLmScore(docs, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(streaming.nonEmpty && streaming == batch) // exact, incl. doubles
    } finally q.stop()
  }

  test("streaming SemDeDup gate flags near-dups of indexed vectors, append-safe") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val emb = graft.engine.Tables.load(spark, dir, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft-sem-idx").toFile
    idx.deleteOnExit()
    // standing corpus: all 500 vectors, indexed once offline
    graft.ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding",
      idx.getAbsolutePath, nCells = 16)
    // ingest batch: two near-copies of indexed vectors + two originals
    // (an original's top in-cell cosine to OTHERS decides its verdict)
    val v3 = emb.filter(col("vec_id") === 3L)
      .select(col("embedding")).head().getSeq[Float](0)
    val v7 = emb.filter(col("vec_id") === 7L)
      .select(col("embedding")).head().getSeq[Float](0)
    val ingest = Seq(
      (9001L, v3.map(x => x + 1e-4f).toArray),
      (9002L, v7.map(x => x - 1e-4f).toArray)).toDF("vec_id", "embedding")
    val watched = java.nio.file.Files.createTempDirectory("graft-sem-stream")
    watched.toFile.deleteOnExit()
    ingest.coalesce(1).write.parquet(watched.toString + "/batch1")
    val q = graft.streaming.Streams.semDedupGateStream(
        spark.readStream.schema(ingest.schema)
          .parquet(watched.toString + "/batch1"),
        idx.getAbsolutePath, threshold = 0.9)
      .writeStream.format("memory").queryName("stream_semdedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("stream_semdedup").collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(rows.size == 2, rows)
      // both near-copies are semantic dups of their indexed originals
      assert(rows(9001L) && rows(9002L), rows)
    } finally q.stop()
    // a genuinely novel vector (orthogonal-ish random) is NOT flagged:
    // feed a vector far from everything via a second micro-batch
    val novel = Seq((9100L,
      Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    novel.coalesce(1).write.parquet(watched.toString + "/batch2")
    val q2 = graft.streaming.Streams.semDedupGateStream(
        spark.readStream.schema(novel.schema)
          .parquet(watched.toString + "/batch2"),
        idx.getAbsolutePath, threshold = 0.9)
      .writeStream.format("memory").queryName("stream_semdedup2")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      val rows2 = spark.table("stream_semdedup2").collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(rows2(9100L) == false, rows2)
    } finally q2.stop()
  }

  test("streaming IVF probe against the persisted index equals the batch probe") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.col
    val emb = graft.engine.Tables.load(spark, dir, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toFile
    idx.deleteOnExit()
    graft.ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding",
      idx.getAbsolutePath, nCells = 16)
    val watched = java.nio.file.Files.createTempDirectory("graft-ivf-stream")
    watched.toFile.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/embeddings.parquet"),
      watched.resolve("embeddings.parquet"))
    val q = graft.streaming.Streams.ivfProbeStream(
        spark.readStream.schema(emb.schema).parquet(watched.toString)
          .filter(col("vec_id") < 5),
        idx.getAbsolutePath, nProbe = 2, minCos = 0.2)
      .writeStream.format("memory").queryName("stream_ivf")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_ivf").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // batch expectation: same index, same probe, k wide open, same
      // threshold; the indexed probe does not exclude the query itself
      val batch = (0L until 5L).flatMap { qid =>
        val vec = emb.filter(col("vec_id") === qid)
          .select(col("embedding")).head().getSeq[Float](0)
        graft.ops.Similarity.ivfTopKIndexed(spark, idx.getAbsolutePath,
            "vec_id", "embedding", vec, k = 10000, nProbe = 2)
          .filter(col("cos_sim") >= 0.2).collect()
          .map(r => (qid, r.getLong(0), r.getDouble(1)))
          .filter { case (a, b, _) => a != b }
      }.toSet
      assert(streamed.nonEmpty && streamed == batch) // exact, incl. doubles
    } finally q.stop()
  }

  test("streaming DSIR scoring with a batch-trained model equals batch bit for bit") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.load(spark, dir, "documents")
    import org.apache.spark.sql.functions.col
    // offline: train the quantized bucket table in batch
    val modelQ = graft.ops.TextAnalysis.dsirModelQ(docs, "text",
      col("lang") === "en")
    assert(modelQ.length == 1024)
    val watched = java.nio.file.Files.createTempDirectory("graft-dsir-stream")
    watched.toFile.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      watched.resolve("documents.parquet"))
    // online: stateless scoring of the stream with the trained table
    val q = graft.streaming.Streams.dsirScoreStream(
        spark.readStream.schema(docs.schema).parquet(watched.toString), modelQ)
      .writeStream.format("memory").queryName("stream_dsir")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streaming = spark.table("stream_dsir").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
      val batch = graft.ops.TextAnalysis.dsirWeights(docs, "doc_id", "text",
          col("lang") === "en")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
      // corpus docs only hash into corpus buckets, so the streamed
      // scores must equal the batch weigher exactly — longs AND doubles
      assert(streaming.nonEmpty && streaming == batch)
    } finally q.stop()
  }

  test("streaming BM25 gate equals the batch scan bit for bit (index-offline, score-online)") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.load(spark, dir, "documents")
    import org.apache.spark.sql.functions.col
    val terms = Seq("hash", "join", "window", "stream")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-bm25-stream-idx").toString
    graft.ops.Retrieval.buildBm25Index(docs, "doc_id", "text", idx)
    val watched = java.nio.file.Files.createTempDirectory("graft-bm25-stream")
    watched.toFile.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      watched.resolve("documents.parquet"))
    val q = graft.streaming.Streams.bm25ScoreStream(
        spark.readStream.schema(docs.schema).parquet(watched.toString),
        idx, terms)
      .writeStream.format("memory").queryName("stream_bm25")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_bm25").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      // batch over the SAME corpus the index was built from — identical
      // stats, so the scores must agree exactly, longs AND doubles
      val batch = graft.ops.TextAnalysis
        .bm25TopK(docs, "doc_id", "text", terms, 1000000)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming BPE encode equals the batch tokenizer (train-offline, encode-online)") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.load(spark, dir, "documents")
    val merges = graft.ops.TextAnalysis.bpeTrain(docs, "text", merges = 6)
      .orderBy(col("step")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val watched = java.nio.file.Files.createTempDirectory("graft-bpe-stream")
    watched.toFile.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      watched.resolve("documents.parquet"))
    val q = graft.streaming.Streams.bpeEncodeStream(
        spark.readStream.schema(docs.schema).parquet(watched.toString), merges)
      .writeStream.format("memory").queryName("stream_bpe")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streaming = spark.table("stream_bpe").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[String](2)))).toMap
      val batch = graft.streaming.Streams.bpeEncodeStream(docs, merges).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[String](2)))).toMap
      assert(streaming.nonEmpty && streaming == batch)
      // and the token counts agree with the wired query's oracle shape
      assert(streaming.values.forall { case (n, enc) => n >= enc.size })
    } finally q.stop()
  }

  test("streaming URL dedup collapses crawl variants to first arrival") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = Streams.urlDedupStream(
        mem.toDF().toDF("doc_id", "url", "ts"))
      .writeStream.format("memory").queryName("stream_urldedup")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "https://example.com/a?utm_source=x", ts(0)),
        (2L, "HTTPS://WWW.example.com:443/a/", ts(5)),   // same canonical
        (3L, "https://example.com/a?page=2", ts(10)),    // different
        (4L, "https://example.com/a#frag", ts(15)))      // same canonical
      q.processAllAvailable()
      val kept = spark.table("stream_urldedup")
        .collect().map(_.getAs[Long]("doc_id")).sorted
      assert(kept.toSeq == Seq(1L, 3L)) // first arrival per canonical URL
      // streaming keepers == batch keepers over the same rows
      val batch = graft.ops.UrlOps.dedupByUrl(
          Seq((1L, "https://example.com/a?utm_source=x"),
            (2L, "HTTPS://WWW.example.com:443/a/"),
            (3L, "https://example.com/a?page=2"),
            (4L, "https://example.com/a#frag")).toDF("doc_id", "url"),
          "doc_id", "url")
        .collect().map(_.getAs[Long]("keep_id")).sorted
      assert(batch.toSeq == kept.toSeq)
    } finally q.stop()
  }

  test("streaming compression-ratio quality gate equals batch bit for bit") {
    // the ingest-time Gopher-compressibility filter: stateless native
    // expression, so streaming output must equal the batch filter
    val dir = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.load(spark, dir, "documents")
    val watched = java.nio.file.Files.createTempDirectory("graft-qgate-stream")
    watched.toFile.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      watched.resolve("documents.parquet"))
    val q = Streams.qualityGateStream(
        spark.readStream.schema(docs.schema).parquet(watched.toString))
      .writeStream.format("memory").queryName("stream_qgate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streaming = spark.table("stream_qgate")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      val batch = Streams.qualityGateStream(docs)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(streaming == batch && streaming.nonEmpty)
      assert(streaming.values.forall(r => r >= 0.35 && r <= 1.1))
      // the gate actually gates: repetitive spam and too-short docs drop
      import spark.implicits._
      val bad = Seq((1L, ("spam " * 400).trim), (2L, "x")).toDF("doc_id", "text")
      assert(Streams.qualityGateStream(bad).count() == 0)
    } finally q.stop()
  }

  test("streaming entropy gate equals the batch operator bit for bit") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.load(spark, dir, "documents")
    val watched = java.nio.file.Files.createTempDirectory("graft-egate-stream")
    watched.toFile.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      watched.resolve("documents.parquet"))
    val q = Streams.entropyGateStream(
        spark.readStream.schema(docs.schema).parquet(watched.toString))
      .writeStream.format("memory").queryName("stream_egate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streaming = spark.table("stream_egate")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
      // the gate = the batch operator + the threshold filter
      val batch = graft.ops.TextAnalysis.unigramEntropy(docs, "doc_id", "text")
        .filter(org.apache.spark.sql.functions.col("entropy") >= 0.5)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
      assert(streaming == batch && streaming.nonEmpty) // bitwise: == on doubles
      // one-token spam has entropy 0 and drops
      import spark.implicits._
      val spam = Seq((1L, ("buy " * 200).trim)).toDF("doc_id", "text")
      assert(Streams.entropyGateStream(spam).count() == 0)
    } finally q.stop()
  }

  test("streaming PII scrub equals batch (stateless projection)") {
    // redaction on the ingest stream — same scrubPii column expression,
    // no state, so streaming output must equal the batch projection
    val dir = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.load(spark, dir, "documents")
    val watched = java.nio.file.Files.createTempDirectory("graft-pii-stream")
    watched.toFile.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      watched.resolve("documents.parquet"))
    def scrub(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.ops.TextAnalysis.scrubPii(
          concat(col("text"), lit(" mail "), col("doc_id").cast("string"),
            lit("@x.example.org"))).as("clean"))
    val q = scrub(spark.readStream.schema(docs.schema).parquet(watched.toString))
      .writeStream.format("memory").queryName("stream_pii")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streaming = spark.table("stream_pii")
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      val batch = scrub(docs)
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(streaming == batch && streaming.nonEmpty)
      assert(streaming.values.forall(_.contains("<EMAIL>")))
    } finally q.stop()
  }

  test("streaming session_window agg closes 30-min-gap sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionWindowAgg(mem.toDF(), gap = "30 minutes", watermark = "1 second")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val out = spark.table("sessions")
        .orderBy("user_id", "session_start")
        .collect().map(r => (r.getLong(2), r.getLong(3), r.getDouble(4)))
      // user 1: [e1,e2] then [e4,e6]; user 2: [e3] then [e5]
      assert(out.toSeq == Seq((1L, 2L, 3.0), (1L, 2L, 10.0), (2L, 1L, 3.0), (2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("file-source streaming over the events parquet equals the batch aggregation") {
    // readStream over a directory of parquet files — the deployment
    // shape for a landing zone at scale (files arrive, micro-batches
    // pick them up); semantics must equal the batch run over same files.
    val src = java.nio.file.Files.createTempDirectory("graft-stream-src")
    val batchDf = graft.engine.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    batchDf.write.mode("overwrite").parquet(src.toString)

    val streamDf = spark.readStream
      .schema(batchDf.schema)
      .parquet(src.toString)
    val q = Streams.tumblingAgg(streamDf, watermark = "10 seconds")
      .writeStream.format("memory").queryName("file_tumbling")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streaming = spark.table("file_tumbling")
        .orderBy("hour_start", "event_type").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      val batch = spark.read.parquet(src.toString)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
        .select(col("window.start"), col("event_type"), col("n"), col("total_value"))
        .orderBy("start", "event_type").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(streaming.toSeq == batch.toSeq && streaming.nonEmpty)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer emits closed sessions with batch-equal boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionizeWithState(mem.toDS())
      .writeStream.format("memory").queryName("stateful_sessions")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*) // jump past the gap closes the first sessions
      q.processAllAvailable()
      val out = spark.table("stateful_sessions")
        .orderBy("user_id", "session_start")
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(4)))
      // the first session per user closes once later events arrive
      assert(out.toSeq == Seq((1L, 2L, 3.0), (2L, 1L, 3.0)))
    } finally q.stop()
  }

  test("streaming minhash probe against the persisted index equals the batch probe") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.load(spark, dir, "documents")
    // standing corpus = even doc_ids (indexed once); ingest = odd ids
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val ingest = docs.filter(col("doc_id") % 2 === 1)
    val idx = java.nio.file.Files.createTempDirectory("graft-mh-idx").toString
    graft.ops.Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)

    val watched = java.nio.file.Files.createTempDirectory("graft-probe-stream")
    watched.toFile.deleteOnExit()
    ingest.write.mode("overwrite").parquet(watched.resolve("batch1").toString)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(watched.resolve("batch1").toString)
    val probed = graft.streaming.Streams.minhashProbeStream(stream, idx)
    val q = probed.writeStream.format("memory").queryName("stream_probe")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streaming = spark.table("stream_probe").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.ops.Dedup.probeMinhashIndex(ingest, "doc_id", "text", idx)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streaming == batch, s"stream=${streaming.size} batch=${batch.size}")
      assert(streaming.nonEmpty) // sf0.001 has near-dups across the split
      // every pair crosses the split: new side odd, index side even
      streaming.foreach { case (n, i, _) => assert(n % 2 == 1 && i % 2 == 0) }
    } finally q.stop()
  }

  test("streaming as-of join equals the batch operator on in-order arrival") {
    implicit val sqlCtx = spark.sqlContext
    // purchases join the latest at-or-before view per user; includes an
    // exact timestamp tie (event 23 at ts(20) vs view 22 at ts(20)) and
    // a purchase before any view (event 20)
    val ev = Seq(
      Event(20, ts(1), 1, "purchase", 9.0),  // before any view → null pad
      Event(21, ts(2), 1, "view", 1.0),
      Event(22, ts(20), 1, "view", 2.0),
      Event(23, ts(20), 1, "purchase", 10.0), // tie → inclusive: joins view 22
      Event(24, ts(30), 2, "view", 3.0),
      Event(25, ts(40), 1, "purchase", 11.0), // joins view 22
      Event(26, ts(45), 2, "purchase", 12.0), // joins view 24 (other key)
      Event(27, ts(50), 1, "view", 4.0),
      Event(28, ts(60), 1, "purchase", 13.0)) // joins view 27, later batch
    val mem = MemoryStream[Event]
    val q = Streams.asofJoinStream(mem.toDS(), "purchase", "view")
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      mem.addData(ev.take(6): _*)
      q.processAllAvailable()
      mem.addData(ev.drop(6): _*) // state (view 22, view 24) carries over
      q.processAllAvailable()
      val streaming = spark.table("asof_stream")
        .orderBy("event_id")
        .collect()
        .map(r => (r.getLong(1), Option(r.getTimestamp(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      val df = ev.toDF()
      val batch = graft.ops.AsofJoin.asofJoin(
          df.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id"), col("ts"), col("value")),
          df.filter(col("event_type") === "view")
            .select(col("user_id"), col("event_id"), col("ts"), col("value")),
          Seq("user_id"), "ts", "ts",
          Seq("ts" -> "q_ts", "value" -> "q_value"), "event_id")
        .orderBy("event_id")
        .collect()
        .map(r => (r.getLong(1),
          Option(r.getTimestamp(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      assert(streaming.toSeq == batch.toSeq)
      assert(streaming.length == 5)
    } finally q.stop()
  }

  test("streaming MATCH_RECOGNIZE converges to the batch matcher") {
    implicit val sqlCtx = spark.sqlContext
    // funnels for two users + a dangling A that never completes; noop
    // events on user 99 only push the watermark
    val mr = Seq(
      Event(1, ts(0), 1, "view", 0.0),
      Event(2, ts(1), 1, "click", 0.0),
      Event(3, ts(2), 1, "click", 0.0),
      Event(4, ts(3), 1, "error", 0.0),
      Event(5, ts(4), 1, "view", 0.0),  // no click follows: must NOT match
      Event(6, ts(0), 2, "click", 0.0), // B with no A
      Event(7, ts(1), 2, "view", 0.0),
      Event(8, ts(2), 2, "click", 0.0))
    val clause =
      """PARTITION BY user_id ORDER BY ts, event_id
        |MEASURES FIRST(A.ts) AS start_ts, LAST(B.ts) AS end_ts,
        |         COUNT(*) AS n_rows, MATCH_NUMBER() AS mn
        |PATTERN (A B+)
        |DEFINE A AS event_type = 'view', B AS event_type = 'click'""".stripMargin
    val flush = Seq(Event(100, ts(90), 99, "noop", 0.0),
      Event(101, ts(95), 99, "noop", 0.0))
    val mem = MemoryStream[Event]
    val q = Streams.matchRecognizeRows(mem.toDS(), clause,
        horizonSeconds = 1800L, watermark = "10 seconds")
      .writeStream.format("memory").queryName("mr_stream")
      .outputMode("append").start()
    try {
      // feed in event-time order across batches (rows behind the
      // watermark are DROPPED by the engine, as in any stateful
      // streaming op): batch 1 = both users' rows through 10:02,
      // batch 2 = the rest
      mem.addData(mr.filter(_.ts.getTime <= ts(2).getTime): _*)
      q.processAllAvailable()
      mem.addData(mr.filterNot(_.ts.getTime <= ts(2).getTime): _*)
      q.processAllAvailable()
      // push the watermark past every start's horizon so pending
      // windows seal (watermark advances one batch behind the data)
      flush.foreach { e => mem.addData(e); q.processAllAvailable() }
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("user_id", "start_ts")
          .collect().map(r => (r.getLong(0), r.getTimestamp(1),
            r.getTimestamp(2), r.getLong(3), r.getLong(4))).toSeq
      val streaming = canon(spark.table("mr_stream"))
      // batch reference: the SAME clause through the batch matcher
      val batch = canon(graft.dialect.MatchRecognize.run((mr ++ flush).toDF(),
        graft.dialect.MatchRecognize.parseClause(clause)))
      assert(streaming.nonEmpty && streaming == batch, s"$streaming vs $batch")
      assert(streaming.map(_._1).toSet == Set(1L, 2L)) // dangling A absent
    } finally q.stop()
  }

  test("property: matchRecognizeRows over random micro-batches equals batch") {
    // random non-nullable A/B patterns (MatchRecognizeSpec's generator)
    // under every AFTER MATCH SKIP mode, one PREV DEFINE and one
    // cross-variable DEFINE each; events cut into 2-4 micro-batches at
    // random event times. The horizon outlasts the data, so every
    // batch match completes within it and the outputs must be equal.
    implicit val sqlCtx = spark.sqlContext
    import graft.dialect.{MatchRecognize, MrPatternGen}
    import graft.dialect.MatchRecognize.{PCat, PVar}
    val rnd = new scala.util.Random(20261019L)
    val flush = Seq(Event(10000, ts(300), 99, "noop", 0.0),
      Event(10001, ts(305), 99, "noop", 0.0))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.filter(col("user_id") < 90).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    var compared, matched = 0
    while (compared < 24) {
      val gen = MatchRecognize.normalize(MrPatternGen.randPat(rnd))
      if (!MatchRecognize.nullable(gen)) {
        val (prevVar, crossVar) = if (rnd.nextBoolean()) ("A", "B") else ("B", "A")
        val target = if (rnd.nextBoolean()) "A" else "B"
        val other = if (target == "A") "B" else "A"
        // SKIP TO FIRST/LAST v raises when a match lacks v or v is its
        // first row: the generated pattern is framed so neither happens
        val (skip, framed) = rnd.nextInt(4) match {
          case 0 => ("SKIP PAST LAST ROW", gen)
          case 1 => ("SKIP TO NEXT ROW", gen)
          case 2 => (s"SKIP TO FIRST $target", PCat(Seq(PVar(other), gen, PVar(target))))
          case _ => (s"SKIP TO LAST $target", PCat(Seq(gen, PVar(target))))
        }
        // both variables appear, so both DEFINEs name pattern variables
        val pat = Seq("A", "B").foldLeft(framed) { (p, v) =>
          if (MatchRecognize.Spec(Nil, Nil, Nil, p, Nil).vars.contains(v)) p
          else PCat(Seq(p, PVar(v)))
        }
        val allRows = rnd.nextInt(3) == 0
        val events = (1 to 30 + rnd.nextInt(20)).map { i =>
          Event(i.toLong, ts(rnd.nextInt(60)), 1L + rnd.nextInt(3),
            Seq("a", "b", "c")(rnd.nextInt(3)), rnd.nextInt(5).toDouble)
        }
        val clause =
          s"""PARTITION BY user_id ORDER BY ts, event_id
             |MEASURES FIRST(A.event_id) AS fa, LAST(B.value) AS lb,
             |         COUNT(A.*) AS na, COUNT(*) AS n, SUM(value) AS s,
             |         CLASSIFIER() AS cls, MATCH_NUMBER() AS mn
             |${if (allRows) "ALL ROWS PER MATCH" else "ONE ROW PER MATCH"}
             |AFTER MATCH $skip
             |PATTERN (${MrPatternGen.text(pat)})
             |DEFINE $prevVar AS event_type <> 'c' AND value >= PREV(value),
             |       $crossVar AS value > $prevVar.value OR event_type = 'b'""".stripMargin
        val cuts = Seq.fill(1 + rnd.nextInt(3))(1 + rnd.nextInt(59)).distinct.sorted
        val slices = (0 +: cuts :+ 60).map(m => ts(m).getTime).sliding(2)
          .map { case Seq(lo, hi) =>
            events.filter(e => e.ts.getTime >= lo && e.ts.getTime < hi) }.toSeq
        val batch = canon(MatchRecognize.run((events ++ flush).toDF(),
          MatchRecognize.parseClause(clause)))
        val mem = MemoryStream[Event]
        val q = Streams.matchRecognizeRows(mem.toDS(), clause,
            horizonSeconds = 7200L, watermark = "10 seconds")
          .writeStream.format("memory").queryName(s"mr_prop_$compared")
          .outputMode("append").start()
        val stream =
          try {
            (slices ++ flush.map(Seq(_))).foreach { b =>
              mem.addData(b: _*); q.processAllAvailable()
            }
            canon(spark.table(s"mr_prop_$compared"))
          } finally q.stop()
        assert(stream == batch,
          s"case $compared: $clause\ncuts=$cuts\nstream=$stream\nbatch=$batch")
        compared += 1
        if (batch.nonEmpty) matched += 1
      }
    }
    assert(matched >= 20, s"only $matched of $compared clauses matched anything")
  }

  test("matchRecognizeRows: real measures + cross DEFINE converge to batch") {
    implicit val sqlCtx = spark.sqlContext
    // clicks must OUT-VALUE the view (cross-variable DEFINE, interpreted
    // in the matcher) — measures exercise navigation, aggregates over
    // an expression, CLASSIFIER and MATCH_NUMBER on a stream
    val mr = Seq(
      Event(1, ts(0), 1, "view", 5.0),
      Event(2, ts(1), 1, "click", 7.0),
      Event(3, ts(2), 1, "click", 9.0),
      Event(4, ts(3), 1, "click", 2.0),   // below A.value: run ends
      Event(5, ts(4), 1, "view", 4.0),
      Event(6, ts(5), 1, "click", 6.0),
      Event(7, ts(0), 2, "view", 3.0),
      Event(8, ts(1), 2, "click", 1.0))   // never out-values: no match
    val clause =
      """PARTITION BY user_id ORDER BY ts, event_id
        |MEASURES FIRST(A.ts) AS start_ts, LAST(B.value) AS top,
        |         SUM(B.value * 2) AS s2, COUNT(B.*) AS nb,
        |         CLASSIFIER() AS cls, MATCH_NUMBER() AS mn
        |PATTERN (A B+)
        |DEFINE A AS event_type = 'view',
        |       B AS event_type = 'click' AND B.value > A.value""".stripMargin
    val flush = Seq(Event(100, ts(90), 99, "noop", 0.0),
      Event(101, ts(95), 99, "noop", 0.0))
    val mem = MemoryStream[Event]
    val q = Streams.matchRecognizeRows(mem.toDS(), clause,
        horizonSeconds = 1800L, watermark = "10 seconds")
      .writeStream.format("memory").queryName("mr_rows")
      .outputMode("append").start()
    try {
      mem.addData(mr.filter(_.ts.getTime <= ts(2).getTime): _*)
      q.processAllAvailable()
      mem.addData(mr.filterNot(_.ts.getTime <= ts(2).getTime): _*)
      q.processAllAvailable()
      flush.foreach { e => mem.addData(e); q.processAllAvailable() }
      val streaming = spark.table("mr_rows")
        .orderBy("user_id", "start_ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
          r.getDouble(3), r.getLong(4), r.getString(5), r.getLong(6))).toSeq
      val batch = graft.dialect.MatchRecognize.run((mr ++ flush).toDF(),
          graft.dialect.MatchRecognize.parseClause(clause))
        .orderBy("user_id", "start_ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
          r.getDouble(3), r.getLong(4), r.getString(5), r.getLong(6))).toSeq
      assert(streaming.nonEmpty && streaming == batch,
        s"$streaming vs $batch")
      // user 1: two matches (B runs 7,9 and 6); user 2: none
      assert(streaming.map(_._1) == Seq(1L, 1L))
      assert(streaming.map(_._3) == Seq(9.0, 6.0))
      assert(streaming.map(_._4) == Seq(32.0, 12.0)) // SUM(B.value * 2)
    } finally q.stop()
  }

  test("matchRecognizeRows: function calls and CASE in DEFINE and MEASURES equal batch") {
    implicit val sqlCtx = spark.sqlContext
    val mr = Seq(
      Event(1, ts(0), 1, "view", 5.0),
      Event(2, ts(1), 1, "click", -7.0),  // |-7| > 5
      Event(3, ts(2), 1, "click", 9.0),
      Event(4, ts(3), 1, "click", 2.0),   // |2| <= 5: run ends
      Event(5, ts(4), 1, "view", 60.0),
      Event(6, ts(5), 1, "click", 40.0),  // A > 50: B must be below it
      Event(7, ts(0), 2, "view", 3.0),
      Event(8, ts(1), 2, "click", 1.0))   // neither test holds: no match
    val clause =
      """PARTITION BY user_id ORDER BY ts, event_id
        |MEASURES FIRST(A.ts) AS start_ts,
        |         round(LAST(B.value) - FIRST(A.value), 1) AS d,
        |         upper(CLASSIFIER()) AS cls, COUNT(B.*) AS nb
        |PATTERN (A B+)
        |DEFINE A AS event_type = 'view',
        |       B AS event_type = 'click' AND
        |         CASE WHEN A.value > 50 THEN B.value < A.value
        |              ELSE abs(B.value) > A.value END""".stripMargin
    val flush = Seq(Event(100, ts(90), 99, "noop", 0.0),
      Event(101, ts(95), 99, "noop", 0.0))
    val mem = MemoryStream[Event]
    val q = Streams.matchRecognizeRows(mem.toDS(), clause,
        horizonSeconds = 1800L, watermark = "10 seconds")
      .writeStream.format("memory").queryName("mr_rows_fn")
      .outputMode("append").start()
    try {
      mem.addData(mr.filter(_.ts.getTime <= ts(2).getTime): _*)
      q.processAllAvailable()
      mem.addData(mr.filterNot(_.ts.getTime <= ts(2).getTime): _*)
      q.processAllAvailable()
      flush.foreach { e => mem.addData(e); q.processAllAvailable() }
      def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.filter(col("user_id") < 90).orderBy("user_id", "start_ts")
          .collect().map(_.toSeq.toList: Seq[Any]).toSeq
      val streaming = canon(spark.table("mr_rows_fn"))
      val batch = canon(graft.dialect.MatchRecognize.run((mr ++ flush).toDF(),
        graft.dialect.MatchRecognize.parseClause(clause)))
      assert(streaming == batch, s"$streaming vs $batch")
      // user 1: B run -7, 9 (then 2 fails), and the 60 → 40 match
      assert(streaming.map(r => (r(2), r(3), r(4))) ==
        Seq((4.0, "B", 2L), (-20.0, "B", 1L)))
    } finally q.stop()
  }

  test("matchRecognizeRows: aggregate DEFINE budget packs over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mr = Seq(
      Event(1, ts(0), 1, "e", 10.0), Event(2, ts(1), 1, "e", 12.0),
      Event(3, ts(2), 1, "e", 5.0), Event(4, ts(3), 1, "e", 20.0),
      Event(5, ts(4), 1, "e", 4.0))
    val clause =
      """PARTITION BY user_id ORDER BY ts, event_id
        |MEASURES FIRST(A.ts) AS start_ts, COUNT(*) AS n, SUM(A.value) AS total
        |PATTERN (A+)
        |DEFINE A AS SUM(A.value) <= 25""".stripMargin
    val flush = Seq(Event(100, ts(90), 99, "noop", 0.0),
      Event(101, ts(95), 99, "noop", 0.0))
    val mem = MemoryStream[Event]
    val q = Streams.matchRecognizeRows(mem.toDS(), clause,
        horizonSeconds = 1800L, watermark = "10 seconds")
      .writeStream.format("memory").queryName("mr_rows_pack")
      .outputMode("append").start()
    try {
      mem.addData(mr: _*); q.processAllAvailable()
      flush.foreach { e => mem.addData(e); q.processAllAvailable() }
      val streaming = spark.table("mr_rows_pack")
        .filter(col("user_id") === 1L)
        .orderBy("start_ts").collect()
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq
      // greedy packing: [10,12] = 22; [5,20] = 25; [4]
      assert(streaming == Seq((2L, 22.0), (2L, 25.0), (1L, 4.0)))
    } finally q.stop()
  }

  test("matchRecognizeRows: SKIP TO NEXT ROW packs overlapping windows, equals batch") {
    implicit val sqlCtx = spark.sqlContext
    // the packing idiom with overlap: a budgeted run STARTS AT EVERY
    // ROW (SKIP TO NEXT ROW resumes at start+1, not past the match)
    val mr = Seq(
      Event(1, ts(0), 1, "e", 10.0), Event(2, ts(1), 1, "e", 12.0),
      Event(3, ts(2), 1, "e", 5.0), Event(4, ts(3), 1, "e", 20.0),
      Event(5, ts(4), 1, "e", 4.0))
    val clause =
      """PARTITION BY user_id ORDER BY ts, event_id
        |MEASURES FIRST(A.ts) AS start_ts, COUNT(*) AS n, SUM(A.value) AS total
        |AFTER MATCH SKIP TO NEXT ROW
        |PATTERN (A+)
        |DEFINE A AS SUM(A.value) <= 25""".stripMargin
    val flush = Seq(Event(100, ts(90), 99, "noop", 0.0),
      Event(101, ts(95), 99, "noop", 0.0))
    val mem = MemoryStream[Event]
    val q = Streams.matchRecognizeRows(mem.toDS(), clause,
        horizonSeconds = 1800L, watermark = "10 seconds")
      .writeStream.format("memory").queryName("mr_rows_skipnext")
      .outputMode("append").start()
    try {
      // split across micro-batches so overlap survives state handoff
      mem.addData(mr.take(2): _*); q.processAllAvailable()
      mem.addData(mr.drop(2): _*); q.processAllAvailable()
      flush.foreach { e => mem.addData(e); q.processAllAvailable() }
      val streaming = spark.table("mr_rows_skipnext")
        .filter(col("user_id") === 1L)
        .orderBy("start_ts").collect()
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq
      // greedy from every start: [10,12] [12,5] [5,20] [20,4] [4]
      assert(streaming ==
        Seq((2L, 22.0), (2L, 17.0), (2L, 25.0), (2L, 24.0), (1L, 4.0)))
      val batch = graft.dialect.MatchRecognize.run((mr ++ flush).toDF(),
          graft.dialect.MatchRecognize.parseClause(clause))
        .filter(col("user_id") === 1L)
        .orderBy("start_ts").collect()
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq
      assert(streaming == batch, s"$streaming vs $batch")
    } finally q.stop()
  }

  test("matchRecognizeRows: SKIP TO LAST var overlaps on the pivot row, equals batch") {
    implicit val sqlCtx = spark.sqlContext
    // the Trino-docs V-shape resume: the U row that ends one match is
    // the S row that starts the next (SKIP TO LAST U — true overlap)
    val mr = Seq(
      Event(1, ts(0), 1, "t", 10.0), Event(2, ts(1), 1, "t", 5.0),
      Event(3, ts(2), 1, "t", 20.0), Event(4, ts(3), 1, "t", 8.0),
      Event(5, ts(4), 1, "t", 25.0))
    val clause =
      """PARTITION BY user_id ORDER BY ts, event_id
        |MEASURES FIRST(S.value) AS sv, LAST(U.value) AS uv, MATCH_NUMBER() AS mn
        |AFTER MATCH SKIP TO LAST U
        |PATTERN (S D U)
        |DEFINE D AS value < S.value, U AS value > S.value""".stripMargin
    val flush = Seq(Event(100, ts(90), 99, "noop", 0.0),
      Event(101, ts(95), 99, "noop", 0.0))
    val mem = MemoryStream[Event]
    val q = Streams.matchRecognizeRows(mem.toDS(), clause,
        horizonSeconds = 1800L, watermark = "10 seconds")
      .writeStream.format("memory").queryName("mr_rows_skipvar")
      .outputMode("append").start()
    try {
      mem.addData(mr.take(3): _*); q.processAllAvailable()
      mem.addData(mr.drop(3): _*); q.processAllAvailable()
      flush.foreach { e => mem.addData(e); q.processAllAvailable() }
      val streaming = spark.table("mr_rows_skipvar")
        .filter(col("user_id") === 1L)
        .orderBy("mn").collect()
        .map(r => (r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq
      // match 1: 10 ↓5 ↑20; match 2 starts ON the 20: 20 ↓8 ↑25
      assert(streaming == Seq((10.0, 20.0, 1L), (20.0, 25.0, 2L)))
      val batch = graft.dialect.MatchRecognize.run((mr ++ flush).toDF(),
          graft.dialect.MatchRecognize.parseClause(clause))
        .filter(col("user_id") === 1L)
        .orderBy("mn").collect()
        .map(r => (r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq
      assert(streaming == batch, s"$streaming vs $batch")
    } finally q.stop()
  }

  test("matchRecognizeRows rejects forward navigation and empty patterns") {
    def mk(clause: String) =
      Streams.matchRecognizeRows(spark.emptyDataset[Streams.Event], clause)
    // PREV in MEASURES stays rejected (only DEFINE rides the buffer)
    assert(intercept[IllegalArgumentException](mk(
      """PARTITION BY user_id ORDER BY ts
        |MEASURES PREV(value) AS p
        |PATTERN (A B+)
        |DEFINE A AS event_type = 'view', B AS event_type = 'click'""".stripMargin))
      .getMessage.contains("PREV/NEXT"))
    // NEXT in DEFINE: forward step, target row may not have arrived
    assert(intercept[IllegalArgumentException](mk(
      """PARTITION BY user_id ORDER BY ts
        |MEASURES COUNT(*) AS n
        |PATTERN (A B+)
        |DEFINE A AS event_type = 'view', B AS value > NEXT(value)""".stripMargin))
      .getMessage.contains("NEXT"))
    // PREV in DEFINE now CONSTRUCTS (r15): simple, cross-var and
    // composite forms all classify to the interpreted path
    mk("""PARTITION BY user_id ORDER BY ts
         |MEASURES COUNT(*) AS n
         |PATTERN (A B+)
         |DEFINE A AS event_type = 'view', B AS value > PREV(value)""".stripMargin)
    mk("""PARTITION BY user_id ORDER BY ts
         |MEASURES COUNT(*) AS n
         |PATTERN (A B+)
         |DEFINE A AS event_type = 'view', B AS B.value > PREV(A.value)""".stripMargin)
    mk("""PARTITION BY user_id ORDER BY ts
         |MEASURES COUNT(*) AS n
         |PATTERN (A B+)
         |DEFINE A AS event_type = 'view', B AS value > PREV(value * 2, 2)""".stripMargin)
    assert(intercept[IllegalArgumentException](mk(
      """PARTITION BY user_id ORDER BY ts
        |MEASURES COUNT(*) AS n
        |PATTERN (B*)
        |DEFINE B AS event_type = 'click'""".stripMargin))
      .getMessage.contains("empty"))
  }

  test("matchRecognizeRows: ALL ROWS PER MATCH equals the batch emitter") {
    implicit val sqlCtx = spark.sqlContext
    val mr = Seq(
      Event(1, ts(0), 1, "view", 5.0),
      Event(2, ts(1), 1, "click", 7.0),
      Event(3, ts(2), 1, "click", 9.0),
      Event(4, ts(3), 1, "error", 0.0),  // ends the run, never emitted
      Event(5, ts(4), 2, "view", 4.0),
      Event(6, ts(5), 2, "click", 6.0))
    // RUNNING (the ALL-mode default) + explicit FINAL on the same
    // aggregate + per-row CLASSIFIER — the shapes that distinguish the
    // per-row emitter from the one-row face
    val clause =
      """PARTITION BY user_id ORDER BY ts, event_id
        |MEASURES COUNT(*) AS n_sofar, FINAL COUNT(*) AS n_total,
        |         SUM(B.value) AS runsum, CLASSIFIER() AS cls,
        |         MATCH_NUMBER() AS mn
        |ALL ROWS PER MATCH
        |PATTERN (A B+)
        |DEFINE A AS event_type = 'view', B AS event_type = 'click'""".stripMargin
    val flush = Seq(Event(100, ts(90), 99, "noop", 0.0),
      Event(101, ts(95), 99, "noop", 0.0))
    val mem = MemoryStream[Event]
    val q = Streams.matchRecognizeRows(mem.toDS(), clause,
        horizonSeconds = 1800L, watermark = "10 seconds")
      .writeStream.format("memory").queryName("mr_allrows")
      .outputMode("append").start()
    try {
      mem.addData(mr.filter(_.ts.getTime <= ts(2).getTime): _*)
      q.processAllAvailable()
      mem.addData(mr.filterNot(_.ts.getTime <= ts(2).getTime): _*)
      q.processAllAvailable()
      flush.foreach { e => mem.addData(e); q.processAllAvailable() }
      def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.orderBy("event_id").collect().map(_.toSeq.toList: Seq[Any]).toSeq
      val streaming = canon(spark.table("mr_allrows"))
      val batch = canon(graft.dialect.MatchRecognize.run(
        (mr ++ flush).toDF(),
        graft.dialect.MatchRecognize.parseClause(clause)))
      assert(streaming.nonEmpty && streaming == batch,
        s"$streaming vs $batch")
      // 3 rows for user 1's A B B, 2 for user 2's A B; RUNNING count
      // climbs 1,2,3 while FINAL count is the match total on every row
      assert(streaming.length == 5)
      val u1 = streaming.filter(_(2) == 1L)
      assert(u1.map(_(5)) == Seq(1L, 2L, 3L))   // n_sofar
      assert(u1.map(_(6)) == Seq(3L, 3L, 3L))   // n_total
      assert(u1.map(_(7)) == Seq(null, 7.0, 16.0)) // RUNNING SUM(B.value)
      assert(u1.map(_(8)) == Seq("A", "B", "B"))   // CLASSIFIER per row
    } finally q.stop()
  }

  test("matchRecognizeRows: WITH UNMATCHED ROWS equals batch (nulls on non-members)") {
    implicit val sqlCtx = spark.sqlContext
    val mr = Seq(
      Event(1, ts(0), 1, "view", 5.0),
      Event(2, ts(1), 1, "click", 7.0),
      Event(3, ts(2), 1, "error", 0.0),  // unmatched
      Event(4, ts(3), 1, "view", 4.0))   // dangling A: unmatched too
    val clause =
      """PARTITION BY user_id ORDER BY ts, event_id
        |MEASURES MATCH_NUMBER() AS mn, CLASSIFIER() AS cls
        |ALL ROWS PER MATCH WITH UNMATCHED ROWS
        |PATTERN (A B+)
        |DEFINE A AS event_type = 'view', B AS event_type = 'click'""".stripMargin
    val flush = Seq(Event(100, ts(90), 99, "noop", 0.0),
      Event(101, ts(95), 99, "noop", 0.0))
    val mem = MemoryStream[Event]
    val q = Streams.matchRecognizeRows(mem.toDS(), clause,
        horizonSeconds = 1800L, watermark = "10 seconds")
      .writeStream.format("memory").queryName("mr_unmatched")
      .outputMode("append").start()
    try {
      mem.addData(mr.filter(_.ts.getTime <= ts(1).getTime): _*)
      q.processAllAvailable()
      mem.addData(mr.filterNot(_.ts.getTime <= ts(1).getTime): _*)
      q.processAllAvailable()
      flush.foreach { e => mem.addData(e); q.processAllAvailable() }
      // the last flush row stays above the final watermark on the
      // stream (undecided) where batch decides it — compare users 1-2
      def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.filter("user_id < 90").orderBy("event_id")
          .collect().map(_.toSeq.toList: Seq[Any]).toSeq
      val streaming = canon(spark.table("mr_unmatched"))
      val batch = canon(graft.dialect.MatchRecognize.run(
        (mr ++ flush).toDF(),
        graft.dialect.MatchRecognize.parseClause(clause)))
      assert(streaming.nonEmpty && streaming == batch,
        s"$streaming vs $batch")
      assert(streaming.length == 4)
      // match rows carry MATCH_NUMBER/CLASSIFIER; unmatched carry nulls
      assert(streaming.map(_(6)) == Seq("A", "B", null, null))
      assert(streaming.map(_(5)) == Seq(1L, 1L, null, null))
    } finally q.stop()
  }

  test("matchRecognizeRows: PREV in DEFINE equals batch lag semantics") {
    implicit val sqlCtx = spark.sqlContext
    // rising-run funnel — every row must strictly exceed the PREVIOUS
    // partition row's value (the canonical PREV clause). The second
    // match's start reads a PREV value from a row the FIRST match
    // consumed and eviction dropped to CONTEXT, and the micro-batch
    // split forces that retention path to actually serve the read.
    val mr = Seq(
      Event(1, ts(0), 1, "e", 1.0),
      Event(2, ts(1), 1, "e", 2.0),
      Event(3, ts(2), 1, "e", 3.0),
      Event(4, ts(3), 1, "e", 0.5),   // breaks the run; goes dead
      Event(5, ts(4), 1, "e", 2.0),   // PREV = 0.5 (evicted-to-context)
      Event(6, ts(5), 1, "e", 5.0),
      Event(7, ts(0), 2, "e", 3.0),
      Event(8, ts(1), 2, "e", 2.0))   // never rises: no match
    val clause =
      """PARTITION BY user_id ORDER BY ts, event_id
        |MEASURES FIRST(A.ts) AS start_ts, COUNT(*) AS n,
        |         LAST(B.value) AS last_v
        |PATTERN (A B+)
        |DEFINE A AS value > PREV(value),
        |       B AS value > PREV(value)""".stripMargin
    // pushes the watermark just past the sealed prefix (t4 - 10s)
    // WITHOUT making the still-to-come t4/t5 rows late
    val flush1 = Event(100, ts(4), 99, "noop", 0.0)
    val flush2 = Seq(Event(101, ts(90), 99, "noop", 0.0),
      Event(102, ts(95), 99, "noop", 0.0))
    val mem = MemoryStream[Event]
    val q = Streams.matchRecognizeRows(mem.toDS(), clause,
        horizonSeconds = 1800L, watermark = "10 seconds")
      .writeStream.format("memory").queryName("mr_prev")
      .outputMode("append").start()
    try {
      // batch 1: rows through the run break + a watermark push — the
      // first match emits and the buffer evicts down to context
      mem.addData((mr.filter(_.ts.getTime <= ts(3).getTime) :+ flush1): _*)
      q.processAllAvailable()
      mem.addData(mr.filterNot(_.ts.getTime <= ts(3).getTime): _*)
      q.processAllAvailable()
      flush2.foreach { e => mem.addData(e); q.processAllAvailable() }
      val streaming = spark.table("mr_prev")
        .orderBy("user_id", "start_ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getDouble(3))).toSeq
      val batch = graft.dialect.MatchRecognize.run(
          ((mr :+ flush1) ++ flush2).toDF(),
          graft.dialect.MatchRecognize.parseClause(clause))
        .orderBy("user_id", "start_ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(streaming.nonEmpty && streaming == batch,
        s"$streaming vs $batch")
      // user 1: the 1<2<3 run, then the 0.5<2<5 run; user 2: none
      assert(streaming.map(_._1) == Seq(1L, 1L))
      assert(streaming.map(_._3) == Seq(2L, 2L)) // A + one-or-more B
      assert(streaming.map(_._4) == Seq(3.0, 5.0))
    } finally q.stop()
  }

  test("streaming JSON_TABLE (NESTED PATH) equals the batch rewrite") {
    // the rewrite output is a pure Generate chain (stateless, no
    // aggregation), so it runs unchanged on a streaming source in
    // append mode — JSON shredding is exactly the kind of per-row
    // transform an ingest stream does at scale
    implicit val sqlCtx = spark.sqlContext
    def shred(view: String) = graft.dialect.TrinoFunctions.preprocess(
      s"""SELECT jt.id, jt.v, jt.t FROM $view, JSON_TABLE(j, '$$' COLUMNS(
         |  id bigint PATH '$$.id',
         |  NESTED PATH '$$.xs[*]' COLUMNS(v bigint PATH '$$'),
         |  NESTED PATH '$$.ts[*]' COLUMNS(t varchar PATH '$$'))) jt"""
        .stripMargin)
    val data = Seq(
      """{"id": 1, "xs": [10, 11], "ts": ["a"]}""",
      """{"id": 2, "xs": []}""",
      """{"id": 3}""")
    val mem = MemoryStream[String]
    mem.toDF().withColumnRenamed("value", "j")
      .createOrReplaceTempView("jt_stream_src")
    val q = spark.sql(shred("jt_stream_src")).writeStream
      .format("memory").queryName("jt_stream").outputMode("append").start()
    try {
      mem.addData(data.head)
      q.processAllAvailable()
      mem.addData(data.tail: _*)
      q.processAllAvailable()
      def norm(r: org.apache.spark.sql.Row) =
        (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))
      val streaming = spark.table("jt_stream").collect().map(norm)
        .sortBy(_.toString).toSeq
      data.toDF("j").createOrReplaceTempView("jt_batch_src")
      val batch = spark.sql(shred("jt_batch_src")).collect().map(norm)
        .sortBy(_.toString).toSeq
      assert(streaming == batch, s"$streaming vs $batch")
      // id 1: two xs rows UNION one ts row; ids 2, 3: the OUTER row
      assert(streaming.length == 5)
    } finally q.stop()
  }
}
