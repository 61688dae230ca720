package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream (SURVEY.md §1
  * "Streams" extension path; the reference itself has no streaming — it
  * blocks writes and delegates batch SQL — so this is the engine
  * extension a Spark-native deployment gets for free).
  *
  * The batch equivalents (`time_tumbling_agg`, `time_sessionize_gaps`,
  * SURVEY §2b rows 54-55) are the DuckDB-oracle-checked semantics;
  * StreamsSpec asserts the streaming results CONVERGE to the batch
  * answers on the same rows — watermarks + incremental state must not
  * change the math.
  *
  * 100 TB posture: all state is keyed and bounded — tumbling windows
  * expire by watermark, sessions time out by event-time gap; no
  * unbounded driver or executor state.
  */
object Streams {

  /** Event row shape of the testdata `events` table. */
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Closed session summary emitted by [[sessionizeWithState]]. */
  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, session_value: Double)

  /** Open-session state carried between micro-batches (public: the
    * product encoder's generated code must reach the constructor). */
  final case class SessionState(start: Timestamp, last: Timestamp,
      nEvents: Long, total: Double)

  /** A joined trade row emitted by [[asofJoinStream]]. */
  final case class AsofRow(user_id: Long, event_id: Long, ts: Timestamp,
      value: Double, q_ts: Option[Timestamp], q_value: Option[Double])

  /** Latest-quote state carried between micro-batches. */
  final case class QuoteState(tsMillis: Long, eventId: Long, value: Double)

  /** Streaming tumbling 1-hour aggregation — the same
    * window()/count/sum plan the batch query uses, plus a watermark so
    * state expires (late rows beyond `watermark` are dropped). */
  def tumblingAgg(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Session windows via the built-in session_window (30-min gap) —
    * Spark merges overlapping per-event windows; watermark closes them. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming exact dedup — the streaming face of Dedup.exact: the
    * first arrival per key is kept, later duplicates are dropped, and
    * dropDuplicatesWithinWatermark bounds the key state to the
    * watermark horizon (a plain dropDuplicates would grow state
    * forever on an unbounded stream — the classic streaming-dedup
    * failure at scale). Exactly-once per key holds for duplicates
    * arriving within the watermark of the first occurrence — the
    * guarantee an at-least-once ingest pipeline needs. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** URL-keyed dedup on an ingest stream: canonicalize the crawl URL
    * ([[graft.ops.UrlOps.canonicalize]] — stateless projection), then
    * keep the first arrival per canonical URL within the watermark
    * horizon (bounded state, same contract as [[dedupStream]]). The
    * crawl-frontier shape: re-fetches of the same page arrive minutes
    * apart under cosmetically different URLs and must collapse to one
    * document. */
  def urlDedupStream(docs: DataFrame, urlCol: String = "url",
      tsCol: String = "ts", watermark: String = "2 hours"): DataFrame =
    docs
      .withColumn("canonical_url", graft.ops.UrlOps.canonicalize(col(urlCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("canonical_url"))

  /** Score a document stream with a batch-trained char-bigram LM —
    * the train-offline / score-online split of a production quality
    * filter: the model (≤ alphabet² entries, from
    * `TextAnalysis.charLmModel(...).collect()`) is baked into a native
    * expression, so scoring is a stateless per-row projection (append
    * mode, no streaming aggregation state) that replays the batch
    * scorer's exact arithmetic — streaming output equals
    * `TextAnalysis.charLmScore` bit for bit on the same documents. */
  def charLmScoreStream(docs: DataFrame, model: Map[String, Double],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .filter(length(col(textCol)) >= 2)
      .select(col(idCol),
        graft.functions.NativeExprs.bigramAvgScore(col(textCol), model).as("graft_s"))
      .filter(col("graft_s.n_pairs") > 0)
      .select(col(idCol), col("graft_s.n_pairs").as("n_pairs"),
        col("graft_s.avg_p").as("avg_p"))

  /** Streaming ingest-time quality gate on the compression-ratio
    * signal (Gopher's compressibility proxy, the native
    * [[graft.functions.NativeExprs.DeflateRatio]] expression): drop
    * too-short docs, then docs whose DEFLATE ratio falls outside
    * [minRatio, maxRatio] — near-zero means machine-repetition
    * boilerplate, far above 1 means incompressible noise. Stateless
    * per-row projection + filter (append mode, no streaming state);
    * replays the batch filter bit-exactly — same expression, same
    * zlib level. */
  def qualityGateStream(docs: DataFrame, minRatio: Double = 0.35,
      maxRatio: Double = 1.1, minChars: Int = 50,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .filter(length(col(textCol)) >= minChars)
      .select(col(idCol),
        graft.functions.NativeExprs.deflateRatio(col(textCol)).as("ratio"))
      .filter(col("ratio") >= minRatio && col("ratio") <= maxRatio)

  /** Streaming vocabulary-diversity gate — the online face of
    * [[graft.ops.TextAnalysis.unigramEntropy]]: drop documents whose
    * unigram entropy falls below `minEntropy` (one token looping =
    * entropy ~0 — SEO spam, boilerplate). The kernel is a stateless
    * per-row projection (append mode, no streaming state, no
    * watermark), so the gate replays the batch operator bit-exactly —
    * same kernel, same doubles (parity pinned in StreamsSpec). */
  def entropyGateStream(docs: DataFrame, minEntropy: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.ops.TextAnalysis.unigramEntropy(docs, idCol, textCol)
      .filter(col("entropy") >= minEntropy)

  /** Stream query vectors against a PERSISTED IVF index
    * ([[graft.ops.Similarity.buildIvfIndex]]) — the online ANN serving
    * face: each query's nProbe nearest cells are a pure projection
    * over the driver-held centroid table (array literal; same
    * cosine-then-lowest-id ordering as the batch probe), then ONE
    * stream-static join against the index's cell assignments and a
    * cosine threshold. Stateless append — a per-query top-k would
    * need ranking state, so the serving shape is the thresholded
    * candidate set (rank downstream). The final score is the same
    * `dot / sqrt(dd·dd)` expression the batch probe emits, so
    * candidates match [[graft.ops.Similarity.ivfTopKIndexed]] bit for
    * bit. Emits (query_id, index_id, cos_sim). */
  def ivfProbeStream(queries: DataFrame, indexPath: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nProbe: Int = 2, minCos: Double = 0.3): DataFrame = {
    val spark = queries.sparkSession
    import graft.ops.Similarity.dot
    val cents = spark.read.parquet(s"$indexPath/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val centLit = typedLit(cents.toSeq) // array<struct<_1: id, _2: vec>>
    // nProbe nearest cells: array_sort on struct(-cos, cent_id) is
    // ascending lexicographic = cosine desc, then lowest centroid id —
    // the batch probe's exact ordering (driverCos + sortBy(-cos, id))
    val qnorm = sqrt(dot(col("q_vec"), col("q_vec")))
    val scoredCents = transform(centLit, c => struct(
      (-(dot(col("q_vec"), c.getField("_2")) /
        (qnorm * sqrt(dot(c.getField("_2"), c.getField("_2")))))).as("neg_cos"),
      c.getField("_1").as("cid")))
    val probed = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("cell_id", explode(transform(
        slice(array_sort(scoredCents), 1, nProbe), s => s.getField("cid"))))
    val cells = spark.read.parquet(s"$indexPath/cells")
      .select(col("cell_id"), col(idCol).as("index_id"),
        col(vecCol).as("idx_vec"))
    probed
      .join(cells, Seq("cell_id"))
      .withColumn("cos_sim", dot(col("q_vec"), col("idx_vec")) /
        sqrt(dot(col("q_vec"), col("q_vec")) * dot(col("idx_vec"), col("idx_vec"))))
      .filter(col("cos_sim") >= minCos && col("query_id") =!= col("index_id"))
      .select(col("query_id"), col("index_id"), col("cos_sim"))
  }

  /** Streaming SemDeDup gate (the online face of
    * [[graft.ops.Similarity.semDeDupMd5]], same train-offline /
    * gate-online split as the minhash/IVF probes): each incoming vector
    * is assigned to its nearest persisted-index centroid (model-sized
    * literal — stateless projection), then compared against ONLY that
    * cell's indexed members via the partition-pruned cells table; an
    * above-threshold cosine to any standing member marks it a semantic
    * duplicate. Emits (query_id, cell_id, max_sim, is_dup) per input
    * row — append mode, no streaming aggregation state beyond the
    * per-row groupBy of a bounded candidate set. Pair cost scales with
    * the BATCH × cell size, never the standing corpus. */
  def semDedupGateStream(newVecs: DataFrame, indexPath: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.4): DataFrame = {
    val spark = newVecs.sparkSession
    import graft.ops.Similarity.dot
    val cents = spark.read.parquet(s"$indexPath/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val centLit = typedLit(cents.toSeq)
    val qnorm = sqrt(dot(col("q_vec"), col("q_vec")))
    // nearest cell: ascending sort on struct(-cos, cent_id) = cosine
    // desc then lowest id — the batch assignment's exact ordering
    val scoredCents = transform(centLit, c => struct(
      (-(dot(col("q_vec"), c.getField("_2")) /
        (qnorm * sqrt(dot(c.getField("_2"), c.getField("_2")))))).as("neg_cos"),
      c.getField("_1").as("cid")))
    val assigned = newVecs
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("cell_id",
        element_at(array_sort(scoredCents), 1).getField("cid"))
    val cells = spark.read.parquet(s"$indexPath/cells")
      .select(col("cell_id").as("c_cell"), col(idCol).as("index_id"),
        col(vecCol).as("idx_vec"))
    // append-safe gate: stream-static SEMI join marks dups, ANTI the
    // rest — no streaming aggregation state at all (a groupBy-max
    // would demand update mode + per-query state)
    val dupCond = col("cell_id") === col("c_cell") &&
      col("index_id") =!= col("query_id") &&
      (dot(col("q_vec"), col("idx_vec")) /
        (sqrt(dot(col("q_vec"), col("q_vec"))) *
          sqrt(dot(col("idx_vec"), col("idx_vec"))))) >= threshold
    assigned.join(cells, dupCond, "left_semi")
      .withColumn("is_dup", lit(true))
      .unionByName(
        assigned.join(cells, dupCond, "left_anti")
          .withColumn("is_dup", lit(false)))
      .select(col("query_id"), col("cell_id"), col("is_dup"))
  }

  /** Score a document stream with batch-trained DSIR importance
    * weights — the train-offline / score-online split of a data-mixing
    * gate: the quantized per-bucket ratio table (`buckets` longs, from
    * [[graft.ops.TextAnalysis.dsirModelQ]]) is baked in as a dense
    * array literal, so scoring is a stateless per-row projection
    * (append mode, no streaming aggregation state): features →
    * O(1)-indexed bucket lookup → exact long sum. A stream document
    * whose buckets all exist in the training corpus scores
    * bit-identically to the batch `dsirWeights`; novel buckets take
    * the smoothing-only default the table carries. */
  def dsirScoreStream(docs: DataFrame, modelQ: Array[Long],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol),
        graft.functions.NativeExprs.dsirSumQ(col(textCol), modelQ.toSeq)
          .as("graft_s"))
      .filter(col("graft_s.n_features") > 0)
      .select(col(idCol),
        col("graft_s.n_features").as("n_features"),
        col("graft_s.sum_q").as("sum_q"),
        (col("graft_s.sum_q").cast("double") /
          col("graft_s.n_features").cast("double") / lit(1e12)).as("weight"))

  /** Tokenize a document stream with a batch-trained BPE merge table —
    * the train-offline / encode-online split of a production tokenizer
    * deployment. The merge table (model-sized, from
    * `TextAnalysis.bpeTrain(...).collect()`) is baked into the native
    * [[graft.functions.NativeExprs.BpeEncodeWords]] expression, so
    * encoding is a stateless per-row projection (append mode, no
    * streaming state) that replays the batch query's exact token
    * counts and encoded-word streams. */
  def bpeEncodeStream(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol),
        graft.functions.NativeExprs.bpeEncodeWords(lower(col(textCol)), merges)
          .as("enc"))
      .select(col(idCol), concat_ws("|", col("enc")).as("j"), col("enc"))
      .select(col(idCol),
        (((length(col("j")) - length(expr("replace(j, '><', '')"))) / 2)
          + size(col("enc"))).cast("long").as("n_tokens"),
        col("enc"))

  /** Streaming BM25 scoring gate — the online face of the persisted
    * retrieval index ([[graft.ops.Retrieval]]), same train-offline /
    * score-online split as the DSIR/BPE/minhash gates: incoming
    * documents are scored against the STANDING corpus's statistics
    * (idf per query term, N, total tokens — read once from the index,
    * model-sized, baked in as literals), so scoring is a stateless
    * per-row projection (append mode, no streaming state). A streamed
    * document scores bit-identically to the batch ad-hoc scan over the
    * indexed corpus (the idf literal is computed by the SAME
    * `bm25Idf`/`detLn` expression, and the per-row counters and score
    * algebra are the shared `bm25CounterProj`/`bm25ScoreCols`); query
    * terms absent from the standing corpus take the natural df=0 idf.
    */
  def bm25ScoreStream(docs: DataFrame, indexPath: String,
      queryTerms: Seq[String], idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25ScoreStream: query terms must be non-empty")
    val spark = docs.sparkSession
    import graft.ops.TextAnalysis
    val (n, t) = graft.ops.Retrieval.readCorpusStats(spark, indexPath)
    val dfMap = spark.read.parquet(s"$indexPath/terms")
      .filter(col("tok").isin(queryTerms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // idf through the same expression tree as batch — evaluated once
    // over a |Q|-row local relation, then carried as double literals
    val idfMap = {
      import spark.implicits._
      queryTerms.map(tm => (tm, dfMap.getOrElse(tm, 0L))).toDF("tok", "df")
        .select(col("tok"), TextAnalysis.bm25Idf(lit(n), col("df")).as("idf"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    val (nTerms, bm25) = TextAnalysis.bm25ScoreCols(queryTerms,
      term => lit(idfMap(term)), lit(n), lit(t))
    TextAnalysis.bm25CounterProj(docs, idCol, textCol, queryTerms)
      .select(col(idCol), nTerms.as("n_terms"), bm25.as("bm25"))
      .filter(col("n_terms") > 0)
  }

  /** Custom sessionization with explicit keyed state
    * (flatMapGroupsWithState): per-user open-session state, event-time
    * timeout at `gapSeconds` past the watermark, emitting one closed
    * [[Session]] per quiet period. The state machine mirrors the batch
    * gaps-and-islands query's session boundaries. */
  def sessionizeWithState(events: Dataset[Event],
      gapSeconds: Long = 1800L): Dataset[Session] = {
    import events.sparkSession.implicits._

    def fold(st: Option[SessionState], evs: Seq[Event]): (Seq[Session], Option[SessionState]) = {
      var state = st
      val closed = Seq.newBuilder[Session]
      evs.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        state match {
          case Some(s) if e.ts.getTime - s.last.getTime <= gapSeconds * 1000L =>
            state = Some(s.copy(last = e.ts, nEvents = s.nEvents + 1, total = s.total + e.value))
          case Some(s) =>
            closed += Session(e.user_id, s.start, s.last, s.nEvents, s.total)
            state = Some(SessionState(e.ts, e.ts, 1L, e.value))
          case None =>
            state = Some(SessionState(e.ts, e.ts, 1L, e.value))
        }
      }
      (closed.result(), state)
    }

    events.withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user, s.start, s.last, s.nEvents, s.total))
          } else {
            val (closed, next) = fold(state.getOption, rows.toSeq)
            next.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last.getTime + gapSeconds * 1000L)
            }
            closed.iterator
          }
      }
  }

  /** Streaming as-of (temporal) join — the incremental face of
    * ops/AsofJoin: each `leftType` event joins the latest same-user
    * `rightType` event at-or-before it (inclusive, larger event_id wins
    * a timestamp tie — the exact batch semantics).
    *
    * Keyed state is ONE latest-quote record per user (O(1) per key,
    * watermark-independent), updated and probed in (ts, side) order
    * within each micro-batch. This is the low-latency temporal-join
    * contract: results match the batch operator whenever each key's
    * events arrive in event-time order ACROSS micro-batches (in-batch
    * disorder is sorted out); a right row arriving after a later left
    * row was already emitted cannot retro-join it — buffering left rows
    * until the watermark would buy that at a latency cost, which is the
    * same trade Flink's temporal join makes. */
  def asofJoinStream(events: Dataset[Event], leftType: String,
      rightType: String): Dataset[AsofRow] = {
    import events.sparkSession.implicits._

    events.withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[QuoteState, AsofRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[QuoteState]) =>
          // quotes sort before trades at an equal ts → inclusive join
          val ordered = rows.toSeq.sortBy(e =>
            (e.ts.getTime, if (e.event_type == rightType) 0 else 1, e.event_id))
          var st = state.getOption
          val out = Seq.newBuilder[AsofRow]
          ordered.foreach { e =>
            if (e.event_type == rightType) {
              if (st.forall(s => e.ts.getTime > s.tsMillis ||
                  (e.ts.getTime == s.tsMillis && e.event_id > s.eventId)))
                st = Some(QuoteState(e.ts.getTime, e.event_id, e.value))
            } else if (e.event_type == leftType) {
              val q = st.filter(_.tsMillis <= e.ts.getTime)
              out += AsofRow(user, e.event_id, e.ts, e.value,
                q.map(s => new Timestamp(s.tsMillis)), q.map(_.value))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming near-dup ingestion — the online face of
    * [[graft.ops.Dedup.probeMinhashIndex]]: each micro-batch of new
    * documents computes its own MinHash bands (stateless projections),
    * STREAM-STATIC joins the persisted band index (written
    * `partitionBy(band)` by `buildMinhashIndex` — the static side
    * streams from parquet with partition pruning on the join key), and
    * verifies exact shingle Jaccard against the index's shingle table.
    * Per-trigger cost scales with the BATCH and bucket collisions,
    * never the standing corpus — the same bound as the batch probe.
    *
    * Append mode, no streaming aggregation; the only state is the
    * (new_id, index_id) pair-dedup (a doc matching an index doc through
    * several bands must emit once). That state grows with distinct
    * emitted pairs — production ingest should add an event-time column
    * and `withWatermark` to bound it; the testdata documents carry no
    * timestamp, so the operator leaves that to the caller. */
  def minhashProbeStream(newDocs: DataFrame, indexPath: String,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      jaccardThreshold: Double = 0.5): DataFrame = {
    val spark = newDocs.sparkSession
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    // shingles CARRIED through the band explode: re-attaching them via a
    // join would be stream-stream (both sides derive from the stream);
    // carrying keeps the probe side pure projections, so the only joins
    // are stream-static
    val newBanded = newDocs
      .select(col(idCol).as("new_id"),
        graft.ops.TextAnalysis.shingleHashes(col(textCol), k).as("sh_a"))
      .select(col("new_id"), col("sh_a"),
        graft.ops.Dedup.minHashSignature(col("sh_a"), numHashes).as("sig"))
      .select(col("new_id"), col("sh_a"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
    val idxBanded = spark.read.parquet(s"$indexPath/bands")
    val idxShingled = spark.read.parquet(s"$indexPath/shingles")
    newBanded
      .join(idxBanded.select(col("band"), col("band_hash"),
        col("id").as("index_id")), Seq("band", "band_hash"))
      .select(col("new_id"), col("index_id"), col("sh_a"))
      .dropDuplicates("new_id", "index_id")
      .join(idxShingled.select(col("id").as("index_id"), col("shingles").as("sh_b")),
        Seq("index_id"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("new_id"), col("index_id"), col("jaccard"))
  }

  /** One buffered row for [[matchRecognizeRows]]: event time, tiebreak
    * id, and the row's values — the input columns, then one DEFINE flag
    * per pattern variable (Spark external types, all Serializable). */
  final case class MrRowV(tsMillis: Long, eventId: Long, vals: Seq[Any])

  /** Per-user state for [[matchRecognizeRows]]. The first `ctxRows`
    * buffered rows are CONTEXT — already matched or dead, retained only
    * so PREV at a live attempt's start can read its true predecessors;
    * attempts never start inside them. */
  final case class MrStateV(rows: Seq[MrRowV], matchNo: Long,
      ctxRows: Int = 0)

  /** Streaming MATCH_RECOGNIZE — the CEP face of
    * [[graft.dialect.MatchRecognize]] (what Flink calls CEP / pattern
    * streams; Trino and Spark have no streaming row-pattern surface at
    * all). Same clause grammar, and the same scan, DEFINE evaluation and
    * measure emission as the batch operator
    * ([[graft.dialect.MatchRecognize.GroupMatcher]]), so the two faces
    * cannot drift: DEFINEs and MEASURES in the one expression language
    * ([[graft.dialect.MatchRecognize.compile]]); ONE ROW and ALL ROWS PER MATCH
    * (WITH UNMATCHED ROWS too); every AFTER MATCH SKIP mode (each
    * resumes strictly after the match START, so an emitted start is
    * final and the retention rule holds under overlap). Cross-variable
    * DEFINEs (`DEFINE C AS price <= A.price`), running aggregates and
    * FIRST/LAST navigation are re-tested under each hypothesis' own
    * assignment, as in batch. PREV (any depth, simple or composite
    * argument, nested under FIRST/LAST) works in DEFINE: the state
    * buffer IS the ordered partition prefix, so PREV(x, n) at buffer
    * row j reads row j-n — the batch matcher's own rule over its group.
    * NEXT stays rejected: its target row may not have arrived.
    * Restricted to `PARTITION BY user_id ORDER BY ts[, event_id]`
    * ascending, without anchors, exclusions or patterns that can match
    * empty; output = user_id + the measures (ONE ROW) or every input
    * column + the measures (ALL ROWS), schema derived at plan time.
    *
    * `horizonSeconds` is the CEP `within` contract (Flink's
    * `Pattern.within`): a match must COMPLETE within the horizon of
    * its first row's event time. That is what makes unbounded
    * quantifiers decidable on an unbounded stream — a trailing `B+`
    * can always be extended by one more future row, so without a
    * horizon no greedy match could ever be emitted.
    *
    * Emission discipline (correctness under any micro-batch slicing,
    * pinned by the batch-convergence tests in StreamsSpec):
    *  - rows are buffered per user and processed in (ts, event_id)
    *    order; only rows at or below the WATERMARK are matched
    *    (later-arriving rows above it would change positions);
    *  - an attempt that PROBED the sealed boundary — succeeded or
    *    failed — stays pending until the watermark passes its start's
    *    horizon (a future row could extend or alter the preferred
    *    match); an attempt decided strictly inside sealed rows emits
    *    immediately;
    *  - consumed and dead rows are dropped from state on every call,
    *    except the deepest PREV step's worth of CONTEXT rows behind the
    *    first live attempt; a user whose buffer drains is dropped
    *    entirely (match_number then restarts, as bounded state over
    *    unbounded keys requires), and an event-time timeout re-wakes the
    *    group when the oldest pending window seals, so matches resolve
    *    without new traffic.
    *
    * State bound: rows within one horizon per user (values included) —
    * Flink CEP's bound. */
  def matchRecognizeRows(events: Dataset[Event], clause: String,
      horizonSeconds: Long = 3600L, watermark: String = "2 hours"): DataFrame = {
    import graft.dialect.MatchRecognize
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spec = MatchRecognize.parseClause(clause)
    require(spec.partitionBy == Seq("user_id") &&
      spec.orderBy.headOption.contains("ts"),
      "matchRecognizeRows: PARTITION BY user_id ORDER BY ts[, event_id] required")
    require(spec.orderDirs.forall(_._1),
      "matchRecognizeRows: descending ORDER BY is not available over " +
        "a stream (event time only moves forward)")
    require(!spec.hasAnchor && !spec.hasExclusion,
      "matchRecognizeRows: ^/$ anchors and {- -} exclusions are not " +
        "available over a stream (no partition end exists)")
    require(!MatchRecognize.nullable(spec.pattern),
      "matchRecognizeRows: patterns that can match empty are not " +
        "available over a stream")
    val df = events.toDF()
    val inSchema = df.schema
    val vars = spec.vars
    // the batch compiler, with no window: a DEFINE that reads any row
    // but the current one evaluates in the matcher, PREV over the
    // buffered rows
    val compiled = MatchRecognize.compile(df.sparkSession, spec, inSchema, windows = false)
    val program = compiled.program
    program.preds.foreach { case (v, e) =>
      require(program.locsOf(e).forall(_.step <= 0),
        s"matchRecognizeRows: DEFINE $v uses NEXT — forward physical " +
          "navigation is not available over a stream (the target row " +
          "may not have arrived); PREV is supported")
    }
    spec.measures.zip(program.measures).foreach { case (m, e) =>
      require(program.locsOf(e).forall(l => l.step == 0 && !l.isInstanceOf[MatchRecognize.AtRow]),
        s"matchRecognizeRows: measure ${m.alias} uses PREV/NEXT — " +
          "physical navigation is not available over a stream")
    }
    // Deepest PREV step across the DEFINEs: the state keeps this many
    // CONTEXT rows behind the first live attempt so a PREV at an
    // attempt's start still reads its true predecessors after eviction.
    val maxPrevDepth =
      (0 +: program.preds.values.toSeq.flatMap(program.locsOf).map(-_.step)).max
    val uidIdx = inSchema.fieldIndex("user_id")
    // ONE ROW = partition key + measures; ALL ROWS = every input
    // column + measures (the batch output contract)
    val (outSchema, outIdx) =
      if (spec.allRows) (StructType(inSchema.fields ++ compiled.fields), inSchema.indices)
      else (StructType(StructField("user_id", LongType, nullable = false) +: compiled.fields),
        Seq(uidIdx))
    val prepared = MatchRecognize.withFlags(
      df.withWatermark("ts", watermark), vars, compiled.flags)
    val matcher = new MatchRecognize.GroupMatcher(spec, outIdx,
      MatchRecognize.flagIdx(vars, prepared.schema), program, prepared.schema.length)
    val horizonMs = horizonSeconds * 1000L
    val tsIdx = inSchema.fieldIndex("ts")
    val eidIdx = inSchema.fieldIndex("event_id")
    implicit val stateEnc: org.apache.spark.sql.Encoder[MrStateV] =
      Encoders.javaSerialization[MrStateV]
    implicit val outEnc: org.apache.spark.sql.Encoder[Row] = Encoders.row(outSchema)

    prepared
      .groupByKey(_.getLong(uidIdx))(Encoders.scalaLong)
      .flatMapGroupsWithState[MrStateV, Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[Row], state: GroupState[MrStateV]) =>
          val st = state.getOption.getOrElse(MrStateV(Vector.empty, 1L))
          // context rows are the oldest (sealed below any prior
          // watermark), so they stay a sorted prefix when rows append
          val buf = (st.rows.toVector ++ rows.map(r => MrRowV(
              r.getTimestamp(tsIdx).getTime, r.getLong(eidIdx), r.toSeq)))
            .sortBy(r => (r.tsMillis, r.eventId))
          val wm = state.getCurrentWatermarkMs()
          // an attempt reads the sealed rows within its start's
          // horizon; once the watermark passes the horizon, no later
          // row can join it
          def bound(i: Int): (Int, Boolean) = {
            val horizonEnd = buf(i).tsMillis + horizonMs
            val limitTs = math.min(wm, horizonEnd)
            var b = i
            while (b < buf.length && buf(b).tsMillis <= limitTs) b += 1
            (b, wm >= horizonEnd)
          }
          val out = Seq.newBuilder[Row]
          val (keepFrom, matchNo) = matcher.scan(
            buf.iterator.map(r => Row.fromSeq(r.vals)).toArray,
            st.ctxRows, st.matchNo, bound, r => out += r)
          val retainFrom = math.max(0, keepFrom - maxPrevDepth)
          val kept = buf.drop(retainFrom)
          if (kept.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(MrStateV(kept, matchNo, keepFrom - retainFrom))
            // re-wake when the oldest pending window seals (the timeout
            // must sit strictly above the current watermark); context
            // alone has no pending work and needs no wake-up
            if (keepFrom < buf.length)
              state.setTimeoutTimestamp(
                math.max(buf(keepFrom).tsMillis + horizonMs + 1L, wm + 1L))
          }
          out.result().iterator
      }
  }
}
