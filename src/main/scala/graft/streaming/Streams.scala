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

  /** A pattern match emitted by [[matchRecognizeStream]]. */
  final case class MrMatch(user_id: Long, start_ts: Timestamp,
      end_ts: Timestamp, n_rows: Long, match_number: Long)

  /** One buffered row: event time, tiebreak id, DEFINE flags in
    * pattern-variable order. */
  final case class MrRow(tsMillis: Long, eventId: Long, flags: Seq[Boolean])

  /** Per-user CEP state: the sorted row buffer + the match counter. */
  final case class MrState(rows: Seq[MrRow], matchNo: Long)

  /** Streaming MATCH_RECOGNIZE — the CEP face of
    * [[graft.dialect.MatchRecognize]] (what Flink calls CEP / pattern
    * streams; Trino and Spark have no streaming row-pattern surface at
    * all). Same clause grammar, same backtracking engine
    * (`MatchRecognize.matchFlags` — the batch and streaming faces
    * share the matcher), restricted to the streaming-meaningful form:
    * `PARTITION BY user_id ORDER BY ts[, event_id]`, ONE ROW PER
    * MATCH, every AFTER MATCH SKIP mode (PAST LAST ROW / TO NEXT ROW /
    * TO [FIRST|LAST] var — all resume strictly after the match START
    * via the shared MatchRecognize.resumeIndex, so an emitted start is
    * final and the retention rule is unchanged under overlap), DEFINE
    * without PREV (lag needs a window — carry a previous-value column
    * upstream if needed).
    *
    * `horizonSeconds` is the CEP `within` contract (Flink's
    * `Pattern.within`): a match must COMPLETE within the horizon of
    * its first row's event time. That is what makes unbounded
    * quantifiers decidable on an unbounded stream — a trailing `B+`
    * can always be extended by one more future row, so without a
    * horizon no greedy match could ever be emitted.
    *
    * Emission discipline (correctness under any micro-batch slicing,
    * pinned by the batch-convergence test in StreamsSpec):
    *  - rows are buffered per user and processed in (ts, event_id)
    *    order; only rows at or below the WATERMARK are matched
    *    (later-arriving rows above it would change positions);
    *  - an attempt that PROBED the sealed boundary — succeeded or
    *    failed — stays pending until the watermark passes its start's
    *    horizon (a future row could extend or alter the preferred
    *    match); an attempt decided strictly inside sealed rows emits
    *    immediately;
    *  - consumed and dead rows are dropped from state on every call;
    *    an event-time timeout re-wakes the group when the oldest
    *    pending window seals, so matches resolve without new traffic.
    *
    * State bound: rows within one horizon per user — the same bound
    * Flink CEP keeps. */
  def matchRecognizeStream(events: Dataset[Event], clause: String,
      horizonSeconds: Long = 3600L, watermark: String = "2 hours"): Dataset[MrMatch] = {
    import events.sparkSession.implicits._
    import graft.dialect.MatchRecognize
    val spec = MatchRecognize.parseClause(clause)
    require(spec.partitionBy == Seq("user_id") &&
      spec.orderBy.headOption.contains("ts"),
      "matchRecognizeStream: PARTITION BY user_id ORDER BY ts[, event_id] required")
    require(spec.orderDirs.forall(_._1),
      "matchRecognizeStream: descending ORDER BY is not available over " +
        "a stream (event time only moves forward)")
    require(!spec.allRows,
      "matchRecognizeStream: ONE ROW PER MATCH only")
    // every AFTER MATCH SKIP mode is available: resumeIndex (shared
    // with the batch iterator) always advances past the match START,
    // so the buffer-retention rule (drop rows before the first
    // undecided attempt index) holds for the overlapping modes too —
    // later matches only extend FORWARD from their own start row.
    val skipMode = spec.skip
    val streamSubsets = spec.subsets.toMap
    def streamMembersOf(v: String): Seq[String] =
      streamSubsets.collectFirst {
        case (k, ms) if k.equalsIgnoreCase(v) => ms
      }.getOrElse(Seq(v))
    require(!spec.defines.exists(d => d._2.toUpperCase.contains("PREV") ||
        d._2.toUpperCase.contains("NEXT")),
      "matchRecognizeStream: PREV/NEXT are not available on the " +
        "flags-only face (state keeps booleans, not values) — use " +
        "matchRecognizeRows, whose buffered values serve PREV directly")
    // the batch planner routes these to the interpreted matcher, which
    // needs row VALUES — the stream's state keeps only boolean flags,
    // so reject with the same clear message style as the other limits
    // (otherwise expr() would die later on an opaque AnalysisException
    // about aggregates in a row-level projection)
    spec.defines.foreach { case (v, pred) =>
      require(!graft.dialect.MrPredicate.needsInterpreter(pred,
          spec.vars.filterNot(_.equalsIgnoreCase(v)) ++ spec.subsets.map(_._1)),
        s"matchRecognizeStream: DEFINE $v uses cross-variable references, " +
          "FIRST/LAST navigation, or aggregates — not available over a " +
          "stream (state keeps flags, not row values)")
    }
    require(!spec.hasAnchor && !spec.hasExclusion,
      "matchRecognizeStream: ^/$ anchors and {- -} exclusions are not " +
        "available over a stream (no partition end exists)")
    require(!MatchRecognize.nullable(spec.pattern),
      "matchRecognizeStream: patterns that can match empty are not " +
        "available over a stream (every row would host an empty match, " +
        "and the buffer-advance logic assumes progress)")
    // the output shape is the FIXED MrMatch record (start/end ts, row
    // count, match number) — validate that the clause's MEASURES stay
    // inside that set instead of silently ignoring them: a caller
    // writing MEASURES COUNT(B.*) AS n would otherwise get the total
    // match row count as n_rows with no warning
    spec.measures.foreach { m =>
      import graft.dialect.MatchRecognize._
      val ok = m.kind match {
        case MFirst | MLast => m.colName.equalsIgnoreCase("ts") && m.offset == 0
        case MCountStar | MMatchNumber => true
        case _ => false
      }
      require(ok, "matchRecognizeStream emits the fixed MrMatch shape; " +
        "MEASURES must be FIRST/LAST of the order column ts, COUNT(*), " +
        s"or MATCH_NUMBER() (got: ${m.alias} = ${m.kind} " +
        s"${if (m.varName.nonEmpty) m.varName + "." else ""}${m.colName})")
    }
    val vars = spec.vars
    val pattern = spec.pattern
    val horizonMs = horizonSeconds * 1000L
    // DEFINE flags as Catalyst projections, exactly like the batch
    // planner (own qualifier stripped, cross-variable references
    // rejected — MatchRecognize.rewriteDefinePred) — the matcher
    // consumes booleans
    val defMap = spec.defines.map { case (v, pred0) =>
      (v, MatchRecognize.rewriteDefinePred(v, pred0, vars))
    }.toMap
    val flagCols = vars.map(v =>
      coalesce(defMap.get(v).map(p => expr(p).cast("boolean"))
        .getOrElse(lit(true)), lit(false)))
    val prepared = events.toDF()
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("event_id"),
        array(flagCols: _*).as("flags"))
      .as[(Long, Timestamp, Long, Seq[Boolean])]

    // one user's buffer against the current watermark → emissions,
    // surviving buffer, and the wake-up time of the oldest pending row
    def advance(buf0: Vector[MrRow], matchNo0: Long, wm: Long)
        : (Seq[MrMatch], Vector[MrRow], Long, Long) = {
      val buf = buf0.sortBy(r => (r.tsMillis, r.eventId))
      val flagAt = (i: Int, v: String) => buf(i).flags(vars.indexOf(v))
      val out = Seq.newBuilder[MrMatch]
      var matchNo = matchNo0
      var i = 0
      var pending = -1
      while (i < buf.length && pending < 0) {
        if (buf(i).tsMillis > wm) pending = i // unsealed start: wait
        else {
          val horizonEnd = buf(i).tsMillis + horizonMs
          val limitTs = math.min(wm, horizonEnd)
          val windowSealed = wm >= horizonEnd
          var b = i
          while (b < buf.length && buf(b).tsMillis <= limitTs) b += 1
          var hitBoundary = false
          val m = MatchRecognize.matchFlags(pattern, b + 1,
            (j, v) => if (j >= b) { hitBoundary = true; false }
                      else flagAt(j, v), i)
          val decided = windowSealed || !hitBoundary
          if (m != null && decided) {
            out += MrMatch(0L, new Timestamp(buf(i).tsMillis),
              new Timestamp(buf(m._1 - 1).tsMillis),
              (m._1 - i).toLong, matchNo)
            matchNo += 1
            i = MatchRecognize.resumeIndex(skipMode, i, m._1, m._2,
              streamMembersOf)
          } else if (decided) i += 1 // final non-match: this start is dead
          else pending = i           // boundary-dependent: defer
        }
      }
      val keepFrom = if (pending >= 0) pending else i
      val kept = buf.drop(keepFrom)
      val wake = kept.headOption.map(_.tsMillis + horizonMs + 1L).getOrElse(-1L)
      (out.result(), kept, matchNo, wake)
    }

    prepared
      .groupByKey(_._1)
      .flatMapGroupsWithState[MrState, MrMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, rows, state) =>
          val st = state.getOption.getOrElse(MrState(Vector.empty, 1L))
          val buf = st.rows.toVector ++
            rows.map(r => MrRow(r._2.getTime, r._3, r._4))
          val wm = state.getCurrentWatermarkMs()
          val (matches, kept, matchNo, wake) = advance(buf, st.matchNo, wm)
          if (kept.isEmpty) {
            // buffer drained: drop the key's state entirely (bounded
            // state over unbounded keys beats preserving the counter —
            // match_number restarts when a user goes idle past all
            // pending windows; documented)
            if (state.exists) state.remove()
          } else {
            state.update(MrState(kept, matchNo))
            // re-wake when the oldest pending window seals (timeout must
            // sit strictly above the current watermark)
            state.setTimeoutTimestamp(math.max(wake, wm + 1L))
          }
          matches.iterator.map(_.copy(user_id = user))
      }
  }

  /** One buffered row for [[matchRecognizeRows]]: event time, tiebreak
    * id, DEFINE flags, and the row's COLUMN VALUES (Spark external
    * types — all Serializable) so measures and interpreted DEFINEs can
    * read them at emission. */
  final case class MrRowV(tsMillis: Long, eventId: Long,
      flags: Seq[Boolean], vals: Seq[Any])

  /** Per-user state for [[matchRecognizeRows]]. The first `ctxRows`
    * buffered rows are CONTEXT — already matched or dead, retained only
    * so PREV at a live attempt's start can read its true predecessors;
    * attempts never start inside them. */
  final case class MrStateV(rows: Seq[MrRowV], matchNo: Long,
      ctxRows: Int = 0)

  /** Streaming MATCH_RECOGNIZE with the clause's REAL measures — the
    * full-output sibling of [[matchRecognizeStream]] (which emits the
    * fixed [[MrMatch]] shape from boolean flags alone). This face
    * buffers the ROW VALUES inside the horizon too, which unlocks, per
    * match, everything the batch ONE-ROW emitter supports:
    * FIRST/LAST(V.c[, n]), bare V.c, COUNT(*)/COUNT(V.*),
    * SUM/AVG/MIN/MAX over columns or expressions
    * (`SUM(A.price * (1 - A.disc))`), expression measures,
    * MATCH_NUMBER(), CLASSIFIER([U]) — evaluated by the SAME code as
    * the batch path ([[graft.dialect.MatchRecognize.oneRowMeasureValues]]),
    * so the two faces cannot drift. Interpreted DEFINEs (cross-variable
    * references `DEFINE C AS price <= A.price`, running aggregates,
    * FIRST/LAST navigation) work too — the matcher re-tests rows under
    * each hypothesis' own assignment exactly as the batch matcher does.
    * PREV (any depth, simple or composite argument, nested under
    * FIRST/LAST) works in DEFINE: the state buffer IS the ordered
    * partition prefix, so PREV(col, n) at buffer row j reads row j-n —
    * the same value the batch lag() column carries; eviction keeps
    * maxPrevDepth CONTEXT rows behind the first live attempt so those
    * reads never truncate (a PREV-using clause therefore pins at most
    * maxPrevDepth rows per idle user instead of dropping drained
    * state). NEXT stays rejected: its target row may not have arrived.
    * Emission, watermark, and `within`-horizon discipline are
    * identical to [[matchRecognizeStream]]; output = user_id + the
    * measure columns, schema derived from the clause at plan time.
    *
    * State bound: rows within one horizon per user (values included) —
    * still Flink CEP's bound, just wider rows. */
  def matchRecognizeRows(events: Dataset[Event], clause: String,
      horizonSeconds: Long = 3600L, watermark: String = "2 hours"): DataFrame = {
    import graft.dialect.{MatchRecognize, MrPredicate}
    val spec = MatchRecognize.parseClause(clause)
    require(spec.partitionBy == Seq("user_id") &&
      spec.orderBy.headOption.contains("ts"),
      "matchRecognizeRows: PARTITION BY user_id ORDER BY ts[, event_id] required")
    require(spec.orderDirs.forall(_._1),
      "matchRecognizeRows: descending ORDER BY is not available over " +
        "a stream (event time only moves forward)")
    // ALL ROWS PER MATCH (r15): a decided match emits one output row
    // per matched row — input columns + RUNNING-default measures,
    // evaluated by the SAME extracted code as the batch emitter
    // (MatchRecognize.allRowsMeasureValues), so the faces cannot
    // drift. Emission/watermark discipline is unchanged: rows of a
    // match surface only when the match is decided, exactly like the
    // one-row face. WITH UNMATCHED ROWS rides the same discipline: the
    // parser already restricts it to SKIP PAST LAST ROW, where matches
    // are disjoint and a DEAD scan position is exactly an unmatched
    // row — final the moment it is decided, because later matches only
    // start at or after the scan frontier (the batch emitter's own
    // argument, MatchRecognize.emitUnmatched).
    val allRows = spec.allRows
    val withUnmatched = spec.withUnmatched
    // every AFTER MATCH SKIP mode — see matchRecognizeStream: the
    // resume index always advances past the match start, so retention
    // is unchanged under the overlapping modes
    val skipMode = spec.skip
    require(!spec.hasAnchor && !spec.hasExclusion,
      "matchRecognizeRows: ^/$ anchors and {- -} exclusions are not " +
        "available over a stream (no partition end exists)")
    require(!MatchRecognize.nullable(spec.pattern),
      "matchRecognizeRows: patterns that can match empty are not " +
        "available over a stream")
    val df = events.toDF()
    val inSchema = df.schema
    val vars = spec.vars
    val allVarNames = vars ++ spec.subsets.map(_._1)
    val subsetMap = spec.subsets.toMap
    def membersOf(v: String): Seq[String] =
      subsetMap.collectFirst {
        case (k, ms) if k.equalsIgnoreCase(v) => ms
      }.getOrElse(Seq(v))
    // DEFINE classes, as in the batch planner: current-row-only →
    // Catalyst flag projections; hypothesis-dependent → interpreted
    // ASTs over the buffered values. Physical navigation → reject.
    val simpleDefs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val crossPreds = scala.collection.mutable.LinkedHashMap.empty[String, MrPredicate.Node]
    // Deepest PREV step across the DEFINEs: the state keeps this many
    // CONTEXT rows behind the first live attempt so a PREV at an
    // attempt's start still reads its true predecessors after eviction.
    var maxPrevDepth = 0
    spec.defines.foreach { case (v, pred) =>
      val others = allVarNames.filterNot(_.equalsIgnoreCase(v))
      val hasPhysical =
        "(?i)\\b(PREV|NEXT)\\s*\\(".r.findFirstIn(pred).isDefined
      if (!MrPredicate.needsInterpreter(pred, others) && !hasPhysical)
        simpleDefs(v) = MatchRecognize.rewriteDefinePred(v, pred, allVarNames)
      else {
        val ast = MrPredicate.parse(pred, v, allVarNames)
        // PREV evaluates against the buffered partition prefix (the
        // state buffer is the ordered stream history within retention);
        // NEXT stays rejected — its target row may not have arrived
        require(!MrPredicate.usesNextNav(ast),
          s"matchRecognizeRows: DEFINE $v uses NEXT — forward physical " +
            "navigation is not available over a stream (the target row " +
            "may not have arrived); PREV is supported")
        maxPrevDepth = math.max(maxPrevDepth, MrPredicate.maxPrevDepth(ast))
        val resolved = MrPredicate.resolve(
          MrPredicate.lowerPrevForBuffer(ast), inSchema)
        require(MrPredicate.exprType(resolved, inSchema) ==
          org.apache.spark.sql.types.BooleanType,
          s"matchRecognizeRows: DEFINE $v must be a boolean predicate")
        crossPreds(v.toLowerCase) = resolved
      }
    }
    // measures: resolve ASTs, reject physical navigation, derive the
    // execution plan + output schema with the batch rules
    val resolvedMeasures = spec.measures.map { m =>
      m.ast match {
        case Some(a) =>
          require(!MrPredicate.usesPhysicalNav(a),
            s"matchRecognizeRows: measure ${m.alias} uses PREV/NEXT — " +
              "physical navigation is not available over a stream")
          m.copy(ast = Some(MrPredicate.resolve(a, inSchema)))
        case None => m
      }
    }
    val (measureExecs, measureFields) =
      MatchRecognize.planMeasures(resolvedMeasures, inSchema)
    // ONE ROW = partition key + measures; ALL ROWS = every input
    // column + measures (the batch output contract)
    val outSchema =
      if (allRows)
        org.apache.spark.sql.types.StructType(inSchema.fields ++ measureFields)
      else org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType, nullable = false) +: measureFields)
    val pattern = spec.pattern
    val horizonMs = horizonSeconds * 1000L
    val flagCols = vars.map(v =>
      coalesce(simpleDefs.get(v).map(p => expr(p).cast("boolean"))
        // interpreted defines evaluate in the matcher; TRUE placeholder
        // keeps the flag array aligned with the variable order
        .getOrElse(lit(true)), lit(false)))
    val uidIdx = inSchema.fieldIndex("user_id")
    val tsIdx = inSchema.fieldIndex("ts")
    val eidIdx = inSchema.fieldIndex("event_id")
    val nCols = inSchema.length
    val prepared = df
      .withWatermark("ts", watermark)
      .withColumn("__mr_flags", array(flagCols: _*))
    val crossMap = crossPreds.toMap
    implicit val stateEnc: org.apache.spark.sql.Encoder[MrStateV] =
      org.apache.spark.sql.Encoders.javaSerialization[MrStateV]
    implicit val outEnc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)

    // one user's buffer vs the watermark → emitted measure rows; same
    // discipline as matchRecognizeStream (sealed rows only, boundary
    // probes defer until the start's horizon seals)
    def advance(user: Long, buf0: Vector[MrRowV], matchNo0: Long,
        ctxRows0: Int, wm: Long)
        : (Seq[org.apache.spark.sql.Row], Vector[MrRowV], Long, Long, Int) = {
      // context rows are the oldest (sealed below any prior watermark),
      // so they stay a sorted prefix when new rows append
      val buf = buf0.sortBy(r => (r.tsMillis, r.eventId))
      val g: Array[org.apache.spark.sql.Row] =
        buf.iterator.map(r =>
          org.apache.spark.sql.Row.fromSeq(r.vals.toIndexedSeq)).toArray
      val varPos = vars.zipWithIndex.map { case (v, i) => v.toLowerCase -> i }.toMap
      def flagOf(j: Int, v: String, acc: List[(Int, String)]): Boolean =
        crossMap.get(v.toLowerCase) match {
          case Some(ast) => MrPredicate.evalBool(ast,
            new MrPredicate.RowCtx(g, j, v, acc, membersOf))
          case None => buf(j).flags(varPos(v.toLowerCase))
        }
      val out = Seq.newBuilder[org.apache.spark.sql.Row]
      var matchNo = matchNo0
      var i = ctxRows0 // attempts never start inside retained context
      var pending = -1
      while (i < buf.length && pending < 0) {
        if (buf(i).tsMillis > wm) pending = i
        else {
          val horizonEnd = buf(i).tsMillis + horizonMs
          val limitTs = math.min(wm, horizonEnd)
          val windowSealed = wm >= horizonEnd
          var b = i
          while (b < buf.length && buf(b).tsMillis <= limitTs) b += 1
          var hitBoundary = false
          val m = MatchRecognize.matchFlagsCtx(pattern, b + 1,
            (j, v, acc) => if (j >= b) { hitBoundary = true; false }
                           else flagOf(j, v, acc), i)
          val decided = windowSealed || !hitBoundary
          if (m != null && decided) {
            if (allRows)
              MatchRecognize.allRowsMeasureValues(
                  g, m._2, matchNo, measureExecs, membersOf)
                .foreach { case (rowI, mvals) =>
                  out += org.apache.spark.sql.Row.fromSeq(
                    g(rowI).toSeq ++ mvals)
                }
            else {
              val mvals = MatchRecognize.oneRowMeasureValues(
                g, m._2, i, m._1, matchNo, measureExecs, membersOf)
              out += org.apache.spark.sql.Row.fromSeq(
                java.lang.Long.valueOf(user) +: mvals.toIndexedSeq)
            }
            matchNo += 1
            i = MatchRecognize.resumeIndex(skipMode, i, m._1, m._2, membersOf)
          } else if (decided) {
            // a decided non-match under SKIP PAST LAST ROW is final:
            // no later match can reach back to this row
            if (allRows && withUnmatched)
              out += org.apache.spark.sql.Row.fromSeq(
                g(i).toSeq ++ Seq.fill[Any](measureExecs.length)(null))
            i += 1
          } else pending = i
        }
      }
      val keepFrom = if (pending >= 0) pending else i
      // retain maxPrevDepth context rows behind the first live attempt
      // so PREV still reads true predecessors after eviction
      val retainFrom = math.max(0, keepFrom - maxPrevDepth)
      val kept = buf.drop(retainFrom)
      val newCtx = keepFrom - retainFrom
      val wake = kept.drop(newCtx).headOption
        .map(_.tsMillis + horizonMs + 1L).getOrElse(-1L)
      (out.result(), kept, matchNo, wake, newCtx)
    }

    prepared
      .groupByKey(_.getLong(uidIdx))(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[MrStateV, org.apache.spark.sql.Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[org.apache.spark.sql.Row],
         state: GroupState[MrStateV]) =>
          val st = state.getOption.getOrElse(MrStateV(Vector.empty, 1L))
          val buf = st.rows.toVector ++ rows.map { r =>
            MrRowV(r.getTimestamp(tsIdx).getTime, r.getLong(eidIdx),
              r.getSeq[Boolean](nCols), // __mr_flags rides after the input cols
              (0 until nCols).map(r.get))
          }
          val wm = state.getCurrentWatermarkMs()
          val (matches, kept, matchNo, wake, newCtx) =
            advance(user, buf, st.matchNo, st.ctxRows, wm)
          if (kept.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(MrStateV(kept, matchNo, newCtx))
            // context-only state (wake < 0) has no pending work: keep it
            // (bounded at maxPrevDepth rows — the PREV history a future
            // attempt may read) without an event-time wake-up; the
            // match counter then survives the idle gap too (documented
            // deviation from the flags face, which drops drained state)
            if (wake >= 0) state.setTimeoutTimestamp(math.max(wake, wm + 1L))
          }
          matches.iterator
      }
  }
}
