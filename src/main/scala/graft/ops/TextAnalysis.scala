package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * per-document statistics, quality scoring, token counting, language
  * identification, and fingerprinting.
  *
  * Design for 100 TB: every operator is a narrow per-row projection
  * (whole-stage-codegen'd, no shuffle, no UDF) — they scan, compute, and
  * keep the pipeline columnar. Aggregations happen only where the
  * semantics require them (corpus stats), and those are partial+final
  * hash aggregates on low-cardinality keys.
  */
object TextAnalysis {

  /** Tokens = maximal runs of non-whitespace. */
  def tokens(text: Column): Column = {
    val raw = split(text, "\\s+")
    filter(raw, t => t =!= "")
  }

  /** Whitespace word count. */
  def wordCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword token count: alpha runs, digit runs, and isolated
    * symbols — the classic pre-tokenizer regex shape. A real BPE merge
    * table would follow this split; counting pre-tokens is the standard
    * cheap proxy for LLM token budgeting. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Quality features: lengths, ratios — all per-row integer/double math
    * (deterministic across engines). Staged as two projections so the
    * tokenization runs once per row: CollapseProject keeps a multiply-
    * referenced non-trivial alias in its own projection, where the
    * column-level composition re-split the text for every ratio. */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // One native pass computes all five counters (the regex/split
    // composition scanned the text five times, allocating token arrays).
    val staged = df.select(col(idCol),
      graft.functions.NativeExprs.textStats(col(textCol), stopwords).as("__st"))
    val nChars = col("__st.n_chars")
    val nWords = col("__st.n_words")
    staged.select(col(idCol),
      nWords.as("n_words"),
      (col("__st.n_alpha").cast("double") / nChars.cast("double")).as("alpha_ratio"),
      (col("__st.n_space").cast("double") / nChars.cast("double")).as("space_ratio"),
      (col("__st.n_stop").cast("double") / nWords.cast("double")).as("stopword_ratio"),
      (nChars.cast("double") / nWords.cast("double")).as("avg_word_len"))
  }

  /** English stopword hits (fixed tiny list — the heuristic, not NLP). */
  val stopwords: Seq[String] = Seq("the", "a", "or", "and", "of", "to", "in")

  /** Language-ID heuristic: score each language by marker-token hits,
    * pick the argmax (ties broken by fixed language order). Markers are
    * high-frequency function words per language. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "de", "et", "les"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "zh" -> Seq("的", "了", "是", "我", "不"))

  /** Predicted language + its score. Deterministic: first max wins in
    * the declared order. One native kernel tokenizes the text once and
    * looks every token up against all marker sets. NULL text is "und"
    * with a NULL score. */
  def langId(text: Column): (Column, Column) = {
    val id = graft.functions.NativeExprs.langId(text, langMarkers)
    (coalesce(id.getField("lang"), lit("und")), id.getField("score"))
  }

  /** PII scrub: masks emails, IPv4 addresses, and US-style phone
    * numbers with typed placeholders — the standard redaction pass
    * before training-data release. Pure chained regexp_replace
    * projections (codegen'd, no shuffle, no UDF); the patterns are
    * deliberately limited to syntax Java regex and RE2 interpret
    * identically (character classes, bounded repetition, \b, \d), so a
    * DuckDB oracle replays the scrub byte-for-byte. Email runs first:
    * its local part may contain digits that the phone/IP patterns
    * would otherwise split. */
  def scrubPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>")
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text.
    * md5 emits identical lowercase hex in Spark, DuckDB and Trino, so it
    * doubles as the oracle-checkable fingerprint. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Rolling-hash (winnowing-style) fingerprint set: xxhash64 of each
    * k-token shingle — the document signature used for near-dup work.
    * Native window walk (same hashes as the former
    * array_distinct(transform(idx, xxhash64(concat_ws(" ", slice))))
    * composition, minus the per-window allocations). */
  def shingleHashes(text: Column, k: Int): Column =
    graft.functions.NativeExprs.shingleHash(tokens(lower(text)), k)

  /** Benchmark-contamination screen: fraction of each document's
    * k-token shingles that appear in the (broadcast-small) eval set's
    * shingle vocabulary. Standard pre-training hygiene — documents with
    * high overlap against held-out benchmarks are quarantined. The eval
    * vocabulary is aggregated to one row and broadcast; the per-doc
    * check is a projection over the corpus (no corpus shuffle). */
  def contamination(docs: DataFrame, evalDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 3): DataFrame = {
    val evalVocab = evalDocs
      .select(explode(shingleStrings(col(textCol), k)).as("sh"))
      .agg(collect_set(col("sh")).as("eval_shingles"))
    docs.crossJoin(broadcast(evalVocab))
      .select(col(idCol),
        shingleStrings(col(textCol), k).as("sh"),
        col("eval_shingles"))
      .select(col(idCol),
        (size(array_intersect(col("sh"), col("eval_shingles"))).cast("double") /
          size(col("sh")).cast("double")).as("contamination"))
  }

  /** Distinct k-token shingles as strings (un-hashed variant of
    * [[shingleHashes]]): oracle-friendly — DuckDB can mirror it with a
    * list comprehension, where xxhash64 has no cross-engine twin. */
  def shingleStrings(text: Column, k: Int): Column =
    graft.functions.NativeExprs.textShingles(text, k).getField("shingles")

  /** Repetition ratio: 1 − distinct/total k-token shingles — the
    * boilerplate/spam signal CommonCrawl-style curation filters on
    * (high ratio = the same phrases loop). Integer-count ratio over a
    * double division — hash-stable cross-engine. Both counts come from
    * one kernel evaluation (one tokenization). */
  def repetitionRatio(text: Column, k: Int = 3): Column = {
    val sh = graft.functions.NativeExprs.textShingles(text, k)
    lit(1.0) - size(sh.getField("shingles")).cast("double") /
      sh.getField("windows").cast("double")
  }

  /** Fixed-window document chunking with overlap: windows of `win`
    * chars every `step` chars (overlap = win − step), the
    * pretraining/RAG slicing step. One generator projection — no
    * shuffle, no UDF; rows with empty text produce no chunks. The chunk
    * count is 1 + (len−1) div step, so the final (possibly short) tail
    * window always lands and chunks never start past the text. */
  def chunkFixed(df: DataFrame, idCol: String, textCol: String,
      step: Int, win: Int): DataFrame = {
    require(step > 0 && win >= step, "need win >= step > 0 (overlap = win - step)")
    df.filter(length(col(textCol)) > 0)
      .select(col(idCol),
        posexplode(expr(
          s"transform(sequence(0, cast((length($textCol) - 1) div $step as int))," +
            s" i -> substring($textCol, i * $step + 1, $win))")))
      .select(col(idCol), col("pos").as("chunk_idx"), col("col").as("chunk"))
  }

  /** Model-based quality scoring: train a character-bigram LM on the
    * corpus itself (one aggregation pass), then score every document
    * by its average bigram probability `avg P(c_{i+1} | c_i)` — the
    * cheap stand-in for perplexity filtering (a doc full of improbable
    * character transitions — mojibake, base64 blobs, keyboard mash —
    * scores low; fluent text scores high). Unsmoothed is safe because
    * the scored corpus IS the training corpus, so every observed
    * bigram has a count.
    *
    * Cross-engine exact: each probability is one long→double division
    * (correctly rounded everywhere); the per-doc accumulation goes
    * through DECIMAL(18,12) so it is order-independent; the final
    * divide by the pair count is a single double op. Avoiding `log`
    * is deliberate — libm log rounding differs across engines.
    *
    * Scale: the model is ≤ alphabet² rows — broadcast both ways; the
    * only corpus-sized shuffle is the per-doc partial aggregation.
    * Chars explode linearly (same cost family as shingling). */
  /** The bigram stream: thin (id, 2-char) rows. Bigrams come from the
    * native CharBigrams expression (one byte loop per row) and
    * materialize as an ARRAY in the projection BEFORE the explode.
    * The two rejected shapes both measured seconds at sf0.1: explode
    * positions then substring (copies the whole document into every
    * generated row), and transform+lambda (interpreted closure per
    * character). */
  private def bigramPairs(docs: DataFrame, idCol: String, textCol: String,
      carryCols: Seq[String] = Nil): DataFrame =
    // Narrow-input spread (Dedup.toCores): the bigram explode is the
    // most expensive per-row stage in the charlm family, and a
    // verification corpus arrives as ONE parquet split — without the
    // spread the whole explode+join+partial-agg pipeline runs in a
    // single task while every other core idles. At real scale the scan
    // has >= defaultParallelism splits and this is a no-op; all
    // downstream consumers aggregate order-independently, so results
    // are bit-identical either way.
    Dedup.toCores(docs
        .filter(length(col(textCol)) >= 2)
        .select(col(idCol) +: carryCols.map(col) :+ col(textCol).as("graft_t"): _*))
      .select(col(idCol) +: carryCols.map(col) :+
        explode(graft.functions.NativeExprs.charBigrams(col("graft_t")))
          .as("graft_ab"): _*)

  /** Train the character-bigram LM: ONE aggregation pass over the
    * bigram stream (map-side combine shrinks it to ≤ alphabet² rows).
    * The context count cnt(a) = Σ_b cnt(ab) falls out of the bigram
    * counts themselves — a window over the tiny aggregate, not a
    * second corpus pass. Output: (graft_ab, graft_p) — the trained
    * artifact, small enough to broadcast or collect. */
  def charLmModel(docs: DataFrame, textCol: String,
      idCol: String = "doc_id"): DataFrame = {
    val byA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("graft_a"))
    bigramPairs(docs, idCol, textCol)
      .groupBy(col("graft_ab")).agg(count(lit(1)).as("graft_cnt_ab"))
      .withColumn("graft_a", substring(col("graft_ab"), 1, 1))
      .withColumn("graft_cnt_a", sum(col("graft_cnt_ab")).over(byA))
      .withColumn("graft_p",
        col("graft_cnt_ab").cast("double") / col("graft_cnt_a").cast("double"))
      .select(col("graft_ab"), col("graft_p"))
  }

  def charLmScore(docs: DataFrame, idCol: String, textCol: String,
      carryCols: Seq[String] = Nil): DataFrame =
    // Score: second pass, broadcast-join the model, per-doc partial agg.
    // `carryCols` (doc-level attributes, functionally dependent on the
    // id — e.g. lang) ride the bigram stream and extend the GROUP KEY:
    // a consumer that needs them (ccnet's per-language terciles) skips
    // a whole corpus-sized join back to the doc table — the exploded
    // stream never shuffles (partial aggregation runs first), so the
    // carry is near-free where the join cost a full exchange pair
    // (guide §2.4).
    bigramPairs(docs, idCol, textCol, carryCols)
      .join(broadcast(charLmModel(docs, textCol, idCol)), "graft_ab")
      .groupBy((idCol +: carryCols).map(col): _*)
      .agg(count(lit(1)).as("n_pairs"),
        (sum(col("graft_p").cast(org.apache.spark.sql.types.DecimalType(18, 12)))
          .cast("double") / count(lit(1))).as("avg_p"))

  /** Deterministic natural log over a positive double Column.
    *
    * `ln` itself is the cross-engine trap charlm/DSIR dodge by going
    * log-free: IEEE 754 pins +,-,*,/,sqrt to exact rounding but NOT the
    * transcendentals, so java.lang.Math.log and a C++ engine's std::log
    * may differ in the last ulp and break bit-exact oracles. This kernel
    * uses only the pinned operations, so any engine evaluating the same
    * expression tree returns the bitwise-identical double: 20 nested
    * sqrts reduce x to r = x^(1/2^20) = 1 + t with |t| <= ~2e-5 for x in
    * [1e-9, 1e9], then ln(x) = 2^20 * ln(1+t) via the 3-term series
    * t - t^2/2 + t^3/3 (truncation t^4/4 is far below the result's ulp).
    * Accuracy: ~1e-10 ABSOLUTE (the r-1 cancellation leaves ~1 ulp of
    * sqrt-chain rounding, amplified by the final 2^20), so relative
    * error degrades as ln x -> 0 — a RANKING weight, not an accounting
    * value, and every engine gets the SAME error bits, which is the
    * property that matters. */
  def detLn(x: Column): Column = {
    val r = (1 to 20).foldLeft(x)((c, _) => sqrt(c))
    val t = r - lit(1.0)
    (t - t * t / lit(2.0) + t * t * t / lit(3.0)) * lit(1048576.0)
  }

  /** Per-document Shannon entropy of the unigram (whitespace-token)
    * distribution — the diversity/repetitiveness quality signal next to
    * [[quality]]'s ratio features and the charlm score: near-zero
    * entropy = a document that is one token repeated (boilerplate, SEO
    * spam), high entropy = diverse vocabulary. `H = ln T − (Σ c·ln c)/T`
    * over per-doc token counts c (equivalent to −Σ p·ln p, but every ln
    * takes an INTEGER argument, so [[detLn]]'s absolute-error profile is
    * at its best and both engines replay it bitwise).
    *
    * Scale shape: ONE corpus scan, zero shuffles — entropy is a pure
    * function of the row, so it evaluates as a native per-row kernel
    * ([[graft.functions.NativeExprs.UnigramEntropy]]: tokenize, count,
    * fold in one pass). Determinism: c·detLn(c) terms quantize to
    * DECIMAL(18,12) and accumulate exactly (order-free), one double
    * divide + subtract at the end — bitwise-equal to
    * [[unigramEntropyComposed]], the explode → count → sum plan
    * (parity pinned in TextEntropySpec; the composed shape is what the
    * DuckDB oracle replays). */
  def unigramEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        graft.functions.NativeExprs.unigramEntropy(col(textCol)).as("graft_e"))
      .filter(col("graft_e").isNotNull)
      .select(col(idCol), col("graft_e.n_tokens").as("n_tokens"),
        col("graft_e.entropy").as("entropy"))

  /** The two-shuffle composed form of [[unigramEntropy]] — the shape
    * the DuckDB oracle replays; kept as the kernel's parity witness. */
  private[graft] def unigramEntropyComposed(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // (38,12), not the (18,12) the score sums use: a c·ln(c) term
    // overflows 6 integer digits at ~88k repeats of one token, and the
    // three engines would then diverge three ways (Spark NULL-drops
    // the term, DuckDB errors, the kernel's exact BigDecimal keeps
    // it). 26 integer digits puts the bound beyond any real document.
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val tf = docs
      .select(col(idCol), explode(split(lower(col(textCol)), " ")).as("graft_tok"))
      .filter(col("graft_tok") =!= "")
      .groupBy(col(idCol), col("graft_tok"))
      .agg(count(lit(1)).as("graft_c"))
    tf.groupBy(col(idCol))
      .agg(sum(col("graft_c")).as("graft_t"),
        sum((col("graft_c").cast("double") * detLn(col("graft_c").cast("double")))
          .cast(dec)).as("graft_s"))
      .select(col(idCol), col("graft_t").as("n_tokens"),
        (detLn(col("graft_t").cast("double")) -
          col("graft_s").cast("double") / col("graft_t").cast("double"))
          .as("entropy"))
  }

  /** BM25 top-k retrieval (Robertson & Zaragoza 2009; k1=1.2, b=0.75,
    * Lucene's log(1 + (N-df+0.5)/(df+0.5)) idf so every matched term
    * contributes positively). Whitespace tokens — the corpus convention
    * shared with vocab/DSIR.
    *
    * Scale shape: the query terms are FIXED, so tf/dl per doc are plain
    * per-row counters (one native single-pass kernel,
    * `NativeExprs.Bm25Counts`) — no token explode, no token shuffle,
    * ONE corpus scan. The corpus
    * stats (N, total tokens, per-term df) collapse to a single 1-row
    * aggregate with map-side partials, broadcast back; idf is computed
    * once inside that 1-row plan. Top-k is TakeOrderedAndProject — no
    * global sort. At 100 TB the only corpus-sized work is the document
    * scan itself, which is the floor for ad-hoc retrieval without a
    * prebuilt index.
    *
    * Determinism: idf goes through [[detLn]] (bitwise-replayable), and
    * the per-doc score sums its |Q| term contributions as
    * DECIMAL(18,12) (exact addition, the charlm convention), cast back
    * to DOUBLE once. Docs matching no term are excluded, as a posting-
    * list retrieval would. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: query terms must be non-empty")
    val proj = bm25CounterProj(docs, idCol, textCol, queryTerms)
    val stats = proj.filter(col("graft_dl") > 0).agg(
      count(lit(1)).as("graft_n"),
      sum(col("graft_dl")).as("graft_t") +:
        queryTerms.map(term =>
          sum(when(col(s"graft_tf_$term") > 0, 1L).otherwise(0L))
            .as(s"graft_df_$term")): _*)
    val statsIdf = stats.select(col("graft_n") +: col("graft_t") +:
      queryTerms.map { term =>
        bm25Idf(col("graft_n"), col(s"graft_df_$term"))
          .as(s"graft_idf_$term")
      }: _*)
    val (nTerms, bm25) = bm25ScoreCols(queryTerms,
      term => col(s"graft_idf_$term"), col("graft_n"), col("graft_t"))
    proj.crossJoin(broadcast(statsIdf))
      .select(col(idCol), nTerms.as("n_terms"), bm25.as("bm25"))
      .filter(col("n_terms") > 0)
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** The per-row BM25 counters — shared by the ad-hoc scan and the
    * streaming gate (identical plan shape by construction). One native
    * pass ([[graft.functions.NativeExprs.Bm25Counts]]) computes dl and
    * all |Q| term frequencies; the equivalent
    * `size(filter(split(...)))` HOF composition pays an interpreted
    * closure per token per term (kernel-vs-HOF parity pinned in
    * Bm25Spec). */
  private[graft] def bm25CounterProj(docs: DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String]): DataFrame =
    docs
      .select(col(idCol),
        graft.functions.NativeExprs.bm25Counts(col(textCol), queryTerms)
          .as("graft_c"))
      .select(col(idCol) +:
        col("graft_c.dl").as("graft_dl") +:
        queryTerms.zipWithIndex.map { case (term, i) =>
          col("graft_c.tf").getItem(i).as(s"graft_tf_$term")
        }: _*)

  /** Lucene-style idf over [[detLn]] — the one expression every BM25
    * face (ad-hoc, index probe, stream) computes, so the doubles agree
    * bitwise across them. */
  private[graft] def bm25Idf(n: Column, df: Column): Column = {
    val nd = n.cast("double")
    val dfd = df.cast("double")
    detLn((nd - dfd + lit(0.5)) / (dfd + lit(0.5)) + lit(1.0))
  }

  /** The (n_terms, bm25) expression pair over a bm25CounterProj row:
    * idf/n/t arrive as Columns (aggregated columns in batch, literals
    * in the streaming gate) so the double algebra is shared verbatim.
    */
  private[graft] def bm25ScoreCols(queryTerms: Seq[String],
      idfOf: String => Column, n: Column, t: Column): (Column, Column) = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 12)
    val dlr = (col("graft_dl") * n).cast("double") / t.cast("double")
    def termScore(term: String): Column = {
      val tfd = col(s"graft_tf_$term").cast("double")
      when(col(s"graft_tf_$term") > 0,
        idfOf(term) * (tfd * lit(2.2)) /
          (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * dlr)))
        .otherwise(lit(0.0))
    }
    val bm25 = queryTerms.map(termScore(_).cast(dec)).reduce(_ + _).cast("double")
    val nTerms = queryTerms
      .map(term => when(col(s"graft_tf_$term") > 0, 1).otherwise(0))
      .reduce(_ + _).cast("long")
    (nTerms, bm25)
  }

  /** Train `merges` byte-pair-encoding merge steps on the corpus and
    * return the merge table (step, left, right, freq) — the actual BPE
    * training loop, not just iteration 1 ([[graft.queries.PipelineOps]]
    * `text_bpe_pairs`).
    *
    * Representation: each word is its symbol sequence wrapped as
    * `<h><e><l><l><o>`; a merge of pair `<l><l>` is a literal
    * `replace` to `<ll>` — the delimiters make the replace
    * token-boundary-exact, and both Spark and DuckDB scan replace
    * left-to-right non-overlapping, which IS the BPE convention for a
    * run like `l l l` → `ll l`. Only `[a-z0-9]+` words participate, so
    * `<`/`>` can never occur inside a symbol.
    *
    * Scale shape: the corpus collapses to the (bounded, model-sized)
    * vocabulary in ONE distributed aggregation — a token shuffle with
    * map-side partial counts, the only corpus-sized work — and the
    * merge loop itself runs on the DRIVER over the collected vocab
    * with incremental pair-count updates, the same train-then-apply
    * split as the k-means centroids and the charlm model (and how
    * every production BPE trainer is built: the vocabulary is a
    * language artifact, not corpus-sized). The previous shape — one
    * pair-explode aggregate + localCheckpoint PER MERGE — cost two
    * Spark jobs per step: 18.0 s for merges=200 at sf0.1 vs 1.1 s for
    * this loop (PERF.md), and at vocab-building depth (10⁴ merges)
    * would have been tens of thousands of sequential jobs.
    *
    * The driver loop replays the distributed semantics EXACTLY (the
    * merges=6 DuckDB oracle and the classic-example pin hold
    * unchanged): pair counts sum freq over ALL adjacent token pairs
    * (overlapping runs counted per adjacency, `l l l` → two `(l,l)`),
    * the argmax breaks ties (freq desc, "<l><r>" ASCII asc), and a
    * chosen merge applies left-to-right non-overlapping within each
    * word — the BPE convention both engines' `replace` implement.
    *
    * Ties break (freq desc, pair asc) — deterministic and replayed
    * exactly by the DuckDB oracle (ASCII byte order on both engines).
    *
    * `maxVocab` bounds the DRIVER state: the collect takes only the
    * top-maxVocab words by (freq desc, word asc) — one
    * TakeOrderedAndProject, no global sort. A filtered `[a-z0-9]+`
    * vocabulary is normally language-sized, but a 100 TB web crawl's
    * long tail is not provably driver-sized; the guard makes the
    * trainer safe by construction (and BPE statistics live in the
    * high-frequency head — a bounded tail cut is the standard
    * vocabulary truncation every production trainer applies). The
    * default keeps every corpus in this repo's test range intact. */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int,
      maxVocab: Int = 1000000): DataFrame = {
    val spark = docs.sparkSession
    // distributed: corpus → (word, freq); collected vocab is the model,
    // bounded to the top-maxVocab frequency head (deterministic
    // tie-break on the word itself)
    val vocabRows = docs
      .select(explode(split(lower(col(textCol)), " ")).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w"))
      .limit(maxVocab)
      .collect()
    val words: Array[Array[String]] =
      vocabRows.map(_.getString(0).map(_.toString).toArray)
    val freqs: Array[Long] = vocabRows.map(_.getLong(1))
    // pair counts + inverted occurrence index (pair → word ids), kept
    // incrementally: a merge touches only the words containing its pair
    val counts = collection.mutable.HashMap.empty[(String, String), Long]
    val where = collection.mutable.HashMap
      .empty[(String, String), collection.mutable.Set[Int]]
    def addWord(i: Int, sign: Long): Unit = {
      val w = words(i)
      var j = 0
      while (j < w.length - 1) {
        val p = (w(j), w(j + 1))
        val c = counts.getOrElse(p, 0L) + sign * freqs(i)
        if (c == 0L) { counts.remove(p); where.get(p).foreach(_.remove(i)) }
        else {
          counts(p) = c
          if (sign > 0)
            where.getOrElseUpdate(p,
              collection.mutable.Set.empty[Int]).add(i)
        }
        j += 1
      }
      if (sign < 0) {
        // drop stale index entries for pairs no longer in this word
        val present = (0 until w.length - 1).map(k => (w(k), w(k + 1))).toSet
        present.foreach(p => where.get(p).foreach(_.remove(i)))
      }
    }
    words.indices.foreach(addWord(_, 1L))
    def applyMerge(w: Array[String], l: String, r: String): Array[String] = {
      val out = collection.mutable.ArrayBuffer.empty[String]
      var j = 0
      while (j < w.length) {
        if (j < w.length - 1 && w(j) == l && w(j + 1) == r) {
          out += (l + r); j += 2 // left-to-right, non-overlapping
        } else { out += w(j); j += 1 }
      }
      out.toArray
    }
    val out = collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var done = false
    while (step <= merges && !done) {
      if (counts.isEmpty) done = true
      else {
        // argmax: freq desc, then "<l><r>" ascending (ASCII — the
        // symbols are [a-z0-9]+ and <>, where String order == byte order)
        val ((l, r), freq) = counts.minBy { case ((a, b), f) =>
          (-f, s"<$a><$b>")
        }(Ordering.Tuple2(Ordering.Long, Ordering.String))
        out += ((step, l, r, freq))
        val affected = where.getOrElse((l, r), Set.empty[Int]).toArray
        affected.foreach { i =>
          addWord(i, -1L)
          words(i) = applyMerge(words(i), l, r)
          addWord(i, 1L)
        }
        step += 1
      }
    }
    import spark.implicits._
    out.toSeq.toDF("step", "left", "right", "freq")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", NeurIPS): model a
    * TARGET slice and the RAW corpus as add-one-smoothed bag-of-
    * hashed-ngram distributions, then weight every document by its
    * importance ratio under the two models — the data-mixing /
    * domain-upsampling primitive of a pretraining pipeline.
    *
    * Features are word {1,2}-grams hashed into `buckets` buckets (the
    * paper's hashed n-gram parameterization; md5-derived bucket so the
    * DuckDB oracle replays it). The paper's weight is the log-ratio
    * sum; to stay cross-engine hash-exact this uses the MEAN ratio
    * with the repo's log-free algebra — each per-feature ratio
    *   rho(b) = ((ct+1)/(nt+B)) / ((cr+1)/(nr+B))
    * is three IEEE double divisions of exactly-converted longs
    * (deterministic everywhere), integer-quantized per the house
    * convention (floor(rho·1e12 + 0.5) as BIGINT) and summed as
    * BIGINT, so per-doc accumulation is order-independent and the
    * oracle compares hash-exactly.
    *
    * Scale shape: one feature explode + ONE bucket aggregation
    * (map-side partials collapse to ≤`buckets` rows, collected as the
    * model artifact), then scoring is a shuffle-free per-row
    * projection over the quantized table — one corpus-sized shuffle
    * total, model state O(buckets). At 1e12+ per-bucket counts the
    * long→double conversion passes 2^53: promote the four count casts
    * to DECIMAL or move to the paper's log-domain floats (weights no
    * longer bit-reproducible, as in the reference implementation). */
  /** DSIR tokenization: filtered split tokens. Callers MUST project
    * this into its own column before calling [[dsirFeatures]] on it —
    * inlining it would re-split the document for every bigram element
    * (the transform lambda references the tokens array once per
    * element; a materialized alias is computed once per row, the same
    * CollapseProject rule [[quality]] documents — inlined, dsir_select
    * measured 10.4 s at sf0.1 vs 2.0 s with the projection). */
  def dsirTokens(text: Column): Column =
    filter(split(lower(text), " "), t => t =!= "")

  /** The DSIR feature set over a MATERIALIZED tokens column: word
    * {1,2}-grams as one array (shared by the batch weigher and the
    * streaming scorer so parity holds by construction). */
  def dsirFeatures(toks: Column): Column = {
    // unigrams ++ bigrams; guarded sequence (Spark's sequence(1, 0)
    // counts DOWN, so the < 2-token case must short-circuit)
    val bi = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array())
    concat(toks, bi)
  }

  /** md5-derived feature bucket in [0, buckets). */
  def dsirBucket(feature: Column, buckets: Int): Column =
    conv(substring(md5(feature), 1, 4), 16, 10).cast("long") % buckets

  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 1024,
      carryCols: Seq[String] = Nil): DataFrame = {
    // Train-then-score, the charlm split: ONE corpus pass aggregates
    // the ≤`buckets`-row model (collected — model-sized, like the BPE
    // merge table and k-means centroids), then scoring is a pure
    // per-row projection over the quantized table: O(1) array lookup
    // per feature, exact long fold. One corpus shuffle total, no
    // model join. (The previous shape — model + totals broadcast
    // back into a per-feature join + per-doc re-aggregation —
    // evaluated the feature pipeline three times and re-shuffled the
    // corpus; 12 s cold / 3.5 s warm vs 5.5 s / 1.3 s at sf0.1.)
    // The JVM-side table arithmetic replays the same IEEE sequence as
    // the expression form, so results are bit-identical (pinned by
    // the streaming-parity spec, which scores with this same table).
    // carryCols (doc-level attributes — r15): consumers that need more
    // than (id, weight) — curation_mix's survivorship pipeline — carry
    // them through the scoring projection instead of joining the
    // corpus back to itself on the id (guide §2.4; scoring is a pure
    // per-row function, so carried rows score identically)
    val modelQ = dsirModelQ(docs, textCol, targetPred, buckets)
    docs
      .select(col(idCol) +: carryCols.map(col) :+
        graft.functions.NativeExprs.dsirSumQ(col(textCol), modelQ.toSeq)
          .as("graft_s"): _*)
      .select((col(idCol) +: carryCols.map(col)) ++ Seq(
        // NULL text makes the whole struct NULL (DsirSumQ is null-safe);
        // a featureless document reads n_features = 0 either way, the
        // same shape the oracle's COALESCE(n_features, 0) produces
        // (r10 ADVICE: latent hash mismatch on NULL-text corpora)
        coalesce(col("graft_s.n_features"), lit(0L)).as("n_features"),
        // zero-token documents keep a row with NULL sum/weight (the
        // empty fold is 0, but "no evidence" must read as NULL)
        when(col("graft_s.n_features") > 0, col("graft_s.sum_q")).as("sum_q"),
        when(col("graft_s.n_features") > 0,
          col("graft_s.sum_q").cast("double") /
            col("graft_s.n_features").cast("double") / lit(1e12)).as("weight")): _*)
  }

  /** The HOF composition [[graft.functions.NativeExprs.DsirSumQ]]
    * replicates — kept as the executable specification the
    * NativeExprsSpec equality test runs both forms against. */
  private[graft] def dsirSumQHof(text: Column, table: Seq[Long]): Column = {
    val buckets = table.length
    val feats = dsirFeatures(dsirTokens(text))
    struct(
      size(feats).cast("long").as("n_features"),
      aggregate(
        transform(feats,
          f => element_at(typedLit(table), dsirBucket(f, buckets).cast("int") + 1)),
        lit(0L), (acc, x) => acc + x).as("sum_q"))
  }

  /** Train-offline artifact for the streaming scorer: the quantized
    * per-bucket importance ratio as a dense `buckets`-length array
    * (index = bucket), with buckets the corpus never hashed into
    * filled by the smoothing-only default rho = (nr+B)/(nt+B) — those
    * can occur for NOVEL stream documents even though the batch
    * weigher never sees them. The JVM-side arithmetic is the same
    * IEEE sequence as the batch expressions (three double divisions,
    * floor(rho·1e12 + 0.5)), so a stream doc whose buckets all exist
    * in the corpus scores bit-identically to the batch weigher. */
  def dsirModelQ(docs: DataFrame, textCol: String, targetPred: Column,
      buckets: Int = 1024): Array[Long] = {
    val rows = docs
      .select(targetPred.as("graft_tgt"),
        explode(graft.functions.NativeExprs.dsirBuckets(col(textCol), buckets))
          .as("graft_b"))
      .groupBy(col("graft_b")).agg(
        count(lit(1)).as("cr"),
        sum(when(col("graft_tgt"), 1L).otherwise(0L)).as("ct"))
      .collect()
    val nr = rows.map(_.getLong(1)).sum
    val nt = rows.map(_.getLong(2)).sum
    def q(cr: Long, ct: Long): Long = {
      val rho = ((ct + 1).toDouble / (nt + buckets).toDouble) /
        ((cr + 1).toDouble / (nr + buckets).toDouble)
      math.floor(rho * 1e12 + 0.5).toLong
    }
    val out = Array.fill(buckets)(q(0L, 0L))
    rows.foreach(r => out(r.getInt(0)) = q(r.getLong(1), r.getLong(2)))
    out
  }
}
