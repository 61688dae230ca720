package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.Tables

/** The ops composed as a real training-data curation pipeline: exact
  * dedup → near-dup candidate removal → quality gate → language tag →
  * token budget. One declarative DataFrame chain — Catalyst sees the
  * whole plan, so filters/projections fuse and nothing materializes
  * between stages (the property that makes the same chain viable at
  * 100 TB).
  */
class CurationPipelineSpec extends SparkSpec {

  test("dedup → quality → langid → token budget composes in one plan") {
    val dir = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, dir, "documents")
    val total = docs.count()

    // 1. exact dedup (min doc_id per normalized text)
    val deduped = Dedup.exact(docs)

    // 2. drop the higher id of every MinHash near-dup pair
    val dupIds = Dedup.minHashPairs(docs, "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, jaccardThreshold = 0.5)
      .select(col("id_b").as("doc_id")).distinct()
    val nearDeduped = deduped.join(dupIds, Seq("doc_id"), "left_anti")

    // 3. quality gate + language tag + token budget
    val quality = TextAnalysis.quality(nearDeduped, "doc_id", "text")
      .filter(col("n_words") >= 10 && col("stopword_ratio") <= 0.9)
    val (lang, _) = TextAnalysis.langId(col("text"))
    val curated = nearDeduped
      .join(quality.select("doc_id"), Seq("doc_id"))
      .select(col("doc_id"), lang.as("lang_pred"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_tokens"))

    val rows = curated.collect()
    assert(rows.nonEmpty && rows.length < total)
    // near-dup pairs leave only one survivor: re-running pair detection
    // on the curated ids finds nothing at the same threshold
    val survivors = curated.select(col("doc_id"))
    val residualPairs = Dedup.minHashPairs(
      docs.join(survivors, Seq("doc_id")), "doc_id", "text",
      k = 3, numHashes = 32, bands = 8, jaccardThreshold = 0.5).count()
    assert(residualPairs == 0, s"curated set still has $residualPairs near-dup pairs")
    // token budget column is populated and positive
    assert(rows.forall(_.getInt(2) > 0))
  }

  test("deflate_ratio orders repetitive below diverse text and stays in bounds") {
    import graft.functions.NativeExprs.deflateRatio
    val df = spark.createDataFrame(Seq(
      (1, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (2, "the quick brown fox jumps over the lazy dog while autumn rain fell"),
      (3, "a"),
      (4, ""))).toDF("id", "text")
    val rows = df.select(col("id"), deflateRatio(col("text")).as("r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // repetitive text compresses much harder than diverse prose
    assert(rows(1) < rows(2), s"repetitive ${rows(1)} !< diverse ${rows(2)}")
    assert(rows(1) < 0.5)
    // raw DEFLATE of a 1-byte input carries fixed overhead (> 1.0 is fine)
    assert(rows(3) > 0.0)
    assert(rows(4) == 0.0) // empty input pinned to 0
    // SQL surface (registered graft native)
    val viaSql = spark.sql(
      "SELECT deflate_ratio('spam spam spam spam spam spam spam spam')").head.getDouble(0)
    assert(viaSql > 0.0 && viaSql < 1.0)
    // the query-level aggregate runs and groups by source
    val q = graft.SparkEntry.queries("text_compression_ratio")(
      spark, "/root/testdata/sf0.001")
    val out = q.collect()
    assert(out.nonEmpty && out.forall(_.getDouble(2) > 0.0))
  }

  test("bpeTrain reproduces the classic BPE example merge sequence") {
    // Sennrich et al.'s canonical corpus: {low:5, lower:2, newest:6,
    // widest:3}. Hand-derived merges with (freq desc, pair asc)
    // tie-breaks: es/st tie at 9 → es wins lexicographically; then est;
    // lo/ow tie at 7 → lo; then low; ew/ne/west tie at 6 → ew; ewest.
    import spark.implicits._
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, "text", merges = 6)
      .orderBy(col("step")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(merges == Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "l", "o", 7L),
      (4, "lo", "w", 7L), (5, "e", "w", 6L), (6, "ew", "est", 6L)), merges)
    // a merge budget beyond the pair supply stops early instead of failing
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val m2 = TextAnalysis.bpeTrain(tiny, "text", merges = 5).collect()
    assert(m2.length == 1 && m2(0).getString(1) == "a" && m2(0).getString(2) == "b")
  }

  test("bpeTrain maxVocab trains on the deterministic top-frequency slice") {
    import spark.implicits._
    // 5 distinct words; maxVocab=3 must keep {newest:6, low:5, widest:3}
    // — (freq desc, word asc): 'aaa' and 'zzz' (freq 2, 1) fall out, so
    // no merge can involve their pairs, and training over the bounded
    // vocab equals training over an explicit top-3 corpus.
    val text = (Seq.fill(5)("low") ++ Seq.fill(6)("newest") ++
      Seq.fill(3)("widest") ++ Seq.fill(2)("aaa") ++ Seq("zzz")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val bounded = TextAnalysis.bpeTrain(docs, "text", merges = 4, maxVocab = 3)
      .orderBy(col("step")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val top3 = (Seq.fill(5)("low") ++ Seq.fill(6)("newest") ++
      Seq.fill(3)("widest")).mkString(" ")
    val expected = TextAnalysis.bpeTrain(Seq((1L, top3)).toDF("doc_id", "text"),
        "text", merges = 4)
      .orderBy(col("step")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(bounded == expected && bounded.nonEmpty, bounded)
    // and no merge references the dropped words' only letters (a, z)
    assert(bounded.forall { case (_, l, r, _) => !l.contains("a") &&
      !l.contains("z") && !r.contains("a") && !r.contains("z") })
  }

  test("BpeEncodeWords replays the trainer's replace semantics exactly") {
    import spark.implicits._
    // Sennrich corpus again: encode must reproduce the hand-derived
    // final vocab forms under the 6 trained merges.
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, "text", merges = 6)
      .orderBy(col("step")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = Seq((1L, "low lower newest widest low3 UP"))
      .toDF("doc_id", "text")
      .select(graft.functions.NativeExprs.bpeEncodeWords(lower(col("text")), merges)
        .as("enc")).collect().head.getSeq[String](0)
    assert(enc == Seq("<low>", "<low><e><r>", "<n><ewest>", "<w><i><d><est>",
      "<low><3>", "<u><p>"), enc)
    // non-overlapping left-to-right within one merge step, like replace():
    // 'aaaa' under merge (a,a) → aa|aa, never a(aa)a
    val pairs = Seq(("a", "a"))
    val runs = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
      .select(graft.functions.NativeExprs.bpeEncodeWords(col("text"), pairs)
        .as("enc")).collect().head.getSeq[String](0)
    assert(runs == Seq("<aa><aa>", "<aa><a>"), runs)
    // words with characters outside [a-z0-9] are skipped (trainer filter)
    val skip = Seq((1L, "ok not-ok  also_ok9")).toDF("doc_id", "text")
      .select(graft.functions.NativeExprs.bpeEncodeWords(col("text"), pairs)
        .as("enc")).collect().head.getSeq[String](0)
    assert(skip == Seq("<o><k>"), skip)
  }

  test("native DsirSumQ equals the higher-order-function composition") {
    // the native kernel must be BIT-identical to the Catalyst
    // split/filter/transform/md5/conv fold it replaces (which the
    // DuckDB oracle replays): same feature multiset, same buckets,
    // same exact long sum — on the corpus AND the edge shapes
    val dir = "/root/testdata/sf0.01"
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .unionAll(Seq((100001L, ""), (100002L, "   "), (100003L, "one"),
        (100004L, "a  b"), (100005L, "Mixed CASE tokens"))
        .toDF("doc_id", "text"))
    val table = (0 until 1024).map(b => (b * 2654435761L) % 1000003L)
    val diverged = docs.select(
        graft.functions.NativeExprs.dsirSumQ(col("text"), table).as("native"),
        TextAnalysis.dsirSumQHof(col("text"), table).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diverged.count() == 0, "native and HOF DSIR scores diverge")
  }

  test("dsirWeights upweights target-like documents and stays deterministic") {
    val dir = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, dir, "documents")
    val w = TextAnalysis.dsirWeights(docs, "doc_id", "text",
      col("lang") === "en")
    val rows = w.join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("lang"), col("weight"), col("n_features"), col("sum_q"))
      .collect()
    assert(rows.length == docs.count())
    // every document got features and a finite weight
    assert(rows.forall(r => r.getLong(2) > 0 && !r.getDouble(1).isNaN))
    // the importance model must separate the slices: mean weight of the
    // target language strictly above every other language's mean
    val byLang = rows.groupBy(_.getString(0))
      .map { case (l, rs) => l -> rs.map(_.getDouble(1)).sum / rs.length }
    assert(byLang.keySet.contains("en"), byLang.keySet)
    val en = byLang("en")
    byLang.filter(_._1 != "en").foreach { case (l, m) =>
      assert(en > m, f"target mean $en%.4f not above $l mean $m%.4f")
    }
    // a weight is a smoothed likelihood ratio: positive, and bounded by
    // the corpus/target size ratio (cnt_t <= cnt_r forces rho <= that)
    assert(rows.forall(_.getDouble(1) > 0))
    // bit-exact determinism across a full re-evaluation
    val again = TextAnalysis.dsirWeights(docs, "doc_id", "text",
      col("lang") === "en").select("doc_id", "sum_q").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.length == again.size)
    val first = w.select("doc_id", "sum_q").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(first == again)
  }

  test("dsirWeights on NULL/empty text matches the oracle's LEFT-JOIN shape") {
    // r10 ADVICE: the DuckDB oracle emits n_features = 0 (COALESCE) for
    // featureless docs; the Spark side must do the same for a NULL text
    // column, not propagate the null struct.
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox", "en"),
      (2L, null.asInstanceOf[String], "en"),
      (3L, "", "de"),
      (4L, "   ", "de")).toDF("doc_id", "text", "lang")
    val w = TextAnalysis.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en")
      .orderBy("doc_id").collect()
    assert(w.length == 4)
    val byId = w.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getLong(1) > 0)
    Seq(2L, 3L, 4L).foreach { id =>
      val r = byId(id)
      assert(r.getLong(1) == 0L, s"doc $id: n_features ${r.getLong(1)}")
      assert(r.isNullAt(2) && r.isNullAt(3), s"doc $id: sum/weight not NULL")
    }
  }
}
