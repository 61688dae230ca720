package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** BM25 retrieval: the detLn kernel's accuracy, and the ranking
  * semantics on a corpus small enough to score by hand. */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  test("detLn matches math.log to ~1e-9 absolute across 12 decades") {
    // The guarantee is ABSOLUTE ~1e-10 (2^20 x the sqrt-chain rounding
    // left in r - 1), so relative error degrades as ln x -> 0 — fine
    // for a ranking weight, never for accounting.
    val xs = Seq(1e-6, 0.01, 0.5, 1.0, 1.0001, 2.0, 7.389056, 1000.0, 1e6)
    val out = xs.toDF("x").select(TextAnalysis.detLn(col("x")).as("y"))
      .collect().map(_.getDouble(0))
    xs.zip(out).foreach { case (x, y) =>
      val err = math.abs(y - math.log(x))
      assert(err < 1e-9, s"detLn($x)=$y vs ln=${math.log(x)}")
    }
  }

  test("index lanes: a failed lane waits for its running sibling before rethrowing") {
    // the caller's cleanup (unpersist, tmp-dir removal) runs as soon as
    // the exception arrives — a sibling still writing then races it
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Retrieval.awaitAll(Seq(
        () => throw new IllegalStateException("lane failed"),
        () => { Thread.sleep(500); siblingDone.set(true) }))
    }
    assert(e.getMessage == "lane failed")
    assert(siblingDone.get, "exception reached the caller while a lane still ran")
    assert(Retrieval.awaitAll(Seq(() => 1, () => 2)) == Seq(1, 2))
  }

  test("bm25TopK ranks by the textbook formula") {
    // 3 docs, query = {cat, dog}: doc 1 has both terms, doc 2 has cat
    // twice in a longer doc, doc 3 has neither (must not appear).
    val docs = Seq(
      (1L, "cat dog bird"),
      (2L, "cat cat fish fish fish fish"),
      (3L, "fish bird owl")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, "doc_id", "text", Seq("cat", "dog"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L)) // doc 3 matches no term
    assert(out(0)._2 == 2L && out(1)._2 == 1L) // n_terms
    // Hand-replay: N=3, T=12, avgdl=4. df(cat)=2, df(dog)=1.
    def idf(df: Int) = math.log((3.0 - df + 0.5) / (df + 0.5) + 1.0)
    def s(tf: Int, dl: Int, df: Int) =
      idf(df) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl * 3.0 / 12.0)))
    val exp1 = s(1, 3, 2) + s(1, 3, 1)
    val exp2 = s(2, 6, 2)
    assert(math.abs(out(0)._3 - exp1) < 1e-9, s"${out(0)._3} vs $exp1")
    assert(math.abs(out(1)._3 - exp2) < 1e-9, s"${out(1)._3} vs $exp2")
    assert(exp1 > exp2) // both-terms beats repeated-one-term here
  }

  test("native counter kernel equals the HOF composition on the real corpus") {
    val docs = graft.engine.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val terms = Seq("hash", "join", "window", "stream")
    val native = TextAnalysis.bm25CounterProj(docs, "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val hof = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .select(col("doc_id") +:
        size(filter(col("toks"), t => t =!= lit(""))).as("dl") +:
        terms.map(t2 => size(filter(col("toks"), t => t === lit(t2)))): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(native.nonEmpty && native == hof)
  }

  test("persisted-index probe is bitwise-equal to the ad-hoc scan") {
    val docs = spark.range(200)
      .select(col("id").as("doc_id"),
        concat(lit("cat dog bird fish "),
          when(col("id") % 3 === 0, "cat cat").otherwise("owl"),
          lit(" pad"), (col("id") % 7).cast("string")).as("text"))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_spec_idx"
    Retrieval.buildBm25Index(docs, "doc_id", "text", path)
    val terms = Seq("cat", "owl")
    val adhoc = TextAnalysis.bm25TopK(docs, "doc_id", "text", terms, 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val probed = Retrieval.probeBm25Index(spark, path, terms, 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(adhoc.toSeq == probed.toSeq) // EXACT doubles, not approx
  }

  test("build(A) + merge(B) probes bitwise-identically to build(A ∪ B)") {
    val docs = spark.range(300)
      .select(col("id").as("doc_id"),
        concat(lit("cat dog fish "),
          when(col("id") % 4 === 0, "cat owl").otherwise("dog dog"),
          lit(" x"), (col("id") % 11).cast("string")).as("text"))
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    val tmp = System.getProperty("java.io.tmpdir")
    val inc = s"$tmp/graft_bm25_spec_inc"
    val full = s"$tmp/graft_bm25_spec_full"
    Retrieval.buildBm25Index(a, "doc_id", "text", inc)
    Retrieval.mergeBm25Index(b, "doc_id", "text", inc)
    Retrieval.buildBm25Index(docs, "doc_id", "text", full)
    val terms = Seq("cat", "owl", "dog")
    val pi = Retrieval.probeBm25Index(spark, inc, terms, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val pf = Retrieval.probeBm25Index(spark, full, terms, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pi.nonEmpty && pi == pf) // exact doubles: df/N/t are additive
  }

  test("merge rewrites only the term buckets the batch's vocabulary touches") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def listFiles(dir: String): Set[String] = {
      val d = new java.io.File(dir)
      Option(d.listFiles()).map(_.map(_.getName).toSet).getOrElse(Set.empty)
    }
    val docs = spark.range(100)
      .select(col("id").as("doc_id"),
        lit("cat dog owl fish bird").as("text"))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_spec_incbkt"
    Retrieval.buildBm25Index(docs, "doc_id", "text", path)
    // the batch's vocabulary is exactly {cat}: one touched bucket
    val batch = spark.range(100, 120)
      .select(col("id").as("doc_id"), lit("cat cat").as("text"))
    val catB = "b" + md5hex("cat").substring(0, 2)
    val dogB = "b" + md5hex("dog").substring(0, 2)
    assert(catB != dogB) // distinct buckets, else the test is vacuous
    val dogBefore = listFiles(s"$path/terms/bucket=$dogB")
    val catBefore = listFiles(s"$path/terms/bucket=$catB")
    Retrieval.mergeBm25Index(batch, "doc_id", "text", path)
    // untouched bucket: physically identical files; touched: rewritten
    assert(listFiles(s"$path/terms/bucket=$dogB") == dogBefore)
    assert(listFiles(s"$path/terms/bucket=$catB") != catBefore)
    // and the merged df is still right: cat now appears in 120 docs
    val terms = spark.read.parquet(s"$path/terms")
      .filter(col("tok").isin("cat", "dog"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(terms == Map("cat" -> 120L, "dog" -> 100L))
  }

  test("probe prunes postings partitions to the query terms' buckets") {
    val docs = spark.range(50)
      .select(col("id").as("doc_id"), lit("cat dog owl").as("text"))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_spec_idx2"
    Retrieval.buildBm25Index(docs, "doc_id", "text", path)
    val plan = Retrieval.probeBm25Index(spark, path, Seq("cat"), 5)
      .queryExecution.executedPlan.toString
    val scan = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(scan.exists(_.contains("bucket")), plan.take(2000))
  }

  test("top-k is TakeOrderedAndProject, not a global sort") {
    // More docs than k, else EliminateLimits drops the (provably
    // redundant) limit and no TakeOrdered node can appear.
    val docs = spark.range(100)
      .select(col("id").as("doc_id"),
        concat(lit("cat dog filler"), col("id")).as("text"))
    val plan = TextAnalysis.bm25TopK(docs, "doc_id", "text", Seq("cat"), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("hybridRrf fuses reciprocal ranks, absent-from-list scoring 0") {
    // Corpus engineered so the two lists disagree: BM25 ranks 1 then 2
    // (doc 3 matches no term); cosine ranks 2 then 3 then 1 vs anchor 0.
    val docs = Seq(
      (1L, "cat dog bird"),
      (2L, "cat fish fish fish"),
      (3L, "fish bird owl")).toDF("doc_id", "text")
    val embeds = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),       // orthogonal to anchor
      (2L, Array(1.0f, 0.1f)),       // closest
      (3L, Array(1.0f, 0.5f))).toDF("vec_id", "embedding")
    val out = Retrieval.hybridRrf(docs, embeds, Seq("cat", "dog"),
        anchorId = 0L, poolK = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    def rrf(rs: Int*) = rs.map(r => 1.0 / (60 + r)).sum
    // doc 1: bm25 rank 1 + cos rank 3; doc 2: bm25 rank 2 + cos rank 1;
    // doc 3: cosine-only rank 2.
    val expected = Map(1L -> rrf(1, 3), 2L -> rrf(2, 1), 3L -> rrf(2))
    assert(out.map(r => r._1 -> r._2).toMap == expected)
    assert(out.map(_._1) == Seq(2L, 1L, 3L)) // fused order, rrf desc
    assert(out.find(_._1 == 3L).get._3 == -1L) // no BM25 rank for doc 3
  }

  test("hybridRrfIndexed (persisted-index serving) equals the ad-hoc fusion") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.load(spark, dir, "documents")
    val embeds = graft.engine.Tables.load(spark, dir, "embeddings")
    val terms = Seq("hash", "join", "window", "stream")
    val idx = java.nio.file.Files.createTempDirectory("graft-hrrf-idx").toString
    Retrieval.buildBm25Index(docs, "doc_id", "text", idx)
    val indexed = Retrieval.hybridRrfIndexed(spark, idx, embeds, terms,
        anchorId = 0L, poolK = 50, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val adhoc = Retrieval.hybridRrf(docs, embeds, terms, 0L, poolK = 50, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed.nonEmpty && indexed == adhoc) // bitwise: == on doubles
  }

  test("hybridRrf on the real corpus replays from its two top-k lists") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.load(spark, dir, "documents")
    val embeds = graft.engine.Tables.load(spark, dir, "embeddings")
    val terms = Seq("hash", "join", "window", "stream")
    val lex = TextAnalysis.bm25TopK(docs, "doc_id", "text", terms, 50)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
      .sortBy { case (id, s) => (-s, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1) }.toMap
    val den = Similarity.cosineTopK(embeds, "vec_id", "embedding", 0L, 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, s) => (-s, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1) }.toMap
    val expected = (lex.keySet ++ den.keySet).toSeq
      .map { id =>
        val s = lex.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          den.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (id, s)
      }
      .sortBy { case (id, s) => (-s, id) }.take(20)
    val out = Retrieval.hybridRrf(docs, embeds, terms, 0L, poolK = 50, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out == expected)
  }
}
