package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.Tables

/** The tokenize-once text kernels (`TextShingles`, `LangId`) against the
  * higher-order-function compositions they replaced — the shapes the
  * DuckDB oracles replay. Every output must be value-identical: on
  * fixed edge cases, on the sf0.01 corpus, and on a seeded random
  * property, both interpreted (local relation, folded by the
  * optimizer) and whole-stage generated. */
class TextKernelParitySpec extends SparkSpec {
  import spark.implicits._

  // The compositions resolve `greatest` by name. graft's sessions carry
  // Trino's NULL-propagating `greatest`, which makes a NULL document's
  // shingles NULL; Spark's own skips NULLs and gave `[""]`.

  // ---- reference compositions ----

  private def shingleStringsHof(text: Column, k: Int): Column = {
    val toks = TextAnalysis.tokens(lower(trim(text)))
    val n = size(toks)
    val idx = sequence(lit(1), greatest(n - (k - 1), lit(1)))
    array_distinct(transform(idx, i => concat_ws(" ", slice(toks, i, lit(k)))))
  }

  private def repetitionRatioHof(text: Column, k: Int): Column = {
    val total = greatest(size(TextAnalysis.tokens(lower(trim(text)))) - (k - 1), lit(1))
    val dist = size(shingleStringsHof(text, k))
    lit(1.0) - dist.cast("double") / total.cast("double")
  }

  private def langIdHof(text: Column): (Column, Column) = {
    val scores = TextAnalysis.langMarkers.map { case (l, m) =>
      (l, size(filter(TextAnalysis.tokens(lower(text)), t => t.isin(m.map(lit(_)): _*))))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // reverse fold ⇒ earlier languages override later ones on ties
    val lang = scores.reverse.foldLeft(lit("und")) { case (acc, (l, sc)) =>
      when(sc === best && best > 0, l).otherwise(acc)
    }
    (lang, best)
  }

  // ---- harness ----

  private val outputs = Seq("sh2", "sh3", "rep", "lang", "score")

  private def evaluate(docs: DataFrame, kernel: Boolean): DataFrame = {
    val text = col("text")
    val (lang, score) =
      if (kernel) TextAnalysis.langId(text) else langIdHof(text)
    def sh(k: Int) =
      if (kernel) TextAnalysis.shingleStrings(text, k) else shingleStringsHof(text, k)
    val rep =
      if (kernel) TextAnalysis.repetitionRatio(text, 3) else repetitionRatioHof(text, 3)
    docs.select(col("id"), sh(2).as("sh2"), sh(3).as("sh3"), rep.as("rep"),
      lang.as("lang"), score.as("score"))
  }

  /** Rows where kernel and composition differ, as printable strings. */
  private def divergences(docs: DataFrame): Seq[String] = {
    def byId(df: DataFrame): Map[Long, Row] =
      df.collect().map(r => r.getLong(0) -> r).toMap
    val interpreted = Seq(true, false).map(kn => byId(evaluate(docs, kn)))
    // a shuffle keeps the optimizer from folding the projection into
    // the local relation, so this pass runs whole-stage generated code
    val generated = Seq(true, false).map(kn => byId(evaluate(docs.repartition(2), kn)))
    val texts = docs.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    Seq(interpreted, generated).flatMap { case Seq(k, h) =>
      k.keys.toSeq.sorted.flatMap { id =>
        outputs.indices.collect {
          case i if k(id).get(i + 1) != h(id).get(i + 1) =>
            s"id $id ${outputs(i)}: kernel=${k(id).get(i + 1)} hof=${h(id).get(i + 1)}" +
              s" text=${Option(texts(id)).map(t => "\"" + t.toString.flatMap(escape) + "\"")}"
        }
      }
    }
  }

  private def escape(c: Char): String =
    if (c >= 0x20 && c < 0x7f) c.toString else f"\\u${c.toInt}%04x"

  private def docsOf(texts: Seq[String]): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  // ---- cases ----

  private val edgeCases = Seq(
    "", "   ", null,
    "one", "one two", "one two three",
    "  the  cat  ", "a b a b a b a b", "x x x x",
    "a\tb\nc\u000Bd\fe\rf", "the\tand\nof\u000Bto\fa\rla",
    "la\u00A0de el\u2003le", // no-break and em space are not \s
    "我 是 的 了 不", "我是的了不", "的 the 是",
    "İstanbul LA DE", "ΣΊΣΥΦΟΣ ΟΔΟΣ Σ", "LA Σ De", "DER die DAS ist UND",
    "la de", "de la y", "le el", "el le et", // es/fr ties: es wins
    "xyz qq", "THE AND OF")

  test("kernels equal the compositions on edge cases") {
    val bad = divergences(docsOf(edgeCases))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("edge-case values are pinned") {
    val rows = evaluate(docsOf(edgeCases), kernel = true).collect()
      .map(r => edgeCases(r.getLong(0).toInt) -> r).toMap
    def sh3(t: String) = rows(t).getSeq[String](2)
    assert(sh3("") == Seq("") && sh3("   ") == Seq("") && sh3(null) == null)
    assert(sh3("one two") == Seq("one two"))
    assert(sh3("x x x x") == Seq("x x x"))
    assert(rows("x x x x").getDouble(3) == 0.5)
    assert(rows(null).isNullAt(3))
    def lang(t: String) = (rows(t).getString(4), rows(t).get(5))
    assert(lang(null) == ("und", null))
    assert(lang("") == ("und", 0) && lang("xyz qq") == ("und", 0))
    assert(lang("la de") == ("es", 2) && lang("le el") == ("es", 1))
    assert(lang("我 是 的 了 不") == ("zh", 5) && lang("我是的了不") == ("und", 0))
    assert(lang("DER die DAS ist UND") == ("de", 5))
  }

  test("kernels equal the compositions on the sf0.01 corpus") {
    // the sf0.01 test corpus, as committed with the repository
    val docs = Tables.load(spark, "servebench/data/sf0.01", "documents")
      .select(col("doc_id").cast("long").as("id"), col("text"))
    val bad = divergences(docs)
    assert(bad.isEmpty, bad.take(20).mkString("\n"))
  }

  test("kernels equal the compositions on random token strings (seeded)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val words = Gen.oneOf(
      TextAnalysis.langMarkers.flatMap(_._2) ++
        Seq("The", "LA", "De", "Und", "DAS", "x", "y", "z", "İ", "Σ", "ΟΔΟΣ", "ß", "ǅ", "的了"))
    val junk = Gen.stringOfN(3, Gen.oneOf('a', 'Z', 'é', 'Σ', 'İ', '我', ' ', '-'))
    val sep = Gen.oneOf(" ", "  ", "\t", "\n", "\u000B", "\f", "\r", " \r\n ")
    val doc = for {
      n <- Gen.choose(0, 12)
      toks <- Gen.listOfN(n, Gen.frequency(5 -> words, 1 -> junk))
      seps <- Gen.listOfN(n + 1, sep)
      lead <- Gen.oneOf(true, false)
    } yield {
      val body = toks.zip(seps.tail).map { case (t, s) => t + s }.mkString
      if (lead) seps.head + body else body
    }
    val texts = Gen.listOfN(400, doc).apply(Gen.Parameters.default, Seed(20261017L)).get
    val bad = divergences(docsOf(texts))
    assert(bad.isEmpty, bad.take(20).mkString("\n"))
  }
}
