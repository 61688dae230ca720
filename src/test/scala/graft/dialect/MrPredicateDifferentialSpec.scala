package graft.dialect

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Differential check of the DEFINEs the matcher evaluates against
  * Catalyst's own evaluation of the same text: random boolean
  * expressions over current-row columns, run as cross-variable DEFINEs
  * through [[MatchRecognize.run]], must give the same
  * true/false/UNKNOWN as Spark's `expr(...)` on the same row —
  * comparisons, arithmetic (decimal, double and long mixed freely),
  * AND/OR/NOT three-valued logic, IS NULL, BETWEEN, IN, literals,
  * nulls, and zero divisors that throw under ANSI.
  */
class MrPredicateDifferentialSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("la", LongType), StructField("lb", LongType),
    StructField("da", DoubleType), StructField("db", DoubleType),
    StructField("ca", DecimalType(18, 4)), StructField("cb", DecimalType(18, 4)),
    StructField("sa", StringType), StructField("sb", StringType)))

  /** One expression + row pair per case. Families: 0=long 1=double
    * 2=decimal 3=string. */
  private final class Gen(rnd: scala.util.Random) {
    // zero appears 1-in-6 so zero divisors (which throw under ANSI for
    // every numeric type) get hit
    def longLit(): String =
      if (rnd.nextInt(6) == 0) "0" else rnd.nextInt(21) - 10 + ""
    def dblLit(): String = {
      val v = if (rnd.nextInt(6) == 0) 0.0 else (rnd.nextInt(4001) - 2000) / 100.0
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    }
    def strLit(): String = "'" + ("abc".charAt(rnd.nextInt(3)).toString * (1 + rnd.nextInt(2))) + "'"
    def atom(fam: Int): String = fam match {
      case 0 => if (rnd.nextBoolean()) (if (rnd.nextBoolean()) "la" else "lb") else longLit()
      case 1 => if (rnd.nextBoolean()) (if (rnd.nextBoolean()) "da" else "db") else dblLit()
      case 2 => if (rnd.nextBoolean()) (if (rnd.nextBoolean()) "ca" else "cb") else dblLit()
      case _ => if (rnd.nextBoolean()) (if (rnd.nextBoolean()) "sa" else "sb") else strLit()
    }
    /** numeric expression within one family. Divisors are a COLUMN or a
      * nonzero literal: a constant zero divisor sits in the gray zone
      * between Catalyst's selective ANSI constant folding and runtime
      * short-circuiting (Spark itself surfaces it or not depending on
      * optimizer internals), while a column divisor that is zero at
      * runtime must throw identically in both evaluators. */
    def divisor(fam: Int): String =
      if (rnd.nextBoolean())
        (if (fam == 0) (if (rnd.nextBoolean()) "la" else "lb")
         else if (rnd.nextBoolean()) "da" else "db")
      else if (fam == 0) (1 + rnd.nextInt(9)).toString
      else String.format(java.util.Locale.ROOT, "%.2f",
        Double.box((1 + rnd.nextInt(400)) / 100.0))
    def num(fam: Int, depth: Int): String =
      if (depth <= 0 || rnd.nextInt(3) == 0) atom(fam)
      else rnd.nextInt(5) match {
        case 0 => s"(${num(fam, depth - 1)} + ${num(fam, depth - 1)})"
        case 1 => s"(${num(fam, depth - 1)} - ${num(fam, depth - 1)})"
        case 2 => s"(${num(fam, depth - 1)} * ${num(fam, depth - 1)})"
        case 3 if fam == 1 => s"(${num(fam, depth - 1)} / ${divisor(fam)})"
        case 3 if fam == 0 => s"(${num(fam, depth - 1)} % ${divisor(fam)})"
        case _ => s"(- ${num(fam, depth - 1)})"
      }
    def cmp(): String = {
      val fam = rnd.nextInt(4)
      if (fam == 3) {
        val op = Seq("=", "<>", "<", "<=", ">", ">=")(rnd.nextInt(6))
        s"${atom(3)} $op ${atom(3)}"
      } else rnd.nextInt(6) match {
        case 0 => s"${num(fam, 1)} IS NULL"
        case 1 => s"${num(fam, 1)} IS NOT NULL"
        case 2 => s"${num(fam, 2)} BETWEEN ${num(fam, 1)} AND ${num(fam, 1)}"
        case 3 if fam == 0 =>
          s"${atom(0)} IN (${longLit()}, ${longLit()}, ${longLit()})"
        case _ =>
          val op = Seq("=", "<>", "<", "<=", ">", ">=", "!=")(rnd.nextInt(7))
          val rfam = Seq(0, 1, 2)(rnd.nextInt(3))
          s"${num(fam, 2)} $op ${num(rfam, 2)}"
      }
    }
    def pred(depth: Int): String =
      if (depth <= 0 || rnd.nextInt(3) == 0) cmp()
      else rnd.nextInt(3) match {
        case 0 => s"(${pred(depth - 1)}) AND (${pred(depth - 1)})"
        case 1 => s"(${pred(depth - 1)}) OR (${pred(depth - 1)})"
        case _ => s"NOT (${pred(depth - 1)})"
      }
    def rowVals(): Seq[Any] = {
      def mayNull[T](v: T): Any = if (rnd.nextInt(5) == 0) null else v
      Seq(mayNull(rnd.nextInt(21).toLong - 10),
        mayNull(rnd.nextInt(21).toLong - 10),
        mayNull((rnd.nextInt(4001) - 2000) / 100.0),
        mayNull((rnd.nextInt(4001) - 2000) / 100.0),
        mayNull(new java.math.BigDecimal((rnd.nextInt(4001) - 2000) / 100.0)
          .setScale(4, java.math.RoundingMode.HALF_UP)),
        mayNull(new java.math.BigDecimal((rnd.nextInt(4001) - 2000) / 100.0)
          .setScale(4, java.math.RoundingMode.HALF_UP)),
        mayNull("abc".charAt(rnd.nextInt(3)).toString),
        mayNull("abc".charAt(rnd.nextInt(3)).toString * 2))
    }
  }

  test("interpreter agrees with Catalyst on 400 random boolean expressions") {
    val rnd = new scala.util.Random(20260815L)
    val gen = new Gen(rnd)
    // PATTERN (A (B | C | D)) over two rows: row 2, the case row, maps
    // to B when the expression is TRUE, to C when it is FALSE and to D
    // when it is UNKNOWN (alternation prefers the leftmost branch); the
    // A.la reference keeps all three in the matcher
    val pairSchema = StructType(StructField("seq", LongType) +: schema.fields)
    val anchor = Row.fromSeq(1L +: 1L +: Seq.fill(schema.length - 1)(null))
    var checked = 0
    (1 to 400).foreach { i =>
      val text = gen.pred(3)
      val vals = gen.rowVals()
      val row = Row.fromSeq(vals)
      val df = spark.createDataFrame(
        java.util.Collections.singletonList(row), schema)
      // outcomes: Right(true/false/UNKNOWN) or Left("arith") — Spark 4
      // runs ANSI, so zero divisors THROW in both evaluators
      def isArith(e: Throwable): Boolean =
        e != null && (e.isInstanceOf[ArithmeticException] ||
          (e.getMessage != null && (e.getMessage.contains("DIVIDE_BY_ZERO") ||
            e.getMessage.contains("REMAINDER_BY_ZERO") ||
            e.getMessage.contains("ARITHMETIC_OVERFLOW"))) ||
          isArith(e.getCause))
      val sparkOut: Either[String, Option[Boolean]] =
        try {
          val r = df.select(expr(text).cast("boolean").as("b")).collect()(0)
          Right(if (r.isNullAt(0)) None else Some(r.getBoolean(0)))
        } catch {
          case e: Throwable if isArith(e) => Left("arith")
        }
      val pair = spark.createDataFrame(
        java.util.Arrays.asList(anchor, Row.fromSeq(2L +: vals)), pairSchema)
      val clause =
        s"""ORDER BY seq
           |MEASURES CLASSIFIER() AS c
           |PATTERN (A (B | C | D))
           |DEFINE A AS seq = 1,
           |       B AS ($text) AND A.la IS NOT NULL,
           |       C AS NOT ($text) AND A.la IS NOT NULL,
           |       D AS A.la IS NOT NULL""".stripMargin
      val mine: Either[String, Option[Boolean]] =
        try MatchRecognize.run(pair, MatchRecognize.parseClause(clause))
            .collect().map(_.getString(0)).toSeq match {
          case Seq("B") => Right(Some(true))
          case Seq("C") => Right(Some(false))
          case Seq("D") => Right(None)
          case other => fail(s"case $i: no single match ($other) for $text")
        } catch {
          case e: Throwable if isArith(e) => Left("arith")
        }
      assert(mine == sparkOut,
        s"case $i diverged: $text over $vals — matcher=$mine catalyst=$sparkOut")
      checked += 1
    }
    assert(checked == 400)
  }

  test("expression arguments ≡ the same expression precomputed as a column") {
    // Property: FN(B.e) inside MEASURES (and SUM(A.e) inside DEFINE)
    // must equal FN(B.pc) where pc = e precomputed by Catalyst on the
    // input relation — an argument read at the navigated row and
    // Spark's projection are two evaluators of the same expression.
    // Random arithmetic over two nullable double columns, null rows
    // included; division excluded (zero divisors would throw at
    // DIFFERENT times — plan vs match — by design).
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(20260816L)
    def randExpr(q: String): String = {
      // depth-2 arithmetic over v/w/literals, all refs qualified by q
      def leaf(): String = rnd.nextInt(3) match {
        case 0 => s"$q.v"
        case 1 => s"$q.w"
        case _ => (rnd.nextInt(9) + 1).toString
      }
      def node(d: Int): String =
        if (d == 0) leaf()
        else {
          val op = "+-*".charAt(rnd.nextInt(3))
          s"(${node(d - 1)} $op ${node(d - 1)})"
        }
      node(2)
    }
    val fns = Seq("SUM", "AVG", "MIN", "MAX", "COUNT", "FIRST", "LAST")
    (1 to 30).foreach { case_ =>
      val rows = (1 to 30).map { i =>
        val uid = 1L + rnd.nextInt(3)
        def mv() = if (rnd.nextInt(6) == 0) None
                   else Some((rnd.nextInt(2001) - 1000) / 100.0)
        (uid, i.toLong, mv(), mv(), rnd.nextInt(3) < 2)
      }
      val df = rows.toDF("uid", "seq", "v", "w", "is_b")
      val e = randExpr("B")
      val fn = fns(rnd.nextInt(fns.length))
      def clause(arg: String) =
        s"""PARTITION BY uid ORDER BY seq
           |MEASURES $fn($arg) AS m, COUNT(*) AS n
           |PATTERN (A B+)
           |DEFINE A AS is_b = false, B AS is_b = true""".stripMargin
      val viaArg = MatchRecognize.run(df, MatchRecognize.parseClause(
          clause(e))).collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
      val pre = df.withColumn("pc",
        expr(e.replace("B.", ""))) // same expression, Catalyst-computed
      val viaCol = MatchRecognize.run(pre, MatchRecognize.parseClause(
          clause("B.pc"))).collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
      assert(viaArg == viaCol,
        s"case $case_: $fn($e): $viaArg vs $viaCol")
      // the DEFINE face of the same property: a running budget over the
      // expression ≡ over the precomputed column
      val dc1 =
        s"""PARTITION BY uid ORDER BY seq
           |MEASURES COUNT(*) AS n, FIRST(A.seq) AS s
           |AFTER MATCH SKIP TO NEXT ROW
           |PATTERN (A+)
           |DEFINE A AS SUM(${e.replace("B.", "A.")}) <= 10""".stripMargin
      val dc2 =
        s"""PARTITION BY uid ORDER BY seq
           |MEASURES COUNT(*) AS n, FIRST(A.seq) AS s
           |AFTER MATCH SKIP TO NEXT ROW
           |PATTERN (A+)
           |DEFINE A AS SUM(A.pc) <= 10""".stripMargin
      val d1 = MatchRecognize.run(df, MatchRecognize.parseClause(dc1))
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
      val d2 = MatchRecognize.run(pre, MatchRecognize.parseClause(dc2))
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
      assert(d1 == d2, s"case $case_ DEFINE: SUM($e): $d1 vs $d2")
    }
  }
}
