package graft.dialect

import graft.dialect.MatchRecognize._

/** Random row patterns over the variables A and B, shared by
  * MatchRecognizeSpec's regex differential and StreamsSpec's
  * stream-equals-batch property. */
object MrPatternGen {

  /** Concatenation, alternation, greedy and reluctant quantifiers up to
    * depth 3; draws from `rnd` only. */
  def randPat(rnd: scala.util.Random, depth: Int = 0): Pat = rnd.nextInt(6) match {
    case 0 | 1 => PVar(if (rnd.nextBoolean()) "A" else "B")
    case 2 if depth < 3 =>
      PCat(Seq.fill(1 + rnd.nextInt(2))(randPat(rnd, depth + 1)))
    case 3 if depth < 3 => PAlt(Seq.fill(2)(randPat(rnd, depth + 1)))
    case 4 if depth < 3 =>
      val min = rnd.nextInt(3)
      val max = if (rnd.nextBoolean()) None
        else Some(math.max(1, min + rnd.nextInt(3)))
      PQuant(randPat(rnd, depth + 1), min, max, greedy = rnd.nextBoolean())
    case _ => PVar("A")
  }

  /** PATTERN text for `p` (without the clause's outer parentheses). */
  def text(p: Pat): String = p match {
    case PVar(v) => v
    case PCat(is) => is.map(text).mkString("(", " ", ")")
    case PAlt(as) => as.map(text).mkString("(", " | ", ")")
    case PQuant(q, min, max, greedy) =>
      val suffix = (min, max) match {
        case (1, None) => "+"
        case (0, None) => "*"
        case (0, Some(1)) => "?"
        case (n, None) => s"{$n,}"
        case (n, Some(m)) => s"{$n,$m}"
      }
      "(" + text(q) + ")" + suffix + (if (greedy) "" else "?")
    case other => throw new IllegalArgumentException(s"not generated: $other")
  }
}
