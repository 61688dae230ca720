package graft.service

import graft.dialect.SqlText

/** Trino's prepared-statement surface: `PREPARE name FROM statement`,
  * `EXECUTE name [USING expr, …]`, `EXECUTE IMMEDIATE 'sql'`,
  * `DEALLOCATE PREPARE name`, `DESCRIBE INPUT/OUTPUT name`.
  *
  * The reference passes these through — any Trino client can issue them
  * via execute_query (session state rides the
  * X-Trino-Prepared-Statement headers the Go driver manages
  * transparently). The embedded analog: statements are stored on the
  * ENGINE (one engine = one logical session, the same scoping as
  * SHOW SESSION's values) and `?` parameters substitute positionally as
  * parenthesized expression TEXT — semantically Trino's bind for the
  * deterministic expressions a read-only engine accepts.
  *
  * Safety: PREPARE only STORES text (never executes); EXECUTE routes
  * the substituted statement back through `QueryService.execute`, so
  * the read-only guard, allowlists, and dialect pipeline all apply to
  * the inner statement exactly as if it were sent directly. A prepared
  * write statement therefore prepares fine and fails at EXECUTE — the
  * same place Trino's analyzer rejects it.
  */
object PreparedStatements {

  private val Name = "[A-Za-z_][A-Za-z0-9_]*"
  private val PrepareRe = s"""(?is)^\\s*PREPARE\\s+($Name)\\s+FROM\\s+(.+)$$""".r
  private val ExecImmRe = """(?is)^\s*EXECUTE\s+IMMEDIATE\s+(.+?)\s*$""".r
  private val ExecUsingRe = s"""(?is)^\\s*EXECUTE\\s+($Name)\\s+USING\\s+(.+)$$""".r
  private val ExecRe = s"""(?is)^\\s*EXECUTE\\s+($Name)\\s*$$""".r
  private val DeallocRe = s"""(?is)^\\s*DEALLOCATE\\s+PREPARE\\s+($Name)\\s*$$""".r
  private val DescInRe = s"""(?is)^\\s*DESCRIBE\\s+INPUT\\s+($Name)\\s*$$""".r
  private val DescOutRe = s"""(?is)^\\s*DESCRIBE\\s+OUTPUT\\s+($Name)\\s*$$""".r

  sealed trait Stmt
  final case class Prepare(name: String, sql: String) extends Stmt
  final case class Execute(name: String, args: Seq[String]) extends Stmt
  final case class ExecuteImmediate(sql: String) extends Stmt
  final case class Deallocate(name: String) extends Stmt
  final case class DescribeInput(name: String) extends Stmt
  final case class DescribeOutput(name: String) extends Stmt

  def matchStatement(sql: String): Option[Either[String, Stmt]] = sql match {
    case PrepareRe(n, body) => Some(Right(Prepare(n, body.trim)))
    case ExecImmRe(lit) => Some(unquote(lit.trim).map(ExecuteImmediate))
    case ExecUsingRe(n, args) => Some(splitArgs(args).map(Execute(n, _)))
    case ExecRe(n) => Some(Right(Execute(n, Nil)))
    case DeallocRe(n) => Some(Right(Deallocate(n)))
    case DescInRe(n) => Some(Right(DescribeInput(n)))
    case DescOutRe(n) => Some(Right(DescribeOutput(n)))
    case _ => None
  }

  /** Positional `?` parameters: the ones in code, outside literals,
    * quoted identifiers and comments (a '?' inside 'text' is data). */
  def paramCount(sql: String): Int = params(sql).length

  private def params(sql: String): Seq[Int] = {
    val mask = SqlText.mask(sql)
    sql.indices.filter(i => sql.charAt(i) == '?' && !mask(i))
  }

  /** Substitute args for the `?` parameters (each wrapped in parens to
    * keep expression precedence). Trino's error text on mismatch. */
  def substitute(sql: String, args: Seq[String]): Either[String, String] = {
    val at = params(sql)
    if (at.length != args.length)
      Left(s"Incorrect number of parameters: expected ${at.length} but found ${args.length}")
    else {
      val out = new java.lang.StringBuilder
      var last = 0
      at.zip(args).foreach { case (i, arg) =>
        out.append(sql, last, i).append('(').append(arg).append(')')
        last = i + 1
      }
      Right(out.append(sql, last, sql.length).toString)
    }
  }

  /** Top-level comma split of a USING argument list (commas inside
    * brackets, literals and comments belong to the expression). */
  def splitArgs(s: String): Either[String, Seq[String]] = {
    val mask = SqlText.mask(s)
    val args = SqlText.splitTop(s)
    val unterminated = SqlText.scan(s)((_, _, _) => ())
    if (unterminated || SqlText.depth(s, mask, s.length) != 0 || args.exists(_.isEmpty))
      Left(s"malformed USING argument list: $s")
    else Right(args)
  }

  /** `EXECUTE IMMEDIATE` takes a single-quoted SQL literal ('' = '). */
  private def unquote(lit: String): Either[String, String] =
    if (lit.length >= 2 && lit.head == '\'' && lit.last == '\'')
      Right(lit.substring(1, lit.length - 1).replace("''", "'"))
    else Left(s"EXECUTE IMMEDIATE expects a quoted statement, got: $lit")
}
