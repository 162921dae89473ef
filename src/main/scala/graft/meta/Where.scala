package graft.meta

import scala.collection.mutable.ArrayBuffer

/** Validator + binder for the constrained metadata WHERE grammar
  * (next-plaid/src/filtering.rs:107-614, grammar doc :571-583):
  *
  * {{{
  * expr         = and_expr (OR and_expr)*
  * and_expr     = unary_expr (AND unary_expr)*
  * unary_expr   = NOT? primary_expr
  * primary_expr = comparison | null_check | between | in | '(' expr ')'
  * comparison   = ident ( = | != | <> | < | <= | > | >= | LIKE | REGEXP ) ?
  * null_check   = ident IS NOT? NULL
  * between      = ident NOT? BETWEEN ? AND ?
  * in           = ident NOT? IN '(' ? (',' ?)* ')'
  * }}}
  *
  * Only `?` placeholders (no literals, except the `\d+=\d+` tautology idiom
  * filtering.rs:584-601); dangerous keywords / comments / semicolons are
  * rejected; identifiers validated case-insensitively against the table
  * schema. On success the condition is rendered to a Spark SQL predicate
  * with parameters bound as safely-escaped literals (REGEXP → RLIKE).
  */
object Where {

  final case class WhereError(msg: String) extends Exception(msg)

  sealed trait Param
  final case class SStr(v: String) extends Param
  final case class SLong(v: Long) extends Param
  final case class SDouble(v: Double) extends Param
  final case class SBool(v: Boolean) extends Param
  case object SNull extends Param

  private val dangerous = Set(
    "insert", "update", "delete", "drop", "create", "alter", "attach",
    "detach", "pragma", "union", "select", "exec", "execute", "vacuum",
    "reindex", "replace", "transaction", "commit", "rollback"
  )

  private sealed trait Tok
  private case class Ident(name: String) extends Tok
  private case class Kw(kw: String) extends Tok // upper-case keyword
  private case class Op(op: String) extends Tok
  private case object QMark extends Tok
  private case class Num(text: String) extends Tok
  private case class LParen() extends Tok
  private case class RParen() extends Tok
  private case class Comma() extends Tok

  private val keywords =
    Set("AND", "OR", "NOT", "IS", "NULL", "BETWEEN", "IN", "LIKE", "REGEXP")

  private def tokenize(s: String): Vector[Tok] = {
    if (s.contains(';')) throw WhereError("semicolons are not allowed")
    if (s.contains("--") || s.contains("/*"))
      throw WhereError("comments are not allowed")
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '?') { out += QMark; i += 1 }
      else if (c == '(') { out += LParen(); i += 1 }
      else if (c == ')') { out += RParen(); i += 1 }
      else if (c == ',') { out += Comma(); i += 1 }
      else if (c == '"') {
        // double-quoted identifier (filtering.rs:294-308)
        val end = s.indexOf('"', i + 1)
        if (end < 0) throw WhereError("unterminated quoted identifier")
        out += Ident(s.substring(i + 1, end))
        i = end + 1
      } else if (c.isDigit) {
        val start = i
        while (i < n && s.charAt(i).isDigit) i += 1
        out += Num(s.substring(start, i))
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
        val word = s.substring(start, i)
        val up = word.toUpperCase
        if (dangerous.contains(word.toLowerCase))
          throw WhereError(s"dangerous keyword: $word")
        if (keywords.contains(up)) out += Kw(up) else out += Ident(word)
      } else {
        val ops = Seq("!=", "<>", "<=", ">=", "=", "<", ">")
        ops.find(op => s.startsWith(op, i)) match {
          case Some(op) => out += Op(op); i += op.length
          case None     => throw WhereError(s"unexpected character '$c'")
        }
      }
    }
    out.toVector
  }

  /** Validate `cond` against `columns` and bind `params`, returning a Spark
    * SQL predicate string. Column names resolved case-insensitively to
    * their schema spelling. */
  def toSparkSql(cond: String, params: Seq[Param], columns: Seq[String]): String = {
    val toks = tokenize(cond)
    val colMap = columns.map(c => c.toLowerCase -> c).toMap
    var pos = 0
    var paramIdx = 0

    def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    def next(): Tok = {
      if (pos >= toks.length) throw WhereError("unexpected end of condition")
      val t = toks(pos); pos += 1; t
    }
    def expect(t: Tok): Unit = {
      val got = next()
      if (got != t) throw WhereError(s"expected $t, got $got")
    }
    def bind(): String = {
      if (paramIdx >= params.length) throw WhereError("not enough parameters")
      val p = params(paramIdx); paramIdx += 1
      renderParam(p)
    }
    def ident(): String = next() match {
      case Ident(name) =>
        colMap.getOrElse(
          name.toLowerCase,
          throw WhereError(s"unknown column: $name")
        )
      case other => throw WhereError(s"expected column name, got $other")
    }

    def expr(): String = {
      val parts = ArrayBuffer(andExpr())
      while (peek.contains(Kw("OR"))) { next(); parts += andExpr() }
      parts.mkString("(", " OR ", ")")
    }
    def andExpr(): String = {
      val parts = ArrayBuffer(unaryExpr())
      while (peek.contains(Kw("AND"))) { next(); parts += unaryExpr() }
      parts.mkString("(", " AND ", ")")
    }
    def unaryExpr(): String =
      if (peek.contains(Kw("NOT"))) { next(); s"(NOT ${primary()})" }
      else primary()

    def primary(): String = peek match {
      case Some(LParen()) => next(); val e = expr(); expect(RParen()); e
      case Some(Num(a)) =>
        // the `1=1` tautology idiom (filtering.rs:584-601)
        next()
        next() match {
          case Op("=") => next() match {
            case Num(b) => s"($a = $b)"
            case other  => throw WhereError(s"expected number, got $other")
          }
          case other => throw WhereError(s"numbers only allowed as n=n, got $other")
        }
      case _ =>
        val col = ident()
        val quoted = s"`$col`"
        next() match {
          case Op(op) =>
            expect(QMark)
            val sparkOp = if (op == "!=") "<>" else op
            s"($quoted $sparkOp ${bind()})"
          case Kw("LIKE") =>
            expect(QMark); s"($quoted LIKE ${bind()})"
          case Kw("REGEXP") =>
            // failure-as-no-match semantics (filtering.rs:2026-2031):
            // rendered to the SafeRegex kernel, not RLIKE — an invalid or
            // catastrophically-backtracking pattern returns 0 rows
            // instead of throwing/hanging (see [[ensureUdfs]])
            expect(QMark); s"(${UdfName}($quoted, ${bind()}))"
          case Kw("IS") =>
            if (peek.contains(Kw("NOT"))) { next(); expect(Kw("NULL")); s"($quoted IS NOT NULL)" }
            else { expect(Kw("NULL")); s"($quoted IS NULL)" }
          case Kw("NOT") =>
            next() match {
              case Kw("BETWEEN") =>
                expect(QMark); val lo = bind(); expect(Kw("AND")); expect(QMark)
                s"($quoted NOT BETWEEN $lo AND ${bind()})"
              case Kw("IN") => s"($quoted NOT IN ${inList()})"
              case Kw("LIKE") => expect(QMark); s"($quoted NOT LIKE ${bind()})"
              case other => throw WhereError(s"expected BETWEEN/IN/LIKE after NOT, got $other")
            }
          case Kw("BETWEEN") =>
            expect(QMark); val lo = bind(); expect(Kw("AND")); expect(QMark)
            s"($quoted BETWEEN $lo AND ${bind()})"
          case Kw("IN") => s"($quoted IN ${inList()})"
          case other => throw WhereError(s"expected operator after column, got $other")
        }
    }
    def inList(): String = {
      expect(LParen())
      val vals = ArrayBuffer.empty[String]
      expect(QMark); vals += bind()
      while (peek.contains(Comma())) { next(); expect(QMark); vals += bind() }
      expect(RParen())
      vals.mkString("(", ", ", ")")
    }

    val rendered = expr()
    if (pos != toks.length) throw WhereError("trailing tokens in condition")
    if (paramIdx != params.length)
      throw WhereError(s"too many parameters: used $paramIdx of ${params.length}")
    rendered
  }

  /** Session UDF backing the REGEXP operator. */
  val UdfName = "graft_regexp"

  /** Register the REGEXP kernel in the session unless its function
    * registry already holds it (every entry point that may evaluate a
    * rendered condition calls this, so re-registering would write the
    * registry and log a replacement warning per request). The check is
    * per session: a `newSession()` starts without the function and
    * registers it on its first call. */
  def ensureUdfs(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier(UdfName)
    if (!registry.functionExists(id)) registry.synchronized {
      if (!registry.functionExists(id))
        spark.udf.register(UdfName, (s: String, p: String) => SafeRegex.matches(s, p))
    }
  }

  private def renderParam(p: Param): String = p match {
    case SStr(v)    => "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case SLong(v)   => v.toString
    case SDouble(v) => v.toString
    case SBool(v)   => if (v) "true" else "false"
    case SNull      => "NULL"
  }
}
