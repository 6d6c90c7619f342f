package graft.engine

import scala.collection.mutable.ArrayBuffer

/** Small, quote/paren-aware text utilities for the statement
  * frontend. The engine routes statements itself (like the
  * reference's `execute_statement` match,
  * `/root/reference/src/core/execution.rs:894-1279`) but delegates
  * all SELECT expression parsing to Spark SQL — these helpers only
  * find statement-level boundaries, never parse expressions.
  */
object SqlText {

  /** Split on `sep` at paren depth 0, outside '…'/"…"/`…` quotes and
    * outside comments. Comment syntax follows MySQL: `#` to end of
    * line, `--` to end of line only when followed by whitespace or
    * end of input (`a--b` stays an expression), and non-nesting
    * slash-star … star-slash blocks. Comment TEXT is copied through
    * unchanged — only separator/quote/paren recognition is suspended
    * inside, so a ';' in a trailing comment (e.g. from a JDBC client
    * with allowMultiQueries) never fractures a valid statement. */
  def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        cur += c
        if (c == quote) {
          // '' / "" escape inside same-quote string
          if (i + 1 < s.length && s.charAt(i + 1) == quote && quote != '`') {
            cur += quote; i += 1
          } else quote = 0
        }
      } else if (c == '#' ||
          (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-' &&
            (i + 2 >= s.length || s.charAt(i + 2).isWhitespace))) {
        // line comment: copy through to (and including) the newline
        while (i < s.length && s.charAt(i) != '\n') { cur += s.charAt(i); i += 1 }
        if (i < s.length) cur += '\n'
      } else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        // block comment: copy through to the closing */ (or input end)
        cur += '/'; cur += '*'; i += 2
        while (i < s.length &&
            !(s.charAt(i) == '*' && i + 1 < s.length && s.charAt(i + 1) == '/')) {
          cur += s.charAt(i); i += 1
        }
        if (i < s.length) { cur += '*'; cur += '/'; i += 1 }
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case `sep` if depth == 0 => out += cur.result(); cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    out += cur.result()
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Find the first occurrence of a keyword (case-insensitive, word
    * boundary) at depth 0 outside quotes; -1 if absent. */
  def indexOfKeyword(s: String, kw: String): Int = {
    val lower = s.toLowerCase
    val k = kw.toLowerCase
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && lower.startsWith(k, i) &&
            (i == 0 || !Character.isLetterOrDigit(lower.charAt(i - 1))) &&
            (i + k.length >= s.length ||
              !Character.isLetterOrDigit(lower.charAt(i + k.length))) &&
            lower.charAt(i) == k.charAt(0))
            return i
      }
      i += 1
    }
    -1
  }

  /** True iff `pos` falls inside a `'…'`/`"…"`/`` `…` `` quoted run —
    * keeps regex-located clauses (INSERT's ON DUPLICATE KEY UPDATE)
    * out of string literals. */
  def inQuotes(s: String, pos: Int): Boolean = {
    var quote: Char = 0
    var i = 0
    while (i < pos) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"' || c == '`') quote = c
      i += 1
    }
    quote != 0
  }

  /** Strip one layer of backticks/quotes from an identifier and
    * lowercase it (the reference lowercases every table/column name,
    * `execution.rs:425-464`). */
  def ident(raw: String): String = {
    val t = raw.trim
    val un =
      if (t.length >= 2 && (t.head == '`' && t.last == '`')) t.substring(1, t.length - 1)
      else t
    un.toLowerCase
  }

  /** Session-variable substitution, mirroring the reference's
    * VarProvider surface (`/root/reference/src/variable/system.rs:41-66`,
    * `user_defined.rs:42-47`): `@@[session.]name` resolves from the
    * global-variables map (unknown → "<version>-<name>"), `@name` is
    * the user-var stub, and `database()` becomes a literal. Quote-aware:
    * nothing inside string literals is touched. */
  def substituteVars(sql: String, globals: Map[String, String],
      version: String, currentSchema: Option[String]): String = {
    val out = new StringBuilder
    var quote: Char = 0
    var i = 0
    def isIdent(c: Char) = Character.isLetterOrDigit(c) || c == '_' || c == '.'
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (quote != 0) {
        out += c
        if (c == quote) quote = 0
        i += 1
      } else if (c == '\'' || c == '"' || c == '`') {
        quote = c; out += c; i += 1
      } else if (c == '@' && i + 1 < sql.length && sql.charAt(i + 1) == '@') {
        var j = i + 2
        while (j < sql.length && isIdent(sql.charAt(j))) j += 1
        val full = sql.substring(i + 2, j).toLowerCase
        val name = if (full.startsWith("session.")) full.drop(8)
          else if (full.startsWith("global.")) full.drop(7) else full
        val v = globals.getOrElse(name, s"$version-$name")
        out ++= s"'${v.replace("'", "''")}'"
        i = j
      } else if (c == '@' && i + 1 < sql.length && isIdent(sql.charAt(i + 1))) {
        var j = i + 1
        while (j < sql.length && isIdent(sql.charAt(j))) j += 1
        val name = sql.substring(i + 1, j)
        out ++= s"'user-defined-var-$name'"
        i = j
      } else if ((c == 'd' || c == 'D') &&
          sql.regionMatches(true, i, "database()", 0, 10) &&
          (i == 0 || !Character.isLetterOrDigit(sql.charAt(i - 1)))) {
        out ++= currentSchema.map(s => s"'$s'").getOrElse("CAST(NULL AS STRING)")
        i += 10
      } else {
        out += c; i += 1
      }
    }
    out.result()
  }

  /** Substitute `?` placeholders (outside quotes) with literal
    * parameter values — the prepared-statement EXECUTE path
    * (`/root/reference/src/core/core_util.rs:32-107`). */
  def substituteParams(sql: String, params: Seq[Any]): String = {
    val out = new StringBuilder
    var quote: Char = 0
    var p = 0
    for (c <- sql) {
      if (quote != 0) { out += c; if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"' || c == '`') { quote = c; out += c }
      else if (c == '?') {
        if (p >= params.length)
          throw Errors.generic("not enough parameters for prepared statement")
        out ++= toLiteral(params(p)); p += 1
      } else out += c
    }
    if (p != params.length)
      throw Errors.generic(s"expected $p parameters, got ${params.length}")
    out.result()
  }

  def toLiteral(v: Any): String = v match {
    case null => "NULL"
    case None => "NULL"
    case s: String => s"'${s.replace("'", "''")}'"
    case b: Boolean => if (b) "TRUE" else "FALSE"
    case n => n.toString
  }

  /** Count `?` parameters outside quotes. */
  def countParams(sql: String): Int = {
    var quote: Char = 0
    var n = 0
    for (c <- sql) {
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"' || c == '`') quote = c
      else if (c == '?') n += 1
    }
    n
  }
}
