package graft.pipeline

/** Text-level SQL utilities: one lexer, and on it comment stripping,
  * statement splitting and the record-producing test. Behavior matches the
  * reference (src/node.rs:67-77, :112-131).
  */
object SqlText {

  sealed abstract class Kind
  /** A run of Java identifier characters: identifier, keyword or number. */
  case object Word extends Kind
  /** Any other single non-space character. */
  case object Punct extends Kind
  /** A `'…'` string literal (`''` escapes a quote; no backslash escapes). */
  case object Str extends Kind
  /** A `"…"` quoted identifier (DuckDB) / string (Spark). */
  case object DQuoted extends Kind
  /** A backtick-quoted identifier. */
  case object BQuoted extends Kind
  /** A `--` comment (up to, not including, its newline) or a block comment. */
  case object Comment extends Kind

  /** One token of `src`: `[start, end)` offsets and the paren/bracket/brace
    * depth it sits at. An opener and its closer carry the depth outside
    * them, so a group's closer is the first later token back at its
    * opener's depth. An unterminated quote or block comment runs to the end.
    */
  final case class Token(kind: Kind, start: Int, end: Int, depth: Int)(src: String) {
    def text: String = src.substring(start, end)
    /** A word or punctuation: the only bytes a rewrite may match on. */
    def isCode: Boolean = kind == Word || kind == Punct
    def is(c: Char): Boolean = kind == Punct && src.charAt(start) == c
    def isWord(w: String): Boolean =
      kind == Word && end - start == w.length && src.regionMatches(true, start, w, 0, w.length)
    def closes: Boolean = is(')') || is(']') || is('}')
  }

  /** Tokens of `sql` in order; whitespace separates tokens and is dropped. */
  def lex(sql: String): IndexedSeq[Token] = {
    val out = IndexedSeq.newBuilder[Token]
    val n = sql.length
    var i = 0
    var depth = 0
    def quotedEnd(q: Char): Int = {
      var j = i + 1
      while (j < n && sql.charAt(j) != q ||
          j + 1 < n && sql.charAt(j) == q && sql.charAt(j + 1) == q)
        j += (if (sql.charAt(j) == q) 2 else 1) // a doubled quote is an escape
      math.min(j + 1, n)
    }
    while (i < n) {
      val c = sql.charAt(i)
      if (Character.isWhitespace(c)) i += 1
      else {
        val (kind, end) = c match {
          case '\'' => (Str, quotedEnd(c))
          case '"'  => (DQuoted, quotedEnd(c))
          case '`'  => (BQuoted, quotedEnd(c))
          case '-' if sql.startsWith("--", i) =>
            val nl = sql.indexOf('\n', i)
            (Comment, if (nl < 0) n else nl)
          case '/' if sql.startsWith("/*", i) =>
            val close = sql.indexOf("*/", i + 2)
            (Comment, if (close < 0) n else close + 2)
          case _ if Character.isJavaIdentifierPart(c) =>
            var j = i + 1
            while (j < n && Character.isJavaIdentifierPart(sql.charAt(j))) j += 1
            (Word, j)
          case _ => (Punct, i + 1)
        }
        val closes = kind == Punct && (c == ')' || c == ']' || c == '}')
        if (closes) depth -= 1
        out += Token(kind, i, end, depth)(sql)
        if (kind == Punct && (c == '(' || c == '[' || c == '{')) depth += 1
        i = end
      }
    }
    out.result()
  }

  /** Drop `--` line comments and block comments, keeping quoted tokens (a
    * '…', "…" or `…` token may contain comment markers) and each line
    * comment's newline. The reference strips comments before dependency
    * parsing so refs in comments don't create edges (src/node.rs:67-77).
    */
  def stripComments(sql: String): String = {
    val out = new StringBuilder(sql.length)
    var last = 0
    lex(sql).foreach { t =>
      if (t.kind == Comment) { out.append(sql.substring(last, t.start)); last = t.end }
    }
    out.append(sql.substring(last)).toString
  }

  /** Split on `;` tokens (never inside a quoted token or comment), trim,
    * drop empties (src/node.rs:125-131 splits naively).
    */
  def splitStatements(sql: String): Seq[String] =
    splitAt(sql)(_.is(';')).filter(_.nonEmpty)

  /** `sql` cut at the one-character tokens `cut` selects, each piece
    * trimmed (empty pieces kept).
    */
  def splitAt(sql: String)(cut: Token => Boolean): Seq[String] = {
    val cuts = lex(sql).filter(cut).map(_.start)
    (-1 +: cuts).zip(cuts :+ sql.length).map { case (a, b) => sql.substring(a + 1, b).trim }
  }

  /** A statement "produces records" iff its first ≤50 chars, uppercased,
    * start with SELECT or WITH (src/node.rs:112-123). Parity: DuckDB's
    * `FROM x` shorthand and VALUES are intentionally NOT treated as
    * record-producing.
    */
  def producesRecords(stmt: String): Boolean = {
    val head = stmt.trim.take(50).toUpperCase
    head.startsWith("SELECT") || head.startsWith("WITH")
  }
}
