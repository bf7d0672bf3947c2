package graft.pipeline

import java.util.regex.MatchResult

import scala.util.matching.Regex

import org.apache.spark.sql.SparkSession

import SqlText.{BQuoted, Comment, Str, Token, Word, lex}

/** DuckDB → Spark SQL dialect shim (SURVEY.md §2.D).
  *
  * Model SQL in the reference is DuckDB dialect; the examples exercise two
  * DuckDB-isms Spark rejects (reference examples/basic SQL models):
  *   1. zero-arg count()            → count with star argument
  *   2. read_parquet('path')        → parquet.`path` file-format table
  *      (likewise read_csv / read_csv_auto / read_json / read_json_auto)
  * Plus the forms DuckDB users reach for next:
  *   3. read_parquet(['a','b',…])   → (SELECT * FROM parquet.`a`
  *                                     UNION ALL SELECT * FROM parquet.`b`)
  *      — list args for any read_* fn. Globs need no rewrite: Spark's
  *      file-format tables already expand patterns like `part-*.parquet`.
  *   4. read_csv('p', header=true, delim='|', …) — keyword options. No
  *      inline OPTIONS syntax exists for file tables in Spark SQL, so the
  *      session-aware overload registers a deterministic temp view via
  *      DataFrameReader options and substitutes its name. Only the
  *      documented option keys rewrite; a call with an unsupported kwarg
  *      is left verbatim, failing at execution with the SQL + model path
  *      attached, matching the reference (src/node.rs:198-202).
  *
  * Every rewrite reads the statement through one lexer ([[SqlText.lex]]):
  * bytes inside '…', "…" and `…` tokens and comments are data and are
  * never rewritten. A parser-injection seam
  * (SparkSessionExtensions.injectParser) is the upgrade path if the shim
  * grows beyond these rewrites.
  */
object DialectShim {

  // --- token queries shared by every rewrite ------------------------------

  /** Index of the token starting at `pos`, or -1. */
  private def tokenAt(toks: IndexedSeq[Token], pos: Int): Int =
    toks.view.map(_.start).search(pos) match {
      case scala.collection.Searching.Found(i) => i
      case _                                   => -1
    }

  /** Index of the closer of the group token `i` opens; -1 when unclosed. */
  private def closeOf(toks: IndexedSeq[Token], i: Int): Int =
    toks.indexWhere(_.depth <= toks(i).depth, i + 1)

  /** Index of the opener of the group around token `i` (for a closer: of
    * the group it closes); -1 at the top level.
    */
  private def openOf(toks: IndexedSeq[Token], i: Int): Int = {
    val t = toks(i)
    val inner = if (t.closes) t.depth + 1 else t.depth
    toks.lastIndexWhere(_.depth < inner, i - 1)
  }

  /** Offsets of the innermost group around the token at `pos`: (opener,
    * closer), (-1, length) at the top level; the closer is `length` when
    * the group is unclosed.
    */
  private def group(sql: String, pos: Int): (Int, Int) = {
    val toks = lex(sql)
    val o = openOf(toks, tokenAt(toks, pos))
    if (o < 0) (-1, sql.length)
    else closeOf(toks, o) match {
      case -1 => (toks(o).start, sql.length)
      case c  => (toks(o).start, toks(c).start)
    }
  }

  /** Rewrite every code match of a clause pattern, innermost first: `f`
    * gets the content of the group around the first match (the whole
    * statement at the top level) and removes that occurrence; each round
    * handles one. Malformed nesting fails through `fail`.
    */
  private def rewriteInGroups(sql: String, re: Regex, fail: String => Nothing)(
      f: String => String): String = {
    var cur = sql
    var guard = 0
    var m = codeMatches(cur, re).headOption
    while (m.isDefined) {
      guard += 1
      if (guard > 20) fail("rewrite did not converge")
      val (open, close) = group(cur, m.get._1.start)
      if (open >= 0 && close >= cur.length) fail("unbalanced parentheses")
      cur = cur.substring(0, open + 1) + f(cur.substring(open + 1, close)) + cur.substring(close)
      m = codeMatches(cur, re).headOption
    }
    cur
  }

  /** `text` cut at its depth-0 commas, each piece trimmed (empties kept). */
  private def splitItems(text: String): Seq[String] =
    SqlText.splitAt(text)(t => t.depth == 0 && t.is(','))

  /** Arguments of the call whose `(` token starts at `open`: the trimmed
    * top-level items (none for `f()`) and the offset after the closer;
    * None when the call is unclosed.
    */
  private def callArgs(sql: String, open: Int): Option[(Seq[String], Int)] = {
    val toks = lex(sql.substring(open))
    closeOf(toks, 0) match {
      case -1 => None
      case c =>
        val all = splitItems(sql.substring(open + 1, open + toks(c).start))
        Some((if (all == Seq("")) Seq.empty else all, open + toks(c).end))
    }
  }

  /** Word tokens spelling `word` (case-insensitive), at any depth. */
  private def words(sql: String, word: String): IndexedSeq[Token] =
    lex(sql).filter(_.isWord(word))

  /** Offsets of `word` at depth 0. */
  private def topWords(sql: String, word: String): IndexedSeq[Int] =
    words(sql, word).collect { case t if t.depth == 0 => t.start }

  /** The last non-comment token before `pos`. */
  private def tokenBefore(sql: String, pos: Int): Option[Token] =
    lex(sql).takeWhile(_.start < pos).filter(_.kind != Comment).lastOption

  /** Length of the possibly qualified name (adjacent words, `.` and
    * backtick-quoted parts) starting at token `k`; 0 when there is none.
    */
  private def nameLength(toks: IndexedSeq[Token], k: Int): Int = {
    def part(t: Token) = t.kind == Word || t.kind == BQuoted || t.is('.')
    var n = 0
    while (k + n < toks.length && part(toks(k + n)) &&
        (n == 0 || toks(k + n - 1).end == toks(k + n).start)) n += 1
    n
  }

  /** Matches of `re` that start on a word or punctuation token, with that
    * token's depth. A match starting inside a quoted token or comment is
    * skipped and the search resumes one character later, so it cannot hide
    * a real occurrence behind it.
    */
  private def codeMatches(sql: String, re: Regex): Seq[(MatchResult, Int)] = {
    lazy val toks = lex(sql)
    val mt = re.pattern.matcher(sql)
    val out = Seq.newBuilder[(MatchResult, Int)]
    var from = 0
    while (from <= sql.length && mt.find(from)) {
      val k = tokenAt(toks, mt.start)
      if (k >= 0 && toks(k).isCode) {
        out += ((mt.toMatchResult, toks(k).depth))
        from = math.max(mt.end, mt.start + 1)
      } else from = mt.start + 1
    }
    out.result()
  }

  /** Every code-position match of `re` replaced by `f(match)`. */
  private def replaceInCode(sql: String, re: Regex)(f: MatchResult => String): String = {
    val out = new StringBuilder
    var last = 0
    codeMatches(sql, re).foreach { case (m, _) =>
      out.append(sql.substring(last, m.start)).append(f(m)); last = m.end
    }
    out.append(sql.substring(last)).toString
  }

  /** `f` applied to each run of text between quoted tokens and comments. */
  private def mapCode(sql: String)(f: String => String): String = {
    val out = new StringBuilder
    var last = 0
    lex(sql).foreach { t =>
      if (!t.isCode) {
        out.append(f(sql.substring(last, t.start))).append(t.text); last = t.end
      }
    }
    out.append(f(sql.substring(last))).toString
  }

  /** Rewrite each code-position call `fn` matches (a pattern ending at the
    * call's `(`) whose trimmed arguments `f` maps. The scan resumes AT a
    * replacement, so a nested same-function call riding verbatim inside the
    * arguments gets its own rewrite (skipping past it once left the inner
    * call on a colliding Spark builtin); no replacement re-emits its own
    * matchable name, and the guard bounds pathology.
    */
  private def rewriteCalls(sql: String, fn: Regex)(f: Seq[String] => Option[String]): String = {
    var cur = sql
    var search = 0
    var guard = 0
    while (guard < 50) {
      guard += 1
      val m = codeMatches(cur, fn).map(_._1).find(_.start >= search).getOrElse(return cur)
      callArgs(cur, m.end - 1).flatMap { case (args, after) => f(args).map((_, after)) } match {
        case Some((text, after)) =>
          cur = cur.substring(0, m.start) + text + cur.substring(after)
          search = m.start
        case None => search = m.end
      }
    }
    cur
  }

  private val strLitRe = """(?s)'((?:[^']|'')*)'""".r

  /** The value of `s` when it is exactly one closed '…' literal. */
  private def strLiteral(s: String): Option[String] = s.trim match {
    case strLitRe(body) => Some(body.replace("''", "'"))
    case _              => None
  }

  private val fnNames = "read_parquet|read_csv_auto|read_csv|read_json_auto|read_json"
  private val readFn =
    s"""(?i)\\b($fnNames)\\s*\\(\\s*'([^']*)'\\s*\\)""".r
  private val readFnList =
    s"""(?i)\\b($fnNames)\\s*\\(\\s*\\[([^\\]]*)\\]\\s*\\)""".r
  // kwarg text may carry a names=[…] list or a columns={…} schema dict —
  // brackets and braces are fine, nested parens are not (none of the
  // supported kwargs take them)
  private val readFnKwargs =
    s"""(?i)\\b(read_csv_auto|read_csv|read_json_auto|read_json)\\s*\\(\\s*'([^']*)'\\s*,\\s*([^()]*)\\)""".r
  private val pathLit = """'([^']*)'""".r
  private val bareCount = """(?i)\bcount\s*\(\s*\)""".r

  private def fmtOf(fn: String): String = fn.toLowerCase match {
    case "read_parquet"               => "parquet"
    case "read_csv" | "read_csv_auto" => "csv"
    case _                            => "json"
  }

  // DuckDB kwarg → Spark DataFrameReader option; unsupported keys abort
  // the rewrite (the call is left for execution to reject).
  private val kwargKeys = Map(
    "header" -> "header", "delim" -> "sep", "sep" -> "sep",
    "quote" -> "quote", "escape" -> "escape", "nullstr" -> "nullValue",
    "compression" -> "compression")

  // DuckDB → Spark function renames that are semantically 1:1 (argument
  // shapes and null behavior match); anything not exactly equivalent
  // (strftime's %-codes, len's string/list overload, …) is deliberately
  // NOT mapped — it fails at execution with the original name visible.
  private val fnRenames = Seq(
    "list_contains" -> "array_contains",
    "list_has_any" -> "arrays_overlap",
    "regexp_matches" -> "regexp_like", // both are find-anywhere semantics
    // maps the common timestamp→ms overload; DuckDB's reverse BIGINT→
    // timestamp overload is NOT covered and fails (naming unix_millis) —
    // the one deliberate exception to the fail-with-original-name rule
    "epoch_ms" -> "unix_millis",
    // lambda syntax (`x -> …`) is identical in both dialects, so the
    // higher-order pair is a pure rename (len() is NOT here: its overload
    // set needs type dispatch — see the registered `len` function in
    // graft.functions.GraftExtensions)
    "list_transform" -> "transform",
    "list_filter" -> "filter",
    // literal list/array constructors and appends are 1:1 (same arg order,
    // same null-in → null-out); list_distinct is NOT (DuckDB drops NULL
    // elements, Spark keeps one) and stays unmapped
    "list_value" -> "array",
    "list_append" -> "array_append",
    "array_length" -> "array_size",
    // both join a list with a separator, skipping NULL elements
    "array_to_string" -> "array_join",
    // (printf needs no rename: Spark 4 has it natively, as its alias of
    // format_string)
    "starts_with" -> "startswith",
    "ends_with" -> "endswith",
    // DuckDB list_sort defaults to ASC NULLS LAST — exactly Spark's
    // array_sort (NOT sort_array, whose default puts nulls first)
    "list_sort" -> "array_sort",
    // DuckDB's arg_max/arg_min (a.k.a. argmax/argmin) are Spark's
    // max_by/min_by: value at max/min key, NULL keys ignored, in both
    // engines. DuckDB's 3-arg top-n overload is NOT equivalent and fails
    // at analysis (naming max_by — a lexical rename can't see arity).
    "arg_max" -> "max_by", "argmax" -> "max_by",
    "arg_min" -> "min_by", "argmin" -> "min_by")
    .map { case (from, to) => (s"(?i)\\b$from\\s*\\(").r -> (to + "(") }

  // string_split's separator is a LITERAL; Spark split takes a regex —
  // rewrite only the quoted-literal form and regex-escape the separator.
  // first arg: any run of non-paren/comma chars and/or quoted literals
  // (covers columns, simple exprs, and TIMESTAMP '…' literals)
  private val stringSplitFn =
    """(?i)\b(?:string_split|str_split)\s*\(((?:[^,()']|'[^']*')+),\s*'([^']*)'\s*\)""".r
  private def regexEscapeForSqlLiteral(sep: String): String =
    sep.flatMap { c =>
      // \ must double once for the regex engine and again for Spark's
      // string-literal escape handling
      if ("\\^$.|?*+()[]{}".contains(c)) s"\\\\$c" else c.toString
    }

  // strftime's %-codes → Spark's date_format (JDK DateTimeFormatter)
  // pattern letters. Only formats built ENTIRELY from these codes and
  // pattern-inert literal chars rewrite; anything else (locale-dependent
  // %a/%b, unknown codes, embedded letters that Java would interpret as
  // pattern fields) is left verbatim for execution to reject with the
  // original name visible.
  private val strftimeFn =
    """(?i)\bstrftime\s*\(((?:[^,()']|'[^']*')+),\s*'([^']*)'\s*\)""".r
  private val strftimeCodes = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
    'H' -> "HH", 'M' -> "mm", 'S' -> "ss", 'j' -> "DDD", '%' -> "%",
    // %f = 6-digit microseconds; %I = 12-hour clock; %p = AM/PM (Spark's
    // date_format renders with Locale.US, matching DuckDB's output)
    'f' -> "SSSSSS", 'I' -> "hh", 'p' -> "a")
  private def translateStrftime(fmt: String): Option[String] = {
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      fmt(i) match {
        case '%' if i + 1 < fmt.length =>
          strftimeCodes.get(fmt(i + 1)) match {
            case Some(p) => out.append(p); i += 2
            case None    => return None
          }
        case c if c.isLetter => return None // Java would treat as a field
        case '\'' => return None            // quoting rules differ; bail
        case c => out.append(c); i += 1
      }
    }
    Some(out.toString)
  }

  // --- DuckDB CREATE MACRO (scalar form) --------------------------------
  // The reference passes ANY side statement through to DuckDB
  // (/root/reference/src/node.rs:151-205), so a model may define a macro
  // and a later statement/model may call it. Spark's SQL UDFs need typed
  // parameters, which untyped DuckDB macros don't carry — so scalar macros
  // are expanded TEXTUALLY instead: the definition statement registers
  // (name, params, body) in a per-session registry and executes as a
  // no-op; call sites in later statements inline the body with arguments
  // substituted (paren-wrapped, so precedence is preserved). Table macros
  // (`AS TABLE <select>`) register the same way and inline at call sites
  // as a parenthesized subquery — `FROM m(1)` becomes `FROM (SELECT … )`,
  // valid in Spark with or without an alias. LITERAL parameter defaults
  // (`b := 1`) follow DuckDB's binder: positional args must exactly fill
  // the non-default params, defaulted params bind by name only (`b := 2`)
  // or take their default. Non-literal defaults, and calls that don't
  // bind (wrong positional count, unknown name), stay verbatim and fail
  // at execution with the original text visible — the reference's error
  // shape for anything DuckDB-only.

  private final case class SqlMacro(name: String, params: Seq[String],
      defaults: Seq[(String, String)], body: String, isTable: Boolean) {
    def allParams: Seq[String] = params ++ defaults.map(_._1)
  }

  private val macroDefRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?MACRO\s+([A-Za-z_]\w*)\s*\(([^)]*)\)\s+AS\s+(.+)\s*$""".r
  private val identRe = """^[A-Za-z_]\w*$""".r

  private val tableBodyRe = """(?is)^TABLE\b\s*(.+)$""".r

  private val defaultParamRe = """(?s)^([A-Za-z_]\w*)\s*:=\s*(.+)$""".r
  // literal defaults only (number / string incl. '' escapes / boolean /
  // NULL): an expression default would need binder-time evaluation order
  // DuckDB itself doesn't promise textual substitution for
  private val literalRe =
    """(?i)^(?:-?\d+(?:\.\d+)?|'[^']*(?:''[^']*)*'|true|false|null)$""".r

  /** Full macro parse: positional params, ordered literal defaults, body.
    * None for non-literal defaults, a positional param after a defaulted
    * one, or anything else malformed — the statement then stays verbatim.
    */
  private def macroDefinitionFull(st: String): Option[SqlMacro] = st match {
    case macroDefRe(name, params, body) =>
      // a string-literal default may itself contain commas (`s := 'x,y'`)
      val raw = splitItems(params).filter(_.nonEmpty)
      val parsed: Seq[Either[String, (String, String)]] = raw.map {
        case p if identRe.findFirstIn(p).isDefined => Left(p)
        case defaultParamRe(n, v) if literalRe.findFirstIn(v.trim).isDefined =>
          Right(n.toLowerCase -> v.trim)
        case _ => return None
      }
      if (parsed.dropWhile(_.isLeft).exists(_.isLeft)) return None
      val pos = parsed.collect { case Left(p) => p }
      val defs = parsed.collect { case Right(d) => d }
      // a duplicated parameter name would let the default silently
      // override the positional binding
      val names = (pos ++ defs.map(_._1)).map(_.toLowerCase)
      if (names.distinct.length != names.length) return None
      body.trim match {
        case tableBodyRe(rest) =>
          Some(SqlMacro(name.toLowerCase, pos, defs, rest.trim, true))
        case b => Some(SqlMacro(name.toLowerCase, pos, defs, b, false))
      }
    case _ => None
  }

  /** Parse any CREATE MACRO definition: Some((name, allParamNames, body,
    * isTable)); None for anything unhandled. A table macro's body is the
    * SELECT after the TABLE keyword.
    */
  def macroDefinitionAny(st: String): Option[(String, Seq[String], String, Boolean)] =
    macroDefinitionFull(st).map(m => (m.name, m.allParams, m.body, m.isTable))

  // session-scoped, like DuckDB TEMP macros; weak keys so a stopped
  // session's registry is collectable (a long-lived driver may build many
  // sessions)
  private val macroRegistries = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, SqlMacro]]())
  private def registryOf(spark: SparkSession) =
    macroRegistries.synchronized {
      macroRegistries.computeIfAbsent(spark,
        _ => scala.collection.concurrent.TrieMap.empty[String, SqlMacro])
    }

  /** Register `st` if it is a scalar or table macro definition; true when
    * handled (the caller should then skip executing the statement).
    */
  def registerMacroIfDef(spark: SparkSession, st: String): Boolean =
    macroDefinitionFull(st) match {
      case Some(m) => registryOf(spark).put(m.name, m); true
      case None    => false
    }

  /** Inline registered macro calls (repeatedly, so macros may call macros;
    * bounded in case of accidental self-reference). Only an unqualified
    * word directly followed by `(` is a call, and it only rewrites when its
    * arguments bind to the definition.
    */
  private def inlineMacros(sql: String,
      macros: scala.collection.Map[String, SqlMacro]): String = {
    if (macros.isEmpty) return sql
    var out = sql
    var rounds = 0
    var changed = true
    while (changed && rounds < 10) {
      changed = false; rounds += 1
      val toks = lex(out)
      val sb = new StringBuilder
      var last = 0
      var i = 0
      while (i < toks.length) {
        val t = toks(i)
        val qualified = i > 0 && toks(i - 1).is('.') && toks(i - 1).end == t.start
        val call =
          if (t.kind != Word || qualified || !toks.lift(i + 1).exists(_.is('('))) None
          else macros.get(t.text.toLowerCase).flatMap { m =>
            callArgs(out, toks(i + 1).start).flatMap { case (args, end) =>
              bindMacroArgs(m, args).map(bound => (expandMacro(m, bound), end))
            }
          }
        call match {
          case Some((text, end)) =>
            sb.append(out.substring(last, t.start)).append(text)
            last = end; changed = true
            while (i < toks.length && toks(i).start < end) i += 1
          case None => i += 1
        }
      }
      out = sb.append(out.substring(last)).toString
    }
    out
  }

  /** DuckDB's binder rules for a call's argument list: positional args
    * must exactly fill the non-default params in order; defaulted params
    * bind by `name := value` or fall back to their default. None (call
    * left verbatim) on a positional-count mismatch, an unknown or
    * duplicated name, or a name that isn't a defaulted param.
    */
  private def bindMacroArgs(m: SqlMacro,
      args: Seq[String]): Option[Map[String, String]] = {
    val defaultNames = m.defaults.map(_._1).toSet
    // ANY `ident := v` shape is a named argument — one naming a
    // non-default param must leave the call verbatim (DuckDB's binder
    // errors there), NOT bind as positional text (expanding `(a := 5)`
    // into the body would be garbled SQL the user never wrote)
    def isNamed(a: String) = defaultParamRe.findFirstMatchIn(a).isDefined
    if (args.exists(a => defaultParamRe.findFirstMatchIn(a)
        .exists(mm => !defaultNames.contains(mm.group(1).toLowerCase))))
      return None
    // DuckDB's binder requires every positional to PRECEDE every named
    // argument — a named-first call errors there, so it must not quietly
    // compute here (the parity contract: verbatim, fails with the name)
    val firstNamed = args.indexWhere(isNamed)
    if (firstNamed >= 0 && args.drop(firstNamed).exists(!isNamed(_)))
      return None
    val (positional, named) =
      if (firstNamed < 0) (args, Seq.empty[String])
      else args.splitAt(firstNamed)
    if (positional.length != m.params.length) return None
    val overrides = named.map { a =>
      val mm = defaultParamRe.findFirstMatchIn(a).get
      mm.group(1).toLowerCase -> mm.group(2).trim
    }
    if (overrides.map(_._1).distinct.length != overrides.length) return None
    Some((m.params.map(_.toLowerCase).zip(positional) ++
      m.defaults ++ overrides).toMap) // later overrides win over defaults
  }

  /** Body expansion is a SINGLE pass over the body's tokens with all
    * parameters substituted simultaneously: sequential replaceAll would
    * re-substitute an argument whose text matches a later parameter name
    * (classic capture bug — `diff(a, b) AS a - b` called as `diff(b, 10)`
    * must yield `(b) - (10)`, not `((10)) - (10)`), and a regex pass would
    * also rewrite parameter names inside the body's quoted tokens.
    */
  private def expandMacro(m: SqlMacro, byParam: Map[String, String]): String = {
    val b = m.body
    val toks = lex(b)
    val sb = new StringBuilder("(")
    var last = 0
    toks.indices.foreach { i =>
      val t = toks(i)
      val qualified = i > 0 && toks(i - 1).is('.') && toks(i - 1).end == t.start
      if (t.kind == Word && !qualified) byParam.get(t.text.toLowerCase).foreach { a =>
        sb.append(b.substring(last, t.start)).append('(').append(a).append(')')
        last = t.end
      }
    }
    sb.append(b.substring(last)).append(')').toString
  }

  // --- DuckDB SUMMARIZE ---------------------------------------------------
  // `SUMMARIZE <table>` profiles every column. The reference passes it to
  // DuckDB; here SqlExec runs graft.ext.ProfileOps.profile over the table
  // AT EXECUTION TIME (rows discarded, like the reference's pass-through).
  // Execution-time handling matters: the target may be a view created by
  // an earlier statement of the same model/script, which does not exist
  // yet when statements are rewritten up front. Anything but a bare
  // table/view name stays verbatim (fails with SUMMARIZE visible).
  private val summarizeRe = """(?is)^\s*SUMMARIZE\s+([A-Za-z_][\w.]*)\s*$""".r

  /** The bare-name SUMMARIZE target, if `st` is one. */
  def summarizeTarget(st: String): Option[String] = st match {
    case summarizeRe(ident) => Some(ident)
    case _                  => None
  }

  /** Table references only the shim knows about, for dependency
    * extraction: statements the Catalyst parser can't see through even
    * after the lexical rewrite, but whose target is plain in the DuckDB
    * form (SUMMARIZE <table>; COPY <table> TO …).
    */
  def statementRefHints(st: String): Set[String] = st match {
    case summarizeRe(ident) => Set(ident.split('.').last.toLowerCase)
    case _ =>
      // malformed COPY/PIVOT contributes no edges here; the real error
      // surfaces at execution with the statement + model path attached
      val copyHint =
        (try copyToTarget(st) catch { case _: IllegalArgumentException => None }) match {
          case Some(CopyToSpec(Left(ident), _, _, _)) =>
            Set(ident.split('.').last.toLowerCase)
          case _ => Set.empty[String]
        }
      val pivotHint =
        (try pivotStatement(st) catch { case _: IllegalArgumentException => None }) match {
          case Some(Left(p))  => p.source.left.toOption
            .map(_.split('.').last.toLowerCase).toSet
          case Some(Right(u)) => u.source.left.toOption
            .map(_.split('.').last.toLowerCase).toSet
          case None => Set.empty[String]
        }
      copyHint ++ pivotHint
  }

  // --- DuckDB COPY … TO --------------------------------------------------
  // The reference passes COPY straight to DuckDB (src/node.rs:151-205), so
  // `COPY (SELECT …) TO 'out.parquet' (FORMAT parquet)` is the standard
  // export idiom in a model's side statements or a run-file script. Spark
  // has no COPY statement; SqlExec executes the parsed spec as
  // `df.write.format(fmt).options(…).save(path)`. Documented divergence:
  // Spark writes `path` as a DIRECTORY of part files (the distributed-
  // native shape — a single file would force a 1-partition collect), where
  // DuckDB writes a single file; `spark.read.<fmt>(path)` and DuckDB's
  // `read_<fmt>('path/*')` both read it back.

  /** A parsed COPY statement: source is Left(table/view ident) or
    * Right(inner query SQL); `options` are Spark DataFrameWriter options.
    */
  final case class CopyToSpec(source: Either[String, String], path: String,
      format: String, options: Map[String, String])

  private val copyHead = """(?is)^\s*COPY\s""".r

  private def unsupportedCopy(detail: String): Nothing =
    throw new IllegalArgumentException(
      "COPY … TO: unsupported form (" + detail + "); supported: " +
        "`COPY <table>|(<query>) TO '<path>' [(FORMAT parquet|csv|json, " +
        "HEADER [true|false], DELIMITER '<c>', COMPRESSION <codec>, …)]`")

  /** Parse a `COPY <src> TO '<path>' [(options)]` statement; None if `st`
    * is not a COPY. A statement that IS a COPY but uses an unsupported
    * form/option throws — silently passing it to spark.sql would produce
    * an unrelated parse error, and silently dropping an option (say,
    * a partition or encryption clause) would corrupt the export contract.
    */
  def copyToTarget(st: String): Option[CopyToSpec] = {
    val head = copyHead.findFirstMatchIn(st).getOrElse(return None)
    val toks = lex(st).filter(t => t.start >= head.end && t.kind != Comment)
    val (source, afterSrc) = sourceAt(st, toks, 0, unsupportedCopy)
    var k = afterSrc
    // DuckDB also has COPY FROM (import); only TO is shimmed
    if (!toks.lift(k).exists(_.isWord("TO")))
      unsupportedCopy("expected TO (COPY FROM import is not supported)")
    k += 1
    val pathTok = toks.lift(k).filter(_.kind == Str)
      .getOrElse(unsupportedCopy("expected quoted path"))
    val path = strLiteral(pathTok.text).getOrElse(unsupportedCopy("unterminated path literal"))
    k += 1
    // optional [WITH] (opt [value], …)
    var raw = Map.empty[String, String]
    if (toks.lift(k).exists(_.isWord("WITH"))) k += 1
    if (toks.lift(k).exists(_.is('('))) {
      val close = closeOf(toks, k)
      if (close < 0) unsupportedCopy("unbalanced option list")
      splitItems(st.substring(toks(k).end, toks(close).start)).filter(_.nonEmpty).foreach { t =>
        val sp = t.indexWhere(_.isWhitespace)
        val (key, v) = if (sp < 0) (t, "") else (t.substring(0, sp), t.substring(sp).trim)
        raw += key.toLowerCase -> strLiteral(v).getOrElse(v)
      }
      k = close + 1
    }
    if (k < toks.length) unsupportedCopy("trailing text after option list")
    val fmt = raw.get("format").map(_.toLowerCase).getOrElse {
      val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
      ext match {
        case "parquet"                      => "parquet"
        case "json" | "jsonl" | "ndjson"    => "json"
        case _                              => "csv" // DuckDB's default format
      }
    }
    if (!Set("parquet", "csv", "json")(fmt))
      unsupportedCopy(s"format $fmt")
    val opts = (raw - "format").map {
      case ("header", v)    => "header" -> (if (v.isEmpty) "true" else v.toLowerCase)
      case ("delimiter", v) => "sep" -> v
      case ("delim", v)     => "sep" -> v
      case ("sep", v)       => "sep" -> v
      case ("quote", v)     => "quote" -> v
      case ("escape", v)    => "escape" -> v
      case ("compression", v) => "compression" -> v.toLowerCase
      case ("nullstr", v)   => "nullValue" -> v
      case (k, _)           => unsupportedCopy(s"option $k")
    }
    Some(CopyToSpec(source, path, fmt, opts))
  }

  /** A (qualified) table name or parenthesized query at token `k` of a
    * statement's comment-free tokens: the source and the index of the
    * token after it.
    */
  private def sourceAt(st: String, toks: IndexedSeq[Token], k: Int,
      fail: String => Nothing): (Either[String, String], Int) =
    if (toks.lift(k).exists(_.is('('))) {
      val close = closeOf(toks, k)
      if (close < 0) fail("unbalanced parentheses")
      (Right(st.substring(toks(k).end, toks(close).start).trim), close + 1)
    } else {
      val n = nameLength(toks, k)
      if (n == 0) fail("missing source")
      (Left(st.substring(toks(k).start, toks(k + n - 1).end)), k + n)
    }

  // --- DuckDB PIVOT / UNPIVOT statements ---------------------------------
  // DuckDB's statement forms (pass-through in the reference,
  // src/node.rs:151-205):
  //   PIVOT <src> ON <col> [IN (v,…)] USING <agg> [AS a][, …] [GROUP BY …]
  //   UNPIVOT <src> ON c1, c2[, …] [INTO NAME n VALUE v]
  // Spark expresses both as table clauses (`FROM t PIVOT (agg FOR col IN
  // (…))` / `FROM t UNPIVOT (v FOR n IN (…))`), so the rewrite is a SELECT
  // wrap. Two semantic alignments make it exact:
  //   - no GROUP BY → both engines group by every remaining column;
  //     an explicit GROUP BY projects the input down to (group cols, pivot
  //     col, agg args) first, because Spark's implicit grouping IS the
  //     projection.
  //   - dynamic ON (no IN list) → DuckDB enumerates the distinct values;
  //     the session-aware rewrite runs the same `SELECT DISTINCT … ORDER BY
  //     1` (both engines produce value columns in ascending order). This is
  //     a deliberate small driver-side query at rewrite time, exactly like
  //     the SUMMARIZE shim's schema probe.

  final case class PivotStmt(source: Either[String, String], onCol: String,
      inVals: Option[Seq[String]], usings: Seq[(String, Option[String])],
      groupBy: Option[String])
  final case class UnpivotStmt(source: Either[String, String],
      onCols: Seq[String], nameCol: String, valueCol: String)

  private val pivotHead = """(?is)^\s*(UN)?PIVOT\s""".r
  private val fromFirstRe = """(?is)^\s*FROM\s""".r

  // Cap on the dynamic-ON distinct probe (each value becomes a column;
  // DuckDB itself errors past ~100k pivot columns).
  private[pipeline] val maxPivotValues: Int = 10000

  private def unsupportedPivot(detail: String): Nothing =
    throw new IllegalArgumentException(
      "PIVOT/UNPIVOT statement: unsupported form (" + detail + "); " +
        "supported: `PIVOT <src> ON <col> [IN (…)] USING agg(x) [AS a][, …] " +
        "[GROUP BY …]`, `UNPIVOT <src> ON c1, c2 [INTO NAME n VALUE v]`")

  /** Parse a statement-level PIVOT/UNPIVOT; None if `st` is neither.
    * Malformed PIVOT forms throw with the operator named (same contract as
    * the COPY shim).
    */
  def pivotStatement(st: String): Option[Either[PivotStmt, UnpivotStmt]] = {
    val head = pivotHead.findFirstMatchIn(st).getOrElse(return None)
    val isUnpivot = head.group(1) != null
    val toks = lex(st).filter(t => t.start >= head.end && t.kind != Comment)
    val (source, afterSrc) = sourceAt(st, toks, 0, unsupportedPivot)
    if (!toks.lift(afterSrc).exists(_.isWord("ON"))) unsupportedPivot("expected ON")
    val i = toks(afterSrc).end
    if (isUnpivot) {
      val intoIdx = topWords(st, "INTO").find(_ >= i).getOrElse(-1)
      val colsText = if (intoIdx < 0) st.substring(i) else st.substring(i, intoIdx)
      val cols = splitItems(colsText).filter(_.nonEmpty)
      if (cols.isEmpty) unsupportedPivot("UNPIVOT needs ON columns")
      if (!cols.forall(c => identRe.findFirstIn(c).isDefined))
        unsupportedPivot("UNPIVOT ON items must be plain columns")
      var (nameCol, valueCol) = ("name", "value") // DuckDB defaults
      if (intoIdx >= 0) {
        val intoRe =
          """(?is)^\s*INTO\s+NAME\s+([A-Za-z_]\w*)\s+VALUE\s+([A-Za-z_]\w*)\s*$""".r
        st.substring(intoIdx) match {
          case intoRe(nc, vc) => nameCol = nc; valueCol = vc
          case _ => unsupportedPivot("INTO clause must be `INTO NAME n VALUE v`")
        }
      }
      Some(Right(UnpivotStmt(source, cols, nameCol, valueCol)))
    } else {
      val usingIdx = topWords(st, "USING").find(_ >= i)
        .getOrElse(unsupportedPivot("PIVOT without USING"))
      // between ON and USING: `<col> [IN (values)]`
      val onPart = st.substring(i, usingIdx).trim
      val inIdx = topWords(onPart, "IN").headOption.getOrElse(-1)
      val (onCol, inVals) =
        if (inIdx < 0) (onPart, None)
        else {
          val valsText = onPart.substring(inIdx + 2).trim
          if (!(valsText.startsWith("(") && valsText.endsWith(")")))
            unsupportedPivot("IN needs a parenthesized value list")
          (onPart.substring(0, inIdx).trim,
            Some(splitItems(valsText.substring(1, valsText.length - 1))
              .filter(_.nonEmpty)))
        }
      if (identRe.findFirstIn(onCol).isEmpty)
        unsupportedPivot("ON must name a single plain column")
      val groupIdx = topWords(st, "GROUP").find(_ >= usingIdx + 5).getOrElse(-1)
      val aggsText =
        if (groupIdx < 0) st.substring(usingIdx + 5)
        else st.substring(usingIdx + 5, groupIdx)
      val groupBy = if (groupIdx < 0) None else {
        val byRe = """(?is)^\s*GROUP\s+BY\s+(.+)$""".r
        st.substring(groupIdx) match {
          case byRe(cols) => Some(cols.trim)
          case _          => unsupportedPivot("GROUP must be GROUP BY")
        }
      }
      val asRe = """(?is)^(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$""".r
      val usings = splitItems(aggsText).filter(_.nonEmpty).map {
        case asRe(e, a) => (e.trim, Some(a))
        case e          => (e, None)
      }
      if (usings.isEmpty) unsupportedPivot("USING needs at least one aggregate")
      Some(Left(PivotStmt(source, onCol, inVals, usings, groupBy)))
    }
  }

  // --- DuckDB list comprehensions -----------------------------------------
  // `[expr for x in xs if p]` (DuckDB 0.10) → `transform(filter(xs,
  // x -> p), x -> expr)`; without the filter, plain `transform`. The lambda
  // dialect (`x -> …`) is identical in both engines, so expr/cond pass
  // through verbatim. A literal-list iterable (`[1, 2, 3]`) becomes
  // `array(1, 2, 3)`; nested comprehensions resolve on the next fixpoint
  // pass. Plain subscripts (`arr[1]`) and list literals without a `for`
  // are left untouched.

  private def rewriteListComprehension(sql: String): String = {
    var cur = sql
    var guard = 0
    var changed = true
    while (changed && guard < 20) {
      val next = rewriteOneComprehension(cur)
      changed = next != cur
      cur = next
      guard += 1
    }
    cur
  }

  /** Rewrite the first comprehension found (leftmost opening bracket whose
    * content has a top-level `for`); identity when none remain.
    */
  private def rewriteOneComprehension(sql: String): String = {
    val toks = lex(sql)
    for (i <- toks.indices if toks(i).is('[')) {
      val close = closeOf(toks, i)
      if (close < 0) return sql // unbalanced; leave for execution to report
      val inner = sql.substring(toks(i).end, toks(close).start)
      val forIdx = topWords(inner, "for").headOption.getOrElse(-1)
      if (forIdx >= 0) {
        val expr = inner.substring(0, forIdx).trim
        val after = inner.substring(forIdx + 3)
        // no top-level `in`: not a comprehension after all
        val inIdx = topWords(after, "in").headOption.getOrElse(return sql)
        val v = after.substring(0, inIdx).trim
        if (identRe.findFirstIn(v).isEmpty) return sql
        val rest = after.substring(inIdx + 2)
        val (iterRaw, cond) = topWords(rest, "if").headOption match {
          case None        => (rest.trim, None)
          case Some(ifIdx) => (rest.substring(0, ifIdx).trim, Some(rest.substring(ifIdx + 2).trim))
        }
        val iter =
          if (iterRaw.startsWith("[") && iterRaw.endsWith("]") &&
              topWords(iterRaw.substring(1, iterRaw.length - 1), "for").isEmpty)
            s"array(${iterRaw.substring(1, iterRaw.length - 1).trim})"
          else iterRaw
        val replacement = cond match {
          case Some(p) => s"transform(filter($iter, $v -> $p), $v -> $expr)"
          case None    => s"transform($iter, $v -> $expr)"
        }
        return sql.substring(0, toks(i).start) + replacement + sql.substring(toks(close).end)
      }
      // a plain bracket: the scan goes on inside it (it may hold one)
    }
    sql
  }

  private def pivotSrcSql(source: Either[String, String]): String =
    source.fold(identity, q => s"($q)")

  /** SQL literal for a collected distinct pivot value. */
  private def sqlLit(v: Any): String = v match {
    case null                   => "NULL"
    case s: String              => "'" + s.replace("'", "''") + "'"
    case d: java.sql.Date       => s"DATE '$d'"
    case t: java.sql.Timestamp  => s"TIMESTAMP '$t'"
    case other                  => other.toString
  }

  private def rewritePivotStatement(st: String, spark: Option[SparkSession]): String =
    pivotStatement(st) match {
      case None => st
      case Some(Right(u)) =>
        s"SELECT * FROM ${pivotSrcSql(u.source)} UNPIVOT (${u.valueCol} " +
          s"FOR ${u.nameCol} IN (${u.onCols.mkString(", ")}))"
      case Some(Left(p)) =>
        val vals: Seq[String] = p.inVals.getOrElse {
          spark match {
            case None => return st // lexical-only pass: hints carry the refs
            case Some(s) =>
              // the distinct probe re-enters the full shim so a read_* or
              // macro-bearing source still resolves. LIMIT maxPivotValues+1
              // bounds the driver collect: each distinct value becomes an
              // output COLUMN, so beyond the cap the statement is almost
              // certainly a mistake — fail named instead of OOMing the
              // driver enumerating a high-cardinality ON column.
              val collected = s.sql(rewrite(
                s"SELECT DISTINCT ${p.onCol} AS __graft_v FROM " +
                  s"${pivotSrcSql(p.source)} WHERE ${p.onCol} IS NOT NULL " +
                  s"ORDER BY 1 LIMIT ${maxPivotValues + 1}", s))
                .collect().toSeq
              if (collected.size > maxPivotValues) unsupportedPivot(
                s"ON column `${p.onCol}` has more than $maxPivotValues " +
                  "distinct values; list them explicitly with IN (…) or " +
                  "pre-aggregate the source")
              collected.map(r => sqlLit(r.get(0)))
          }
        }
        if (vals.isEmpty) unsupportedPivot("no pivot values (empty IN / source)")
        // naming parity: DuckDB suffixes `_alias` even for a SINGLE aliased
        // aggregate, Spark only for multiple — so the single-aliased case
        // aliases each IN value to `<value>_<alias>` instead
        val (aggsSql, valsSql) = p.usings match {
          case Seq((e, Some(a))) =>
            (e, vals.map(v => s"$v AS `${strLiteral(v).getOrElse(v)}_$a`").mkString(", "))
          case us =>
            (us.map { case (e, a) => e + a.map(x => s" AS $x").getOrElse("") }
              .mkString(", "),
              vals.mkString(", "))
        }
        val pivotClause = s"PIVOT ($aggsSql FOR ${p.onCol} IN ($valsSql))"
        p.groupBy match {
          case None => s"SELECT * FROM ${pivotSrcSql(p.source)} $pivotClause"
          case Some(cols) =>
            // Spark groups by every non-pivot column, so the explicit
            // GROUP BY becomes a projection of the pivot's input
            // the arg must be a BARE column (or * / empty): an expression
            // like sum(a+b) can't be projected under its own name for the
            // outer PIVOT to resolve — fail named instead of emitting an
            // unresolvable projection
            val fnRe = """(?s)^\s*\w+\s*\(\s*([A-Za-z_][\w.]*|\*|)\s*\)\s*$""".r
            val argCols = p.usings.map(_._1).map {
              case fnRe(arg) => arg.trim
              case other => unsupportedPivot(
                s"GROUP BY needs simple fn(col) aggregates, got `$other`")
            }.filterNot(a => a == "*" || a.isEmpty || a == p.onCol).distinct
            val proj = (Seq(cols, p.onCol) ++ argCols).mkString(", ")
            s"SELECT * FROM (SELECT $proj FROM ${pivotSrcSql(p.source)}) $pivotClause"
        }
    }

  // --- DuckDB UNION [ALL] BY NAME ----------------------------------------
  // Combines arms by COLUMN NAME instead of position: the result carries
  // the union of the arms' columns (left arm's columns first, then each
  // later arm's new ones — DuckDB order), a column missing from an arm
  // fills with NULL, and the non-ALL form dedups. Spark has unionByName
  // only in the DataFrame API, so the shim aligns the arms textually:
  //   SELECT <aligned cols> FROM ( <arm> ) __graft_bn<i>
  // joined with UNION ALL / UNION. A trailing top-level ORDER BY / LIMIT
  // on the last arm scopes to the whole union (DuckDB semantics) and is
  // re-appended outside. Arm columns come from an analysis-only
  // spark.sql(arm).schema probe, so the rewrite is session-aware and
  // top-level only; a nested occurrence fails at execution with the
  // original text visible, and dependency extraction still sees every
  // arm via [[parseNormalize]].

  private val unionByNameRe = """(?is)\bUNION\s+(ALL\s+)?BY\s+NAME\b""".r

  private def unsupportedUnionByName(detail: String): Nothing =
    throw new IllegalArgumentException(
      "UNION BY NAME: unsupported form (" + detail + "); supported: " +
        "`<query> UNION [ALL] BY NAME <query> [ORDER BY …] [LIMIT …]` " +
        "with a consistent ALL across all top-level arms")

  private def rewriteUnionByName(sql: String,
      spark: Option[SparkSession]): Option[String] = {
    val seps = codeMatches(sql, unionByNameRe).collect { case (m, 0) => m }
    if (seps.isEmpty) return None
    val s = spark.getOrElse(return None) // lexical pass: leave verbatim
    // a positional UNION mixed into the same chain would need per-operator
    // alignment semantics — refuse loudly rather than misalign columns
    if (topWords(sql, "UNION").size != seps.size)
      unsupportedUnionByName("mix of BY NAME and positional UNION")
    if (seps.map(_.group(1) != null).distinct.size > 1)
      unsupportedUnionByName("mixed UNION ALL BY NAME and UNION BY NAME")
    val all = seps.head.group(1) != null
    val bounds = (Seq(0) ++ seps.flatMap(m => Seq(m.start, m.end)) :+ sql.length)
    val arms = bounds.grouped(2).collect { case Seq(a, b) =>
      sql.substring(a, b)
    }.toSeq
    // the probe executes nothing for a query, but WOULD execute DDL — so
    // every arm must be a plain query (models/run-file statements are;
    // materialize through a model instead of CTAS around a by-name union)
    val headOk = """(?is)^\s*(SELECT|WITH|FROM|VALUES|PIVOT|\()""".r
    arms.foreach(a => if (headOk.findFirstIn(a).isEmpty)
      unsupportedUnionByName("arms must be plain queries"))
    // a trailing top-level ORDER BY / LIMIT / OFFSET on the LAST arm
    // scopes to the whole union
    val lastArm = arms.last
    val tailPos = Seq("ORDER", "LIMIT", "OFFSET").flatMap(topWords(lastArm, _)).minOption
    val coreArms =
      arms.init :+ tailPos.map(lastArm.substring(0, _)).getOrElse(lastArm)
    val tail = tailPos.map(p => " " + lastArm.substring(p).trim).getOrElse("")
    // each arm re-enters the full shim (read_*, macros, FROM-first, …);
    // the probe then analyzes without running a job
    val rewritten = coreArms.map(a => rewriteImpl(a.trim, spark))
    val schemas = rewritten.map(a => s.sql(a).schema.fieldNames.toSeq)
    val unionCols = schemas.foldLeft(Vector.empty[String]) { (acc, cols) =>
      acc ++ cols.filterNot(c => acc.exists(_.equalsIgnoreCase(c)))
    }
    val armSelects = rewritten.zip(schemas).zipWithIndex.map {
      case ((arm, cols), i) =>
        val items = unionCols.map { c =>
          cols.find(_.equalsIgnoreCase(c)) match {
            case Some(own) if own == c => s"`$own`"
            case Some(own)             => s"`$own` AS `$c`"
            case None                  => s"NULL AS `$c`"
          }
        }
        s"SELECT ${items.mkString(", ")} FROM ( $arm ) __graft_bn$i"
    }
    Some(armSelects.mkString(if (all) " UNION ALL " else " UNION ") + tail)
  }

  // --- DuckDB COLUMNS() star expression ----------------------------------
  // `COLUMNS('re')` expands to every source column whose name matches the
  // (unanchored) regex; `COLUMNS(*)` to all of them, with an optional
  // `* EXCLUDE (…)`. A wrapping call applies per column and — DuckDB
  // behavior — the result KEEPS the source column name:
  //   SELECT min(COLUMNS('_num$')) FROM t  →  SELECT min(k_num) AS k_num, …
  // Supported where DuckDB pipelines use it: items of the MAIN select list
  // of a plain query (optional WITH prefix), bare or wrapped in a single
  // function call. The source columns come from an analysis-only probe of
  // the statement with its select list replaced by `*`, so the rewrite is
  // session-aware; other placements are left verbatim and fail at
  // execution with the original text visible.

  private val columnsCallRe = """(?i)\bCOLUMNS\s*\(""".r

  private def unsupportedColumns(detail: String): Nothing =
    throw new IllegalArgumentException(
      "COLUMNS(): unsupported form (" + detail + "); supported: select-list " +
        "items `COLUMNS('regex')`, `COLUMNS(*)`, `COLUMNS(* EXCLUDE (…))`, " +
        "optionally wrapped in a single function call `fn(COLUMNS(…))`")

  private def rewriteColumnsExpr(sql: String,
      spark: Option[SparkSession]): String = {
    if (codeMatches(sql, columnsCallRe).isEmpty) return sql
    val s = spark.getOrElse(return sql) // lexical pass: leave verbatim
    val selectPos = topWords(sql, "SELECT").headOption.getOrElse(return sql)
    // the probe must be a pure query: only an empty or WITH prefix before
    // the main SELECT (never DDL — s.sql would execute it)
    val prefix = sql.substring(0, selectPos)
    if (prefix.trim.nonEmpty &&
        """(?is)^\s*WITH\b""".r.findFirstIn(prefix).isEmpty) return sql
    val fromPos = topWords(sql, "FROM").find(_ > selectPos).getOrElse(return sql)
    val selList = sql.substring(selectPos + "SELECT".length, fromPos)
    if (codeMatches(selList, columnsCallRe).isEmpty) return sql
    val tailEnd = Seq("WHERE", "GROUP", "HAVING", "QUALIFY", "WINDOW",
      "ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT")
      .flatMap(topWords(sql, _).filter(_ > fromPos)).minOption.getOrElse(sql.length)
    val probe = prefix + "SELECT * " + sql.substring(fromPos, tailEnd)
    val allCols = s.sql(rewriteImpl(probe, spark)).schema.fieldNames.toSeq
    val bareRe = """(?is)^\s*COLUMNS\s*\((.*)\)\s*$""".r
    val wrappedRe =
      """(?is)^\s*([A-Za-z_]\w*)\s*\(\s*COLUMNS\s*\((.*)\)\s*\)\s*$""".r
    def expand(spec: String): Seq[String] = {
      val matched = spec.trim match {
        case "*" => allCols
        case st if st.startsWith("*") =>
          val exclParen = """(?is)^\*\s*EXCLUDE\s*\((.*)\)\s*$""".r
          val exclBare = """(?is)^\*\s*EXCLUDE\s+([A-Za-z_]\w*)\s*$""".r
          val names = st match {
            case exclParen(list) => splitItems(list).filter(_.nonEmpty)
            case exclBare(n)     => Seq(n)
            case other => unsupportedColumns(s"argument `$other`")
          }
          val lower = names.map(_.toLowerCase).toSet
          allCols.filterNot(c => lower(c.toLowerCase))
        case other => strLiteral(other) match {
          case Some(lit) =>
            val re = java.util.regex.Pattern.compile(lit)
            allCols.filter(c => re.matcher(c).find())
          case None => unsupportedColumns(s"argument `$other`")
        }
      }
      if (matched.isEmpty) unsupportedColumns("no columns matched")
      matched
    }
    val newItems = splitItems(selList).filter(_.nonEmpty).map { item =>
      if (codeMatches(item, columnsCallRe).isEmpty) item
      else item match {
        case bareRe(spec) => expand(spec).map(c => s"`$c`").mkString(", ")
        case wrappedRe(fn, spec) =>
          expand(spec).map(c => s"$fn(`$c`) AS `$c`").mkString(", ")
        case other => unsupportedColumns(s"select item `${other.trim}`")
      }
    }
    sql.substring(0, selectPos) + "SELECT " + newItems.mkString(", ") + " " +
      sql.substring(fromPos)
  }

  // --- DuckDB table functions in FROM position ---------------------------
  // `FROM generate_series(a, b[, s])` / `FROM range(…)` produce a rowset;
  // Spark's equivalent is `explode(sequence(…))` in a subquery. Inclusivity
  // matches exactly for generate_series; range excludes its end, so the
  // end adjusts by ∓1 per step sign. Guards keep silent divergence out:
  // Spark's sequence(a, b) AUTO-DESCENDS when b < a where DuckDB errors,
  // so the no-step forms map only for literal ascending bounds; explicit
  // literal steps map for any bounds (both engines error on a mismatched
  // direction — same contract, range's exactly-empty boundary errors here
  // instead of returning 0 rows). Everything else is left verbatim: an
  // unmapped `FROM range(n)` still runs on Spark's native range table
  // function, with its column named `id` instead of `range`.
  //
  // `unnest` maps three ways:
  //   - `<rel>, unnest(x) AS z(u)` (correlated lateral, the DuckDB token-
  //     explosion idiom) → `<rel> LATERAL VIEW explode(x) z AS u`
  //   - `FROM unnest([…]) AS z(u)` (uncorrelated) →
  //     `FROM (SELECT explode(array(…)) AS u) AS z`
  //   - select-list `unnest(x)` → `explode(x)`, aliased to DuckDB's
  //     derived name `unnest(x)` when the user gave no alias
  //   - SEVERAL select-list unnests → DuckDB zips them positionally,
  //     NULL-padding the shorter lists. Spark's one-generator rule can't
  //     take N explodes, so ONE generated index drives them all:
  //       SELECT try_element_at(a, __graft_uzi + 1), … FROM t
  //       LATERAL VIEW explode(<0 … max(size)-1, empty when all empty/NULL>)
  //         __graft_uz AS __graft_uzi
  //     try_element_at is 1-based and NULL out of range — exactly the
  //     zip-and-NULL-pad semantics. Only top-level (depth-0) select items
  //     rewrite; an unnest nested inside a function call leaves the whole
  //     statement verbatim (fails with unnest named).
  // Un-aliased FROM-position unnest keeps DuckDB's expression-derived
  // column name (un-referenceable in practice) — left verbatim.

  private val tableFnRe = """(?i)\b(generate_series|range|unnest)\s*\(""".r
  private val unnestRe = """(?i)\bunnest\s*\(""".r
  private val intLitRe = """^-?\d+$""".r
  private val fnClauseKeywords = Seq("WHERE", "GROUP", "HAVING", "QUALIFY",
    "WINDOW", "ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT",
    "SELECT", "ON", "USING")

  /** Is the match at `pos` inside a FROM clause (its innermost span has a
    * same-depth FROM before it with no intervening clause keyword)?
    */
  private def inFromClause(sql: String, pos: Int): Boolean = {
    val lo = group(sql, pos)._1 + 1
    val span = sql.substring(lo)
    val p = pos - lo
    val fromPos = topWords(span, "FROM").filter(_ < p).maxOption.getOrElse(return false)
    !fnClauseKeywords.exists(k => topWords(span, k).exists(q => q > fromPos && q < p))
  }

  /** A DuckDB bracket list literal becomes array(…); anything else passes
    * through (comprehensions were already rewritten by this point).
    */
  private def bracketToArray(arg: String): String = {
    val t = arg.trim
    if (t.startsWith("[") && t.endsWith("]"))
      "array(" + t.substring(1, t.length - 1) + ")"
    else t
  }

  private val fnAliasRe =
    """^\s*AS\s+([A-Za-z_]\w*)\s*\(\s*([A-Za-z_]\w*)\s*\)""".r

  private def rewriteTableFns(sql: String): String = {
    var cur = sql
    var search = 0
    var guard = 0
    while (guard < 50) {
      guard += 1
      // a derived alias like `unnest(l)` is a quoted token, so it never
      // re-triggers the rewrite that produced it
      val m = codeMatches(cur, tableFnRe).map(_._1).find(_.start >= search)
        .getOrElse(return cur)
      val fn = m.group(1).toLowerCase
      val open = m.end - 1
      callArgs(cur, open) match {
        case None => search = m.end // unbalanced; leave for execution
        case Some((args, after)) =>
          val repl: Option[(Int, Int, String)] = // (start, end, text)
            if (inFromClause(cur, m.start)) fn match {
              case "generate_series" => args match {
                case Seq(a, b) if intLitRe.findFirstIn(a.trim).isDefined &&
                    intLitRe.findFirstIn(b.trim).isDefined &&
                    a.trim.toLong <= b.trim.toLong =>
                  Some((m.start, after,
                    s"(SELECT explode(sequence(${a.trim}, ${b.trim})) AS generate_series)"))
                case Seq(a, b, s) if intLitRe.findFirstIn(s.trim).isDefined &&
                    s.trim.toLong != 0 =>
                  Some((m.start, after,
                    s"(SELECT explode(sequence($a, $b, ${s.trim})) AS generate_series)"))
                case _ => None
              }
              case "range" => args match {
                case Seq(n) if intLitRe.findFirstIn(n.trim).isDefined &&
                    n.trim.toLong > 0 =>
                  Some((m.start, after,
                    s"(SELECT explode(sequence(0, ${n.trim.toLong - 1})) AS range)"))
                case Seq(a, b) if intLitRe.findFirstIn(a.trim).isDefined &&
                    intLitRe.findFirstIn(b.trim).isDefined &&
                    a.trim.toLong < b.trim.toLong =>
                  Some((m.start, after,
                    s"(SELECT explode(sequence(${a.trim}, ${b.trim.toLong - 1})) AS range)"))
                case Seq(a, b, s) if intLitRe.findFirstIn(s.trim).isDefined &&
                    s.trim.toLong != 0 =>
                  val endAdj = if (s.trim.toLong > 0) s"($b) - 1" else s"($b) + 1"
                  Some((m.start, after,
                    s"(SELECT explode(sequence($a, $endAdj, ${s.trim})) AS range)"))
                case _ => None
              }
              case _ => // unnest: one argument, taken as raw text
                if (args.isEmpty) None
                else {
                  val raw = cur.substring(open + 1, after - 1)
                  val aliasM = fnAliasRe.findFirstMatchIn(cur.substring(after))
                  aliasM.flatMap { am =>
                    val (z, u) = (am.group(1), am.group(2))
                    val aliasEnd = after + am.end
                    val arg = bracketToArray(raw)
                    // comma before the call → correlated lateral; FROM
                    // directly before → uncorrelated subquery
                    tokenBefore(cur, m.start) match {
                      case Some(t) if t.is(',') =>
                        Some((t.start, aliasEnd, s" LATERAL VIEW explode($arg) $z AS $u"))
                      case Some(t) if t.isWord("FROM") =>
                        Some((m.start, aliasEnd, s"(SELECT explode($arg) AS $u) AS $z"))
                      case _ => None
                    }
                  }
                }
            } else if (fn == "unnest") {
              // select-list position: a single unnest explodes; several
              // zip via one generated index (see the comment block above)
              val (o, hi) = group(cur, m.start)
              val lo = o + 1
              val span = cur.substring(lo, hi)
              val nUnnest = codeMatches(span, unnestRe)
                .count { case (mm, _) => !inFromClause(span, mm.start) }
              // the innermost span must BE a query block — when it's a
              // function-call paren (`upper(unnest(x))`), leave the call
              // verbatim so the failure names unnest, instead of planting
              // an invalid nested explode
              if (args.isEmpty || topWords(span, "SELECT").isEmpty) None
              else if (nUnnest > 1)
                rewriteZipUnnests(span).map(ns => (lo, hi, ns))
              else {
                val raw = cur.substring(open + 1, after - 1)
                val arg = bracketToArray(raw)
                val rest = cur.substring(after)
                // explicit AS / implicit identifier alias → keep the user's
                // name; otherwise derive DuckDB's `unnest(<arg>)` name
                val aliasFollows = """^\s*AS\b""".r.findFirstIn(rest).isDefined ||
                  """^\s*([A-Za-z_]\w*)""".r.findFirstMatchIn(rest)
                    .exists(am => !fnClauseKeywords.contains(am.group(1).toUpperCase) &&
                      !Seq("FROM", "AS").contains(am.group(1).toUpperCase))
                val aliased =
                  if (aliasFollows) s"explode($arg)"
                  else s"explode($arg) AS `unnest(${raw.trim})`"
                Some((m.start, after, aliased))
              }
            } else None
          repl match {
            case Some((a, b, text)) =>
              cur = cur.substring(0, a) + text + cur.substring(b)
              // a zip rewrite (marked by its generated __graft_uz alias)
              // resumes at the span start: a FROM-clause unnest inside the
              // same span still needs its own rewrite (zip output cannot
              // re-trigger — its derived aliases are quoted tokens)
              search = if (text.contains("__graft_uz")) a else a + text.length
            case None => search = m.end
          }
      }
    }
    cur
  }

  /** Zip N select-list unnests of one query block (`span` = the block's
    * text). Every unnest site must sit at paren depth 0 of the block — a
    * site inside a function call or any other nesting returns None and the
    * statement stays verbatim (failing with unnest named, as before).
    */
  private def rewriteZipUnnests(span: String): Option[String] = {
    if (topWords(span, "SELECT").isEmpty) return None
    // (start, afterClose, rawArg) per site, in order
    val sites = codeMatches(span, unnestRe).flatMap { case (mm, depth) =>
      if (inFromClause(span, mm.start)) None
      else if (depth != 0) Some(Left(())) // nested (function arg / subquery)
      else callArgs(span, mm.end - 1) match {
        case Some((as, after)) if as.nonEmpty =>
          Some(Right((mm.start, after, span.substring(mm.end, after - 1))))
        case _ => Some(Left(())) // malformed call: bail
      }
    }
    if (sites.exists(_.isLeft)) return None
    val zip = sites.collect { case Right(s) => s }
    if (zip.size < 2) return None
    // all zip sites must belong to the FIRST query block, and the lateral
    // view must attach inside it: with a top-level set operation (a) before
    // the last site, the sites span arms; (b) before the first arm's FROM
    // (or with a FROM-less first arm), the attach point would land in a
    // LATER arm — either way some arm would reference an undefined
    // generated alias. Leave such statements verbatim so they fail with
    // `unnest` named (the documented error shape).
    val lastSite = zip.map(_._1).max
    val setOpPos = Seq("UNION", "INTERSECT", "EXCEPT")
      .flatMap(topWords(span, _).headOption).minOption.getOrElse(-1)
    if (setOpPos >= 0) {
      val fromPos = topWords(span, "FROM").headOption.getOrElse(-1)
      if (setOpPos < lastSite || fromPos < 0 || fromPos > setOpPos)
        return None
    }
    val args = zip.map { case (_, _, raw) => bracketToArray(raw) }
    val sizes = args.distinct.map(a => s"size($a)")
    val g = if (sizes.size == 1) sizes.head else s"greatest(${sizes.mkString(", ")})"
    // 0 … max(size)-1; empty (row dropped, like DuckDB) when every list is
    // empty or NULL. slice() avoids a CASE whose arms disagree on type.
    val idx = s"slice(sequence(0, greatest(coalesce($g, 1), 1) - 1), " +
      s"1, greatest(coalesce($g, 0), 0))"
    val lateral = s" LATERAL VIEW explode($idx) __graft_uz AS __graft_uzi"
    // replace call sites back-to-front so offsets stay valid
    var out = span
    zip.reverseIterator.foreach { case (start, after, raw) =>
      val call = s"try_element_at(${bracketToArray(raw)}, __graft_uzi + 1)"
      val rest = out.substring(after)
      val aliasFollows = """^\s*AS\b""".r.findFirstIn(rest).isDefined ||
        """^\s*([A-Za-z_]\w*)""".r.findFirstMatchIn(rest)
          .exists(am => !fnClauseKeywords.contains(am.group(1).toUpperCase) &&
            !Seq("FROM", "AS").contains(am.group(1).toUpperCase))
      // derive DuckDB's `unnest(<arg>)` name only when the call IS the
      // whole select item (next code is a comma, FROM, or the block end)
      val bareItem = {
        val t = rest.dropWhile(_.isWhitespace)
        t.isEmpty || t.startsWith(",") ||
          """(?i)^FROM\b""".r.findFirstIn(t).isDefined
      }
      val text =
        if (aliasFollows || !bareItem) call
        else s"$call AS `unnest(${raw.trim})`"
      out = out.substring(0, start) + text + out.substring(after)
    }
    // attach the lateral view at the end of the FROM clause (before the
    // first terminating clause keyword); no FROM at all (pure literals)
    // gets a one-row scaffold
    val terminators = Seq("WHERE", "GROUP", "HAVING", "QUALIFY", "WINDOW",
      "ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT")
    val fromPos = topWords(out, "FROM").headOption.getOrElse(-1)
    val searchFrom = if (fromPos >= 0) fromPos else 0
    val cut = terminators
      .flatMap(topWords(out, _).find(_ >= searchFrom))
      .minOption.getOrElse(out.length)
    val scaffold = if (fromPos >= 0) "" else " FROM (SELECT 1 AS __graft_uzd)"
    Some(out.substring(0, cut).stripTrailing() + scaffold + lateral +
      (if (cut < out.length) " " + out.substring(cut) else ""))
  }

  // --- single-arg list-function templates --------------------------------
  // Not pure renames (extra argument or a composed expression), verified
  // against DuckDB semantics:
  //   list_reverse_sort(x) → sort_array(x, false)   (DESC NULLS LAST both)
  //   list_unique(x) → count of distinct non-NULL elements
  // (list_distinct stays unmapped: DuckDB's result order is arbitrary
  // where Spark's array_distinct preserves first occurrence.)
  private def rewriteListFnTemplates(sql: String): String = {
    def nary(cur: String, fnName: String, arity: Int,
        tmpl: Seq[String] => String): String =
      rewriteCalls(cur, s"(?i)\\b$fnName\\s*\\(".r)(args =>
        Option.when(args.size == arity)(tmpl(args)))
    def one(cur0: String, fnName: String, tmpl: String => String): String =
      nary(cur0, fnName, 1, args => tmpl(args.head))
    val a = one(sql, "list_reverse_sort", x => s"sort_array($x, false)")
    val b = one(a, "list_unique",
      x => s"size(array_distinct(filter($x, __g -> __g IS NOT NULL)))")
    // DuckDB epoch(ts) is DOUBLE seconds WITH the fractional part — Spark's
    // unix_timestamp truncates, so micros-exact arithmetic instead
    val c = one(b, "epoch", x => s"(unix_micros($x) / 1e6)")
    // function spellings of the bracket forms — same 1-based / NULL-oob /
    // inclusive-clamping semantics as the subscript and slice mappings
    val d = Seq("list_element", "list_extract", "array_extract")
      .foldLeft(c)((s, fn) => nary(s, fn, 2,
        a => s"try_element_at(${a(0)}, ${a(1)})"))
    val e = Seq("list_slice", "array_slice")
      .foldLeft(d)((s, fn) => nary(s, fn, 3,
        a => s"slice(${a(0)}, ${a(1)}, (${a(2)}) - (${a(1)}) + 1)"))
    // DuckDB's 3-arg date_diff counts boundary CROSSINGS — a semantics
    // collision with both Spark's 2-arg date_diff (day difference) and
    // timestampdiff (complete units), so the 3-arg form maps to the
    // registered native DateDiffBoundary. 2-arg calls stay verbatim
    // (already Spark's own function; DuckDB has no 2-arg form).
    val f = Seq("date_diff", "datediff")
      .foldLeft(e)((s, fn) => nary(s, fn, 3,
        a => s"date_diff_boundary(${a(0)}, ${a(1)}, ${a(2)})"))
    rewriteFormat(rewriteRegexpReplace(rewriteJsonExtract(f)))
  }

  // --- DuckDB fmt-style format('{} and {}', a, b) --------------------------
  // Maps the plain-placeholder subset onto null-propagating concat +
  // CAST(arg AS STRING): `{}` auto-indexes, `{n}` indexes explicitly
  // (repeats allowed), `{{`/`}}` escape braces. This reproduces DuckDB's
  // NULL behavior exactly — format returns NULL when any REFERENCED
  // argument is NULL, which format_string would render as the text
  // "null". Templates with format specs (`{:.2f}`), named placeholders,
  // auto/indexed mixing, or out-of-range indices stay verbatim and fail
  // with `format` visible (Spark has no such function). Bounded
  // divergence: extreme doubles render engine-style (1e+20 vs 1.0E20).
  private val formatCallRe = """(?i)\bformat\s*\(""".r

  /** Parse `tpl` into literal segments and argument indices; None when any
    * construct outside the mapped subset appears.
    */
  private def parseFormatTemplate(tpl: String): Option[Seq[Either[String, Int]]] = {
    val parts = Seq.newBuilder[Either[String, Int]]
    val cur = new StringBuilder
    var auto = 0
    var sawAuto = false
    var sawIndexed = false
    var i = 0
    def flush(): Unit = { if (cur.nonEmpty) parts += Left(cur.toString); cur.clear() }
    while (i < tpl.length) tpl.charAt(i) match {
      case '{' if i + 1 < tpl.length && tpl.charAt(i + 1) == '{' =>
        cur.append('{'); i += 2
      case '{' =>
        val j = tpl.indexOf('}', i + 1)
        if (j < 0) return None
        val inner = tpl.substring(i + 1, j)
        if (inner.isEmpty) {
          flush(); parts += Right(auto); auto += 1; sawAuto = true
        } else if (inner.forall(_.isDigit)) {
          flush(); parts += Right(inner.toInt); sawIndexed = true
        } else return None // format spec / named placeholder
        i = j + 1
      case '}' if i + 1 < tpl.length && tpl.charAt(i + 1) == '}' =>
        cur.append('}'); i += 2
      case '}' => return None // lone closer — fmt rejects it too
      case c => cur.append(c); i += 1
    }
    if (sawAuto && sawIndexed) return None // fmt forbids mixing
    flush()
    Some(parts.result())
  }

  private def rewriteFormat(sql: String): String =
    rewriteCalls(sql, formatCallRe) { args =>
      for {
        tplLit <- args.headOption.flatMap(strLiteral)
        parts <- parseFormatTemplate(tplLit)
        vals = args.tail
        if parts.collect { case Right(ix) => ix }.forall(_ < vals.length)
      } yield {
        def lit(s: String) = "'" + s.replace("'", "''") + "'"
        val pieces = parts.map {
          case Left(s)   => lit(s)
          case Right(ix) => s"CAST((${vals(ix)}) AS STRING)"
        }
        if (pieces.isEmpty) "''"
        else if (pieces.size == 1) pieces.head
        else pieces.mkString("concat(", ", ", ")")
      }
    }

  // strptime's %-codes reuse strftime's translation table; only fully
  // translatable formats rewrite (same contract as strftime)
  private val strptimeFn =
    """(?i)\bstrptime\s*\(((?:[^,()']|'[^']*')+),\s*'([^']*)'\s*\)""".r

  // json_extract_string with a '$'-rooted literal path is Spark's
  // get_json_object directly. DuckDB's BARE paths are single lookups, not
  // dotted traversals — 'b.c' means the literal KEY "b.c" and a digit
  // string is a 0-BASED array index — so they map to Spark's quoted
  // subscript / index forms ($['b.c'], $[0]), which have the same
  // one-step semantics. The '/a/b' JSONPointer form stays unmapped (no
  // Spark equivalent) and fails with the original name.
  private val jsonExtractStrRe = """(?i)\bjson_extract_string\s*\(""".r
  private val bareJsonKeyRe = """(?s)^'([A-Za-z_][\w.]*|\d+)'$""".r
  private def rewriteJsonExtract(sql: String): String =
    rewriteCalls(sql, jsonExtractStrRe) {
      case Seq(j, p) if p.startsWith("'$") => Some(s"get_json_object($j, $p)")
      case Seq(j, bareJsonKeyRe(key)) =>
        val path = if (key.forall(_.isDigit)) s"'$$[$key]'" else s"'$$[''$key'']'"
        Some(s"get_json_object($j, $path)")
      case _ => None
    }

  // DuckDB regexp_replace replaces the FIRST match unless the 'g' flag is
  // given; Spark's builtin of the same name is always global — a silent
  // name-collision divergence the shim resolves explicitly:
  //   3-arg → regexp_replace_first (registered native expression)
  //   4-arg with literal flags ⊆ {g, i, c} → global/first + (?i) prefix
  // Other flag sets are left verbatim. Backreference syntax in the
  // replacement follows Spark/Java ($1) either way.
  private val regexpReplaceRe = """(?i)\bregexp_replace\s*\(""".r
  private def rewriteRegexpReplace(sql: String): String =
    rewriteCalls(sql, regexpReplaceRe) {
      case Seq(s, re, r) => Some(s"regexp_replace_first($s, $re, $r)")
      case Seq(s, re, r, f) if strLiteral(f).exists(_.forall("gic".contains(_))) =>
        val flags = strLiteral(f).get
        val pat = if (flags.contains('i')) s"concat('(?i)', $re)" else re
        // the global form emits Spark's explicit 4-arg position-1 variant
        // (same semantics): the 3-arg shape would re-match this very rule
        // when a union arm's output flows through the outer pass chain
        Some(if (flags.contains('g')) s"regexp_replace($s, $pat, $r, 1)"
          else s"regexp_replace_first($s, $pat, $r)")
      case _ => None
    }

  // --- DuckDB struct constructors ----------------------------------------
  // `struct_pack(a := 1, b := x)` and the literal form `{'a': 1, 'b': x}`
  // are Spark's named_struct('a', 1, 'b', x). Field access (`s.a`) then
  // matches across engines. Braces only survive to the shim when they are
  // struct literals — jinja rendered before it, comprehensions use
  // brackets. Innermost-first fixpoint handles nesting; a brace group that
  // doesn't parse as `'key': value` pairs is left verbatim.

  private val structPackRe = """(?i)\bstruct_pack\s*\(""".r
  private val namedArgRe = """(?s)^\s*([A-Za-z_]\w*)\s*:=\s*(.+)$""".r
  private val structFieldRe = """(?s)^\s*'([^']*)'\s*:\s*(.+)$""".r

  private def rewriteStructs(sql: String): String = {
    // struct_pack(name := expr, …)
    var cur = rewriteCalls(sql, structPackRe) { args =>
      Option.when(args.nonEmpty && args.forall(namedArgRe.findFirstIn(_).isDefined)) {
        val fields = args.map { a =>
          val am = namedArgRe.findFirstMatchIn(a).get
          s"'${am.group(1)}', ${am.group(2).trim}"
        }
        s"named_struct(${fields.mkString(", ")})"
      }
    }
    // {'k': v, …} literals, innermost first: the last '{' before the first
    // '}' that follows one
    var changed = true
    var guard = 0
    while (changed && guard < 20) {
      guard += 1
      changed = false
      val toks = lex(cur)
      val first = toks.indexWhere(_.is('{'))
      val c = if (first < 0) -1 else toks.indexWhere(_.is('}'), first)
      if (c >= 0) {
        val open = toks.lastIndexWhere(_.is('{'), c)
        val parts = splitItems(cur.substring(toks(open).end, toks(c).start)).filter(_.nonEmpty)
        if (parts.nonEmpty &&
            parts.forall(p => structFieldRe.findFirstIn(p).isDefined)) {
          val fields = parts.map { p =>
            val fm = structFieldRe.findFirstMatchIn(p).get
            s"'${fm.group(1)}', ${fm.group(2).trim}"
          }
          cur = cur.substring(0, toks(open).start) +
            s"named_struct(${fields.mkString(", ")})" + cur.substring(toks(c).end)
          changed = true
        }
      }
    }
    cur
  }

  // --- DuckDB bracket expressions ----------------------------------------
  // Brackets mean three things in DuckDB model SQL, none of which Spark
  // reads the same way:
  //   - `l[i]` subscripts are 1-BASED (Spark's are 0-based — the same text
  //     silently reads the WRONG element) → `try_element_at(l, i)`, which
  //     is 1-based for arrays and key-based for maps exactly like DuckDB,
  //     NULL out of bounds like DuckDB. (Corner: DuckDB's l[0] is NULL,
  //     try_element_at(…, 0) errors — an error, never wrong data.)
  //   - `l[a:b]` slices are 1-based inclusive-inclusive, clamping out of
  //     range → `slice(l, a, b-a+1)` (clamps the same); open ends map to
  //     1 / size(l).
  //   - `[1, 2]` / `ARRAY[1, 2]` list literals → `array(1, 2)`.
  // Classification is lexical: a bracket after a value (identifier, `)`,
  // `]`, or a backtick-quoted identifier) subscripts it; after anything
  // else — comma, operator, `(`, statement start, or a keyword like
  // THEN/SELECT — it opens a literal. Runs AFTER the read_* rewrites (their
  // list-path form owns its brackets) and after comprehensions (their
  // `for`-bearing brackets are gone by now).

  private val bracketKeywords = Set("SELECT", "WHERE", "AND", "OR", "NOT",
    "WHEN", "THEN", "ELSE", "END", "IN", "IS", "BETWEEN", "LIKE", "ILIKE",
    "FROM", "JOIN", "ON", "BY", "AS", "CASE", "DISTINCT", "ALL", "UNION",
    "RETURN", "VALUES", "HAVING", "ARRAY")

  // DuckDB array-type syntax `INT[]` → Spark `ARRAY<INT>`; runs before the
  // subscript classification so an empty `[]` never parses as a subscript.
  // Nested `INT[][]` converges on the fixpoint.
  private val arrayTypeRe =
    ("""(?i)\b(INT|INTEGER|BIGINT|SMALLINT|TINYINT|HUGEINT|FLOAT|REAL|""" +
      """DOUBLE|VARCHAR|TEXT|STRING|BOOLEAN|BOOL|DATE|TIMESTAMP|""" +
      """DECIMAL\s*\(\s*\d+\s*,\s*\d+\s*\)|ARRAY<[^\[\]]*>)\s*\[\s*\]""").r

  private def rewriteBrackets(sql: String): String = {
    // type syntax first, one code match per pass: a bulk replaceAllIn would
    // also rewrite type syntax inside quoted data
    var cur = sql
    var tGuard = 0
    var typeMatch = codeMatches(cur, arrayTypeRe).headOption
    while (typeMatch.isDefined && tGuard < 200) {
      tGuard += 1
      val m = typeMatch.get._1
      cur = cur.substring(0, m.start) + s"ARRAY<${m.group(1)}>" + cur.substring(m.end)
      typeMatch = codeMatches(cur, arrayTypeRe).headOption
    }
    def isValue(t: Token) = t.kind == Word || t.kind == BQuoted || t.is(')') || t.is(']')
    def isNamePart(t: Token) = t.kind == Word || t.kind == BQuoted || t.is('.')
    var toks = lex(cur)
    var k = 0
    // guard counts REWRITES (each consumes a bracket pair, so this only
    // bounds pathology) — counting scanned CHARACTERS here once silently
    // stopped rewriting past ~5000 chars, leaving 1-based subscripts to
    // parse as Spark's 0-based ones in long macro-inlined statements
    var guard = 0
    def splice(from: Int, to: Int, text: String, resume: Int): Unit = {
      cur = cur.substring(0, from) + text + cur.substring(to)
      toks = lex(cur)
      k = toks.indexWhere(_.start >= resume) match { case -1 => toks.length; case i => i }
      guard += 1
    }
    while (k < toks.length && guard < 5000) {
      val close = if (toks(k).is('[')) closeOf(toks, k) else -1
      if (close < 0) k += 1 // not a bracket, or unbalanced: leave it alone
      else {
        val open = toks(k)
        val content = cur.substring(open.end, toks(close).start)
        val colon = (k + 1 until close)
          .find(j => toks(j).depth == open.depth + 1 && toks(j).is(':'))
        // classify by the preceding token: a value's first token (a group
        // plus the function name / qualifier chain before it) subscripts;
        // a bare keyword, like anything else, opens a literal
        val prev = toks.lastIndexWhere(_.kind != Comment, k - 1)
        val primaryStart =
          if (prev < 0 || !isValue(toks(prev))) None
          else {
            var s = if (toks(prev).is(')') || toks(prev).is(']')) math.max(openOf(toks, prev), 0)
              else prev
            while (s > 0 && isNamePart(toks(s - 1)) && toks(s - 1).end == toks(s).start) s -= 1
            val primary = cur.substring(toks(s).start, toks(prev).end)
            if (identRe.findFirstIn(primary).isDefined &&
                bracketKeywords.contains(primary.toUpperCase)) None
            else Some(toks(s).start)
          }
        primaryStart match {
          case Some(_) if content.trim.isEmpty && colon.isEmpty =>
            k = close + 1 // `x[]`: not a subscript (unmapped type syntax etc.)
          case Some(ps) =>
            val primary = cur.substring(ps, toks(prev).end)
            val text = colon match {
              case None => s"try_element_at($primary, ${content.trim})"
              case Some(c) =>
                val a = cur.substring(open.end, toks(c).start).trim
                val b = cur.substring(toks(c).end, toks(close).start).trim
                (a.nonEmpty, b.nonEmpty) match {
                  case (true, true)  => s"slice($primary, $a, ($b) - ($a) + 1)"
                  case (true, false) => s"slice($primary, $a, size($primary))"
                  case (false, true) => s"slice($primary, 1, $b)"
                  case _             => primary
                }
            }
            splice(ps, toks(close).end, text, ps + text.length)
          case None =>
            // literal: consume a preceding ARRAY keyword if present, then
            // re-scan the content for nesting
            val litStart = if (prev >= 0 && toks(prev).isWord("ARRAY")) toks(prev).start else open.start
            splice(litStart, toks(close).end, "array(" + content + ")", litStart + "array(".length)
        }
      }
    }
    cur
  }

  /** Parse-only normalization for dependency extraction: forms the
    * session-aware shim resolves with schema probes are flattened into
    * Catalyst-parseable equivalents that preserve TABLE REFERENCES, not
    * semantics — `UNION [ALL] BY NAME` → `UNION ALL`, `COLUMNS(…)` → `*`.
    */
  def parseNormalize(st: String): String = {
    var cur = replaceInCode(st, unionByNameRe)(_ => "UNION ALL")
    var guard = 0
    var m = codeMatches(cur, columnsCallRe).headOption.map(_._1)
    while (m.isDefined && guard < 20) {
      cur = callArgs(cur, m.get.end - 1) match {
        case Some((_, after)) =>
          cur.substring(0, m.get.start) + "*" + cur.substring(after)
        case None => return cur // unbalanced; let the parse fail as-is
      }
      guard += 1
      m = codeMatches(cur, columnsCallRe).headOption.map(_._1)
    }
    cur
  }

  /** Lexical-only rewrite (no session): count(), single-literal and
    * list-literal read_* forms.
    */
  def rewrite(sql: String): String = rewriteImpl(sql, None)

  /** Session-aware rewrite: everything above plus kwarg read_csv/json via
    * temp-view registration.
    */
  def rewrite(sql: String, spark: SparkSession): String =
    rewriteImpl(sql, Some(spark))

  private def rewriteImpl(sql: String, spark: Option[SparkSession]): String = {
    // macro handling first: a definition registers and passes through
    // verbatim (SqlExec skips it); call sites inline BEFORE the other
    // rewrites so macro bodies may themselves use DuckDB-isms
    val afterMacros = spark match {
      case Some(s) =>
        if (registerMacroIfDef(s, sql)) return sql
        if (summarizeTarget(sql).isDefined) return sql // executes in SqlExec
        inlineMacros(sql, registryOf(s))
      case None => sql
    }
    // DuckDB FROM-first shorthand: `FROM t [WHERE …]` ≡ `SELECT * FROM t
    // [WHERE …]`. Only when no top-level SELECT follows (the reordered
    // `FROM t SELECT …` form stays verbatim and fails with the original
    // text visible). Note producesRecords deliberately does NOT treat
    // FROM-statements as record-producing — reference prefix-rule parity.
    val afterFromFirst =
      if (fromFirstRe.findFirstIn(afterMacros).isDefined &&
          topWords(afterMacros, "SELECT").isEmpty)
        "SELECT * " + afterMacros.trim
      else afterMacros
    // UNION BY NAME next: each arm re-enters the full shim recursively, so
    // the combined text only carries already-rewritten arms plus a plain
    // ORDER/LIMIT tail through the remaining (keyword-anchored, no-op-on-
    // rewritten-text) passes. COLUMNS() expansion follows — its probe
    // strips the select list, so it cannot recurse into itself.
    val afterUnionByName = rewriteUnionByName(afterFromFirst, spark)
      .getOrElse(afterFromFirst)
    val afterColumns = rewriteColumnsExpr(afterUnionByName, spark)
    // statement-level PIVOT/UNPIVOT first: the produced SELECT (and its
    // subquery source) then flows through every later rewrite
    val afterPivot = rewritePivotStatement(afterColumns, spark)
    val afterAsof = rewriteAsof(afterPivot)
    val afterQualify = rewriteQualify(afterAsof)
    val afterDistinctOn = rewriteDistinctOn(afterQualify)
    val afterSample = rewriteUsingSample(afterDistinctOn)
    val afterStarReplace = rewriteStarReplace(afterSample)
    val afterComp = rewriteListComprehension(afterStarReplace)
    // table functions after comprehensions (their bracket-literal args are
    // plain lists by now) and before read_* (no interaction, but keeps the
    // FROM-clause scan on original text)
    val afterTableFns = rewriteTableFns(afterComp)
    val afterListFns = rewriteListFnTemplates(afterTableFns)
    val afterList = replaceInCode(afterListFns, readFnList) { m =>
      val fmt = fmtOf(m.group(1))
      val paths = pathLit.findAllMatchIn(m.group(2)).map(_.group(1)).toSeq
      if (paths.isEmpty) m.group // malformed; let execution report it
      else if (paths.size == 1) s"$fmt.`${paths.head}`"
      else paths.map(p => s"SELECT * FROM $fmt.`$p`").mkString("(", " UNION ALL ", ")")
    }
    val afterKwargs = spark match {
      case None => afterList
      case Some(s) => replaceInCode(afterList, readFnKwargs)(m =>
        rewriteKwargCall(s, m.group(1), m.group(2), m.group(3)).getOrElse(m.group))
    }
    val afterRead = replaceInCode(afterKwargs, readFn)(m =>
      s"${fmtOf(m.group(1))}.`${m.group(2)}`")
    // structs AFTER read_* so a columns={…} schema dict reaches the kwarg
    // rewriter intact; brackets after both (the read list-path form and
    // names=[…] own their brackets, comprehension `for` brackets are gone)
    val afterStructs = rewriteStructs(afterRead)
    val afterBrackets = rewriteBrackets(afterStructs)
    // string_split/strftime carry their own quoted literal, so (like
    // read_*) they anchor on it and run against the full statement
    val afterSplit = replaceInCode(afterBrackets, stringSplitFn)(m =>
      s"split(${m.group(1)}, '${regexEscapeForSqlLiteral(m.group(2))}')")
    val afterStrftime = replaceInCode(afterSplit, strftimeFn)(m =>
      translateStrftime(m.group(2)).map(p => s"date_format(${m.group(1)}, '$p')")
        .getOrElse(m.group))
    // strptime is strftime's parse-direction twin: same %-code table,
    // same only-fully-translatable contract
    val afterStrptime = replaceInCode(afterStrftime, strptimeFn)(m =>
      translateStrftime(m.group(2)).map(p => s"to_timestamp(${m.group(1)}, '$p')")
        .getOrElse(m.group))
    mapCode(afterStrptime)(rewriteFunctions)
  }

  // --- DuckDB SELECT DISTINCT ON ----------------------------------------
  // `SELECT DISTINCT ON (<keys>) <sel> FROM <mid> [ORDER BY <ord>] [tail]`
  // keeps the FIRST row of each key group under <ord> (arbitrary without
  // it). Spark has no DISTINCT ON, so it becomes the row_number idiom:
  //   SELECT * EXCEPT (__graft_rn) FROM
  //     (SELECT <sel>, row_number() OVER (PARTITION BY <keys>
  //        ORDER BY <ord | keys>) AS __graft_rn FROM <mid>) __graft_d
  //   WHERE __graft_rn = 1 [ORDER BY <ord>] [tail]
  // Without an ORDER BY the keys order the window — deterministic, where
  // the reference is arbitrary. The outer ORDER BY must reference
  // select-list columns (same scoping DuckDB applies to the final order).
  private val distinctOnRe = """(?i)SELECT\s+DISTINCT\s+ON\s*\(""".r

  private def unsupportedDistinctOn(detail: String): Nothing =
    throw new IllegalArgumentException(
      "DISTINCT ON: unsupported form (" + detail + "); supported: " +
        "`SELECT DISTINCT ON (keys) cols FROM … [ORDER BY …] [LIMIT …]`")

  private def rewriteDistinctOn(sql: String): String =
    rewriteInGroups(sql, distinctOnRe, unsupportedDistinctOn)(transformDistinctOn)

  /** Rewrite the (single) depth-0 DISTINCT ON in `text`. */
  private def transformDistinctOn(text: String): String = {
    val m = codeMatches(text, distinctOnRe).collectFirst { case (mm, 0) => mm }
      .getOrElse(return text)
    val (keys, afterKeys) = callArgs(text, m.end - 1) match {
      case Some((args, idx)) if args.nonEmpty => (args.mkString(", "), idx)
      case _ => unsupportedDistinctOn("unparseable key list")
    }
    val rest = text.substring(afterKeys)
    val fromPos = topWords(rest, "FROM").headOption
      .getOrElse(unsupportedDistinctOn("no FROM clause"))
    val sel = rest.substring(0, fromPos).trim
    val afterFrom = rest.substring(fromPos)
    for (kw <- Seq("UNION", "INTERSECT", "EXCEPT"))
      if (topWords(afterFrom, kw).nonEmpty)
        unsupportedDistinctOn(s"set operator $kw after DISTINCT ON")
    val ordPos = topWords(afterFrom, "ORDER").headOption
    val tailPos = Seq("LIMIT", "OFFSET").flatMap(topWords(afterFrom, _)).minOption
    val midEnd = Seq(ordPos, tailPos).flatten.minOption.getOrElse(afterFrom.length)
    val mid = afterFrom.substring(0, midEnd)
    val ordClause = ordPos.map(o =>
      afterFrom.substring(o, tailPos.filter(_ > o).getOrElse(afterFrom.length)))
      .getOrElse("")
    val tail = tailPos.map(afterFrom.substring(_)).getOrElse("")
    // the query-level ORDER BY moves into the window, where Spark resolves
    // neither ordinals (they become constant literals — silently wrong
    // order) nor select-list aliases (no lateral-alias resolution inside
    // windows). Substitute both from the select list before splicing.
    val selItems = splitItems(sel).filter(_.nonEmpty)
    val aliasMap: Map[String, String] = selItems.flatMap(_.trim match {
      case replaceItemRe(e, n) => Some(n.toLowerCase -> e.trim)
      case _                   => None
    }).toMap
    def exprOf(item: String): String = item.trim match {
      case replaceItemRe(e, _) => e.trim
      case other               => other.trim
    }
    val ordinalItem = """^(\d+)((?:\s+[\s\S]*)?)$""".r
    val aliasItem = """^([A-Za-z_]\w*)((?:\s+[\s\S]*)?)$""".r
    def resolveOrderItem(item: String): String = item.trim match {
      case ordinalItem(nStr, mods) =>
        val n = nStr.toInt
        if (sel.trim == "*" || n < 1 || n > selItems.size)
          unsupportedDistinctOn(s"ordinal $n not resolvable against the select list")
        "(" + exprOf(selItems(n - 1)) + ")" + mods
      case aliasItem(name, mods) if aliasMap.contains(name.toLowerCase) =>
        "(" + aliasMap(name.toLowerCase) + ")" + mods
      case other => other
    }
    val winOrder =
      if (ordClause.nonEmpty)
        splitItems(ordClause.trim.replaceFirst("(?i)^ORDER\\s+BY", "").trim).filter(_.nonEmpty)
          .map(resolveOrderItem).mkString(", ")
      else keys
    text.substring(0, m.start) +
      s"SELECT * EXCEPT (__graft_rn) FROM (SELECT $sel, row_number() OVER " +
      s"(PARTITION BY $keys ORDER BY $winOrder) AS __graft_rn $mid) " +
      s"__graft_d WHERE __graft_rn = 1 $ordClause $tail"
  }

  // --- DuckDB SELECT * REPLACE -------------------------------------------
  // `* REPLACE (expr AS col, …)` → `* EXCEPT (col, …), expr AS col, …`.
  // Schema-free (no session needed). DIVERGENCE: replaced columns move to
  // the END of the projection — name-addressed reads are identical, but a
  // positional consumer (UNION by position) would see reordered columns.
  private val starReplaceRe = """(?i)\*\s*REPLACE\s*\(""".r
  private val replaceItemRe = """(?is)^(.*)\s+AS\s+([A-Za-z_]\w*)\s*$""".r

  /** True when the `*` at `starPos` is a projection star (follows SELECT /
    * DISTINCT / ',' / '(' / '.'), not multiplication by the replace()
    * FUNCTION (`price * replace(s, ',', '')` must be left alone).
    */
  private def isProjectionStar(sql: String, starPos: Int): Boolean =
    tokenBefore(sql, starPos).exists(t => t.is(',') || t.is('(') || t.is('.') ||
      t.kind == Word && Set("SELECT", "DISTINCT", "ALL")(t.text.toUpperCase))

  private def rewriteStarReplace(sql: String): String =
    codeMatches(sql, starReplaceRe).map(_._1).find(m => isProjectionStar(sql, m.start)) match {
      case None => sql
      case Some(m) =>
        callArgs(sql, m.end - 1) match {
          case Some((items, idxAfter)) if items.nonEmpty =>
            val parsed = items.map {
              case replaceItemRe(e, n) => (e.trim, n)
              case other => throw new IllegalArgumentException(
                s"* REPLACE: each item must be `expr AS name`, got: $other")
            }
            val rebuilt = "* EXCEPT (" + parsed.map(_._2).mkString(", ") +
              "), " + parsed.map { case (e, n) => s"$e AS $n" }.mkString(", ")
            rewriteStarReplace(
              sql.substring(0, m.start) + rebuilt + sql.substring(idxAfter))
          case _ => sql
        }
    }

  // --- DuckDB USING SAMPLE -----------------------------------------------
  // A query-level clause: `<query> USING SAMPLE n [%|PERCENT|ROWS]` samples
  // the query's RESULT. Rewritten by wrapping everything before it:
  //   SELECT * FROM (<query>) TABLESAMPLE (n PERCENT|ROWS)
  // so join-sample semantics survive (a naive in-place splice would attach
  // the sample to the nearest relation — silently different rows — or
  // parse-error after WHERE). Only the final-clause form is supported;
  // trailing clauses after the sample are refused with the operator named.
  // DIVERGENCE (documented): Spark's `TABLESAMPLE (n ROWS)` is a
  // deterministic first-n limit, while the reference reservoir-samples n
  // random rows; PERCENT is Bernoulli-random in both.
  private val usingSampleRe =
    """(?i)USING\s+SAMPLE\s+(\d+(?:\.\d+)?)\s*(%|PERCENT\b|ROWS?\b)?""".r

  private def rewriteUsingSample(sql: String): String =
    rewriteInGroups(sql, usingSampleRe,
      detail => throw new IllegalArgumentException(s"USING SAMPLE: $detail"))(
      transformUsingSample)

  private def transformUsingSample(text: String): String = {
    val m = codeMatches(text, usingSampleRe).collectFirst { case (mm, 0) => mm }
      .getOrElse(return text)
    val unit = Option(m.group(2)).map(_.trim.toUpperCase) match {
      case Some("%") | Some("PERCENT") => "PERCENT"
      case _                           => "ROWS"
    }
    val rest = text.substring(m.end).trim
    if (rest.nonEmpty)
      throw new IllegalArgumentException(
        "USING SAMPLE: only the final-clause form is supported " +
          s"(found trailing: ${rest.take(40)})")
    val prefix = text.substring(0, m.start).trim
    s"SELECT * FROM ($prefix) TABLESAMPLE (${m.group(1)} $unit)"
  }

  // --- DuckDB QUALIFY ----------------------------------------------------
  // `SELECT <sel> FROM <mid> QUALIFY <pred> [<tail>]` — Spark has no
  // QUALIFY clause, so it rewrites to a subquery + WHERE:
  //   - pred contains a raw window fn (`OVER`): the predicate is injected
  //     as a boolean column INSIDE the subquery (windows are legal in a
  //     select list, never in WHERE) and filtered outside —
  //       SELECT * EXCEPT (__qualify) FROM
  //         (SELECT <sel>, (<pred>) AS __qualify FROM <mid>) __graft_q
  //       WHERE __qualify [<tail>]
  //   - otherwise pred references select-list aliases: plain wrap —
  //       SELECT * FROM (SELECT <sel> FROM <mid>) __graft_q
  //       WHERE <pred> [<tail>]
  // Catalyst collapses the adjacent projections, and a filter on a
  // non-window alias is pushed back below the subquery boundary — the
  // rewritten plan is the plan QUALIFY describes, with no extra exchange.
  // Nested occurrences (in subqueries/CTEs) are handled innermost-span
  // first; each pass eliminates one QUALIFY.

  private def unsupportedQualify(detail: String): Nothing =
    throw new IllegalArgumentException(
      "QUALIFY: unsupported form (" + detail + "); supported: " +
        "`SELECT … FROM … QUALIFY <predicate>` (predicate over select-list" +
        " aliases or containing the window expression itself)")

  private val qualifyRe = """(?i)\bQUALIFY\b""".r

  private def rewriteQualify(sql: String): String =
    rewriteInGroups(sql, qualifyRe, unsupportedQualify)(transformQualify)

  private val qualifyTailKeywords =
    Seq("ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT")

  /** Rewrite the (single) depth-0 QUALIFY in `text`; see the section
    * comment for the two output shapes.
    */
  private def transformQualify(text: String): String = {
    val qPos = topWords(text, "QUALIFY").headOption.getOrElse(return text)
    val selPos = topWords(text, "SELECT").filter(_ < qPos)
      .lastOption.getOrElse(unsupportedQualify("no owning SELECT"))
    val fromPos = topWords(text, "FROM").find(p => p > selPos && p < qPos)
      .getOrElse(unsupportedQualify("no FROM clause"))
    val predEnd = qualifyTailKeywords.flatMap(topWords(text, _).filter(_ > qPos))
      .minOption.getOrElse(text.length)
    val prefix = text.substring(0, selPos)
    val selList = text.substring(selPos + "SELECT".length, fromPos).trim
    val mid = text.substring(fromPos + "FROM".length, qPos).trim
    val pred = text.substring(qPos + "QUALIFY".length, predEnd).trim
    val tail = text.substring(predEnd)
    if (pred.isEmpty) unsupportedQualify("empty predicate")
    val hasWindow = words(pred, "OVER").nonEmpty
    // DuckDB lets the QUALIFY window reference select-list ALIASES
    // (`SELECT x AS s … QUALIFY row_number() OVER (ORDER BY s) <= k`);
    // Spark rejects a lateral alias inside a window, so when the
    // predicate names one, project the select list in an INNER subquery
    // first — the aliases become real columns the window can see. Kept
    // conditional: the one-level shape stays for predicates over raw
    // columns, which may reference mid-scope columns (table-qualified or
    // unprojected) the inner projection would hide.
    val aliasNames = splitItems(selList).filter(_.nonEmpty).flatMap(item =>
      qualifySelAliasRe.findFirstMatchIn(item).map(_.group(1)))
    // a bare occurrence of the alias name only: `t.b` is a QUALIFIED
    // column of mid scope (the '.' boundary would otherwise match alias
    // b and hide the real column behind the inner projection), `b.x` is
    // a table qualifier, and `b(...)` is a function call — none of them
    // reference the select alias
    // ...and an alias SPELLED like window syntax (desc, asc, nulls,
    // first, last, rows, range, …) must not count when the match is the
    // KEYWORD (e.g. `ORDER BY t.amount DESC` with an alias named `desc`
    // — wrapping there hides t.amount from the window and breaks a
    // query the one-level rewrite ran fine). Keyword-vs-reference is
    // decided from the neighboring tokens: a direction word after an
    // expression is the keyword; after `BY`/`,`/`(`/an operator it is a
    // column reference.
    val predToks = lex(pred).filter(_.kind != Comment)
    def textAt(k: Int): String = predToks.lift(k).fold("")(_.text.toLowerCase)
    val refPredecessors = Set("(", ",", "by", "where", "and", "or", "not",
      "when", "then", "else", "on", "in", "=", "<", ">", "+", "-", "*",
      "/", "%", "|")
    def isKeywordUse(a: String, k: Int): Boolean =
      a.toLowerCase match {
        case "asc" | "desc" => !refPredecessors(textAt(k - 1))
        case "first" | "last" => Set("nulls", "ignore", "respect")(textAt(k - 1))
        case "nulls" => Set("first", "last")(textAt(k + 1))
        case "rows" | "range" | "groups" =>
          Set("between", "unbounded", "current")(textAt(k + 1))
        case _ => false
      }
    def bareRef(a: String): Boolean =
      predToks.indices.exists { k =>
        val t = predToks(k)
        val before = k > 0 && predToks(k - 1).is('.') && predToks(k - 1).end == t.start
        val after = predToks.lift(k + 1).exists(n => n.is('.') || n.is('('))
        t.isWord(a) && !before && !after && !isKeywordUse(a, k)
      }
    val predUsesAlias = aliasNames.exists(bareRef)
    val rewritten =
      if (hasWindow && predUsesAlias)
        s"SELECT * EXCEPT (__qualify) FROM (SELECT *, ($pred) AS " +
          s"__qualify FROM (SELECT $selList FROM $mid) __graft_i) " +
          s"__graft_q WHERE __qualify"
      else if (hasWindow)
        s"SELECT * EXCEPT (__qualify) FROM (SELECT $selList, ($pred) AS " +
          s"__qualify FROM $mid) __graft_q WHERE __qualify"
      else
        s"SELECT * FROM (SELECT $selList FROM $mid) __graft_q WHERE $pred"
    s"$prefix$rewritten $tail"
  }

  private val qualifySelAliasRe =
    """(?i)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)\s*$""".r

  // --- DuckDB ASOF JOIN --------------------------------------------------
  // `L ASOF [LEFT] JOIN R [alias] ON eq-conds AND <one ts inequality>`
  // rewrites to a correlated LATERAL top-1 subquery:
  //   L [LEFT] JOIN LATERAL (SELECT * FROM R AS alias WHERE <cond>
  //                          ORDER BY <right ts> DESC|ASC LIMIT 1) AS alias
  //     ON true
  // This is the only alias-preserving textual rewrite (the outer statement
  // keeps referencing both `l.` and `alias.`), and Catalyst decorrelates
  // it — no per-row re-execution; the per-key top-1 runs as
  // WindowGroupLimit. The decorrelated plan does join the DISTINCT probe
  // timestamps against the right side with the bare inequality (a
  // broadcast nested-loop on that domain), so the shim path is
  // |distinct ts| × |R| at worst — fine for DuckDB-script parity, but hot
  // paths should call graft.ext.JoinOps.asofJoin, whose union+window form
  // is one shuffle and join-free at any scale. Unsupported ASOF forms
  // fail fast with an error NAMING the operator instead of a bare Spark
  // parse error.
  private val asofRe = """(?i)\bASOF\s+(LEFT\s+)?JOIN\b""".r
  private val asofTerminators = Set(
    "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "ASOF", "SEMI",
    "ANTI", "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "UNION",
    "INTERSECT", "EXCEPT", "QUALIFY", "WINDOW")

  private def unsupportedAsof(detail: String): Nothing =
    throw new IllegalArgumentException(
      "ASOF JOIN: unsupported form (" + detail + "); supported: " +
        "`ASOF [LEFT] JOIN <rel> [alias] ON <equi conds AND one ts inequality>`")

  private def rewriteAsof(sql: String): String =
    // a literal mentioning ASOF JOIN must not shadow a real one later on
    codeMatches(sql, asofRe).headOption match {
      case None => sql
      case Some((m, _)) =>
        val isLeft = m.group(1) != null
        val toks = lex(sql).filter(t => t.start >= m.end && t.kind != Comment)
        // the right relation: a table name or parenthesized subquery, then
        // an optional [AS] alias (a bare table name is its own alias)
        val (source, afterRel) = sourceAt(sql, toks, 0, unsupportedAsof)
        val rel = pivotSrcSql(source)
        val k = if (toks.lift(afterRel).exists(_.isWord("AS"))) afterRel + 1 else afterRel
        val (alias, onIdx) = toks.lift(k) match {
          case Some(t) if t.kind == Word && !t.isWord("ON") => (t.text, k + 1)
          case _ if source.isLeft =>
            (rel.split('.').last.stripPrefix("`").stripSuffix("`"), k)
          case _ => unsupportedAsof("subquery right side needs an alias")
        }
        if (!toks.lift(onIdx).exists(_.isWord("ON"))) unsupportedAsof("missing ON")
        // the condition runs to the next clause keyword at the ON's depth,
        // an unbalanced ')', or the statement end
        val on = toks(onIdx)
        val end = toks.indexWhere(t => t.depth < on.depth || t.depth == on.depth &&
          t.kind == Word && asofTerminators(t.text.toUpperCase), onIdx + 1) match {
          case -1 => sql.length
          case i  => toks(i).start
        }
        val cond = sql.substring(on.end, end).trim
        val (orderExpr, desc) = asofOrdering(cond, alias)
        val dir = if (desc) "DESC" else "ASC"
        val sub = s"(SELECT * FROM $rel AS $alias WHERE $cond " +
          s"ORDER BY $orderExpr $dir LIMIT 1) AS $alias"
        val joined =
          (if (isLeft) "LEFT JOIN LATERAL " else "JOIN LATERAL ") + sub + " ON true"
        // the whitespace before the terminator keyword was trimmed out of
        // the condition — re-separate explicitly
        val sep = if (end < sql.length) " " else ""
        rewriteAsof(sql.substring(0, m.start) + joined + sep + sql.substring(end))
    }

  /** Find the single top-level ts inequality in the ON condition and
    * derive the subquery ordering: the operand referencing the right
    * alias is the sort key; direction picks the closest right row on the
    * correct side (e.g. `l.ts >= r.ts` → max r.ts ≤ l.ts → DESC).
    */
  private def asofOrdering(cond: String, alias: String): (String, Boolean) = {
    // split on top-level ANDs
    val ands = words(cond, "AND").filter(_.depth == 0)
    val conjuncts = (0 +: ands.map(_.end)).zip(ands.map(_.start) :+ cond.length)
      .map { case (a, b) => cond.substring(a, b) }
    val cmp = """(?s)^(.*?)(>=|<=|>|<)(.*)$""".r
    val ineqs = conjuncts.map(_.trim).flatMap {
      // exclude `<>` (matches as `<` + r starting with `>`)
      case cmp(l, op, r) if !r.startsWith("=") && !r.startsWith(">") =>
        Some((l.trim, op, r.trim))
      case _ => None
    }
    if (ineqs.size != 1)
      unsupportedAsof(s"need exactly one ts inequality, found ${ineqs.size}")
    val (l, op, r) = ineqs.head
    // guard the simple-form contract: an OR anywhere around the
    // inequality, or a conjunct whose split sides have unbalanced parens
    // (the inequality sat inside a parenthesized boolean expression),
    // would otherwise produce a garbled ORDER BY instead of a clear error
    def balanced(s: String) = s.count(_ == '(') == s.count(_ == ')')
    if ("(?i)\\bOR\\b".r.findFirstIn(l + " " + r).isDefined ||
        !balanced(l) || !balanced(r))
      unsupportedAsof("ts inequality must be a plain top-level conjunct")
    val refsAlias = ("(?i)\\b" + java.util.regex.Pattern.quote(alias) + "\\s*\\.").r
    val lRefs = refsAlias.findFirstIn(l).isDefined
    val rRefs = refsAlias.findFirstIn(r).isDefined
    if (rRefs && !lRefs) (r, op == ">=" || op == ">")
    else if (lRefs && !rRefs) (l, op == "<=" || op == "<")
    else unsupportedAsof("ts inequality must reference the right alias on exactly one side")
  }

  /** One kwarg call → Some(viewName) if every option maps, else None.
    * The view name is a hash of (fn, path, options), so repeated rewrites
    * of the same call reuse one registration and stay deterministic.
    */
  // DuckDB column type spellings → Spark DDL; unknown types abort the
  // rewrite (the call is left for execution to reject, name visible)
  private val duckTypeMap = Map(
    "VARCHAR" -> "STRING", "TEXT" -> "STRING", "STRING" -> "STRING",
    "INT" -> "INT", "INTEGER" -> "INT", "BIGINT" -> "BIGINT",
    "SMALLINT" -> "SMALLINT", "TINYINT" -> "TINYINT",
    "DOUBLE" -> "DOUBLE", "FLOAT" -> "FLOAT", "REAL" -> "FLOAT",
    "BOOLEAN" -> "BOOLEAN", "BOOL" -> "BOOLEAN",
    "DATE" -> "DATE", "TIMESTAMP" -> "TIMESTAMP")

  private def rewriteKwargCall(spark: SparkSession, fn: String, path: String,
                               kwargText: String): Option[String] = {
    val kwarg = """(?i)\s*([a-z_]+)\s*=\s*(?:'([^']*)'|([^,\s]+))\s*""".r
    val listKwarg = """(?is)^\s*([a-z_]+)\s*=\s*\[(.*)\]\s*$""".r
    val dictKwarg = """(?is)^\s*([a-z_]+)\s*=\s*\{(.*)\}\s*$""".r
    // delim=',' is the most common CSV kwarg, and names=[…]/columns={…}
    // carry their own commas: split at top-level commas only
    val pieces = splitItems(kwargText)
    var names: Option[Seq[String]] = None
    var schemaDdl: Option[String] = None
    val parsed = pieces.map {
      case listKwarg(k, inner) if k.equalsIgnoreCase("names") =>
        val items = splitItems(inner).map(strLiteral)
        if (items.forall(_.isDefined)) {
          names = Some(items.flatten)
          Some(None) // consumed, contributes no reader option
        } else None
      case dictKwarg(k, inner) if k.equalsIgnoreCase("columns") =>
        // {'name': 'TYPE', …} → Spark DDL schema "name TYPE, …"
        val pairRe = """^\s*'([^']*)'\s*:\s*'([^']*)'\s*$""".r
        val cols = splitItems(inner).map {
          case pairRe(n, t) =>
            duckTypeMap.get(t.trim.toUpperCase).map(st => s"`$n` $st")
          case _ => None
        }
        if (cols.exists(_.isEmpty)) None
        else { schemaDdl = Some(cols.flatten.mkString(", ")); Some(None) }
      case kwarg(k, strV, rawV) =>
        kwargKeys.get(k.toLowerCase)
          .map(o => Some(o -> Option(strV).getOrElse(rawV)))
      case _ => None
    }
    if (parsed.exists(_.isEmpty)) return None
    val opts = parsed.flatten.flatten.toMap ++
      // the *_auto variants infer types, like DuckDB's sniffer; an
      // explicit columns= schema disables inference exactly like DuckDB
      (if (fn.toLowerCase.endsWith("_auto") && schemaDdl.isEmpty)
        Map("inferSchema" -> "true")
       else Map.empty)
    val fmt = fmtOf(fn)
    val name = "__graft_read_" + java.security.MessageDigest.getInstance("MD5")
      .digest(s"$fmt|$path|${opts.toSeq.sorted}|$names|$schemaDdl".getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    if (!spark.catalog.tableExists(name)) {
      val r0 = spark.read.options(opts)
      val r = schemaDdl.fold(r0)(r0.schema)
      val df0 = fmt match {
        case "csv"  => r.csv(path)
        case "json" => r.json(path)
        case _      => r.parquet(path)
      }
      // DuckDB names=[...] renames the FIRST N columns when the list is
      // shorter than the file's width; silently dropping the list on a
      // mismatch would leave SELECT new_name unresolved with no hint. A
      // list LONGER than the file errors in DuckDB — fail named here too.
      val df = names.fold(df0) { ns =>
        if (ns.size > df0.columns.length)
          throw new IllegalArgumentException(
            s"read_$fmt names=[…]: ${ns.size} names for " +
              s"${df0.columns.length} columns")
        df0.toDF(ns ++ df0.columns.drop(ns.size): _*)
      }
      df.createOrReplaceTempView(name)
    }
    Some(name)
  }

  // DuckDB `* EXCLUDE (a, b)` / `* EXCLUDE a` → Spark `* EXCEPT (a, b)`.
  // Anchored on the preceding `*` so the EXCEPT set operator (and any
  // column named exclude) is never touched.
  private val starExcludeParen = """(?i)(\*\s*)EXCLUDE\s*\(""".r
  private val starExcludeBare = """(?i)(\*\s*)EXCLUDE\s+([A-Za-z_]\w*)""".r

  private def rewriteFunctions(sql: String): String = {
    val counted = bareCount.replaceAllIn(sql, "count(*)")
    val excluded = starExcludeBare.replaceAllIn(
      starExcludeParen.replaceAllIn(counted, "$1EXCEPT ("), "$1EXCEPT ($2)")
    fnRenames.foldLeft(excluded) { case (s, (re, repl)) =>
      re.replaceAllIn(s, java.util.regex.Matcher.quoteReplacement(repl))
    }
  }
}
