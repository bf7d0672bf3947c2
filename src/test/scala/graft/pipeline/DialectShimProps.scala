package graft.pipeline

import org.scalacheck.{Gen, Prop, Properties, Test}

/** Differential fuzzing for the dialect shim (VERDICT r6 task #3).
  *
  * Each generator produces a statement in DUCKDB dialect together with the
  * result DuckDB semantics prescribe — the semantic model is written here
  * from the DuckDB documentation (1-based subscripts, NULL out of bounds,
  * inclusive clamped slices, boundary-crossing date_diff, zip-and-NULL-pad
  * multi-unnest, inclusive generate_series), independently of the shim's
  * implementation. The property then asserts that rewrite + Spark
  * execution reproduces exactly that result, for hundreds of random
  * compositions the hand-picked DialectShimSpec cases can't enumerate.
  * A second property extends the existing idempotence guarantee
  * (rewrite∘rewrite = rewrite) over the same generated corpus, and a third
  * places DuckDB idioms inside quoted tokens and comments next to it: those
  * bytes must come out unchanged.
  */
object DialectShimProps extends Properties("DialectShimDiff") {

  // 250 × 3 properties = 750 generated cases per run
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(250)

  private lazy val spark = {
    val s = graft.SparkTestSession.spark
    graft.functions.GraftExtensions.register(s)
    s
  }

  // --- expected-value model ----------------------------------------------
  private sealed trait EV
  private final case class EInt(v: Long) extends EV
  private final case class EStr(s: String) extends EV
  private final case class EBool(b: Boolean) extends EV
  private final case class EDbl(v: Double) extends EV
  private final case class EArr(xs: Seq[EV]) extends EV
  private case object ENull extends EV

  private def toEV(a: Any): EV = a match {
    case null                             => ENull
    case b: Boolean                       => EBool(b)
    case n: Int                           => EInt(n)
    case n: Long                          => EInt(n)
    case d: Double                        => EDbl(d)
    case s: String                        => EStr(s)
    case xs: scala.collection.Seq[_]      => EArr(xs.map(toEV).toSeq)
    case other                            => EStr(other.toString)
  }

  private final case class GExpr(sql: String, ev: EV)
  private final case class GStmt(sql: String, rows: Seq[Seq[EV]])

  // --- atoms ---------------------------------------------------------------
  private val intLit: Gen[GExpr] =
    Gen.choose(-99L, 99L).map(n => GExpr(n.toString, EInt(n)))

  private val strLit: Gen[GExpr] = for {
    n  <- Gen.choose(1, 6)
    cs <- Gen.listOfN(n, Gen.alphaLowerChar)
  } yield GExpr(s"'${cs.mkString}'", EStr(cs.mkString))

  /** Int list literal in either DuckDB spelling. */
  private val listLit: Gen[(String, Seq[Long])] = for {
    n     <- Gen.choose(1, 5)
    xs    <- Gen.listOfN(n, Gen.choose(-99L, 99L))
    brack <- Gen.oneOf(true, false)
  } yield {
    val body = xs.mkString(", ")
    (if (brack) s"[$body]" else s"ARRAY[$body]", xs)
  }

  /** List-valued expressions: literals and the sort-family wrappers
    * (DuckDB: list_sort ASC, list_reverse_sort DESC; no NULLs generated).
    */
  private val arrExpr: Gen[(String, Seq[Long])] = Gen.oneOf(
    listLit,
    listLit.map { case (s, xs) => (s"list_sort($s)", xs.sorted) },
    listLit.map { case (s, xs) => (s"list_reverse_sort($s)", xs.sorted.reverse) })

  // --- scalar idioms over DuckDB semantics ---------------------------------
  private val elementFns = Seq("list_element", "list_extract", "array_extract")

  /** fn(list, i): 1-based, NULL out of bounds (i ≥ 1 — DuckDB's l[0] is
    * NULL but the shim's documented divergence errors there, so 0 is not
    * generated).
    */
  private val elementExpr: Gen[GExpr] = for {
    (s, xs) <- arrExpr
    i       <- Gen.choose(1, xs.length + 2)
    fn      <- Gen.oneOf(elementFns)
  } yield GExpr(s"$fn($s, $i)",
    if (i <= xs.length) EInt(xs(i - 1)) else ENull)

  private val lenExpr: Gen[GExpr] = Gen.oneOf(
    arrExpr.map { case (s, xs) => GExpr(s"len($s)", EInt(xs.length)) },
    strLit.map(g => GExpr(s"len(${g.sql})",
      EInt(g.ev.asInstanceOf[EStr].s.length))))

  private val uniqueExpr: Gen[GExpr] = arrExpr.map { case (s, xs) =>
    GExpr(s"list_unique($s)", EInt(xs.distinct.length)) }

  private val structExpr: Gen[GExpr] =
    intLit.map(g => GExpr(s"({'n': ${g.sql}}).n", g.ev))

  private val printfExpr: Gen[GExpr] = intLit.map(g =>
    GExpr(s"printf('%d', ${g.sql})",
      EStr(g.ev.asInstanceOf[EInt].v.toString)))

  private val startsWithExpr: Gen[GExpr] = for {
    a <- strLit; b <- strLit
  } yield GExpr(s"starts_with(${a.sql}, ${b.sql})",
    EBool(a.ev.asInstanceOf[EStr].s.startsWith(b.ev.asInstanceOf[EStr].s)))

  /** Boundary-crossing date_diff — the expectation re-derives DuckDB's
    * unit-truncation counting from scratch (cross-checked against native
    * DuckDB in DialectShimSpec's fixed cases).
    */
  private val dateDiffExpr: Gen[GExpr] = for {
    unit <- Gen.oneOf("day", "hour", "month", "year", "minute")
    e1   <- Gen.choose(0L, 2000000000L)
    e2   <- Gen.choose(0L, 2000000000L)
  } yield {
    def fmt(sec: Long) = java.time.LocalDateTime
      .ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
    def ld(sec: Long) = java.time.LocalDate.ofEpochDay(Math.floorDiv(sec, 86400L))
    val exp = unit match {
      case "day"    => Math.floorDiv(e2, 86400L) - Math.floorDiv(e1, 86400L)
      case "hour"   => Math.floorDiv(e2, 3600L) - Math.floorDiv(e1, 3600L)
      case "minute" => Math.floorDiv(e2, 60L) - Math.floorDiv(e1, 60L)
      case "month"  => (ld(e2).getYear * 12L + ld(e2).getMonthValue) -
        (ld(e1).getYear * 12L + ld(e1).getMonthValue)
      case "year"   => ld(e2).getYear.toLong - ld(e1).getYear
    }
    GExpr(s"date_diff('$unit', TIMESTAMP '${fmt(e1)}', TIMESTAMP '${fmt(e2)}')",
      EInt(exp))
  }

  /** fmt-style format(): random literal segments (incl. brace escapes)
    * interleaved with auto or explicit placeholders over int/str args.
    */
  private val formatExpr: Gen[GExpr] = for {
    n        <- Gen.choose(1, 3)
    args     <- Gen.listOfN(n, Gen.oneOf(intLit, strLit))
    segs     <- Gen.listOfN(n + 1, Gen.oneOf("", " ", "x ", "{{", "}}", "100% "))
    explicit <- Gen.oneOf(true, false)
    order    <- if (explicit) Gen.listOfN(n, Gen.choose(0, n - 1))
                else Gen.const((0 until n).toList)
  } yield {
    val holes = order.map(ix => (if (explicit) s"{$ix}" else "{}", ix))
    val tpl = segs.head + holes.zip(segs.tail)
      .map { case ((h, _), s) => h + s }.mkString
    def strOf(e: GExpr) = e.ev match {
      case EInt(v) => v.toString
      case EStr(s) => s
      case other   => other.toString
    }
    val expect = segs.head.replace("{{", "{").replace("}}", "}") +
      holes.zip(segs.tail).map { case ((_, ix), s) =>
        strOf(args(ix)) + s.replace("{{", "{").replace("}}", "}") }.mkString
    GExpr(s"format('$tpl', ${args.map(_.sql).mkString(", ")})", EStr(expect))
  }

  /** DuckDB 3-arg regexp_replace replaces the FIRST match only; the 'g'
    * flag makes it global (the Spark builtin of the same name is always
    * global — the exact collision the shim resolves).
    */
  private val regexpReplaceExpr: Gen[GExpr] = for {
    base   <- strLit
    needle <- Gen.alphaLowerChar
    repl   <- Gen.listOfN(2, Gen.alphaLowerChar).map(_.mkString)
    global <- Gen.oneOf(true, false)
  } yield {
    val s = base.ev.asInstanceOf[EStr].s
    val (call, exp) =
      if (global) (s"regexp_replace(${base.sql}, '$needle', '$repl', 'g')",
        s.replace(needle.toString, repl))
      else (s"regexp_replace(${base.sql}, '$needle', '$repl')",
        s.replaceFirst(needle.toString, repl))
    GExpr(call, EStr(exp))
  }

  /** string_split with a literal separator (incl. regex metachars the shim
    * must escape); len() composes over the split result.
    */
  private val splitExpr: Gen[GExpr] = for {
    n     <- Gen.choose(1, 4)
    parts <- Gen.listOfN(n,
      Gen.listOfN(2, Gen.alphaLowerChar).map(_.mkString))
    sep   <- Gen.oneOf("|", ",", ".", "-")
    asLen <- Gen.oneOf(true, false)
  } yield {
    val joined = parts.mkString(sep)
    val call = s"string_split('$joined', '$sep')"
    if (asLen) GExpr(s"len($call)", EInt(parts.length))
    else GExpr(call, EArr(parts.map(EStr.apply)))
  }

  /** epoch(ts) keeps DuckDB's fractional seconds as a double. */
  private val epochExpr: Gen[GExpr] =
    Gen.choose(0L, 2000000000L).map { sec =>
      val ts = java.time.LocalDateTime
        .ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss"))
      GExpr(s"epoch(TIMESTAMP '$ts')", EDbl(sec.toDouble))
    }

  private val scalarExpr: Gen[GExpr] = Gen.oneOf(intLit, strLit, elementExpr,
    lenExpr, uniqueExpr, structExpr, printfExpr, startsWithExpr, dateDiffExpr,
    formatExpr, regexpReplaceExpr, splitExpr, epochExpr)

  private val selectItem: Gen[GExpr] = Gen.frequency(
    4 -> scalarExpr,
    1 -> arrExpr.map { case (s, xs) => GExpr(s, EArr(xs.map(EInt))) })

  // --- statement shapes ----------------------------------------------------
  private val plainSelect: Gen[GStmt] = for {
    n         <- Gen.choose(1, 3)
    es        <- Gen.listOfN(n, selectItem)
    fromFirst <- Gen.oneOf(true, false)
  } yield {
    val cols = es.zipWithIndex.map { case (e, i) => s"${e.sql} AS c$i" }
      .mkString(", ")
    val sql = if (fromFirst) s"FROM (SELECT 1 AS one) SELECT $cols"
      else s"SELECT $cols"
    GStmt(sql, Seq(es.map(_.ev)))
  }

  /** 1-based subscript + inclusive clamped slice over a derived column. */
  private val subscriptSelect: Gen[GStmt] = for {
    (s, xs) <- listLit
    i       <- Gen.choose(1, xs.length + 2)
    a       <- Gen.choose(1, xs.length + 1)
    b       <- Gen.choose(a, xs.length + 2)
  } yield GStmt(
    s"SELECT arr[$i] AS c0, arr[$a:$b] AS c1 FROM (SELECT $s AS arr)",
    Seq(Seq(
      if (i <= xs.length) EInt(xs(i - 1)) else ENull,
      EArr(xs.slice(a - 1, math.min(b, xs.length)).map(EInt)))))

  /** generate_series is inclusive on both ends. */
  private val seriesSelect: Gen[GStmt] = for {
    a <- Gen.choose(-5L, 5L)
    d <- Gen.choose(0L, 6L)
  } yield GStmt(
    s"SELECT count(*) AS n FROM generate_series($a, ${a + d})",
    Seq(Seq(EInt(d + 1))))

  /** Multi-unnest zip: index-aligned, shorter list NULL-pads. */
  private val unnestZipSelect: Gen[GStmt] = for {
    (s1, xs1) <- listLit
    (s2, xs2) <- listLit
  } yield {
    val m = math.max(xs1.length, xs2.length)
    GStmt(s"SELECT unnest($s1) AS x, unnest($s2) AS y",
      (0 until m).map(i => Seq(
        xs1.lift(i).map(EInt.apply).getOrElse(ENull),
        xs2.lift(i).map(EInt.apply).getOrElse(ENull))))
  }

  /** UNION ALL over integer-typed arms (types must align across arms):
    * result is the bag union of the arms' rows.
    */
  private val unionSelect: Gen[GStmt] = for {
    nArms <- Gen.choose(2, 3)
    arms  <- Gen.listOfN(nArms,
      Gen.oneOf(intLit, elementExpr, lenExpr, uniqueExpr, dateDiffExpr))
  } yield GStmt(
    arms.map(a => s"SELECT ${a.sql} AS c0").mkString(" UNION ALL "),
    arms.map(a => Seq(a.ev)))

  private val stmtGen: Gen[GStmt] = Gen.frequency(
    5 -> plainSelect, 2 -> subscriptSelect,
    1 -> seriesSelect, 2 -> unnestZipSelect, 2 -> unionSelect)

  // --- properties ----------------------------------------------------------
  private def render(rows: Seq[Seq[EV]]): Seq[String] =
    rows.map(_.mkString("|")).sorted // order-free compare (unnest rows)

  property("rewrite + Spark execution reproduces the DuckDB-semantics model") =
    Prop.forAll(stmtGen) { st =>
      val got = spark.sql(DialectShim.rewrite(st.sql, spark)).collect()
        .map(r => (0 until r.length).map(i => toEV(r.get(i))).toSeq).toSeq
      val ok = render(got) == render(st.rows)
      if (!ok) println(s"MISMATCH\n  sql: ${st.sql}\n  exp: ${render(st.rows)}" +
        s"\n  got: ${render(got)}")
      ok
    }

  property("rewrite is idempotent over the generated corpus") =
    Prop.forAll(stmtGen) { st =>
      val once = DialectShim.rewrite(st.sql)
      DialectShim.rewrite(once) == once
    }

  // --- quoting rule ------------------------------------------------------
  /** DuckDB idioms as raw text (an apostrophe included), to be quoted or
    * commented out.
    */
  private val idiomText: Gen[String] = Gen.oneOf(
    selectItem.map(_.sql),
    Gen.oneOf("count()", "arr[1]", "l[2:3]", "INT[]", "* EXCLUDE (a)",
      "* REPLACE (a AS b)", "QUALIFY rn = 1", "USING SAMPLE 10%",
      "ASOF JOIN p ON a >= b", "SELECT DISTINCT ON (k) k", "UNION ALL BY NAME",
      "COLUMNS('x')", "read_parquet('a.parquet')", "[x for x in xs]",
      "{'a': 1}", "it's"))

  /** The idiom inside '…', "…", `…`, a line comment or a block comment. */
  private val quotedSpan: Gen[String] = for {
    t    <- idiomText
    form <- Gen.choose(0, 4)
  } yield form match {
    case 0 => "'" + t.replace("'", "''") + "'"
    case 1 => "\"" + t + "\""
    case 2 => "`" + t + "`"
    case 3 => "-- " + t + "\n"
    case _ => "/* " + t + " */"
  }

  property("bytes inside quoted tokens and comments are never rewritten") =
    Prop.forAll(stmtGen, quotedSpan) { (st, span) =>
      // quoted spans become a select item, comments sit before the list
      val at = st.sql.indexOf("SELECT ") + "SELECT ".length
      val item = if (span.startsWith("-") || span.startsWith("/")) span + " "
        else span + " AS q, "
      val out = DialectShim.rewrite(st.sql.substring(0, at) + item + st.sql.substring(at))
      val ok = out.contains(span)
      if (!ok) println(s"REWROTE QUOTED SPAN\n  span: $span\n  out: $out")
      ok
    }
}
