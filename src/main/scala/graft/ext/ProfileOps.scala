package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dataset profiling — the Spark analog of DuckDB's `SUMMARIZE`
  * (/root/reference delegates profiling to DuckDB, where SUMMARIZE is the
  * idiom): per-column row counts, null counts, exact distinct counts,
  * min/max (+mean for numerics), emitted in long format (one row per
  * column) so the profile of a 1000-column table is still a 1000-row
  * result.
  *
  * Two branches, both expand-free:
  *   - base metrics: ONE aggregate pass computes rows/nulls/min/max/mean
  *     for every column (map-side partial combine), pivoted to long format
  *     by exploding a literal struct array of the single result row;
  *   - exact distincts: n count(DISTINCT) columns in one agg would Expand
  *     the input ×(n+1) before the shuffle; instead the columns explode to
  *     (column-idx, value) pairs and a two-phase distinct shuffles only
  *     each PARTITION's distinct values — for typical profiles orders of
  *     magnitude fewer rows. Exact distinct (not approx_count_distinct)
  *     keeps the operator oracle-checkable; swap in approx at trillion-row
  *     scale where a 2% error beats any exact plan.
  *
  * Like SUMMARIZE, the output schema is uniform across column types:
  * numeric stats land in (min_num, max_num, mean_v); string/temporal
  * min/max land in (min_str, max_str) — temporals formatted to a fixed
  * second-precision pattern so the rendering is engine-independent.
  */
object ProfileOps {

  private val TsFmt = "yyyy-MM-dd HH:mm:ss"

  private def kindOf(dt: DataType): String = dt match {
    case _: NumericType | BooleanType => "numeric" // bool profiles as 0/1
    case StringType     => "string"
    case TimestampType | TimestampNTZType => "timestamp"
    case DateType       => "date"
    case other => throw new IllegalArgumentException(
      s"ProfileOps.profile: unsupported column type $other")
  }

  /** Whether [[profile]] supports this column type (used by the
    * SUMMARIZE shim to select columns).
    */
  def supported(dt: DataType): Boolean =
    try { kindOf(dt); true } catch { case _: IllegalArgumentException => false }

  /** Mixed-type profile; see object doc. One agg pass + one exploded
    * two-phase distinct pass, any mix of numeric/string/timestamp/date
    * columns.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "ProfileOps.profile: no columns given")
    val kinds = cols.map(c => c -> kindOf(df.schema(c).dataType)).toMap
    // backtick-quote every reference: a column named `price.usd` must stay
    // one column, not a struct-field path
    def q(c: String): Column = col(s"`$c`")
    def d(c: String): Column = q(c).cast("double")

    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"${c}__rows"),
        // coalesce: sum over ZERO rows is NULL, but an empty input has 0
        // nulls, not unknown — keep n_null numeric like n_distinct below
        coalesce(sum(when(q(c).isNull, 1L).otherwise(0L)), lit(0L))
          .as(s"${c}__nulls")) ++
      (kinds(c) match {
        case "numeric" => Seq(
          min(d(c)).as(s"${c}__minn"), max(d(c)).as(s"${c}__maxn"),
          round(avg(d(c)), 4).as(s"${c}__mean"))
        case "string" => Seq(
          min(q(c)).as(s"${c}__mins"), max(q(c)).as(s"${c}__maxs"))
        case "timestamp" => Seq(
          date_format(min(q(c)), TsFmt).as(s"${c}__mins"),
          date_format(max(q(c)), TsFmt).as(s"${c}__maxs"))
        case "date" => Seq(
          min(q(c)).cast("string").as(s"${c}__mins"),
          max(q(c)).cast("string").as(s"${c}__maxs"))
      })
    }
    val agged = df.agg(aggs.head, aggs.tail: _*)

    val nullD = lit(null).cast("double")
    val nullS = lit(null).cast("string")
    val rows = cols.map { c =>
      val numeric = kinds(c) == "numeric"
      struct(lit(c).as("col_name"), lit(kinds(c)).as("col_type"),
        col(s"`${c}__rows`").as("n_rows"),
        col(s"`${c}__nulls`").as("n_null"),
        (if (numeric) col(s"`${c}__minn`") else nullD).as("min_num"),
        (if (numeric) col(s"`${c}__maxn`") else nullD).as("max_num"),
        (if (numeric) col(s"`${c}__mean`") else nullD).as("mean_v"),
        (if (numeric) nullS else col(s"`${c}__mins`")).as("min_str"),
        (if (numeric) nullS else col(s"`${c}__maxs`")).as("max_str"))
    }
    val base = agged.select(explode(array(rows: _*)).as("p")).select("p.*")

    // posexplode needs one element type across columns, but rendering
    // every value to string (Double.toString, timestamp formatting) costs
    // more than the distinct itself — so values ride in a typed slot
    // struct instead, with each slot an EXACT mapping for its source
    // type: integrals/booleans/temporals as long, float/double as double,
    // decimals as their fixed-scale string (a double slot would collapse
    // 64-bit values differing beyond 2^53). Values from different columns
    // can never collide: the column index rides beside the slot. Struct
    // equality is fieldwise, so DISTINCT cardinality is exactly that of
    // the native values.
    val nullT = lit(null).cast("long")
    def slot(c: String): Column = df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType =>
        struct(nullD.as("d"), nullS.as("s"), q(c).cast("long").as("t"))
      case FloatType | DoubleType =>
        struct(d(c).as("d"), nullS.as("s"), nullT.as("t"))
      case _: DecimalType => // fixed scale per column → injective rendering
        struct(nullD.as("d"), q(c).cast("string").as("s"), nullT.as("t"))
      case StringType =>
        struct(nullD.as("d"), q(c).as("s"), nullT.as("t"))
      case DateType =>
        struct(nullD.as("d"), nullS.as("s"), unix_date(q(c)).cast("long").as("t"))
      case _ => // timestamp (tz or ntz)
        struct(nullD.as("d"), nullS.as("s"),
          unix_micros(q(c).cast("timestamp")).as("t"))
    }
    val nd = df
      .select(posexplode(array(cols.map(slot): _*)).as(Seq("__i", "__v")))
      // count(DISTINCT c) ignores nulls: a null value leaves every slot null
      .filter(col("__v.d").isNotNull || col("__v.s").isNotNull ||
        col("__v.t").isNotNull)
      .distinct()
      .groupBy(col("__i"))
      .agg(count(lit(1)).as("n_distinct"))
      .select(element_at(typedLit(cols), col("__i") + 1).as("col_name"),
        col("n_distinct"))

    base.join(nd, Seq("col_name"), "left")
      .select(col("col_name"), col("col_type"), col("n_rows"), col("n_null"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"), // all-null col
        col("min_num"), col("max_num"), col("mean_v"),
        col("min_str"), col("max_str"))
  }

  /** Join-key skew diagnostic — the measurement that decides whether a
    * key needs salting ([[JoinOps.saltedEquiJoin]], q36/q73) BEFORE the
    * join stalls a stage on one reducer. Reports the topN heaviest keys
    * with the corpus totals beside them; consumers derive ratios
    * (n/total_rows = the key's share; n·n_keys/total_rows = its skew
    * factor vs uniform) from the exact integers — deliberately no
    * pre-rounded floats in the output, so the result is
    * engine-hash-stable (the q14 sums-not-averages rule).
    *
    * A NULL key IS a key here (one group, counted in n_keys and
    * eligible for the top slice): null join keys are a classic skew
    * bucket, and a diagnostic that dropped them would hide exactly the
    * hotspot it exists to find. The q96 oracle derives n_keys the same
    * way (from the grouped rows, not count(DISTINCT), which drops
    * NULLs).
    *
    * Plan shape: ONE corpus scan. The per-key partial agg feeds both the
    * TakeOrderedAndProject top slice (never a full sort) and the totals
    * (total_rows = sum of the per-key counts, n_keys = the number of
    * per-key rows — no second scan, no count-DISTINCT Expand), which
    * broadcast back as one row.
    */
  def keySkew(df: DataFrame, keyCol: String, topN: Int): DataFrame = {
    require(topN > 0, s"keySkew: topN must be positive, got $topN")
    val perKey = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val totals = perKey.agg(sum(col("n")).as("total_rows"),
      count(lit(1)).as("n_keys"))
    perKey
      // asc_nulls_last pins the cross-engine tie order at the topN
      // boundary: Spark's bare asc is NULLS FIRST, DuckDB's is NULLS
      // LAST — and the NULL key is deliberately IN the report (the
      // classic skew bucket), so a null tying on n at the cut would
      // otherwise pick a different slice per engine (the exactSample
      // coin-sort fix, applied here)
      .orderBy(col("n").desc, col(keyCol).asc_nulls_last)
      .limit(topN)
      .crossJoin(broadcast(totals))
  }

  /** Corpus snapshot diff: classify every key across two versions of a
    * dataset as `added` / `removed` / `changed` / `unchanged` — the audit
    * a training-data pipeline runs between crawl refreshes (what did this
    * month's snapshot actually change?) and before promoting a processed
    * corpus (did the "no-op" rerun really not touch anything?).
    *
    * Content equality is by fingerprint, computed MAP-SIDE: each side
    * projects to (key, unhex(md5(concat_ws(\\u0001, contentCols)))) before
    * the join, so the shuffle carries the key plus 16 bytes per row —
    * never the document payload. At 100 TB a full-outer sort-merge join on
    * the key is the floor for this comparison (both sides genuinely must
    * meet); everything else is map-only, and AQE handles the usual
    * new-snapshot-is-bigger asymmetry. Keys are assumed unique per
    * snapshot (the corpus contract); duplicate keys would cross-match.
    *
    * concat_ws drops a NULL content column AND its separator (identically
    * on both engines), so NULL→'' IS detected as a change (the empty
    * string keeps its separator) — but a value MOVING between adjacent
    * nullable columns, ('x', NULL) → (NULL, 'x'), fingerprints
    * identically. Callers whose change model must see that coalesce a
    * per-column sentinel in first.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
                   contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "snapshotDiff: no content columns")
    def fp(df: DataFrame, hashName: String) =
      df.select(col(keyCol),
        unhex(md5(concat_ws("\u0001", contentCols.map(c => col(s"`$c`"))
          : _*))).as(hashName))
    fp(oldDf, "__ho").join(fp(newDf, "__hn"), Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("__ho").isNull, lit("added"))
          .when(col("__hn").isNull, lit("removed"))
          .when(col("__ho") =!= col("__hn"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Classifier calibration report (q175 — VERDICT r16 task 6): does a
    * predicted probability MEAN anything — is "0.7" an empirical 0.7?
    * Buckets `scoreCol` (a probability pre-rounded at 6, e.g.
    * [[TextOps.qualityLrScore]]) into `nBuckets` fixed-width bins and
    * reports per bucket:
    *
    *   n         — labeled rows in the bucket
    *   n_pos     — of those, actually positive
    *   pos_rate  — n_pos / n (the empirical rate)
    *   mean_pred — the bucket's mean predicted probability
    *   abs_gap   — |mean_pred − pos_rate| (the reliability-diagram bar)
    *
    * plus ONE summary row (bucket = −1, counts summed) whose `abs_gap`
    * is the Expected Calibration Error — Σ_b (n_b/N)·gap_b — the number
    * read before a score threshold commits a corpus (Naeini, Cooper &
    * Hauskrecht 2015, "Obtaining Well Calibrated Probabilities Using
    * Bayesian Binning", AAAI — the standard binned ECE).
    *
    * Cross-engine determinism (the q170/q172 discipline): scores become
    * exact integer micro-units (round(score·10⁶) — exact for a score
    * already rounded at 6), every bucket aggregate is an integer sum,
    * the per-bucket gap numerator |Σmicro − 10⁶·n_pos| is an exact
    * integer, and ECE's numerator is the plain integer sum of those —
    * so ECE needs no float-weighted average at all. Every reported
    * ratio is integer-rounded half-up at 6 first, then divided once by
    * 10⁶ (no float round() near a .5 boundary). Buckets are fixed-width
    * (never ntile), clamped on the LONG floor BEFORE the int cast;
    * NaN scores normalize to NULL; unscored (NULL-score) and unlabeled
    * (NULL-label) rows are excluded — calibration is only definable on
    * the labeled, scored slice.
    *
    * Plan shape: one map-side projection + one ≤nBuckets-row aggregate
    * — the corpus is touched once, nothing collects beyond the bucket
    * histogram.
    */
  def calibrationReport(df: DataFrame, scoreCol: Column, labelCol: Column,
                        nBuckets: Int = 10): DataFrame = {
    require(nBuckets > 0 && nBuckets <= 10000,
      s"calibrationReport: nBuckets=$nBuckets not in 1..10000")
    val s = scoreCol.cast("double")
    val rows = df
      .withColumn("__su", when(isnan(s), lit(null))
        .otherwise(round(s * 1e6)).cast("long"))
      .withColumn("__pos", when(labelCol, 1L)
        .when(!labelCol, 0L).otherwise(lit(null)))
      .filter(col("__su").isNotNull && col("__pos").isNotNull)
      .withColumn("bucket", least(lit((nBuckets - 1).toLong),
        greatest(lit(0L), floor(s * nBuckets))).cast("int"))
    val per = rows.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("__pos")).as("n_pos"),
        sum(col("__su")).as("__su"))
      .withColumn("__gap_u",
        abs(col("__su") - lit(1000000L) * col("n_pos")))
    def ratio6(numExpr: String): Column =
      (expr(numExpr).cast("double") / 1000000.0)
    // ONE re-aggregate emits the per-bucket rows AND the −1 summary
    // row: each bucket row explodes into its own group plus the −1 group
    // (≤ 2·nBuckets rows). Per-bucket groups are singletons, so their
    // sums are exactly the row values, and the −1 group's sums are the
    // summary's — so the three ratio formulas below serve both (the ECE
    // identity: Σ_b (n_b/N)·gap_b = (Σ_b gap_u_b) / (10⁶·N)). The form
    // is kept because it is the shorter one: a per ∪ summary union
    // would state each formula twice.
    per.select(explode(array(col("bucket"), lit(-1))).as("bucket"),
        col("n"), col("n_pos"), col("__su"), col("__gap_u"))
      .groupBy(col("bucket"))
      .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"),
        sum(col("__su")).as("__su"), sum(col("__gap_u")).as("__gap_u"))
      .select(col("bucket"), col("n"), col("n_pos"),
        ratio6("(2 * 1000000 * n_pos + n) div (2 * n)").as("pos_rate"),
        ratio6("(2 * __su + n) div (2 * n)").as("mean_pred"),
        ratio6("(2 * __gap_u + n) div (2 * n)").as("abs_gap"))
  }
}
