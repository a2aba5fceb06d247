package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Column-name and schema hygiene operators.
  *
  * Reproduces the reference's destination-schema rules (SURVEY.md §2 T6, T15,
  * T17): names restricted to `[0-9A-Za-z_]`, leading digit prefixed with `_`,
  * max 300 chars (reference/chat.py:21-31); duplicate columns dropped
  * keep-first (reference/main.py:125); absent expected columns backfilled as
  * nulls (reference/main.py:85-87).
  *
  * All of these are driver-side schema rewrites — zero data movement, no
  * shuffle, safe at any scale.
  */
object ColumnHygiene {

  /** Sanitize one column name: `[^0-9A-Za-z_]` → `_`, prefix `_` if the name
    * starts with a digit, truncate to 300 chars. */
  def sanitizeName(name: String): String = {
    val cleaned = name.replaceAll("[^0-9A-Za-z_]", "_")
    val prefixed = if (cleaned.headOption.exists(_.isDigit)) "_" + cleaned else cleaned
    prefixed.take(300)
  }

  /** Rename every column through [[sanitizeName]]. Pure metadata operation. */
  def sanitizeColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(sanitizeName).toIndexedSeq: _*)

  /** Drop duplicate column names keep-first (reference/main.py:125).
    * Renames positionally first so duplicate names are never referenced
    * ambiguously. */
  def dropDuplicateColumns(df: DataFrame): DataFrame = {
    val names = df.columns
    val tmp = df.toDF(names.indices.map(i => s"__c$i").toIndexedSeq: _*)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val keep = names.zipWithIndex.collect {
      case (c, i) if seen.add(c.toLowerCase) => col(s"__c$i").as(c)
    }
    tmp.select(keep.toIndexedSeq: _*)
  }

  /** For each expected column absent from the frame, add it as a typed null
    * (reference/main.py:85-87). */
  def backfill(df: DataFrame, expected: Seq[(String, DataType)]): DataFrame = {
    val present = df.columns.map(_.toLowerCase).toSet
    expected.foldLeft(df) { case (d, (name, dt)) =>
      if (present.contains(name.toLowerCase)) d
      else d.withColumn(name, lit(null).cast(dt))
    }
  }

  /** Data-quality profile of selected columns, one output row per column:
    * row count, null count, exact distinct count, min/max (as strings so
    * heterogeneous column types stack into one frame). The audit a
    * pipeline publishes next to every batch so schema/volume drift is
    * caught by diffing profiles, not by a consumer's failure.
    *
    * Single pass over the data: all per-column aggregates run in ONE
    * aggregate (multiple exact countDistinct trigger Spark's standard
    * expand — #cols × rows intermediate, fine for the handful of audited
    * key columns; use approx_count_distinct for wide audits), then the
    * 1-row result unpivots via `stack`. */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
      countDistinct(col(c)).as(s"__dist_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")))
    val aggRow = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', `__nulls_$c`, `__dist_$c`, `__min_$c`, `__max_$c`").mkString(", ")
    aggRow.select(col("__n").as("n_rows"), expr(
        s"stack(${cols.size}, $stackArgs) AS (column, n_nulls, n_distinct, min_str, max_str)"))
      .select(col("column"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_str"), col("max_str"))
  }

  /** Schema/statistics drift report between two snapshots of a table:
    * [[columnProfile]] run on each side, full-outer-joined per column,
    * with the drift signals a nightly ingest monitor alerts on — null-rate
    * delta, distinct-count ratio, and min/max range changes. The join is
    * full-outer so callers pre-building profiles over differing column
    * sets surface added/dropped columns as one-sided rows; with a shared
    * `cols` list every row matches. This is the PROFILE-level
    * complement of [[graft.operators.Joins.diffSnapshots]] (which diffs
    * rows): at 100 TB you watch the profile every run and diff rows only
    * when the profile moves.
    *
    * Shape: two single-pass 1-row aggregates (one per snapshot) +
    * a #columns-row join — the data is scanned once per side regardless
    * of column count. */
  def profileDrift(oldDf: DataFrame, newDf: DataFrame,
                   cols: Seq[String], roundScale: Int = 6): DataFrame = {
    val po = columnProfile(oldDf, cols).select(col("column"),
      col("n_rows").as("old_rows"), col("n_nulls").as("old_nulls"),
      col("n_distinct").as("old_distinct"),
      col("min_str").as("old_min"), col("max_str").as("old_max"))
    val pn = columnProfile(newDf, cols).select(col("column"),
      col("n_rows").as("new_rows"), col("n_nulls").as("new_nulls"),
      col("n_distinct").as("new_distinct"),
      col("min_str").as("new_min"), col("max_str").as("new_max"))
    def rate(nulls: Column, rows: Column) =
      when(rows > 0, nulls.cast("double") / rows)
    po.join(pn, Seq("column"), "full_outer")
      .select(col("column"),
        col("old_rows"), col("new_rows"),
        round(rate(col("new_nulls"), col("new_rows"))
          - rate(col("old_nulls"), col("old_rows")), roundScale)
          .as("null_rate_delta"),
        when(col("old_distinct") > 0,
          round(col("new_distinct").cast("double") / col("old_distinct"),
            roundScale)).as("distinct_ratio"),
        (col("new_min") =!= col("old_min")).as("min_changed"),
        (col("new_max") =!= col("old_max")).as("max_changed"))
  }

  /** A single data-quality expectation evaluated set-wise: `name`,
    * the predicate a PASSING row satisfies, and whether a violation
    * should fail the pipeline (`critical`) or just be reported. */
  final case class Expectation(name: String, passes: Column,
                               critical: Boolean = false)

  /** Data-quality gate: evaluate every expectation in ONE pass over the
    * data and emit a report row per check — (check, n_rows, n_violations,
    * violation_rate, critical, passed). The conditional-sum formulation
    * means a 50-check suite still costs a single scan + one 1-row
    * aggregate; nothing shuffles but the partial sums.
    *
    * This is the set-oriented replacement for the reference's per-row
    * validation-by-crash (chat.py catches per-row KeyErrors mid-loop):
    * violations are COUNTED, the report is data, and the caller decides —
    * [[requireExpectations]] enforces critical checks fail-fast. */
  def checkExpectations(df: DataFrame, checks: Seq[Expectation]): DataFrame = {
    require(checks.nonEmpty, "checks must be non-empty")
    require(checks.map(_.name).distinct.size == checks.size,
      s"duplicate expectation names: ${checks.map(_.name)}")
    // names are spliced into the stack() expr string — restrict to a safe
    // identifier alphabet so a quote/backtick can't break (or inject into)
    // the generated SQL
    checks.map(_.name).foreach { n =>
      require(n.matches("[A-Za-z0-9_][A-Za-z0-9_ .-]*"),
        s"expectation name must be [A-Za-z0-9_ .-]+ (got '$n')")
    }
    // coalesce: sum over an EMPTY frame is null, and an empty input must
    // report 0 violations (pass), not nulls
    val aggs = count(lit(1)).as("__n") +: checks.map(c =>
      coalesce(sum(when(c.passes, 0L).otherwise(1L)), lit(0L))
        .as(s"__viol_${c.name}"))
    val aggRow = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = checks.map(c =>
      s"'${c.name}', `__viol_${c.name}`, ${c.critical}").mkString(", ")
    aggRow.select(col("__n").as("n_rows"), expr(
        s"stack(${checks.size}, $stackArgs) AS (check, n_violations, critical)"))
      .select(col("check"), col("n_rows"), col("n_violations"),
        round(when(col("n_rows") > 0,
          col("n_violations").cast("double") / col("n_rows"))
          .otherwise(lit(0.0)), 6).as("violation_rate"),
        col("critical"),
        (col("n_violations") === 0L).as("passed"))
  }

  /** Fail-fast wrapper: evaluates the report and throws (with the failing
    * check names and counts) if any CRITICAL expectation has violations;
    * returns the report for logging otherwise. */
  def requireExpectations(df: DataFrame, checks: Seq[Expectation]): DataFrame = {
    val report = checkExpectations(df, checks)
    val failedCritical = report
      .filter(col("critical") && !col("passed"))
      .select(col("check"), col("n_violations"))
      .collect()
    require(failedCritical.isEmpty,
      "critical data-quality expectations failed: " + failedCritical
        .map(r => s"${r.getString(0)} (${r.getLong(1)} violations)")
        .mkString(", "))
    report
  }

  /** k-anonymity audit (public literature: Sweeney IJUFKS'02): every
    * combination of quasi-identifier values shared by FEWER than k rows is
    * a re-identification risk — the privacy gate a corpus passes before
    * release, the flip side of [[checkExpectations]]'s validity gate.
    * Emits the violating combinations with their group sizes, smallest
    * (riskiest) first by (group_size, quasi values).
    *
    * Scale shape: ONE hash aggregate on the quasi-identifier tuple with
    * map-side partials — count-only rows cross the wire, never payloads.
    * The `< k` filter runs post-aggregate, so output is bounded by the
    * number of rare combinations, typically a sliver of the input. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(k >= 2, s"k must be >= 2 (k=1 is vacuous): $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)
  }

  /** Benford's-law expected first-digit shares log10(1 + 1/d), SNAPPED to
    * multiples of 2⁻²⁰ and shipped as the same literals to both engines
    * (no libm log10 inside either plan). */
  private[graft] def benfordShares: Seq[Double] = {
    val scale = (1 << 20).toDouble
    (1 to 9).map(d => math.rint(scale * math.log10(1.0 + 1.0 / d)) / scale)
  }

  /** Benford's-law first-digit audit — the fabricated/truncated-data
    * screen for naturally-spanning numeric columns (amounts, populations):
    * per leading digit, observed count vs the log10(1+1/d) expectation
    * and the χ² contribution (O−E)²/E. The leading digit is extracted
    * from `%.10e` scientific formatting. Precision is a deliberate
    * PARITY choice, not an accuracy one: the JVM's Formatter renders %e
    * from the zero-padded SHORTEST round-trip representation while C
    * printf rounds the exact binary expansion — at ≥16 fractional
    * digits the two visibly disagree (JVM "1.0000000000000000e-07" vs C
    * "9.9999999999999995e-08" for the double nearest 1e-7), but at 10
    * fractional digits the decimal granularity (~1e-10 relative) dwarfs
    * one ulp (~1e-16), so both conversions land on the same string for
    * every double. KNOWN BOUNDED CAVEAT: a value within 5e-11 relative
    * of a power of ten from below (shortest rep 9.99999999995+, ≥12
    * significant digits) rounds clear across the mantissa and reports
    * digit 1 instead of 9 — in BOTH engines identically. That window is
    * ~1e-10 of the value line; for a distribution-level screen the
    * expected miscount is zero rows at any realistic cardinality. Zero
    * and NULL values are excluded (they have no leading digit).
    *
    * Scale shape: one map-side digit projection + ONE 9-bucket hash
    * aggregate + a 1-row total broadcast — nothing else moves. */
  def benford(df: DataFrame, valCol: String): DataFrame = {
    val eArr = array(benfordShares.map(lit): _*)
    val lead = substring(
      format_string("%.10e", abs(col(valCol))), 1, 1).cast("int")
    val counts = df
      .filter(col(valCol).isNotNull && abs(col(valCol)) > lit(0.0))
      .select(lead.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).cast("double").as("__t"))
    val e = element_at(eArr, col("digit"))
    val dev = col("n").cast("double") - col("__t") * e
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("__t"), 6).as("share"),
        round(e, 6).as("expected_share"),
        round(dev * dev / (col("__t") * e), 6).as("chi2_contrib"))
  }

  /** Distinct l-diversity audit (Machanavajjhala et al., TKDD'07): a
    * k-anonymous group is still re-identifiable when everyone in it
    * shares the same SENSITIVE value — homogeneity attack. Reports every
    * quasi-identifier group with its size and distinct-sensitive count
    * plus an `is_diverse` flag (≥ l distinct values), so the release
    * gate can quantify how much suppression l would cost, not just list
    * violators. NULL sensitive values don't count toward diversity
    * (count-distinct semantics on both engines).
    *
    * Scale shape: ONE hash aggregate on (quasi tuple) with a distinct
    * count — Spark plans the standard two-phase partial-distinct
    * aggregate, so only (quasi, sensitive) pairs cross the wire. Output
    * is bounded by the number of quasi combinations. */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(l >= 2, s"l must be >= 2 (l=1 is vacuous): $l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("is_diverse", col("n_sensitive") >= l)
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian ICDE'07), completing
    * the k-anonymity → l-diversity → t-closeness release-gate ladder: a
    * diverse group still leaks when its sensitive-value DISTRIBUTION
    * differs from the table's (skewness attack — "diverse but 90%
    * positive"). For a categorical sensitive attribute under the
    * equal-ground-distance metric, the paper's EMD reduces to total
    * variation distance: tvd = ½·Σ_v |p_group(v) − p_global(v)|.
    * Reports every quasi-group with its size, tvd, and `is_close`
    * (tvd ≤ t). NULL sensitive values are excluded on both sides
    * (matching [[lDiversity]]'s count-distinct semantics).
    *
    * The Σ runs over ALL global values without materializing a
    * group×value grid: absent values contribute q_v, so
    * tvd = ½·(Σ_{v∈group} |p_v − q_v| + (1 − Σ_{v∈group} q_v)) — only
    * OBSERVED (quasi, v) cells are ever built. Every summed term is an
    * EXACT INTEGER (|c·N − n_v·g| over the common denominator g·N;
    * Σ n_v), so the aggregation is order-independent and the one
    * engine-sensitive float division happens ONCE per group, after the
    * sums — a naive Σ|p−q| of doubles hash-diverged at sf0.1 on a
    * rounding boundary. Integer products bound: c·N < 2⁶³ holds to
    * ~3·10⁹ rows per sensitive value; beyond that, pre-aggregate or
    * widen to decimal.
    *
    * Scale shape: one (quasi, v) hash aggregate (map-side combined),
    * one value-keyed join against the value-cardinality global-share
    * table (broadcast-sized), one quasi-group aggregate, a 1-row total
    * broadcast. Output bounded by quasi combinations. */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, t: Double): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(t > 0 && t < 1, s"t must be in (0,1): $t")
    val rows = df.filter(col(sensitiveCol).isNotNull)
    val global = rows.groupBy(col(sensitiveCol).as("__v"))
      .agg(count(lit(1)).as("__nv"))
    val total = global.agg(sum(col("__nv")).as("__n"))
    val cells = rows.groupBy(quasiCols.map(col) :+
        col(sensitiveCol).as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val g = Window.partitionBy(quasiCols.map(col): _*)
    cells
      .join(broadcast(global), Seq("__v"))
      .crossJoin(broadcast(total))
      .withColumn("__g", sum(col("__c")).over(g))
      .groupBy(quasiCols.map(col): _*)
      .agg(min(col("__g")).as("group_size"), min(col("__n")).as("__n"),
        sum(abs(col("__c") * col("__n") - col("__nv") * col("__g")))
          .as("__s1n"),
        sum(col("__nv")).as("__s2n"))
      .select(quasiCols.map(col) :+ col("group_size") :+
        round((col("__s1n") / (col("group_size").cast("double") * col("__n"))
          + (lit(1.0) - col("__s2n") / col("__n"))) / 2, 6).as("tvd"): _*)
      .withColumn("is_close", col("tvd") <= t)
  }

  /** Referential-integrity audit: child rows whose foreign key has no
    * match in the parent — the orphan check a warehouse load runs before
    * promoting a batch (the set-oriented version of discovering the break
    * later as a failed enrichment join). NULL foreign keys are reported
    * separately, not as orphans (SQL semantics: a null FK can't dangle).
    *
    * One left-anti join (broadcast when the parent's key column is small,
    * which a dimension's key projection usually is) + one 1-row count
    * aggregate per side — child payloads never shuffle, only the FK
    * column feeds the join. Returns (fk value, n_orphans) per distinct
    * orphaned key, worst first, so the output is bounded by the number of
    * DISTINCT dangling keys. */
  def riOrphans(child: DataFrame, parent: DataFrame,
                fkCol: String, pkCol: String): DataFrame = {
    val keys = parent.select(col(pkCol)).distinct()
    child
      .filter(col(fkCol).isNotNull)
      .join(keys, child(fkCol) === keys(pkCol), "left_anti")
      .groupBy(col(fkCol))
      .agg(count(lit(1)).as("n_orphans"))
  }

  /** Functional-dependency audit: determinant values for which X → Y
    * does NOT hold — i.e. lhs tuples mapping to more than one distinct
    * rhs value. THE schema-trust check before using a column as a lookup
    * key, collapsing a dimension, or picking a dedup survivor "by key":
    * every violation row is a key you believed unique-mapping and isn't.
    * Null rhs values count as a value of their own (a key mapping to
    * {x, null} is still ambiguous).
    *
    * Shape: ONE exact countDistinct aggregate on the determinant (the
    * standard double hash-aggregate expansion); the > 1 filter runs
    * post-aggregate so only violations survive. */
  def fdViolations(df: DataFrame, lhsCols: Seq[String],
                   rhsCol: String): DataFrame = {
    require(lhsCols.nonEmpty, "need at least one determinant column")
    // countDistinct skips nulls in BOTH engines, so the null "value" is
    // re-added explicitly — portable, unlike counting distinct structs
    df.groupBy(lhsCols.map(col): _*)
      .agg((countDistinct(col(rhsCol)) +
        max(when(col(rhsCol).isNull, 1L).otherwise(0L))).as("n_rhs_values"),
        count(lit(1)).as("n_rows"))
      .filter(col("n_rhs_values") > 1)
  }

  /** Laplace-noised per-group counts — the differential-privacy RELEASE
    * dataflow (public: Dwork et al. TCC'06; count queries have
    * sensitivity 1, so noise scale is 1/ε): aggregate once, add
    * inverse-CDF Laplace noise, release only the noised figure.
    *
    * Noise here is a DETERMINISTIC function of (salt, group) via the
    * md5-based [[Corpus.hashUnit]] — rerunning the release yields the
    * same figures (re-release under a fresh draw is itself a privacy
    * leak), incremental reruns stay consistent, and the harness oracle
    * can check the arithmetic. A production release would derive the
    * same construction from a secret-keyed PRF instead of a public salt;
    * the dataflow is identical. The inverse-CDF argument is clamped at
    * 2⁻³² so a zero hash can't produce ln(0) = −∞.
    *
    * Shape: ONE hash aggregate; the noise is a post-aggregate map-side
    * expression over #groups rows. */
  def noisyCounts(df: DataFrame, groupCol: String, epsilon: Double,
                  salt: String): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive: $epsilon")
    val u = Corpus.hashUnit(col(groupCol), salt) - 0.5
    val arg = greatest(lit(1.0) - lit(2.0) * abs(u), lit(1.0 / 4294967296.0))
    val noise = lit(-1.0 / epsilon) * signum(u) * log(arg)
    df.groupBy(col(groupCol)).agg(count(lit(1)).as("__true"))
      .select(col(groupCol),
        round(col("__true") + noise, 6).as("noisy_cnt"))
  }

  /** Laplace-noised per-group CLIPPED means — the DP release for a
    * numeric statistic (public: Dwork et al. TCC'06). Values are clipped
    * to [lo, hi] FIRST (clipping is what bounds the sensitivity — without
    * it one outlier row reveals itself), then the group mean gets
    * Laplace((hi−lo)/(n·ε)) noise: the sensitivity of a known-n mean.
    * Same deterministic hashUnit noise construction (and caveats) as
    * [[noisyCounts]] — reruns release identical figures and the oracle
    * can check the arithmetic; production would swap in a secret-keyed
    * PRF.
    *
    * Shape: ONE hash aggregate; clipping is map-side, noise is a
    * post-aggregate projection over #groups rows. */
  def noisyMeans(df: DataFrame, groupCol: String, valCol: String,
                 lo: Double, hi: Double, epsilon: Double,
                 salt: String): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive: $epsilon")
    require(hi > lo, s"need hi > lo: [$lo, $hi]")
    val clipped = greatest(least(col(valCol).cast("double"), lit(hi)),
      lit(lo))
    val u = Corpus.hashUnit(col(groupCol), salt) - 0.5
    val arg = greatest(lit(1.0) - lit(2.0) * abs(u),
      lit(1.0 / 4294967296.0))
    df.filter(col(valCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), avg(clipped).as("__mean"))
      .select(col(groupCol), col("n"),
        round(col("__mean")
          + lit(-(hi - lo) / epsilon) * signum(u) * log(arg) / col("n"),
          6).as("noisy_mean"))
  }

  /** Hot-key skew report for a prospective shuffle/join key: the top
    * `topK` keys by row count, each with its share of all rows and its
    * skew factor vs the mean key size. THE pre-flight check before keying
    * a 100 TB shuffle: skew factor 100 means one reducer does 100× the
    * average work — salt that key ([[Joins.saltedJoin]]) or let AQE split
    * it, but FIND it before the job runs, not in its straggler tasks.
    *
    * One hash aggregate on the key + a 1-row aggregate of the per-key
    * counts broadcast back + a TakeOrdered on the bounded top-k — nothing
    * unbounded crosses the wire. Deterministic: count-desc with a key
    * tiebreak. */
  def skewReport(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("__total"),
      count(lit(1)).as("__nkeys"))
    counts.crossJoin(broadcast(totals))
      .select(col(keyCol), col("cnt"),
        round(col("cnt") / col("__total"), 6).as("share"),
        round(col("cnt").cast("double") * col("__nkeys") / col("__total"), 6)
          .as("skew"))
      .orderBy(col("cnt").desc, col(keyCol).asc)
      .limit(topK)
  }

  /** Candidate-key discovery: for each proposed column COMBINATION,
    * exact distinct count, any-null row count and the uniqueness ratio,
    * plus the is_key verdict (unique AND null-free) — the audit that
    * runs before anyone declares a MERGE/dedup key ([[fdViolations]]'s
    * sibling: FD audits a dependency you believe, this ranks the keys
    * you're considering; the reference hard-codes `n_ticket`/`number`
    * as identity, manutencao.py:12-62 — this is how that choice gets
    * validated instead of assumed).
    *
    * Distinctness is over the combo STRUCT, so null components are
    * distinct VALUES (two (null, 3) rows collide) rather than silently
    * dropped like multi-arg COUNT(DISTINCT a, b) — null-key rows are a
    * thing the is_key verdict must see, not skip.
    *
    * Scale shape: ONE aggregate pass computing every combo's exact
    * countDistinct + null counter (Catalyst expands multi-distinct
    * aggregates; cost ∝ combos × input, combos is a small literal
    * list), materialized as one tiny row (localCheckpoint, the 1-row
    * stats pattern) and unpivoted driver-side into one row per combo —
    * the input is never re-scanned per combo. */
  def keyCandidates(df: DataFrame, combos: Seq[Seq[String]]): DataFrame = {
    require(combos.nonEmpty && combos.forall(_.nonEmpty),
      "need at least one non-empty column combo")
    def slug(c: Seq[String]) = c.mkString("+")
    val aggs = combos.flatMap { c =>
      val anyNull = c.map(col(_).isNull).reduce(_ || _)
      Seq(
        countDistinct(struct(c.map(col): _*)).as(s"__d_${slug(c)}"),
        sum(when(anyNull, 1L).otherwise(0L)).as(s"__n_${slug(c)}"))
    }
    val allAggs = count(lit(1)).as("__rows") +: aggs
    val one = df.agg(allAggs.head, allAggs.tail: _*).localCheckpoint()
    combos.map { c =>
      one.select(lit(slug(c)).as("candidate"),
        col("__rows").as("n_rows"),
        col(s"__n_${slug(c)}").as("n_null_rows"),
        col(s"__d_${slug(c)}").as("n_distinct"),
        round(col(s"__d_${slug(c)}").cast("double")
          / col("__rows").cast("double"), 6).as("uniqueness"),
        (col(s"__d_${slug(c)}") === col("__rows") &&
          col(s"__n_${slug(c)}") === 0L).as("is_key"))
    }.reduce(_.unionByName(_))
  }
}
