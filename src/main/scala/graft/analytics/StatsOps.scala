package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Cols
import graft.operators.{Association, Bootstrap, Drift, HistQuantiles, Sequences, TextDedup, Triangles}

/** Statistical / graph / sequence analytics extending the reference's
  * aggregate surface (SURVEY.md §2.5) with the screens a curation
  * pipeline runs before training: robust outlier cuts, distribution
  * banding, multi-dimensional rollups, collocation mining, duplicate-
  * graph structure, and deterministic sampling.
  *
  * Oracle-parity conventions (see DataOps): floor-rounding via
  * [[Cols.r]], decimal-quantized sums via [[Cols.sumExact]], division
  * written in the same association order on both sides, and a total
  * ORDER BY with tiebreakers on every result.
  */
object StatsOps {

  // ---- graph: triangle structure of the near-dup pair graph ----------

  /** Triangle participation in the MinHash-LSH duplicate graph (same
    * pair source as dedup_groups / pagerank_hubs). High triangle
    * counts mark genuine template clusters — LSH false positives are
    * overwhelmingly open wedges, so this is the cheap structural
    * filter before acting on near-dup verdicts. */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val pairs = TextDedup.pairGraph(Tables.documents(spark, dir),
        n = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
    Triangles.nodeTriangles(pairs, "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("n_triangles"))
      .orderBy(col("n_triangles").desc, col("doc_id").asc)
      .limit(20)
  }

  // ---- sequences: first-order Markov transitions ---------------------

  def eventTransitions(spark: SparkSession, dir: String): DataFrame =
    Sequences.transitions(Tables.events(spark, dir),
        entityCol = "user_id", tsCol = "ts", idCol = "event_id", typeCol = "event_type")
      .orderBy(col("from_type").asc, col("to_type").asc)

  // ---- multi-dimensional rollup: CUBE --------------------------------

  /** CUBE over (returnflag, linestatus): all four grouping levels in
    * one pass (Spark plans a single Expand + hash aggregate — no
    * re-scan per level). NULL grouping slots are labeled 'ALL'. */
  def cubeFlagStatus(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"),
        Cols.sumExact(col("l_quantity")).as("sum_qty"),
        Cols.sumExact(col("l_extendedprice")).as("sum_price"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("return_flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("line_status"),
        col("n_items"), col("sum_qty"), col("sum_price"))
      .orderBy(col("return_flag").asc, col("line_status").asc)

  // ---- distribution banding: broadcast-quantile deciles --------------

  /** Histogram grid size for the decile cuts: cut resolution is
    * range/4096 ≈ $40 on the harness price span — far inside a decile
    * band, and the state bound that makes this 100×-survivable. */
  val DecileBuckets = 4096

  /** Order-value deciles WITHOUT a global sort and WITHOUT unbounded
    * aggregation state: fixed-grid histogram cuts ([[HistQuantiles]] —
    * O(buckets) state, vs exact `percentile` whose single final buffer
    * holds every distinct value) produce the 9 cut points (single row
    * → broadcast cross join), and assignment is a per-row comparison
    * sum. This is the 100 TB-safe shape — `ntile(10) OVER (ORDER BY…)`
    * would funnel every row through one partition, and exact
    * `percentile` would OOM one task on a ~unique-valued column. */
  def decilesOrders(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val cuts = HistQuantiles.cuts(ord, col("o_totalprice"),
        (1 to 9).map(_ / 10.0), DecileBuckets)
      .select(col("qs"))
    val assigned = ord.crossJoin(broadcast(cuts))
      .withColumn("decile",
        (1 to 9).map(i => when(col("o_totalprice") >= element_at(col("qs"), i), 1)
          .otherwise(0)).reduce(_ + _) + lit(1))
    assigned.groupBy("decile")
      .agg(count(lit(1)).as("n_orders"),
        Cols.r(min(col("o_totalprice")), 2).as("lo"),
        Cols.r(max(col("o_totalprice")), 2).as("hi"),
        Cols.sumExact(col("o_totalprice")).as("total"))
      .orderBy(col("decile").asc)
  }

  // ---- robust outliers: median/MAD -----------------------------------

  /** Histogram grid for the median/MAD cuts (events.value spans a few
    * hundred units → sub-0.1 resolution). */
  val MadBuckets = 8192

  /** Median-absolute-deviation outlier screen — the robust cousin of
    * q3's z-score (one huge value cannot drag the cut the way it
    * drags a mean/stddev). Two bounded-state histogram-quantile
    * reduces ([[HistQuantiles]] — O(buckets) aggregation state), each
    * a single-row frame cross-joined back: no global sort, no
    * unbounded percentile buffer, no second full shuffle. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("value").isNotNull)
    val med = HistQuantiles.cut(ev, col("value"), 0.5, MadBuckets, "m")
    val mad = HistQuantiles.cut(ev.crossJoin(broadcast(med)),
      abs(col("value") - col("m")), 0.5, MadBuckets, "d")
    ev.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .withColumn("robust_z", abs(col("value") - col("m")) / col("d"))
      .filter(col("robust_z") > 3.0)
      .select(col("event_id"), Cols.r(col("value"), 4).as("value"),
        Cols.r(col("robust_z"), 6).as("robust_z"))
      .orderBy(col("robust_z").desc, col("event_id").asc)
      .limit(50)
  }

  /** Per-group median/MAD outlier screen — [[madOutliers]] stratified
    * by event type, so a type whose values run an order of magnitude
    * hotter doesn't drown the quiet types' outliers. Two grouped
    * bounded-state quantile reduces ([[HistQuantiles.groupedCut]] —
    * O(groups × buckets) state each), both broadcast back; groups
    * whose MAD is 0 (constant values) have no dispersion to screen
    * against and are excluded — which also keeps the ANSI divide
    * clean. */
  /** The reusable core: rows of `df` whose |value − group median| /
    * group MAD exceeds `zCut`, with the group key as `grp` and the
    * unrounded `robust_z` attached. Zero-MAD (constant) groups are
    * excluded — no dispersion to screen against. */
  def madScreenByGroup(df: DataFrame, key: Column, value: Column,
      zCut: Double, buckets: Int): DataFrame = {
    val base = df.filter(value.isNotNull)
    val med = HistQuantiles.groupedCut(base, key, value, 0.5, buckets, "m")
      .select(col("k"), col("m"))
    val dev = base.join(broadcast(med), key === med("k"))
    val mad = HistQuantiles.groupedCut(dev, key, abs(value - col("m")), 0.5, buckets, "d")
      .select(col("k").as("k2"), col("d"))
    base.join(broadcast(med), key === col("k"))
      .join(broadcast(mad), key === col("k2"))
      .filter(col("d") > 0)
      .withColumn("robust_z", abs(value - col("m")) / col("d"))
      .filter(col("robust_z") > zCut)
      .drop("k", "k2", "m", "d")
  }

  def madOutliersByType(spark: SparkSession, dir: String): DataFrame =
    madScreenByGroup(Tables.events(spark, dir), col("event_type"), col("value"),
        zCut = 3.0, buckets = MadBuckets)
      .select(col("event_type"), col("event_id"),
        Cols.r(col("value"), 4).as("value"), Cols.r(col("robust_z"), 6).as("robust_z"))
      .orderBy(col("event_type").asc, col("robust_z").desc, col("event_id").asc)
      .limit(100)

  /** Per-group medians with bounded aggregation state: the GROUPED
    * form of the histogram-quantile pattern ([[HistQuantiles
    * .groupedCut]] — state O(groups × buckets), vs per-group exact
    * `percentile` whose biggest group's buffer holds every distinct
    * value that group has, concentrating the skew on one task). The
    * per-group stats rollup is broadcast back (groups ≪ rows); the
    * cumulative window partitions by group, so it parallelizes across
    * the key space with ≤ buckets rows per partition. */
  def gridMedianEvents(spark: SparkSession, dir: String): DataFrame =
    HistQuantiles.groupedCut(Tables.events(spark, dir),
        col("event_type"), col("value"), 0.5, MadBuckets, "med")
      .select(col("k").as("event_type"), Cols.r(col("med"), 6).as("med_value"),
        col("n").as("n_events"))
      .orderBy(col("event_type").asc)

  /** Winsorized summary of events.value: clamp to the [p01, p99]
    * grid-quantile band ([[HistQuantiles.cuts]] — one bounded-state
    * reduce for BOTH cuts, broadcast back), then exact clip counts
    * and the winsorized mean (per-row 1e-4 quantization → integer
    * sums, order-independent). The robust alternative to dropping
    * outliers: heavy tails stop dominating the mean without
    * discarding rows. One corpus aggregate + one map-side clamp —
    * no sort, no percentile buffer. */
  def winsorStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("value").isNotNull)
    val cuts = HistQuantiles.cuts(ev, col("value"), Seq(0.01, 0.99), MadBuckets)
      .select(element_at(col("qs"), 1).as("p01"), element_at(col("qs"), 2).as("p99"))
    val w = least(greatest(col("value"), col("p01")), col("p99"))
    ev.crossJoin(broadcast(cuts))
      .select(col("value"), col("p01"), col("p99"),
        floor(w * lit(1e4) + lit(0.5)).cast("long").as("wq"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value") < col("p01"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("value") > col("p99"), 1L).otherwise(0L)).as("n_clip_hi"),
        Cols.r(max(col("p01")), 6).as("p01"),
        Cols.r(max(col("p99")), 6).as("p99"),
        floor(sum(col("wq")).cast("double") / lit(1e4)
          / count(lit(1)).cast("double") * lit(1e6) + lit(0.5)).cast("long")
          .as("winsor_mean_micro"))
  }

  /** Rolling 7-day median of events.value — the QUANTILE twin of
    * kmv_rolling_users' sketch-merge pattern: exact quantiles don't
    * merge across windows (each window would need its own full sort),
    * but fixed-grid histograms on a SHARED grid are integer bucket
    * counts, and counts ADD. One histogram per day (state O(days×B)),
    * each day's 7-day histogram is the SUM of its trailing days'
    * counts (a ×7 map-side fan-out + re-aggregate — no window over
    * raw rows, no per-window re-scan), and the median is the usual
    * cumulative cut on the merged counts. The same shape computes any
    * trailing-window quantile at 100 TB: the corpus aggregates ONCE
    * into daily histograms; everything after runs on bounded
    * sketch-sized frames. Grid resolution (range/8192) is the
    * documented trade vs exact per-window medians. */
  def rollingMedianValue(spark: SparkSession, dir: String): DataFrame = {
    val b = MadBuckets
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("ts").cast("date").as("d"), col("value").cast("double").as("x"))
    val stats = ev.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val bkt = when(col("hi") === col("lo"), lit(0L)).otherwise(
      least(floor((col("x") - col("lo")) / (col("hi") - col("lo")) * lit(b)),
        lit((b - 1).toLong)))
    val daily = ev.crossJoin(broadcast(stats))
      .select(col("d"), bkt.cast("int").as("b"))
      .groupBy(col("d"), col("b")).agg(count(lit(1)).as("cnt"))
    val days = ev.select(col("d").as("day")).distinct()
    // fan each day's counts forward onto the 7 windows it belongs to,
    // then keep only windows anchored on days that exist in the data
    val merged = daily
      .withColumn("o", explode(sequence(lit(0), lit(6))))
      .select(date_add(col("d"), col("o")).as("day"), col("b"), col("cnt"))
      .join(broadcast(days), Seq("day"))
      .groupBy(col("day"), col("b")).agg(sum(col("cnt")).as("cnt"))
    val tot = merged.groupBy(col("day")).agg(sum(col("cnt")).as("n"))
    val w = Window.partitionBy(col("day")).orderBy(col("b").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = merged.withColumn("cum", sum(col("cnt")).over(w))
    val picked = cum.join(broadcast(tot), Seq("day"))
      .groupBy(col("day"))
      .agg(min(when(col("cum") >= ceil(lit(0.5) * col("n")), col("b"))).as("bq"),
        max(col("n")).as("n"))
    picked.crossJoin(broadcast(stats))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        Cols.r(when(col("hi") === col("lo"), col("lo"))
          .otherwise(col("lo") +
            (col("hi") - col("lo")) * (col("bq") + lit(1)).cast("double") / lit(b)), 6)
          .as("med7"),
        col("n").as("n_window"))
      .orderBy(col("day").asc)
  }

  /** Per-day p10/p50/p90 bands of events.value off the SHARED fixed
    * grid — the monitoring read-out (is today's distribution inside
    * its usual envelope?) in the same bounded-state family as
    * [[rollingMedianValue]], minus the window fan-out: one grid pass,
    * O(days × buckets) state, three cumulative-cut picks per day.
    * Bands are bucket upper bounds (one-bucket resolution — the
    * documented grid contract). */
  def dailyValueBands(spark: SparkSession, dir: String): DataFrame = {
    val b = MadBuckets
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("ts").cast("date").as("d"), col("value").cast("double").as("x"))
    val stats = ev.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val bkt = when(col("hi") === col("lo"), lit(0L)).otherwise(
      least(floor((col("x") - col("lo")) / (col("hi") - col("lo")) * lit(b)),
        lit((b - 1).toLong)))
    val daily = ev.crossJoin(broadcast(stats))
      .select(col("d"), bkt.cast("int").as("b"))
      .groupBy(col("d"), col("b")).agg(count(lit(1)).as("cnt"))
    val tot = daily.groupBy(col("d")).agg(sum(col("cnt")).as("n"))
    val w = Window.partitionBy(col("d")).orderBy(col("b").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.withColumn("cum", sum(col("cnt")).over(w))
    def pick(q: Double, as: String) =
      min(when(col("cum") >= ceil(lit(q) * col("n")), col("b"))).as(as)
    val picked = cum.join(broadcast(tot), Seq("d"))
      .groupBy(col("d"))
      .agg(pick(0.1, "b10"), pick(0.5, "b50"), pick(0.9, "b90"), max(col("n")).as("n"))
    def value(bq: String) =
      Cols.r(when(col("hi") === col("lo"), col("lo"))
        .otherwise(col("lo") +
          (col("hi") - col("lo")) * (col(bq) + lit(1)).cast("double") / lit(b)), 6)
    picked.crossJoin(broadcast(stats))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        value("b10").as("p10"), value("b50").as("p50"), value("b90").as("p90"),
        col("n").as("n_events"))
      .orderBy(col("day").asc)
  }

  /** Quantile normalization of event values ([[HistQuantiles.cdf]] —
    * per-row empirical-CDF rank from the O(buckets) histogram, one-
    * bucket resolution, corpus never shuffles): the monotone feature
    * scaler used before mixing heterogeneous quality scores. Top-20
    * ranked rows shown. */
  def cdfEventsValue(spark: SparkSession, dir: String): DataFrame =
    HistQuantiles.cdf(Tables.events(spark, dir).filter(col("value").isNotNull),
        col("value"), MadBuckets, "pct")
      .select(col("event_id"), Cols.r(col("value"), 4).as("value"), col("pct"))
      .orderBy(col("pct").desc, col("value").desc, col("event_id").asc)
      .limit(20)

  // ---- vocabulary coverage (tokenizer planning) ----------------------

  /** Top-30 tokens with cumulative corpus share — the "how small can
    * the vocab be" question tokenizer training starts from. The
    * top-k is TakeOrderedAndProject (no global sort of the vocab);
    * the cumulative window then runs over 30 rows on one task. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val tot = cnt.agg(sum(col("n")).cast("double").as("t"))
    val top = cnt.orderBy(col("n").desc, col("token").asc).limit(30)
    // 30 rows — one partition IS the plan; the non-foldable constant
    // key (rank mod 1 = 0) silences WindowExec's single-partition
    // warning without changing semantics (a bare literal would be
    // constant-folded out of the partition spec)
    val w = Window.partitionBy(pmod(col("n"), lit(1))).orderBy(col("n").desc, col("token").asc)
    top.withColumn("rank", row_number().over(w))
      .withColumn("cum", sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .select(col("token"), col("n"), col("rank"),
        (floor(col("cum").cast("double") / col("t") * 1e6 + lit(0.5)) / 1e6).as("cum_share"))
      .orderBy(col("rank").asc)
  }

  // ---- collocations: bigram lift (PMI without the log) ---------------

  /** Adjacent-token bigrams scored by lift = p(ab) / (p(a)·p(b)) —
    * monotone in PMI but oracle-stable (no transcendental function;
    * both engines evaluate the identical rational expression).
    * Unigram side is broadcast: vocabulary ≪ corpus. */
  def bigramLift(spark: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("t"))
    val uni = tk.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val utot = uni.agg(sum(col("n")).cast("double").as("tu"))
    val bi = tk.select(explode(
        zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("n_ab"))
    val btot = bi.agg(sum(col("n_ab")).cast("double").as("tb"))
    bi.filter(col("n_ab") >= 5)
      .join(broadcast(uni.select(col("w").as("w1"), col("n").as("n_a"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("n").as("n_b"))), "w2")
      .crossJoin(broadcast(utot)).crossJoin(broadcast(btot))
      .select(col("w1"), col("w2"), col("n_ab"),
        (floor(col("n_ab").cast("double") * col("tu") * col("tu")
          / (col("tb") * col("n_a").cast("double") * col("n_b").cast("double"))
          * 1e4 + lit(0.5)) / 1e4).as("lift"))
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(20)
  }

  // ---- deterministic per-group sampling ------------------------------

  /** k=3 docs per language, chosen by a portable multiplicative hash
    * (reproducible across engines and runs — no rand()). The window
    * partitions by group; for pathological single-group corpora the
    * boundary-based sampler in Curation is the fallback. */
  def samplePerLang(spark: SparkSession, dir: String): DataFrame = {
    val h = pmod(col("doc_id") * lit(2654435761L), lit(1000000007L))
    val w = Window.partitionBy(col("lang")).orderBy(h.asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("lang"), col("rn"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang").asc, col("rn").asc)
  }

  // ---- distribution drift: PSI between time windows ------------------

  /** PSI grid size: coarse on purpose — drift detection wants stable
    * per-bucket mass, not quantile resolution. */
  val PsiBuckets = 16

  /** The 2024-01 harness window splits at mid-month: first half is
    * the baseline slice, second half the current slice. */
  private val psiSplit = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))

  private def psiInput(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).filter(col("ts").isNotNull)

  /** Per-bucket PSI decomposition of `events.value` between the two
    * half-month windows ([[Drift.psiBuckets]]): the feature-drift
    * monitor a production scoring pipeline runs per batch. The oracle
    * replays the shared grid, Laplace smoothing, AND the octave-ladder
    * log2 — the drift number matches in integer micro-bits. */
  def psiValueDrift(spark: SparkSession, dir: String): DataFrame =
    Drift.psiBuckets(psiInput(spark, dir), col("value"), col("ts") < psiSplit, PsiBuckets)
      .orderBy(col("bucket").asc)

  /** One-row drift summary over the same decomposition. */
  def psiDriftTotal(spark: SparkSession, dir: String): DataFrame =
    Drift.psi(psiInput(spark, dir), col("value"), col("ts") < psiSplit, PsiBuckets)

  /** CUSUM changepoint scan on the daily mean of `events.value` —
    * the complement of the PSI gate: PSI says the distribution moved
    * between two windows, CUSUM locates WHEN the level shifted.
    * cusum_t = Σ_{i≤t} (x̄_i − x̄) peaks (in absolute value) at the
    * most likely changepoint (Page 1954's cumulative-sum statistic in
    * its offline scan form).
    *
    * Portability by construction: daily sums are decimal-exact
    * (order-independent), daily/grand means are single IEEE divides
    * of exact values, the running sum is a windowed fold over the
    * SAME ascending day order on both engines, and outputs quantize
    * to fixed grids. The corpus aggregates once; everything after
    * runs on one row per day (bounded: the harness window has 30).
    * The shift flag comes from a broadcast 1-row max — never a
    * global window (the survey's J2 rule).
    *
    * ANSI-portable end to end: this oracle text also runs VERBATIM
    * through spark.sql (CatalogSpec). */
  def cusumValueShift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull)
    val daily = ev
      .groupBy(col("ts").cast("date").cast("string").as("day"))
      .agg(sum(col("value").cast("decimal(30,2)")).as("s"), count(lit(1)).as("n"))
    val tot = daily.agg((sum(col("s")).cast("double") / sum(col("n"))).as("mu"))
    // one partition IS the plan on ≤31 rows; pmod keeps the intent
    // stated without the WindowExec warning (see vocabCoverage)
    val w = Window.partitionBy(pmod(col("n"), lit(1L))).orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = daily.crossJoin(broadcast(tot))
      .withColumn("day_avg", col("s").cast("double") / col("n"))
      .withColumn("cusum", sum(col("day_avg") - col("mu")).over(w))
    val mx = c.agg(max(abs(col("cusum"))).as("mx"))
    c.crossJoin(broadcast(mx))
      .select(col("day"),
        (floor(col("day_avg") * lit(1e4) + lit(0.5)) / lit(1e4)).as("day_avg"),
        floor(col("cusum") * lit(1e6) + lit(0.5)).cast("long").as("cusum_micro"),
        when(abs(col("cusum")) === col("mx"), lit(1)).otherwise(lit(0)).as("is_shift"))
      .orderBy(col("day").asc)
  }

  /** Theil–Sen robust trend on the daily mean of events.value — the
    * SLOPE leg of the drift toolkit (PSI: the distribution moved;
    * CUSUM: when; Welch t: significance; this: how fast, robustly).
    * The estimator is the median of all pairwise slopes
    * (avg_j − avg_i)/(day_j − day_i), i < j — up to ~29% contaminated
    * days cannot drag it the way one wild day drags the OLS slope.
    *
    * Scale shape: the corpus aggregates ONCE into daily means
    * (decimal-exact sums, one shuffle); everything after runs on the
    * O(days) frame — the pairwise join is O(days²) BY CONSTRUCTION
    * (time span bounds it at any SF; a month is ≤ 31 rows → ≤ 465
    * pairs), and the median is an exact rank pick on that bounded
    * frame (row_number with a total tiebreak order — no percentile
    * state anywhere). The LOWER median (rank ⌊(m+1)/2⌋) keeps the
    * pick an actual data point: no averaging, bit-portable.
    *
    * Intercept: median of per-day residuals avg_i − slope·x_i
    * (x = days since the first day) — the standard Theil–Sen
    * companion estimate, same bounded rank-pick machinery. */
  def theilSenDailyTrend(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull)
    val daily = ev.groupBy(col("ts").cast("date").as("day"))
      .agg(sum(col("value").cast("decimal(30,2)")).as("s"), count(lit(1)).as("n"))
      .select(col("day"), (col("s").cast("double") / col("n")).as("day_avg"))
    val slopes = daily.select(col("day").as("day_a"), col("day_avg").as("avg_a"))
      .join(daily.select(col("day").as("day_b"), col("day_avg").as("avg_b")),
        col("day_a") < col("day_b"))
      .select(col("day_a"), col("day_b"),
        ((col("avg_b") - col("avg_a"))
          / datediff(col("day_b"), col("day_a")).cast("double")).as("slope"))
    val mFrame = slopes.agg(count(lit(1)).as("m"))
    // bounded frames from here on; pmod partition key states the
    // one-partition intent without WindowExec's warning (vocabCoverage)
    val wS = Window.partitionBy(pmod(datediff(col("day_b"), col("day_a")), lit(1)))
      .orderBy(col("slope").asc, col("day_a").asc, col("day_b").asc)
    val slopeMed = slopes.withColumn("rk", row_number().over(wS))
      .crossJoin(broadcast(mFrame))
      .agg(min(when(col("rk") ===
          floor((col("m") + lit(1)).cast("double") / lit(2.0)).cast("long"), col("slope")))
        .as("slope_med"), max(col("m")).as("m"))
    val d0 = daily.agg(min(col("day")).as("day0"))
    val ndFrame = daily.agg(count(lit(1)).as("n_days"))
    val wI = Window.partitionBy(pmod(dayofmonth(col("day")), lit(1)))
      .orderBy(col("icept").asc, col("day").asc)
    val iceptMed = daily.crossJoin(broadcast(d0)).crossJoin(broadcast(slopeMed))
      .select(col("day"),
        (col("day_avg") - col("slope_med")
          * datediff(col("day"), col("day0")).cast("double")).as("icept"))
      .withColumn("rk", row_number().over(wI))
      .crossJoin(broadcast(ndFrame))
      .agg(min(when(col("rk") ===
          floor((col("n_days") + lit(1)).cast("double") / lit(2.0)).cast("long"), col("icept")))
        .as("icept_med"))
    ndFrame.crossJoin(broadcast(slopeMed)).crossJoin(broadcast(iceptMed))
      .select(col("n_days"), col("m").as("n_pairs"),
        floor(col("slope_med") * lit(1e6) + lit(0.5)).cast("long").as("slope_micro"),
        floor(col("icept_med") * lit(1e6) + lit(0.5)).cast("long").as("intercept_micro"))
  }

  /** EXACT p50/p90 of order totals through
    * [[HistQuantiles.exactCutFixed]] — FIXED-ROUNDS relational grid
    * refinement (no per-round driver collect, predictable pass count
    * at any scale) instead of exact `percentile`'s O(distinct) single
    * buffer. The oracle is ANSI `percentile_disc … WITHIN GROUP` — in
    * DuckDB exactly its own `quantile_disc` (no replay: both sides
    * claim the same order statistic, the strongest possible gate for
    * a quantile operator), and since the ANSI spelling parses on
    * Spark too, CatalogSpec pins a THIRD independent
    * implementation (Spark's percentile_disc) to the same answer. */
  def exactQuantilesTotalprice(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val p50 = HistQuantiles.exactCutFixed(ord, col("o_totalprice"), 0.5, as = "p50_exact")
    val p90 = HistQuantiles.exactCutFixed(ord, col("o_totalprice"), 0.9, as = "p90_exact")
    p50.crossJoin(broadcast(p90.select(col("p90_exact"))))
      .select(col("n"), col("p50_exact"), col("p90_exact"))
  }

  /** EXACT per-type median of events.value through
    * [[HistQuantiles.groupedExactCut]] — the grouped companion of
    * [[exactQuantilesTotalprice]]: three relational refinement rounds
    * (O(groups·buckets) state) + one exact pick, oracle = per-group
    * ANSI `percentile_disc … WITHIN GROUP` (DuckDB's own
    * `quantile_disc`, verbatim-portable — see
    * [[exactQuantilesTotalprice]]). */
  def exactMedianByType(spark: SparkSession, dir: String): DataFrame =
    HistQuantiles.groupedExactCut(Tables.events(spark, dir),
        col("event_type"), col("value"), p = 0.5, rounds = 2, as = "p50_exact")
      .select(col("k").as("event_type"), col("p50_exact"), col("n"))
      .orderBy(col("event_type").asc)

  /** Quantity-weighted EXACT median of line-item price
    * ([[HistQuantiles.weightedCutFixed]], fixed-rounds relational
    * form): the price point at which half the shipped QUANTITY sits
    * below — the volume-weighted statistic a revenue dashboard wants
    * where the unweighted median over-represents small orders.
    * Decimal-exact threshold test, so the pick is bit-identical to
    * the oracle's grouped cumulative. */
  def weightedMedianPrice(spark: SparkSession, dir: String): DataFrame =
    HistQuantiles.weightedCutFixed(Tables.lineitem(spark, dir),
      col("l_extendedprice"), col("l_quantity"), as = "w_median")

  /** Per-return-flag quantity-weighted EXACT median price
    * ([[HistQuantiles.groupedWeightedCut]]) — the grouped companion
    * of [[weightedMedianPrice]], fully relational (even the
    * cumulative-before accumulator is a decimal column). */
  def weightedMedianByFlag(spark: SparkSession, dir: String): DataFrame =
    HistQuantiles.groupedWeightedCut(Tables.lineitem(spark, dir),
        col("l_returnflag"), col("l_extendedprice"), col("l_quantity"),
        as = "w_median")
      .select(col("k").as("return_flag"), col("w_median"), col("n"), col("total_w"))
      .orderBy(col("return_flag").asc)

  /** Exact-sufficient-statistics Pearson correlation
    * ([[Association.pearson]]) between line-item price and quantity —
    * deliberately NOT Spark's `corr` (partition-order-dependent
    * running moments); the decimal sums make the statistic
    * bit-reproducible and the oracle replay exact. ANSI-portable:
    * also runs verbatim through spark.sql. */
  def corrPriceQty(spark: SparkSession, dir: String): DataFrame =
    Association.pearson(Tables.lineitem(spark, dir),
      col("l_extendedprice"), col("l_quantity"))

  /** Pointwise-MI decomposition ([[Association.mutualInformation]])
    * of return flag × line status — the categorical-association
    * screen (feature selection, leakage detection) with the octave-
    * ladder log2 so the oracle replays every cell in micro-bits. */
  def miFlagStatus(spark: SparkSession, dir: String): DataFrame =
    Association.mutualInformation(Tables.lineitem(spark, dir),
        col("l_returnflag"), col("l_linestatus"))
      .orderBy(col("a").asc, col("b").asc)

  /** Welch two-sample t statistic ([[Association.welchT]]) on the
    * same mid-month split as the PSI gate — the third leg of the
    * drift toolkit: PSI says the DISTRIBUTION moved, CUSUM says WHEN,
    * the t statistic says whether the MEAN shift clears sampling
    * noise. Exact decimal sufficient statistics; ANSI-portable
    * (verbatim through spark.sql). */
  def ttestValueHalves(spark: SparkSession, dir: String): DataFrame =
    Association.welchT(psiInput(spark, dir), col("value"), col("ts") < psiSplit)

  /** Poisson-bootstrap 95% CI on the mean of events.value
    * ([[Bootstrap.meanCi]], B = 64 replicas, centi-unit grid): the
    * error bar a metrics pipeline puts on a corpus-scale mean in ONE
    * pass — no resampling shuffle, O(B) state, bounds as exact order
    * statistics of the replica means. Deterministic end to end (hashed
    * uniforms, driver-constant Poisson CDF ladder), so the oracle
    * replays it bit-for-bit. */
  def bootstrapMeanCi(spark: SparkSession, dir: String): DataFrame =
    Bootstrap.meanCi(Tables.events(spark, dir), col("value"), col("event_id"))

  /** Benford first-digit expectations log10(1 + 1/d), d = 1..9 —
    * driver-computed constants embedded as the SAME double literals
    * in the Spark plan and the oracle text. */
  private val benfordP: Seq[Double] = (1 to 9).map(d => math.log10(1 + 1.0 / d))

  /** First-significant-digit expression shared by the Spark side and
    * (string-rendered) the oracle: integer part, then a comparison
    * ladder of floor-divides by powers of ten. floor-of-double is
    * deterministic IEEE on both engines; o_totalprice < 10^7 bounds
    * the ladder. */
  private def firstDigit(xi: Column): Column =
    (6 to 1 by -1).foldLeft(when(lit(false), lit(0.0))) { (acc, t) =>
      acc.when(xi >= lit(math.pow(10, t).toLong), floor(xi.cast("double") / lit(math.pow(10, t))))
    }.otherwise(xi.cast("double")).cast("long")

  /** Benford first-digit screen on order totals — the classic
    * fabricated-numbers audit: observed first-digit counts vs the
    * log10(1+1/d) law, with the χ² decomposition per digit in
    * integer micro-units. Natural multi-magnitude amounts follow the
    * law; heaped or invented ones don't. (TPC-H-style uniform prices
    * deliberately DON'T follow Benford — the gate pins the exact
    * χ² value, not conformance.) ANSI-portable end to end: the
    * oracle text also runs verbatim through spark.sql. */
  def benfordTotalprice(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_totalprice").isNotNull && col("o_totalprice") >= 1)
    val counts = ord.select(firstDigit(floor(col("o_totalprice")).cast("long")).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val tot = counts.agg(coalesce(sum(col("n_obs")), lit(0L)).as("n"))
    val spine = tot.select(explode(sequence(lit(1L), lit(9L))).as("digit"), col("n"))
    val p = benfordP.zipWithIndex.foldLeft(when(lit(false), lit(0.0))) {
      case (acc, (pd, i)) => acc.when(col("digit") === lit((i + 1).toLong), lit(pd))
    }
    val exp = col("n").cast("double") * p
    spine.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"), exp.as("e"))
      .select(col("digit"), col("n_obs"),
        floor(col("e") * lit(1e6) + lit(0.5)).cast("long").as("expected_micro"),
        floor((col("n_obs").cast("double") - col("e")) * (col("n_obs").cast("double") - col("e"))
          / col("e") * lit(1e6) + lit(0.5)).cast("long").as("chi2_micro"))
      .orderBy(col("digit").asc)
  }

  /** DuckDB replay of [[Drift.psiBuckets]] on events.value split at
    * the mid-month literal, ending in CTE
    * `ppsi(bucket, c_a, c_b, psi_microbits)`. */
  private val dkPsiCtes = {
    val pa = "(CAST(c_a + 1 AS DOUBLE) / CAST(n_a + 16 AS DOUBLE))"
    val pb = "(CAST(c_b + 1 AS DOUBLE) / CAST(n_b + 16 AS DOUBLE))"
    s"""pvals AS (
       |  SELECT CAST(value AS DOUBLE) AS x, (ts < TIMESTAMP '2024-01-16') AS is_a
       |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
       |), pstats AS (
       |  SELECT min(x) AS lo, max(x) AS hi,
       |         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
       |  FROM pvals
       |), pcnt AS (
       |  SELECT CAST(CASE WHEN s.hi = s.lo THEN 0
       |              ELSE least(floor((v.x - s.lo) / (s.hi - s.lo) * 16), 15) END AS INT) AS bucket,
       |         CAST(sum(CASE WHEN v.is_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
       |         CAST(sum(CASE WHEN v.is_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
       |  FROM pvals v CROSS JOIN pstats s GROUP BY 1
       |), pspine AS (
       |  SELECT unnest(generate_series(0, 15)) AS bucket, n_a, n_b FROM pstats
       |), pfill AS (
       |  SELECT sp.bucket, coalesce(c.c_a, 0) AS c_a, coalesce(c.c_b, 0) AS c_b,
       |         sp.n_a, sp.n_b
       |  FROM pspine sp LEFT JOIN pcnt c ON sp.bucket = c.bucket
       |), ppsi AS (
       |  SELECT bucket, c_a, c_b,
       |         CAST(floor(($pa - $pb)
       |           * (${graft.operators.LanguageModel.dkSurprisal(pb)}
       |              - ${graft.operators.LanguageModel.dkSurprisal(pa)}) * 1e6 + 0.5)
       |           AS BIGINT) AS psi_microbits
       |  FROM pfill
       |)""".stripMargin
  }

  // ---- registration ---------------------------------------------------

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_triangles"   -> (graphTriangles _),
    "event_transitions" -> (eventTransitions _),
    "cube_flag_status"  -> (cubeFlagStatus _),
    "deciles_orders"    -> (decilesOrders _),
    "mad_outliers"      -> (madOutliers _),
    "grid_median_events" -> (gridMedianEvents _),
    "rolling_median_value" -> (rollingMedianValue _),
    "daily_value_bands" -> (dailyValueBands _),
    "winsor_stats"      -> (winsorStats _),
    "mad_outliers_by_type" -> (madOutliersByType _),
    "cdf_events_value"  -> (cdfEventsValue _),
    "vocab_coverage"    -> (vocabCoverage _),
    "bigram_lift"       -> (bigramLift _),
    "sample_per_lang"   -> (samplePerLang _),
    "psi_value_drift"   -> (psiValueDrift _),
    "psi_drift_total"   -> (psiDriftTotal _),
    "cusum_value_shift" -> (cusumValueShift _),
    "corr_price_qty"    -> (corrPriceQty _),
    "mi_flag_status"    -> (miFlagStatus _),
    "benford_totalprice" -> (benfordTotalprice _),
    "ttest_value_halves" -> (ttestValueHalves _),
    "bootstrap_mean_ci" -> (bootstrapMeanCi _),
    "trend_theil_sen"   -> (theilSenDailyTrend _),
    "exact_quantiles_totalprice" -> (exactQuantilesTotalprice _),
    "exact_median_by_type" -> (exactMedianByType _),
    "weighted_median_price" -> (weightedMedianPrice _),
    "weighted_median_by_flag" -> (weightedMedianByFlag _)
  )

  val oracles: Map[String, String] = Map(
    "graph_triangles" ->
      s"""WITH ${DataOps.dkPairGraphCtes},
         |und AS (SELECT doc_a AS u, doc_b AS v FROM pairs),
         |tdeg AS (
         |  SELECT id, count(*) AS deg FROM (
         |    SELECT u AS id FROM und UNION ALL SELECT v FROM und) GROUP BY 1
         |), ori AS (
         |  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN u ELSE v END AS src,
         |         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN v ELSE u END AS dst,
         |         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN dv.deg ELSE du.deg END AS ddeg
         |  FROM und
         |  JOIN tdeg du ON du.id = und.u
         |  JOIN tdeg dv ON dv.id = und.v
         |), wed AS (
         |  SELECT e1.src AS a, e1.dst AS x, e2.dst AS y
         |  FROM ori e1 JOIN ori e2 ON e1.src = e2.src
         |   AND (e1.ddeg < e2.ddeg OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
         |), tri AS (
         |  SELECT a, x, y FROM wed JOIN ori c ON wed.x = c.src AND wed.y = c.dst
         |), pern AS (
         |  SELECT id, count(*) AS n_triangles FROM (
         |    SELECT a AS id FROM tri
         |    UNION ALL SELECT x FROM tri
         |    UNION ALL SELECT y FROM tri) GROUP BY 1
         |)
         |SELECT id AS doc_id, n_triangles FROM pern
         |ORDER BY n_triangles DESC, doc_id ASC
         |LIMIT 20""".stripMargin,
    "event_transitions" ->
      """WITH nxt AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS to_type
        |  FROM events
        |), cnt AS (
        |  SELECT from_type, to_type, count(*) AS n_transitions
        |  FROM nxt WHERE to_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n_transitions,
        |       floor(CAST(n_transitions AS DOUBLE)
        |             / CAST(sum(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)
        |             * 1e6 + 0.5) / 1e6 AS p_transition
        |FROM cnt
        |ORDER BY from_type ASC, to_type ASC""".stripMargin,
    "cube_flag_status" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS return_flag,
        |       coalesce(l_linestatus, 'ALL') AS line_status,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY return_flag ASC, line_status ASC""".stripMargin,
    "deciles_orders" ->
      s"""WITH hq_s AS (
         |  SELECT count(*) AS n, CAST(min(o_totalprice) AS DOUBLE) AS lo, CAST(max(o_totalprice) AS DOUBLE) AS hi
         |  FROM orders WHERE o_totalprice IS NOT NULL
         |), hq_c AS (
         |  SELECT b, count(*) AS cnt FROM (
         |    SELECT CASE WHEN hi = lo THEN 0
         |           ELSE CAST(least(floor((CAST(o_totalprice AS DOUBLE) - lo) / (hi - lo) * $DecileBuckets), ${DecileBuckets - 1}) AS INT) END AS b
         |    FROM orders, hq_s WHERE o_totalprice IS NOT NULL)
         |  GROUP BY 1
         |), hq_u AS (
         |  SELECT b, sum(cnt) OVER (ORDER BY b ASC ROWS UNBOUNDED PRECEDING) AS cum FROM hq_c
         |), pick AS (
         |  SELECT ${(1 to 9).map(i => s"min(CASE WHEN cum >= ceil(CAST(${i / 10.0} AS DOUBLE) * n) THEN b END) AS b$i").mkString(", ")}
         |  FROM hq_u, hq_s
         |), cuts AS (
         |  SELECT ${(1 to 9).map(i => s"CASE WHEN hi = lo THEN lo ELSE lo + (hi - lo) * CAST(b$i + 1 AS DOUBLE) / $DecileBuckets END AS q$i").mkString(", ")}
         |  FROM pick, hq_s
         |), assigned AS (
         |  SELECT o_totalprice,
         |         ${(1 to 9).map(i => s"(CASE WHEN o_totalprice >= q$i THEN 1 ELSE 0 END)").mkString(" + ")} + 1 AS decile
         |  FROM orders, cuts
         |)
         |SELECT decile, count(*) AS n_orders,
         |       floor(min(o_totalprice) * 1e2 + 0.5) / 1e2 AS lo,
         |       floor(max(o_totalprice) * 1e2 + 0.5) / 1e2 AS hi,
         |       CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
         |FROM assigned GROUP BY decile
         |ORDER BY decile ASC""".stripMargin,
    "mad_outliers" ->
      s"""WITH ${HistQuantiles.dkCuts("med", "events", "value", 0.5, MadBuckets, "m")},
         |dev AS (
         |  SELECT abs(value - m) AS dv FROM events, med WHERE value IS NOT NULL
         |),
         |${HistQuantiles.dkCuts("madt", "dev", "dv", 0.5, MadBuckets, "d")}
         |SELECT event_id,
         |       floor(value * 1e4 + 0.5) / 1e4 AS value,
         |       floor(abs(value - m) / d * 1e6 + 0.5) / 1e6 AS robust_z
         |FROM events, med, madt
         |WHERE value IS NOT NULL AND abs(value - m) / d > 3.0
         |ORDER BY robust_z DESC, event_id ASC
         |LIMIT 50""".stripMargin,
    "mad_outliers_by_type" ->
      s"""WITH ${HistQuantiles.dkGroupedCut("gm", "events", "event_type", "value", 0.5, MadBuckets, "m")},
         |dev AS (
         |  SELECT e.event_type, abs(e.value - g.m) AS dv
         |  FROM events e JOIN gm g ON e.event_type = g.k
         |  WHERE e.value IS NOT NULL
         |),
         |${HistQuantiles.dkGroupedCut("gd", "dev", "event_type", "dv", 0.5, MadBuckets, "d")}
         |SELECT e.event_type, e.event_id,
         |       floor(e.value * 1e4 + 0.5) / 1e4 AS value,
         |       floor(abs(e.value - m.m) / d.d * 1e6 + 0.5) / 1e6 AS robust_z
         |FROM events e
         |JOIN gm m ON e.event_type = m.k
         |JOIN gd d ON e.event_type = d.k
         |WHERE e.value IS NOT NULL AND d.d > 0
         |  AND abs(e.value - m.m) / d.d > 3.0
         |ORDER BY event_type ASC, robust_z DESC, event_id ASC
         |LIMIT 100""".stripMargin,
    "cdf_events_value" ->
      s"""WITH s AS (
         |  SELECT count(*) AS n, CAST(min(value) AS DOUBLE) AS lo, CAST(max(value) AS DOUBLE) AS hi
         |  FROM events WHERE value IS NOT NULL
         |), c AS (
         |  SELECT b, count(*) AS cnt FROM (
         |    SELECT CASE WHEN hi = lo THEN 0
         |           ELSE CAST(least(floor((CAST(value AS DOUBLE) - lo) / (hi - lo) * $MadBuckets), ${MadBuckets - 1}) AS INT) END AS b
         |    FROM events, s WHERE value IS NOT NULL)
         |  GROUP BY 1
         |), u AS (
         |  SELECT b, sum(cnt) OVER (ORDER BY b ASC ROWS UNBOUNDED PRECEDING) AS cum FROM c
         |)
         |SELECT event_id,
         |       floor(e.value * 1e4 + 0.5) / 1e4 AS value,
         |       floor(CAST(u.cum AS DOUBLE) / CAST(s.n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS pct
         |FROM events e
         |CROSS JOIN s
         |JOIN u ON u.b = (CASE WHEN s.hi = s.lo THEN 0
         |                 ELSE CAST(least(floor((CAST(e.value AS DOUBLE) - s.lo) / (s.hi - s.lo) * $MadBuckets), ${MadBuckets - 1}) AS INT) END)
         |WHERE e.value IS NOT NULL
         |ORDER BY pct DESC, value DESC, event_id ASC
         |LIMIT 20""".stripMargin,
    "winsor_stats" ->
      s"""WITH ${HistQuantiles.dkCuts("w1", "events", "value", 0.01, MadBuckets, "p01")},
         |${HistQuantiles.dkCuts("w99", "events", "value", 0.99, MadBuckets, "p99")}
         |SELECT count(*) AS n,
         |       CAST(sum(CASE WHEN value < p01 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
         |       CAST(sum(CASE WHEN value > p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
         |       floor(max(p01) * 1e6 + 0.5) / 1e6 AS p01,
         |       floor(max(p99) * 1e6 + 0.5) / 1e6 AS p99,
         |       CAST(floor(CAST(sum(CAST(floor(least(greatest(value, p01), p99) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE)
         |         / 1e4 / count(*) * 1e6 + 0.5) AS BIGINT) AS winsor_mean_micro
         |FROM events, w1, w99 WHERE value IS NOT NULL""".stripMargin,
    "rolling_median_value" ->
      s"""WITH v AS (
         |  SELECT CAST(ts AS DATE) AS d, CAST(value AS DOUBLE) AS x
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         |), s AS (
         |  SELECT min(x) AS lo, max(x) AS hi FROM v
         |), daily AS (
         |  SELECT d,
         |         CASE WHEN hi = lo THEN 0
         |              ELSE CAST(least(floor((x - lo) / (hi - lo) * $MadBuckets), ${MadBuckets - 1}) AS INT) END AS b,
         |         count(*) AS cnt
         |  FROM v, s GROUP BY 1, 2
         |), days AS (
         |  SELECT DISTINCT d AS day FROM v
         |), merged AS (
         |  SELECT f.day, f.b, CAST(sum(f.cnt) AS BIGINT) AS cnt FROM (
         |    SELECT daily.d + CAST(o AS INTEGER) AS day, b, cnt
         |    FROM daily CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS o) os) f
         |  JOIN days dd ON f.day = dd.day
         |  GROUP BY 1, 2
         |), tot AS (
         |  SELECT day, CAST(sum(cnt) AS BIGINT) AS n FROM merged GROUP BY 1
         |), cum AS (
         |  SELECT day, b,
         |         sum(cnt) OVER (PARTITION BY day ORDER BY b ASC ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM merged
         |), picked AS (
         |  SELECT c.day, min(CASE WHEN c.cum >= ceil(0.5e0 * t.n) THEN c.b END) AS bq,
         |         max(t.n) AS n
         |  FROM cum c JOIN tot t ON c.day = t.day
         |  GROUP BY 1
         |)
         |SELECT substr(CAST(p.day AS VARCHAR(30)), 1, 10) AS day,
         |       floor((CASE WHEN s.hi = s.lo THEN s.lo
         |              ELSE s.lo + (s.hi - s.lo) * CAST(p.bq + 1 AS DOUBLE) / $MadBuckets END)
         |             * 1e6 + 0.5) / 1e6 AS med7,
         |       n AS n_window
         |FROM picked p, s
         |ORDER BY day ASC""".stripMargin,
    "daily_value_bands" ->
      s"""WITH v AS (
         |  SELECT CAST(ts AS DATE) AS d, CAST(value AS DOUBLE) AS x
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         |), s AS (
         |  SELECT min(x) AS lo, max(x) AS hi FROM v
         |), daily AS (
         |  SELECT d,
         |         CASE WHEN hi = lo THEN 0
         |              ELSE CAST(least(floor((x - lo) / (hi - lo) * $MadBuckets), ${MadBuckets - 1}) AS INT) END AS b,
         |         count(*) AS cnt
         |  FROM v, s GROUP BY 1, 2
         |), tot AS (
         |  SELECT d, CAST(sum(cnt) AS BIGINT) AS n FROM daily GROUP BY 1
         |), cum AS (
         |  SELECT d, b,
         |         sum(cnt) OVER (PARTITION BY d ORDER BY b ASC ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM daily
         |), picked AS (
         |  SELECT c.d, min(CASE WHEN c.cum >= ceil(0.1e0 * t.n) THEN c.b END) AS b10,
         |         min(CASE WHEN c.cum >= ceil(0.5e0 * t.n) THEN c.b END) AS b50,
         |         min(CASE WHEN c.cum >= ceil(0.9e0 * t.n) THEN c.b END) AS b90,
         |         max(t.n) AS n
         |  FROM cum c JOIN tot t ON c.d = t.d
         |  GROUP BY 1
         |)
         |SELECT substr(CAST(p.d AS VARCHAR(30)), 1, 10) AS day,
         |       floor((CASE WHEN s.hi = s.lo THEN s.lo
         |              ELSE s.lo + (s.hi - s.lo) * CAST(p.b10 + 1 AS DOUBLE) / $MadBuckets END)
         |             * 1e6 + 0.5) / 1e6 AS p10,
         |       floor((CASE WHEN s.hi = s.lo THEN s.lo
         |              ELSE s.lo + (s.hi - s.lo) * CAST(p.b50 + 1 AS DOUBLE) / $MadBuckets END)
         |             * 1e6 + 0.5) / 1e6 AS p50,
         |       floor((CASE WHEN s.hi = s.lo THEN s.lo
         |              ELSE s.lo + (s.hi - s.lo) * CAST(p.b90 + 1 AS DOUBLE) / $MadBuckets END)
         |             * 1e6 + 0.5) / 1e6 AS p90,
         |       n AS n_events
         |FROM picked p, s
         |ORDER BY day ASC""".stripMargin,
    "grid_median_events" ->
      s"""WITH ${HistQuantiles.dkGroupedCut("gm", "events", "event_type", "value", 0.5, MadBuckets, "med")}
         |SELECT k AS event_type,
         |       floor(med * 1e6 + 0.5) / 1e6 AS med_value,
         |       n AS n_events
         |FROM gm
         |ORDER BY event_type ASC""".stripMargin,
    "vocab_coverage" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
        |), cnt AS (
        |  SELECT token, count(*) AS n FROM tok GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(n) AS DOUBLE) AS t FROM cnt
        |), top AS (
        |  SELECT token, n FROM cnt ORDER BY n DESC, token ASC LIMIT 30
        |), ranked AS (
        |  SELECT token, n,
        |         row_number() OVER (ORDER BY n DESC, token ASC) AS rank,
        |         sum(n) OVER (ORDER BY n DESC, token ASC ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM top
        |)
        |SELECT token, n, rank, floor(CAST(cum AS DOUBLE) / t * 1e6 + 0.5) / 1e6 AS cum_share
        |FROM ranked, tot
        |ORDER BY rank ASC""".stripMargin,
    "bigram_lift" ->
      """WITH tk AS (
        |  SELECT string_split(text, ' ') AS t FROM documents
        |), uni AS (
        |  SELECT w, count(*) AS n FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1
        |), utot AS (
        |  SELECT CAST(sum(n) AS DOUBLE) AS tu FROM uni
        |), bi AS (
        |  SELECT bg['w1'] AS w1, bg['w2'] AS w2, count(*) AS n_ab FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |             i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS bg
        |    FROM tk WHERE len(t) >= 2)
        |  GROUP BY 1, 2
        |), btot AS (
        |  SELECT CAST(sum(n_ab) AS DOUBLE) AS tb FROM bi
        |)
        |SELECT b.w1, b.w2, b.n_ab,
        |       floor(CAST(b.n_ab AS DOUBLE) * tu * tu
        |             / (tb * CAST(a.n AS DOUBLE) * CAST(c.n AS DOUBLE))
        |             * 1e4 + 0.5) / 1e4 AS lift
        |FROM bi b
        |JOIN uni a ON a.w = b.w1
        |JOIN uni c ON c.w = b.w2
        |CROSS JOIN utot CROSS JOIN btot
        |WHERE b.n_ab >= 5
        |ORDER BY lift DESC, b.w1 ASC, b.w2 ASC
        |LIMIT 20""".stripMargin,
    "sample_per_lang" ->
      """SELECT lang, rn, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY (doc_id * 2654435761) % 1000000007 ASC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 3
        |ORDER BY lang ASC, rn ASC""".stripMargin,
    "psi_value_drift" ->
      s"""WITH $dkPsiCtes
         |SELECT bucket, c_a, c_b, psi_microbits FROM ppsi
         |ORDER BY bucket ASC""".stripMargin,
    "psi_drift_total" ->
      s"""WITH $dkPsiCtes
         |SELECT CAST(sum(c_a) AS BIGINT) AS n_a, CAST(sum(c_b) AS BIGINT) AS n_b,
         |       CAST(sum(psi_microbits) AS BIGINT) AS psi_microbits
         |FROM ppsi""".stripMargin,
    "cusum_value_shift" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR(10)) AS day,
        |         sum(CAST(value AS DECIMAL(30,2))) AS s, count(*) AS n
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY CAST(CAST(ts AS DATE) AS VARCHAR(10))
        |), tot AS (
        |  SELECT CAST(sum(s) AS DOUBLE) / sum(n) AS mu FROM daily
        |), c AS (
        |  SELECT day, CAST(s AS DOUBLE) / n AS day_avg,
        |         sum(CAST(s AS DOUBLE) / n - mu) OVER (PARTITION BY n % 1
        |           ORDER BY day ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        |  FROM daily CROSS JOIN tot
        |), mx AS (
        |  SELECT max(abs(cusum)) AS mxv FROM c
        |)
        |SELECT day, floor(day_avg * 1e4 + 0.5) / 1e4 AS day_avg,
        |       CAST(floor(cusum * 1e6 + 0.5) AS BIGINT) AS cusum_micro,
        |       CASE WHEN abs(cusum) = mxv THEN 1 ELSE 0 END AS is_shift
        |FROM c CROSS JOIN mx
        |ORDER BY day ASC""".stripMargin,
    "ttest_value_halves" ->
      """WITH tv AS (
        |  SELECT CAST(floor(CAST(value AS DOUBLE) * 100e0 + 0.5) AS BIGINT) AS xi,
        |         (ts < TIMESTAMP '2024-01-16') AS is_a
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        |), s AS (
        |  SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |         sum(CAST(CASE WHEN is_a THEN xi ELSE 0 END AS DECIMAL(38,0))) AS sa,
        |         sum(CAST(CASE WHEN is_a THEN xi * xi ELSE 0 END AS DECIMAL(38,0))) AS ssa,
        |         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb,
        |         sum(CAST(CASE WHEN is_a THEN 0 ELSE xi END AS DECIMAL(38,0))) AS sb,
        |         sum(CAST(CASE WHEN is_a THEN 0 ELSE xi * xi END AS DECIMAL(38,0))) AS ssb
        |  FROM tv
        |), m AS (
        |  SELECT na, nb,
        |         CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 100e0 AS ma,
        |         CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100e0 AS mb,
        |         (CAST(na AS DOUBLE) * CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |           / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0)) AS va,
        |         (CAST(nb AS DOUBLE) * CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
        |           / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)) AS vb
        |  FROM s
        |), m2 AS (
        |  SELECT na, nb, ma, mb, va, vb,
        |         va / 10000e0 / CAST(na AS DOUBLE) AS sea,
        |         vb / 10000e0 / CAST(nb AS DOUBLE) AS seb
        |  FROM m
        |)
        |SELECT na AS n_a, nb AS n_b,
        |       CASE WHEN na >= 2 AND nb >= 2
        |            THEN CAST(floor(ma * 1e6 + 0.5) AS BIGINT) ELSE NULL END AS mean_a_micro,
        |       CASE WHEN na >= 2 AND nb >= 2
        |            THEN CAST(floor(mb * 1e6 + 0.5) AS BIGINT) ELSE NULL END AS mean_b_micro,
        |       CASE WHEN na >= 2 AND nb >= 2 AND (va > 0 OR vb > 0)
        |            THEN CAST(floor((ma - mb) / sqrt(sea + seb) * 1e6 + 0.5) AS BIGINT)
        |            ELSE NULL END AS t_micro,
        |       CASE WHEN na >= 2 AND nb >= 2 AND (va > 0 OR vb > 0)
        |            THEN CAST(floor((sea + seb) * (sea + seb)
        |              / (sea * sea / (CAST(na AS DOUBLE) - 1.0)
        |                 + seb * seb / (CAST(nb AS DOUBLE) - 1.0)) * 1e6 + 0.5) AS BIGINT)
        |            ELSE NULL END AS dof_micro
        |FROM m2""".stripMargin,
    "benford_totalprice" -> {
      // exponent-suffixed literals parse as DOUBLE on both engines;
      // bare decimals would parse as DECIMAL and round-trip through a
      // decimal→double conversion the engines need not agree on
      val ladder = (6 to 1 by -1).map(t =>
        s"WHEN xi >= ${math.pow(10, t).toLong} THEN floor(CAST(xi AS DOUBLE) / ${math.pow(10, t).toLong}e0)")
        .mkString(" ")
      val pCase = benfordP.zipWithIndex.map { case (p, i) =>
        s"WHEN s.digit = ${i + 1} THEN ${p}e0" }.mkString(" ")
      s"""WITH v AS (
         |  SELECT CAST(floor(o_totalprice) AS BIGINT) AS xi
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1
         |), dg AS (
         |  SELECT CAST(CASE $ladder ELSE CAST(xi AS DOUBLE) END AS BIGINT) AS digit FROM v
         |), cnt AS (SELECT digit, count(*) AS n_obs FROM dg GROUP BY digit),
         |tot AS (SELECT coalesce(sum(n_obs), 0) AS n FROM cnt),
         |spine AS (SELECT CAST(d AS BIGINT) AS digit
         |          FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) AS t(d)),
         |e AS (
         |  SELECT s.digit, CAST(coalesce(c.n_obs, 0) AS BIGINT) AS n_obs,
         |         CAST(tot.n AS DOUBLE) * (CASE $pCase END) AS e
         |  FROM spine s LEFT JOIN cnt c ON s.digit = c.digit CROSS JOIN tot
         |)
         |SELECT digit, n_obs,
         |       CAST(floor(e * 1e6 + 0.5) AS BIGINT) AS expected_micro,
         |       CAST(floor((CAST(n_obs AS DOUBLE) - e) * (CAST(n_obs AS DOUBLE) - e) / e * 1e6 + 0.5)
         |         AS BIGINT) AS chi2_micro
         |FROM e ORDER BY digit ASC""".stripMargin
    },
    "corr_price_qty" ->
      """WITH v AS (
        |  SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS xi,
        |         CAST(floor(CAST(l_quantity AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS yi
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |), s AS (
        |  SELECT count(*) AS n,
        |         sum(CAST(xi AS DECIMAL(38,0))) AS sx,
        |         sum(CAST(yi AS DECIMAL(38,0))) AS sy,
        |         sum(CAST(xi * yi AS DECIMAL(38,0))) AS sxy,
        |         sum(CAST(xi * xi AS DECIMAL(38,0))) AS sxx,
        |         sum(CAST(yi * yi AS DECIMAL(38,0))) AS syy
        |  FROM v
        |), m AS (
        |  SELECT n,
        |         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
        |         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
        |         sxx
        |  FROM s
        |)
        |SELECT n,
        |       CASE WHEN n > 0 AND sxx IS NOT NULL THEN
        |         CASE WHEN vx > 0 AND vy > 0 THEN
        |           CAST(floor(cov / sqrt(vx * vy) * 1e6 + 0.5) AS BIGINT)
        |         ELSE NULL END
        |       ELSE NULL END AS corr_micro
        |FROM m""".stripMargin,
    "mi_flag_status" ->
      s"""WITH j AS (
         |  SELECT l_returnflag AS a, l_linestatus AS b, count(*) AS c_ab
         |  FROM lineitem
         |  WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
         |  GROUP BY 1, 2
         |), ma AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM j GROUP BY 1),
         |mb AS (SELECT b, CAST(sum(c_ab) AS BIGINT) AS c_b FROM j GROUP BY 1),
         |nn AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM j),
         |cells AS (
         |  SELECT j.a, j.b, j.c_ab, nn.n,
         |         (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))
         |           / (CAST(j.c_ab AS DOUBLE) * CAST(nn.n AS DOUBLE)) AS r_inv
         |  FROM j JOIN ma ON j.a = ma.a JOIN mb ON j.b = mb.b CROSS JOIN nn
         |)
         |SELECT a, b, c_ab,
         |       CAST(floor(CAST(c_ab AS DOUBLE) / CAST(n AS DOUBLE)
         |         * (CASE WHEN r_inv <= 1.0
         |              THEN ${graft.operators.LanguageModel.dkSurprisal("r_inv")}
         |              ELSE -(${graft.operators.LanguageModel.dkSurprisal("(1.0 / r_inv)")}) END)
         |         * 1e6 + 0.5) AS BIGINT) AS mi_microbits
         |FROM cells
         |ORDER BY a ASC, b ASC""".stripMargin,
    "bootstrap_mean_ci" -> {
      // identical CDF doubles as the Spark plan (Benford literal policy);
      // ranks replay meanCi's defaults: B=64, alpha=0.05 -> 2 and 63
      val b = 64
      val loRank = math.max(1, math.floor(b * 0.025).toInt + 1)
      val hiRank = math.min(b, math.floor(b * 0.975).toInt + 1)
      val ladder = Bootstrap.PoissonCdf
        .map(c => s"(CASE WHEN u >= ${c}e0 THEN 1 ELSE 0 END)").mkString("\n           + ")
      s"""WITH v AS (
         |  SELECT CAST(floor(CAST(value AS DOUBLE) * 100e0 + 0.5) AS BIGINT) AS xi,
         |         CAST(event_id AS BIGINT) AS k
         |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
         |), ex AS (
         |  SELECT xi, r,
         |         CAST(((2 * r + 1) * (((k % 1000000007) * 2654435761) % 1000000007)
         |               + 999983 * r) % 1000000007 AS DOUBLE)
         |           / 1000000007e0 AS u
         |  FROM v CROSS JOIN (SELECT unnest(generate_series(0, ${b - 1})) AS r) rs
         |), wts AS (
         |  SELECT xi, r,
         |         $ladder AS w
         |  FROM ex
         |), rep AS (
         |  SELECT r, sum(w * xi) AS swx, sum(w) AS sw FROM wts GROUP BY r
         |), rm AS (
         |  SELECT r, CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) / 100e0 AS rm
         |  FROM rep WHERE sw > 0
         |), rk AS (
         |  SELECT rm, row_number() OVER (ORDER BY rm ASC, r ASC) AS rk FROM rm
         |), bnd AS (
         |  SELECT min(CASE WHEN rk = $loRank THEN rm END) AS lo,
         |         min(CASE WHEN rk = $hiRank THEN rm END) AS hi
         |  FROM rk
         |), s AS (SELECT count(*) AS n, sum(xi) AS sx FROM v)
         |SELECT CAST(n AS BIGINT) AS n,
         |       CASE WHEN n > 0 THEN
         |         CAST(floor(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100e0 * 1e6 + 0.5) AS BIGINT)
         |       ELSE NULL END AS mean_micro,
         |       CAST(floor(lo * 1e6 + 0.5) AS BIGINT) AS lo_micro,
         |       CAST(floor(hi * 1e6 + 0.5) AS BIGINT) AS hi_micro
         |FROM s CROSS JOIN bnd""".stripMargin
    },
    "trend_theil_sen" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / count(*) AS day_avg
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1
        |), slopes AS (
        |  SELECT a.day AS day_a, b.day AS day_b,
        |         (b.day_avg - a.day_avg)
        |           / floor((epoch_us(CAST(b.day AS TIMESTAMP)) - epoch_us(CAST(a.day AS TIMESTAMP))) / 86400000000.0) AS slope
        |  FROM daily a JOIN daily b ON a.day < b.day
        |), sm AS (SELECT count(*) AS m FROM slopes),
        |sr AS (
        |  SELECT slope,
        |         row_number() OVER (ORDER BY slope ASC, day_a ASC, day_b ASC) AS rk
        |  FROM slopes
        |), smed AS (
        |  SELECT min(CASE WHEN rk = CAST(floor(CAST(m + 1 AS DOUBLE) / 2.0) AS BIGINT)
        |                  THEN slope END) AS slope_med,
        |         max(m) AS m
        |  FROM sr, sm
        |), d0 AS (SELECT min(day) AS day0 FROM daily),
        |nd AS (SELECT count(*) AS n_days FROM daily),
        |res AS (
        |  SELECT day,
        |         day_avg - slope_med * floor((epoch_us(CAST(day AS TIMESTAMP)) - epoch_us(CAST(day0 AS TIMESTAMP))) / 86400000000.0) AS icept
        |  FROM daily, d0, smed
        |), rr AS (
        |  SELECT icept, row_number() OVER (ORDER BY icept ASC, day ASC) AS rk FROM res
        |), imed AS (
        |  SELECT min(CASE WHEN rk = CAST(floor(CAST(n_days + 1 AS DOUBLE) / 2.0) AS BIGINT)
        |                  THEN icept END) AS icept_med
        |  FROM rr, nd
        |)
        |SELECT n_days, m AS n_pairs,
        |       CAST(floor(slope_med * 1e6 + 0.5) AS BIGINT) AS slope_micro,
        |       CAST(floor(icept_med * 1e6 + 0.5) AS BIGINT) AS intercept_micro
        |FROM nd, smed, imed""".stripMargin,
    // ANSI percentile_disc ... WITHIN GROUP: in DuckDB this is exactly
    // quantile_disc (same function, ANSI surface), so the exactness
    // gate still runs against DuckDB's OWN rank rule — and the ANSI
    // spelling also parses in Spark, making the oracle verbatim-
    // portable: CatalogSpec additionally pins Spark's independent
    // percentile_disc implementation to the same answer (three
    // implementations of the discrete-quantile rule must now agree).
    "exact_quantiles_totalprice" ->
      """SELECT count(o_totalprice) AS n,
        |       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice ASC) AS DOUBLE) AS p50_exact,
        |       CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice ASC) AS DOUBLE) AS p90_exact
        |FROM orders WHERE o_totalprice IS NOT NULL""".stripMargin,
    "exact_median_by_type" ->
      """SELECT event_type,
        |       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY value ASC) AS DOUBLE) AS p50_exact,
        |       count(value) AS n
        |FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type ASC""".stripMargin,
    "weighted_median_price" ->
      """WITH v AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS x,
        |         CAST(l_quantity AS DECIMAL(30,2)) AS w
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL AND l_quantity > 0
        |), tot AS (SELECT sum(w) AS tw, count(*) AS n FROM v),
        |g AS (SELECT x, sum(w) AS wx FROM v GROUP BY x),
        |c AS (SELECT x, sum(wx) OVER (ORDER BY x ASC ROWS UNBOUNDED PRECEDING) AS cw FROM g)
        |SELECT CAST(min(c.x) AS DOUBLE) AS w_median, max(tot.n) AS n,
        |       CAST(max(tot.tw) AS DOUBLE) AS total_w
        |FROM c, tot WHERE c.cw * 2 >= tot.tw""".stripMargin,
    "weighted_median_by_flag" ->
      """WITH v AS (
        |  SELECT l_returnflag AS k, CAST(l_extendedprice AS DOUBLE) AS x,
        |         CAST(l_quantity AS DECIMAL(30,2)) AS w
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_quantity IS NOT NULL AND l_quantity > 0
        |), tot AS (SELECT k, sum(w) AS tw, count(*) AS n FROM v GROUP BY k),
        |g AS (SELECT k, x, sum(w) AS wx FROM v GROUP BY k, x),
        |c AS (SELECT k, x,
        |        sum(wx) OVER (PARTITION BY k ORDER BY x ASC ROWS UNBOUNDED PRECEDING) AS cw
        |      FROM g)
        |SELECT c.k AS return_flag, CAST(min(c.x) AS DOUBLE) AS w_median,
        |       max(tot.n) AS n, CAST(max(tot.tw) AS DOUBLE) AS total_w
        |FROM c JOIN tot ON c.k = tot.k
        |WHERE c.cw * 2 >= tot.tw
        |GROUP BY c.k
        |ORDER BY return_flag ASC""".stripMargin
  )
}
