package graft
package catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QuerySupport._

/** Statistics and time-series queries (SURVEY.md §2B): anomaly scores,
  * hypothesis tests, trends, correlation and distribution summaries.
  */
private[graft] object StatsQueries extends QueryFamily {

  /** Hourly-count anomaly detection per event type: hours at >= 2x the
    * type's mean hourly rate. The comparison is INTEGER arithmetic
    * (n * n_hours >= 2 * total), so the threshold is bit-exact across
    * engines — no FP boundary can flip a row.
    */
  query("q_event_anomaly",
      """WITH h AS (
        |  SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, n,
        |         sum(n) OVER (PARTITION BY event_type) AS tot,
        |         count(*) OVER (PARTITION BY event_type) AS nh
        |  FROM h)
        |SELECT event_type, count(*) AS n_anomalous_hours, max(n) AS max_hourly
        |FROM s WHERE n * nh >= tot * 2 GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val hourly = events(spark, dir)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd HH").as("hour"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type")
    hourly
      .withColumn("tot", sum("n").over(w))
      .withColumn("nh", count(lit(1)).over(w))
      .filter(col("n") * col("nh") >= col("tot") * 2)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_anomalous_hours"), max("n").as("max_hourly"))
      .orderBy("event_type")
  }

  /** `q_event_anomaly`'s integer-arithmetic anomaly shape over the
    * documents family: per-language source profile counting sources at
    * >= 2x the language's mean docs-per-source. Emits one row per language
    * unconditionally (a zero count is still a row), so the query grades the
    * threshold arithmetic even on a uniform corpus.
    */
  query("q_doc_anomaly",
      """WITH h AS (
        |  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
        |s AS (
        |  SELECT lang, n,
        |         sum(n) OVER (PARTITION BY lang) AS tot,
        |         count(*) OVER (PARTITION BY lang) AS ns
        |  FROM h)
        |SELECT lang,
        |       CAST(sum(CASE WHEN n * ns >= tot * 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_hot_sources,
        |       max(n) AS max_n
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val perSrc = t(spark, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang")
    perSrc
      .withColumn("tot", sum("n").over(w))
      .withColumn("ns", count(lit(1)).over(w))
      .groupBy("lang")
      .agg(
        sum(when(col("n") * col("ns") >= col("tot") * 2, 1L).otherwise(0L))
          .as("n_hot_sources"),
        max("n").as("max_n"))
      .orderBy("lang")
  }

  /** Time-series gap-filling (resample): each event type's observed hourly
    * counts joined onto its complete hour spine, missing hours filled with
    * zero. The spine is a per-key `sequence()` explode — bounded by the
    * key's time range, fully distributed, no driver-side calendar loop —
    * and the fill join is a plain equi-join on (type, hour), so the shape
    * survives any number of keys at 100 TB. Summarized per type to keep
    * the result compact.
    */
  query("q_gap_fill",
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1 FROM h GROUP BY 1),
        |spine AS (
        |  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM b)
        |SELECT s.event_type, count(*) AS n_hours,
        |       CAST(sum(CASE WHEN h.n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gap_hours,
        |       CAST(sum(coalesce(h.n, 0)) AS BIGINT) AS n_events
        |FROM spine s LEFT JOIN h ON s.event_type = h.event_type AND s.hour = h.hour
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val hourly = events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val spine = hourly.groupBy("event_type")
      .agg(min("hour").as("h0"), max("hour").as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
    spine.join(hourly, Seq("event_type", "hour"), "left")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(when(col("n").isNull, 1L).otherwise(0L)).as("n_gap_hours"),
        sum(coalesce(col("n"), lit(0L))).as("n_events"))
      .orderBy("event_type")
  }

  /** Robust outlier detection per event type: an hour is an outlier when
    * its count's absolute deviation from the type's MEDIAN exceeds 3x the
    * median absolute deviation (MAD) — the classic robust z-score, immune
    * to the mean-dragging that defeats `q_event_anomaly`'s 2x-mean rule on
    * heavy-tailed rates. Medians of small integers interpolate to exact
    * halves and MADs of those to exact quarters — both engines' linear
    * interpolation is exact binary arithmetic there, so scaling deviations
    * by 4 and their median by a further 2 turns the whole rule into
    * bit-exact INTEGER comparisons (2*dev4 > 3*mad8). The med/mad side
    * frames are bounded by the type count, so both join back by broadcast.
    */
  query("q_mad_outliers",
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, quantile_cont(n, 0.5) AS med FROM h GROUP BY 1),
        |d AS (SELECT h.event_type, h.n, m.med,
        |             CAST(abs(h.n - m.med) * 4 AS BIGINT) AS dev4
        |      FROM h JOIN m USING (event_type)),
        |md AS (SELECT event_type, CAST(quantile_cont(dev4, 0.5) * 2 AS BIGINT) AS mad8
        |       FROM d GROUP BY 1)
        |SELECT d.event_type, count(*) AS n_hours,
        |       CAST(sum(CASE WHEN d.dev4 * 2 > md.mad8 * 3 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_outlier_hours,
        |       CAST(max(d.med) * 2 AS BIGINT) AS med2,
        |       max(md.mad8) AS mad8
        |FROM d JOIN md USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val hourly = events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val med = hourly.groupBy("event_type")
      .agg(expr("percentile(n, 0.5d)").as("med"))
    // dev4 = 4*|n - med| is always integral (med is a half-integer)
    val dev = hourly.join(broadcast(med), "event_type")
      .withColumn("dev4", (abs(col("n") - col("med")) * 4).cast("long"))
    // the median of integers interpolates to a half-integer: 2x is integral
    val mad = dev.groupBy("event_type")
      .agg((expr("percentile(dev4, 0.5d)") * 2).cast("long").as("mad8"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(when(col("dev4") * 2 > col("mad8") * 3, 1L).otherwise(0L))
          .as("n_outlier_hours"),
        (max("med") * 2).cast("long").as("med2"),
        max("mad8").as("mad8"))
      .orderBy("event_type")
  }

  /** Per-group closed-form least squares (trend detection): the slope of
    * each event type's hourly count over time, computed as the exact
    * integer numerator/denominator pair of the OLS closed form —
    * `slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)` — with x the hour index
    * RELATIVE to the type's first hour (small integers, so every moment
    * is an exact long both engines agree on). ONE aggregation pass over
    * the hourly counts; the ppm readout is integer division. The
    * map-side-combinable moment sums are the only state — the same shape
    * at 100 TB.
    */
  query("q_trend",
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(hour) AS h0 FROM h GROUP BY 1),
        |xy AS (
        |  SELECT h.event_type,
        |         (epoch_us(h.hour) - epoch_us(b.h0)) // 3600000000 AS x, y
        |  FROM h JOIN b USING (event_type)),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |             CAST(sum(x * x) AS BIGINT) AS sxx,
        |             CAST(sum(x * y) AS BIGINT) AS sxy
        |      FROM xy GROUP BY 1)
        |SELECT event_type, n,
        |       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        |       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
        |       CASE WHEN n * sxx - sx * sx > 0
        |            THEN CAST((n * sxy - sx * sy) * 1000000
        |                      // (n * sxx - sx * sx) AS BIGINT) END AS slope_ppm
        |FROM m ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val hourly = events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("y"))
    val h0 = hourly.groupBy("event_type").agg(min("hour").as("h0"))
    val xy = hourly.join(broadcast(h0), "event_type")
      .withColumn("x", expr("(unix_micros(hour) - unix_micros(h0)) div 3600000000"))
    xy.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      .select(col("event_type"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .withColumn("slope_ppm",
        when(col("slope_den") > 0,
          expr("slope_num * 1000000 div slope_den")))
      .orderBy("event_type")
  }

  /** Chi-squared association between event type and hour-of-day — the
    * data-profiling independence probe ("is activity shape uniform
    * across types?"). Observed and marginal counts are exact integers;
    * each cell's statistic is the IDENTICAL IEEE sequence on both
    * engines — every product is computed DOUBLE-FIRST
    * (`O_d·T − R_d·C`, `(R_d·C)·T`) so no intermediate can overflow a
    * long at any corpus size (a long product would wrap in Spark and
    * raise in DuckDB two orders of magnitude before the double-rounding
    * envelope matters), then `floor(1e6·d·d/den)` is integer-summed —
    * the scaled chi² is bit-exact cross-engine. One count aggregate +
    * two bounded marginal frames joined back by broadcast.
    */
  query("q_chi2",
      """WITH ev AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod FROM events),
        |o AS (SELECT event_type, hod, CAST(count(*) AS BIGINT) AS o
        |      FROM ev GROUP BY 1, 2),
        |r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM o GROUP BY 1),
        |c AS (SELECT hod, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY 1),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM o),
        |cells AS (
        |  SELECT o.event_type,
        |         CAST(o.o AS DOUBLE) * t.t - CAST(r.r AS DOUBLE) * c.c AS d,
        |         CAST(r.r AS DOUBLE) * c.c * t.t AS den
        |  FROM o JOIN r USING (event_type) JOIN c USING (hod) CROSS JOIN t)
        |SELECT event_type, count(*) AS n_cells,
        |       CAST(sum(CAST(floor(1000000.0 * d * d / den) AS BIGINT)) AS BIGINT)
        |         AS chi2_u
        |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val ev = events(spark, dir)
      .select(col("event_type"), hour(col("ts")).cast("long").as("hod"))
    val obs = ev.groupBy("event_type", "hod").agg(count(lit(1)).as("o"))
    val rowM = obs.groupBy("event_type").agg(sum("o").as("r"))
    val colM = obs.groupBy("hod").agg(sum("o").as("c"))
    val tot = obs.agg(sum("o").as("t"))
    val cells = obs
      .join(broadcast(rowM), "event_type")
      .join(broadcast(colM), "hod")
      .crossJoin(broadcast(tot))
      .withColumn("d",
        col("o").cast("double") * col("t") - col("r").cast("double") * col("c"))
      .withColumn("cell_u",
        floor(lit(1e6) * col("d") * col("d") /
          (col("r").cast("double") * col("c") * col("t"))).cast("long"))
    cells.groupBy("event_type")
      .agg(count(lit(1)).as("n_cells"), sum("cell_u").as("chi2_u"))
      .orderBy("event_type")
  }

  /** Time-weighted average (irregular-sample metric aggregation): each
    * event's value holds until the user's NEXT event (`lead` window,
    * partitioned per user — bounded state, no global sort), weighted by
    * that holding duration. All integer arithmetic at a precision chosen
    * to bound the sums: value in centi-units (×100) times duration in
    * SECONDS keeps the corpus numerator orders of magnitude inside a
    * long; the ppm readout splits the scaled division as
    * `q·1e6 + (r·1e6 div den)` (with `num = q·den + r`) — exactly
    * `floor(num·1e6/den)` but with no overflowable `num·1e6`
    * intermediate.
    */
  query("q_time_weighted",
      """WITH h AS (
        |  SELECT event_type, "value",
        |         (lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |            ORDER BY ts, event_id) - epoch_us(ts)) // 1000000 AS gap_s
        |  FROM events),
        |v AS (SELECT event_type, CAST(floor("value" * 100) AS BIGINT) AS vc, gap_s
        |      FROM h WHERE gap_s IS NOT NULL),
        |m AS (SELECT event_type, count(*) AS n_held,
        |             CAST(sum(vc * gap_s) AS BIGINT) AS num_cs,
        |             CAST(sum(gap_s) AS BIGINT) AS den_s
        |      FROM v GROUP BY 1)
        |SELECT event_type, n_held, num_cs, den_s,
        |       CASE WHEN den_s > 0 THEN
        |         CAST((num_cs // den_s) * 1000000
        |              + (num_cs % den_s) * 1000000 // den_s AS BIGINT) END
        |         AS twa_cppm
        |FROM m ORDER BY 1""".stripMargin) { (spark, dir) =>
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .withColumn("next_us", lead(unix_micros(col("ts")), 1).over(byUser))
      .filter(col("next_us").isNotNull)
      .withColumn("gap_s",
        expr("(next_us - unix_micros(ts)) div 1000000"))
      .withColumn("vc", floor(col("value") * 100).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_held"),
        sum(col("vc") * col("gap_s")).as("num_cs"),
        sum("gap_s").as("den_s"))
      .withColumn("twa_cppm",
        when(col("den_s") > 0,
          expr("(num_cs div den_s) * 1000000 + (num_cs % den_s) * 1000000 div den_s")))
      .orderBy("event_type")
  }

  /** Islands-and-gaps (longest streak): each user's longest run of
    * consecutive same-type events in time order — the classic gaps/
    * islands decomposition, `rn_global − rn_per_type` as the island key,
    * with BOTH window passes partitioned by user (no global sort; a
    * user's history is the bounded unit of work, the same contract as
    * sessionization). Readout compacted per event type: users whose
    * longest streak is that type, max/total streak stats — all integers.
    */
  query("q_streaks",
      """WITH r AS (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |           ORDER BY ts, event_id) AS rnt
        |  FROM events),
        |isl AS (SELECT user_id, event_type, rn - rnt AS island,
        |               CAST(count(*) AS BIGINT) AS len
        |        FROM r GROUP BY 1, 2, 3),
        |best AS (SELECT user_id, len AS best_len, event_type AS best_type FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY len DESC, event_type ASC, island ASC) AS rk
        |  FROM isl) WHERE rk = 1)
        |SELECT best_type AS event_type, count(*) AS n_users,
        |       max(best_len) AS max_streak,
        |       CAST(sum(best_len) AS BIGINT) AS sum_streak
        |FROM best GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val byUserType = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    val islands = events(spark, dir)
      .withColumn("rn", row_number().over(byUser))
      .withColumn("rnt", row_number().over(byUserType))
      .withColumn("island", col("rn") - col("rnt"))
      .groupBy("user_id", "event_type", "island")
      .agg(count(lit(1)).as("len"))
    // per user: the longest island — deterministic tie-break on
    // (event_type, island); rank-1 filter compiles to WindowGroupLimit
    val wBest = Window.partitionBy("user_id")
      .orderBy(col("len").desc, col("event_type").asc, col("island").asc)
    val best = islands
      .withColumn("rk", row_number().over(wBest)).filter(col("rk") === 1)
      .select(col("user_id"), col("len").as("best_len"),
        col("event_type").as("best_type"))
    best.groupBy(col("best_type").as("event_type"))
      .agg(count(lit(1)).as("n_users"), max("best_len").as("max_streak"),
        sum("best_len").as("sum_streak"))
      .orderBy("event_type")
  }

  /** Benford first-digit conformance — the classic fabricated-data /
    * corruption screen over a monetary column. Expected shares are a
    * LITERAL ppm table (`floor(log10(1+1/d)·1e6+0.5)`, the same
    * literal-weights discipline as the NDCG discount table — runtime
    * `log10` could flip a rounding between libms); observed shares are
    * exact integer divisions; the readout is the per-digit signed
    * deviation. First digit via decimal-string head of integer cents —
    * identical in any engine. One hash aggregate.
    */
  query("q_benford",
      """WITH exp(digit, exp_ppm) AS (VALUES
        |  (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
        |  (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
        |o AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |           AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |         CAST(count(*) AS BIGINT) AS o
        |  FROM orders GROUP BY 1),
        |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o)
        |SELECT CAST(o.digit AS BIGINT) AS digit, o.o,
        |       (1000000 * o.o) // n.n AS obs_ppm,
        |       CAST(exp.exp_ppm AS BIGINT) AS exp_ppm,
        |       (1000000 * o.o) // n.n - exp.exp_ppm AS dev_ppm
        |FROM o JOIN exp USING (digit) CROSS JOIN n
        |ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val expected = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L,
      5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)
      .toDF("digit", "exp_ppm")
    val o = t(spark, dir, "orders")
      .withColumn("digit",
        substring(expr("cast(cast(floor(o_totalprice * 100 + 0.5) as bigint) as string)"), 1, 1)
          .cast("int"))
      .groupBy("digit").agg(count(lit(1)).as("o"))
    val n = o.select(sum("o").as("n"))
    o.join(broadcast(expected), "digit").crossJoin(broadcast(n))
      .withColumn("obs_ppm", expr("(1000000 * o) div n"))
      .select(col("digit").cast("long").as("digit"), col("o"), col("obs_ppm"),
        col("exp_ppm"), (col("obs_ppm") - col("exp_ppm")).as("dev_ppm"))
      .orderBy("digit")
  }

  /** Mutual information between event type and hour-of-day — the
    * information-theoretic association readout next to `q_chi2`, in the
    * repo's exact integer-log arithmetic: each cell contributes
    * `o · (L(o·T) − L(r·c))` micro-nats with the shared
    * [[graft.functions.ScaledLn]] formula (floor(ln·1e6 + 0.5), identical
    * IEEE ops both engines), long-summed — bit-exact at any scale. Cell
    * counts are one hash aggregate; marginals broadcast back.
    */
  query("q_mutual_info",
      """WITH o AS (
        |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
        |         CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM o GROUP BY 1),
        |c AS (SELECT hod, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY 1),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM o),
        |cells AS (
        |  SELECT o.event_type, o.o,
        |         o.o * (CAST(floor(ln(o.o * t.t) * 1000000 + 0.5) AS BIGINT) -
        |                CAST(floor(ln(r.r * c.c) * 1000000 + 0.5) AS BIGINT))
        |           AS cell_mi
        |  FROM o JOIN r USING (event_type) JOIN c USING (hod) CROSS JOIN t)
        |SELECT event_type, count(*) AS n_cells,
        |       CAST(sum(o) AS BIGINT) AS n_events,
        |       CAST(sum(cell_mi) AS BIGINT) AS mi_contrib_micro
        |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import graft.functions.ScaledLn
    val o = events(spark, dir)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("o"))
    val r = o.groupBy("event_type").agg(sum("o").as("r"))
    val c = o.groupBy("hod").agg(sum("o").as("c"))
    val tt = o.select(sum("o").as("t"))
    o.join(broadcast(r), "event_type").join(broadcast(c), "hod")
      .crossJoin(broadcast(tt))
      .withColumn("cell_mi",
        col("o") * (ScaledLn.column(col("o") * col("t")) -
          ScaledLn.column(col("r") * col("c"))))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_cells"), sum("o").as("n_events"),
        sum("cell_mi").as("mi_contrib_micro"))
      .orderBy("event_type")
  }

  /** Pareto concentration ("how few documents hold 80% of the corpus") —
    * the Lorenz-curve point next to `q_source_gini`'s Gini, and like it
    * computed ENTIRELY from the per-(lang, value) count histogram: with
    * values cumulated in DESCENDING order, the crossing value v* is the
    * single row where the strictly-above mass is < 80% and the inclusive
    * mass ≥ 80%; the docs needed inside the tied block are one exact
    * ceiling division. `5·chars ≥ 4·S` keeps every comparison integer.
    * One corpus hash aggregate + a distinct-value window — no per-row
    * rank at any scale.
    */
  query("q_pareto",
      """WITH h AS (SELECT lang, n_chars, count(*) AS m
        |           FROM documents GROUP BY 1, 2),
        |c AS (SELECT lang, n_chars, m,
        |        CAST(sum(m * n_chars) OVER (PARTITION BY lang
        |          ORDER BY n_chars DESC) AS BIGINT) AS cumc,
        |        CAST(sum(m) OVER (PARTITION BY lang
        |          ORDER BY n_chars DESC) AS BIGINT) AS cumn,
        |        CAST(sum(m * n_chars) OVER (PARTITION BY lang) AS BIGINT) AS s,
        |        CAST(sum(m) OVER (PARTITION BY lang) AS BIGINT) AS n
        |      FROM h),
        |x AS (SELECT *, cumc - m * n_chars AS above FROM c),
        |y AS (SELECT *,
        |        (4 * s - 5 * above + 5 * n_chars - 1) // (5 * n_chars) AS j
        |      FROM x WHERE above * 5 < s * 4 AND cumc * 5 >= s * 4)
        |SELECT lang, n, s, cumn - m + j AS k80,
        |       (1000000 * (cumn - m + j)) // n AS k80_ppm,
        |       (1000000 * (above + j * n_chars)) // s AS share_ppm
        |FROM y ORDER BY 1""".stripMargin) { (spark, dir) =>
    val hist = t(spark, dir, "documents")
      .groupBy("lang", "n_chars").agg(count(lit(1)).as("m"))
    val wv = Window.partitionBy("lang").orderBy(col("n_chars").desc)
    val tot = Window.partitionBy("lang")
    val cum = hist
      .withColumn("cumc", sum(col("m") * col("n_chars")).over(wv))
      .withColumn("cumn", sum("m").over(wv))
      .withColumn("s", sum(col("m") * col("n_chars")).over(tot))
      .withColumn("n", sum("m").over(tot))
      .withColumn("above", col("cumc") - col("m") * col("n_chars"))
    cum
      .filter(col("above") * 5 < col("s") * 4 && col("cumc") * 5 >= col("s") * 4)
      .withColumn("j",
        expr("(4 * s - 5 * above + 5 * n_chars - 1) div (5 * n_chars)"))
      .withColumn("k80", col("cumn") - col("m") + col("j"))
      .select(col("lang"), col("n"), col("s"), col("k80"),
        expr("(1000000 * k80) div n").as("k80_ppm"),
        expr("(1000000 * (above + j * n_chars)) div s").as("share_ppm"))
      .orderBy("lang")
  }

  /** Winsorization (percentile clipping) of document lengths per language
    * with EXPLICIT rank arithmetic: the p05/p95 bounds are the
    * ceil(q·n)-th smallest values — a definition both engines reproduce
    * bit-for-bit, sidestepping percentile interpolation conventions
    * entirely. Bounds are data values, so every clipped sum stays
    * integer-exact.
    *
    * Scale shape: the bound is located on the per-(lang, value) COUNT
    * HISTOGRAM — `lo = min v with cumcount(v) ≥ ceil(0.05·n)`, provably
    * the rank definition — so the only window runs over DISTINCT values
    * per language (value-bounded partitions), never a per-row rank of the
    * corpus. Exact at any scale; no approx fallback needed.
    */
  query("q_winsorize",
      """WITH d AS (SELECT lang, doc_id, n_chars FROM documents),
        |r AS (SELECT lang, doc_id, n_chars,
        |             row_number() OVER (PARTITION BY lang
        |               ORDER BY n_chars, doc_id) AS rn,
        |             count(*) OVER (PARTITION BY lang) AS n
        |      FROM d),
        |b AS (SELECT lang,
        |             max(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
        |                 THEN n_chars END) AS lo,
        |             max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
        |                 THEN n_chars END) AS hi
        |      FROM r GROUP BY 1)
        |SELECT d.lang, count(*) AS n_docs, min(b.lo) AS lo, min(b.hi) AS hi,
        |       CAST(sum(d.n_chars) AS BIGINT) AS sum_raw,
        |       CAST(sum(greatest(b.lo, least(b.hi, d.n_chars))) AS BIGINT)
        |         AS sum_clipped,
        |       CAST(sum(CASE WHEN d.n_chars <> greatest(b.lo, least(b.hi, d.n_chars))
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        |FROM d JOIN b ON d.lang = b.lang
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents").select(col("lang"), col("doc_id"), col("n_chars"))
    val hist = docs.groupBy("lang", "n_chars").agg(count(lit(1)).as("m"))
    val wv = Window.partitionBy("lang").orderBy("n_chars")
    val cum = hist
      .withColumn("cum", sum("m").over(wv))
      .withColumn("n", sum("m").over(Window.partitionBy("lang")))
    val bounds = cum
      .groupBy("lang")
      .agg(
        min(when(col("cum") >= expr("cast(ceil(0.05 * n) as bigint)"), col("n_chars")))
          .as("lo"),
        min(when(col("cum") >= expr("cast(ceil(0.95 * n) as bigint)"), col("n_chars")))
          .as("hi"))
    docs.join(broadcast(bounds), "lang")
      .withColumn("clipped", greatest(col("lo"), least(col("hi"), col("n_chars"))))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), min("lo").as("lo"), min("hi").as("hi"),
        sum("n_chars").as("sum_raw"), sum("clipped").as("sum_clipped"),
        sum(when(col("n_chars") =!= col("clipped"), 1L).otherwise(0L)).as("n_clipped"))
      .orderBy("lang")
  }

  /** CUSUM change-point detection over each event type's hourly count
    * series, in EXACT integer arithmetic: with S = total and n = #hours,
    * the scaled deviation `dev_k = n·cum_k − k·S` equals `n·(cum_k − k·μ)`
    * without ever forming the rational mean — so the argmax hour (the
    * detected change point) and the max |deviation| are bit-exact in any
    * engine. One bounded aggregate (hours × types) + one window pass per
    * type; a 100 TB event log still reduces to this tiny series first.
    */
  query("q_cusum",
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type, h, y,
        |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY h)
        |           AS BIGINT) AS k,
        |         CAST(sum(y) OVER (PARTITION BY event_type ORDER BY h)
        |           AS BIGINT) AS cum,
        |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |         CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS s
        |  FROM h),
        |v AS (SELECT event_type, h, n, s, n * cum - k * s AS dev FROM d),
        |m AS (SELECT event_type, max(abs(dev)) AS mx FROM v GROUP BY 1)
        |SELECT v.event_type, max(v.n) AS n_hours, max(v.s) AS n_events,
        |       max(m.mx) AS max_abs_dev,
        |       strftime(min(CASE WHEN abs(v.dev) = m.mx THEN v.h END),
        |                '%Y-%m-%d %H:%M:%S') AS change_hour
        |FROM v JOIN m ON v.event_type = m.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val hourly = events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("y"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val tot = Window.partitionBy("event_type")
    val dev = hourly
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("cum", sum("y").over(w))
      .withColumn("n", count(lit(1)).over(tot))
      .withColumn("s", sum("y").over(tot))
      .withColumn("dev", col("n") * col("cum") - col("k") * col("s"))
    dev.withColumn("mx", max(abs(col("dev"))).over(tot))
      .groupBy("event_type")
      .agg(max("n").as("n_hours"), max("s").as("n_events"),
        max("mx").as("max_abs_dev"),
        date_format(min(when(abs(col("dev")) === col("mx"), col("h"))),
          "yyyy-MM-dd HH:mm:ss").as("change_hour"))
      .orderBy("event_type")
  }

  /** Gini concentration of document length per language — the inequality
    * readout a curation pipeline uses to spot sources dominated by a few
    * giant documents. Closed form on the sorted series:
    * `G = (2·Σ i·x_i − (n+1)·S) / (n·S)` — every term an exact integer,
    * emitted as num/den plus a floor-ppm.
    *
    * Scale shape: Σ i·x_i is computed from the per-(lang, value) COUNT
    * HISTOGRAM, not per-row ranks — the m tied rows at value v occupy the
    * contiguous rank block (c_<v, c_<v + m], whose rank-sum is
    * `m·c_<v + m(m+1)/2` (tie order is irrelevant: tied values contribute
    * identically), so `Σ i·x_i = Σ_v v·(m·c_<v + m(m+1)/2)`. The only
    * window runs over DISTINCT values per language; the corpus itself is
    * touched by one hash aggregate. Exact at any scale.
    */
  query("q_source_gini",
      """WITH r AS (
        |  SELECT lang, n_chars,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY n_chars, doc_id) AS BIGINT) AS i
        |  FROM documents),
        |a AS (SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS s,
        |             CAST(sum(i * n_chars) AS BIGINT) AS ix
        |      FROM r GROUP BY 1)
        |SELECT lang, n, s,
        |       2 * ix - (n + 1) * s AS gini_num,
        |       n * s AS gini_den,
        |       (1000000 * (2 * ix - (n + 1) * s)) // (n * s) AS gini_ppm
        |FROM a ORDER BY 1""".stripMargin) { (spark, dir) =>
    val hist = t(spark, dir, "documents")
      .groupBy("lang", "n_chars").agg(count(lit(1)).as("m"))
    val wv = Window.partitionBy("lang").orderBy("n_chars")
    hist
      .withColumn("clt", sum("m").over(wv) - col("m")) // count strictly smaller
      .withColumn("ix_v",
        col("n_chars") * (col("m") * col("clt") + expr("(m * (m + 1)) div 2")))
      .groupBy("lang")
      .agg(sum("m").as("n"), sum(col("n_chars") * col("m")).as("s"),
        sum("ix_v").as("ix"))
      .withColumn("gini_num", lit(2) * col("ix") - (col("n") + 1) * col("s"))
      .withColumn("gini_den", col("n") * col("s"))
      .withColumn("gini_ppm", expr("(1000000 * gini_num) div gini_den"))
      .select("lang", "n", "s", "gini_num", "gini_den", "gini_ppm")
      .orderBy("lang")
  }

  /** Cohen's kappa agreement between two deterministic labeling
    * heuristics (char-length >= 500 vs alpha-word-count >= 80) — the
    * annotator-agreement readout a curation pipeline uses to decide
    * whether a cheap filter can stand in for an expensive one. The 2×2
    * contingency table is ONE hash aggregate per language; kappa's
    * `(n·po − pe) / (n² − pe)` is exact long arithmetic (n² fits a long
    * through ~3e9 docs per language; beyond that the same counts feed the
    * chi2-style double-first form), emitted ppm via `div` — Spark's `div`
    * and DuckDB's `//` both truncate toward zero, so the signed quotient
    * is bit-exact cross-engine.
    */
  query("q_kappa",
      """WITH d AS (
        |  SELECT lang,
        |         CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS a,
        |         CASE WHEN len(regexp_extract_all(text, '[A-Za-z]+')) >= 80
        |              THEN 1 ELSE 0 END AS b
        |  FROM documents),
        |ct AS (
        |  SELECT lang,
        |         CAST(sum(a * b) AS BIGINT) AS n11,
        |         CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
        |         CAST(sum((1 - a) * b) AS BIGINT) AS n01,
        |         CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
        |  FROM d GROUP BY 1),
        |k AS (
        |  SELECT lang, n11, n10, n01, n00,
        |         n11 + n10 + n01 + n00 AS n,
        |         (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS pe_num
        |  FROM ct)
        |SELECT lang, n11, n10, n01, n00, n,
        |       (1000000 * (n * (n11 + n00) - pe_num)) // (n * n - pe_num)
        |         AS kappa_ppm
        |FROM k ORDER BY lang""".stripMargin) { (spark, dir) =>
    val d = t(spark, dir, "documents")
      .withColumn("a", (col("n_chars") >= 500).cast("long"))
      .withColumn("b",
        (size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))) >= 80)
          .cast("long"))
    d.groupBy("lang")
      .agg(sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
      .withColumn("n", expr("n11 + n10 + n01 + n00"))
      .withColumn("pe_num",
        expr("(n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)"))
      .withColumn("kappa_ppm",
        expr("(1000000 * (n * (n11 + n00) - pe_num)) div (n * n - pe_num)"))
      .select("lang", "n11", "n10", "n01", "n00", "n", "kappa_ppm")
      .orderBy("lang")
  }

  /** Lag-k autocorrelation (k = 1..3) of each event type's daily count
    * series — the seasonality/persistence screen next to `q_trend`'s
    * slope and `q_cusum`'s change point. Exact integer form: with
    * S = Σy and n = #days, `n·y_t − S = n·(y_t − μ)` never forms the
    * rational mean, so numerator Σ(n·y_t−S)(n·y_{t+k}−S) over lag pairs
    * and denominator Σ(n·y_t−S)² are exact longs and the signed ppm
    * ratio is bit-exact cross-engine (both engines truncate). Magnitude
    * bound (the `q_kappa` discipline): the readout's `1e6·num` needs
    * num ≲ 9.2e12, i.e. n·Σ(y−μ)(y'−μ) within long range — holds
    * comfortably for daily counts ≤ ~1e4 over ≤ ~1e3 days per type
    * (num ~ 1e3·1e3·1e8 = 1e14 worst-case is the wall; real
    * deviation products are far smaller), but a corpus with ~1e6+
    * daily counts needs the numerator rescaled before the ppm form.
    * Scale
    * shape: the 100 TB event log collapses to the (type × day) count
    * series in ONE map-side-combinable aggregate; the lag self-join runs
    * on that tiny series, keyed by integer day index so missing days
    * never misalign pairs.
    */
  query("q_acf",
      """WITH daily AS (
        |  SELECT event_type,
        |         epoch_us(date_trunc('day', ts)) // 86400000000 AS di,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(y) AS BIGINT) AS s
        |       FROM daily GROUP BY 1),
        |dev AS (
        |  SELECT d.event_type, d.di, st.n * d.y - st.s AS z
        |  FROM daily d JOIN st USING (event_type)),
        |den AS (SELECT event_type, max(n) AS n_days, CAST(sum(z * z) AS BIGINT) AS den
        |        FROM dev JOIN st USING (event_type) GROUP BY 1),
        |num AS (
        |  SELECT a.event_type, l.lag,
        |         CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(a.z * b.z) AS BIGINT) AS num
        |  FROM dev a
        |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag) l
        |  JOIN dev b ON b.event_type = a.event_type AND b.di = a.di + l.lag
        |  GROUP BY 1, 2)
        |SELECT num.event_type, CAST(num.lag AS BIGINT) AS lag, den.n_days,
        |       num.n_pairs, (1000000 * num.num) // den.den AS acf_ppm
        |FROM num JOIN den USING (event_type)
        |ORDER BY event_type, lag""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val daily = events(spark, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000").as("di"))
      .agg(count(lit(1)).as("y"))
    val stats = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("y").as("s"))
    val dev = daily.join(broadcast(stats), "event_type")
      .withColumn("z", col("n") * col("y") - col("s"))
    val den = dev.groupBy("event_type")
      .agg(max("n").as("n_days"), sum(col("z") * col("z")).as("den"))
    val lags = Seq(1L, 2L, 3L).toDF("lag")
    // rename-disambiguated self-join (same lineage on both sides)
    val shifted = dev.select(col("event_type").as("et2"), col("di").as("di2"),
      col("z").as("z2"))
    val num = dev.crossJoin(broadcast(lags))
      .join(shifted,
        col("event_type") === col("et2") && col("di") + col("lag") === col("di2"))
      .groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n_pairs"), sum(col("z") * col("z2")).as("num"))
    num.join(broadcast(den), "event_type")
      .withColumn("acf_ppm", expr("(1000000 * num) div den"))
      .select("event_type", "lag", "n_days", "n_pairs", "acf_ppm")
      .orderBy("event_type", "lag")
  }

  /** Mann–Whitney U between curation sources on document length — the
    * nonparametric "are these two sources drawn from the same length
    * distribution?" screen, read out as the exact rank-sum statistic and
    * its AUC form U/(n1·n2) (the probability a random src-A doc outranks
    * a random src-B doc). Everything stays integer by doubling: tied
    * values at combined-rank block (c, c+m] share average rank
    * (2c+m+1)/2, so 2·R1 = Σ m1·(2c+m+1) is an exact long and
    * 2·U1 = 2·R1 − n1(n1+1) ≥ 0.
    *
    * Scale shape: ranks come from the per-(source, value) COUNT
    * HISTOGRAM — the corpus is touched by ONE hash aggregate (the
    * histogram is lazily `localCheckpoint`ed, so the PairMatrix guard's
    * key job materializes it and both per-side joins reuse the pinned
    * result instead of re-scanning the corpus), the windows run over
    * distinct values per pair, and the pair expansion is
    * |pairs| × |distinct values|, never per-row. A fixed 5-source
    * probe set keeps the readout bounded; the pair frame comes from
    * [[graft.ops.PairMatrix]], whose maxPairs guard turns an unbounded
    * key set into a plan-time error instead of a quadratic job.
    */
  query("q_mann_whitney",
      """WITH hist AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS m
        |  FROM documents
        |  WHERE source IN ('src0','src1','src2','src3','src4')
        |  GROUP BY 1, 2),
        |prs AS (
        |  SELECT a.source AS s1, b.source AS s2
        |  FROM (SELECT DISTINCT source FROM hist) a,
        |       (SELECT DISTINCT source FROM hist) b
        |  WHERE a.source < b.source),
        |ph AS (
        |  SELECT s1, s2, n_chars, CAST(sum(m1) AS BIGINT) AS m1,
        |         CAST(sum(m2) AS BIGINT) AS m2
        |  FROM (
        |    SELECT p.s1, p.s2, h.n_chars, h.m AS m1, 0 AS m2
        |    FROM prs p JOIN hist h ON h.source = p.s1
        |    UNION ALL
        |    SELECT p.s1, p.s2, h.n_chars, 0, h.m
        |    FROM prs p JOIN hist h ON h.source = p.s2)
        |  GROUP BY 1, 2, 3),
        |rk AS (
        |  SELECT s1, s2, m1, m2,
        |         2 * (sum(m1 + m2) OVER (PARTITION BY s1, s2 ORDER BY n_chars)
        |              - (m1 + m2)) + (m1 + m2) + 1 AS r2
        |  FROM ph),
        |ag AS (
        |  SELECT s1, s2, CAST(sum(m1) AS BIGINT) AS n1,
        |         CAST(sum(m2) AS BIGINT) AS n2,
        |         CAST(sum(m1 * r2) AS BIGINT) AS r1x2
        |  FROM rk GROUP BY 1, 2)
        |SELECT s1, s2, n1, n2, r1x2 - n1 * (n1 + 1) AS u1x2,
        |       (1000000 * (r1x2 - n1 * (n1 + 1))) // (2 * n1 * n2) AS auc_ppm
        |FROM ag ORDER BY s1, s2""".stripMargin) { (spark, dir) =>
    val probe = (0 to 4).map(i => s"src$i")
    val hist = t(spark, dir, "documents")
      .filter(col("source").isin(probe: _*))
      .groupBy("source", "n_chars").agg(count(lit(1)).as("m"))
      .localCheckpoint(eager = false)
    val prs = graft.ops.PairMatrix.orderedPairs(hist, "source")
    val h1 = prs.join(hist, col("s1") === col("source"))
      .select(col("s1"), col("s2"), col("n_chars"), col("m").as("m1"), lit(0L).as("m2"))
    val h2 = prs.join(hist, col("s2") === col("source"))
      .select(col("s1"), col("s2"), col("n_chars"), lit(0L).as("m1"), col("m").as("m2"))
    val ph = h1.union(h2).groupBy("s1", "s2", "n_chars")
      .agg(sum("m1").as("m1"), sum("m2").as("m2"))
    val w = Window.partitionBy("s1", "s2").orderBy("n_chars")
    val ranked = ph
      .withColumn("m", col("m1") + col("m2"))
      .withColumn("c", sum("m").over(w) - col("m"))
      .withColumn("r2", lit(2L) * col("c") + col("m") + 1)
    ranked.groupBy("s1", "s2")
      .agg(sum("m1").as("n1"), sum("m2").as("n2"),
        sum(col("m1") * col("r2")).as("r1x2"))
      .withColumn("u1x2", expr("r1x2 - n1 * (n1 + 1)"))
      .withColumn("auc_ppm", expr("(1000000 * u1x2) div (2 * n1 * n2)"))
      .select("s1", "s2", "n1", "n2", "u1x2", "auc_ppm")
      .orderBy("s1", "s2")
  }

  /** Two-sample Kolmogorov–Smirnov distance between the src0/src1
    * document-length distributions — the distribution-drift screen next
    * to `q_mann_whitney`'s location test, from the same per-(source,
    * value) COUNT HISTOGRAM: at each distinct value, the scaled ECDF gap
    * `|cum1·n2 − cum2·n1|` is an exact long (D = max/( n1·n2)), so the
    * statistic, its ppm form, and the argmin value attaining it are all
    * bit-exact. One corpus hash aggregate; windows over distinct values
    * only.
    */
  query("q_ks_test",
      """WITH h AS (
        |  SELECT n_chars,
        |         CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS m1,
        |         CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS m2
        |  FROM documents WHERE source IN ('src0', 'src1')
        |  GROUP BY 1),
        |c AS (
        |  SELECT n_chars,
        |         CAST(sum(m1) OVER (ORDER BY n_chars) AS BIGINT) AS cum1,
        |         CAST(sum(m2) OVER (ORDER BY n_chars) AS BIGINT) AS cum2,
        |         CAST((SELECT sum(m1) FROM h) AS BIGINT) AS n1,
        |         CAST((SELECT sum(m2) FROM h) AS BIGINT) AS n2
        |  FROM h),
        |g AS (SELECT *, abs(cum1 * n2 - cum2 * n1) AS gap FROM c),
        |mx AS (SELECT max(gap) AS d_scaled FROM g)
        |SELECT max(g.n1) AS n1, max(g.n2) AS n2,
        |       max(mx.d_scaled) AS d_scaled,
        |       (1000000 * max(mx.d_scaled)) // (max(g.n1) * max(g.n2))
        |         AS d_ppm,
        |       min(CASE WHEN g.gap = mx.d_scaled THEN g.n_chars END)
        |         AS at_value
        |FROM g, mx""".stripMargin) { (spark, dir) =>
    val hist = t(spark, dir, "documents")
      .filter(col("source").isin("src0", "src1"))
      .groupBy("n_chars")
      .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("m1"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("m2"))
    val w = Window.orderBy("n_chars")
    val cum = hist
      .withColumn("cum1", sum("m1").over(w))
      .withColumn("cum2", sum("m2").over(w))
      .crossJoin(broadcast(hist.agg(sum("m1").as("n1"), sum("m2").as("n2"))))
      .withColumn("gap", abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
    val mx = cum.agg(max("gap").as("d_scaled"))
    cum.crossJoin(broadcast(mx))
      .agg(max("n1").as("n1"), max("n2").as("n2"),
        max("d_scaled").as("d_scaled"),
        min(when(col("gap") === col("d_scaled"), col("n_chars"))).as("at_value"))
      .withColumn("d_ppm", expr("(1000000 * d_scaled) div (n1 * n2)"))
      .select("n1", "n2", "d_scaled", "d_ppm", "at_value")
  }

  /** Theil–Sen robust trend: the MEDIAN of all pairwise slopes of each
    * event type's daily count series — the outlier-immune complement to
    * `q_trend`'s least squares. Slopes quantize to exact integer
    * micro-units (`1e6·Δy div Δx`, truncation — the deterministic spec
    * both engines share), and the median is the explicit ceil(n/2)-th
    * rank on the per-type slope COUNT HISTOGRAM (the winsorize cut —
    * no per-row sort). Pair generation is the bounded (type × day)
    * frame self-joined — days², never the event log.
    */
  query("q_theil_sen",
      """WITH daily AS (
        |  SELECT event_type,
        |         epoch_us(date_trunc('day', ts)) // 86400000000 AS di,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |sl AS (
        |  SELECT a.event_type,
        |         (1000000 * (b.y - a.y)) // (b.di - a.di) AS s_u
        |  FROM daily a JOIN daily b
        |    ON b.event_type = a.event_type AND a.di < b.di),
        |h AS (SELECT event_type, s_u, CAST(count(*) AS BIGINT) AS m
        |      FROM sl GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, s_u,
        |         CAST(sum(m) OVER (PARTITION BY event_type ORDER BY s_u)
        |              AS BIGINT) AS cum,
        |         CAST(sum(m) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM h)
        |SELECT event_type, max(n) AS n_pairs,
        |       min(CASE WHEN cum >= (n + 1) // 2 THEN s_u END)
        |         AS median_slope_u
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val daily = events(spark, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000").as("di"))
      .agg(count(lit(1)).as("y"))
      .localCheckpoint(true) // both sides of the pair join
    val a = daily.select(col("event_type"), col("di").as("d1"), col("y").as("y1"))
    val b = daily.select(col("event_type").as("et2"), col("di").as("d2"),
      col("y").as("y2"))
    val slopes = a.join(b, col("event_type") === col("et2") && col("d1") < col("d2"))
      .withColumn("s_u", expr("(1000000 * (y2 - y1)) div (d2 - d1)"))
    val hist = slopes.groupBy("event_type", "s_u").agg(count(lit(1)).as("m"))
    val wv = Window.partitionBy("event_type").orderBy("s_u")
    hist
      .withColumn("cum", sum("m").over(wv))
      .withColumn("n", sum("m").over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(max("n").as("n_pairs"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("s_u")))
          .as("median_slope_u"))
      .orderBy("event_type")
  }

  /** Conditional entropy of the next event type given the current one —
    * the sequence-predictability readout over `q_markov`'s transition
    * matrix, in the repo's exact integer-log arithmetic: each transition
    * cell contributes `c·(L(r) − L(c))` micro-nats with the shared
    * [[graft.functions.ScaledLn]], long-summed per state and divided by
    * the state's row total. One window pass builds transitions; the
    * |types|²-bounded cell frame does the rest.
    */
  query("q_entropy_rate",
      """WITH s AS (
        |  SELECT user_id, event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |tr AS (SELECT event_type AS cur, nxt, CAST(count(*) AS BIGINT) AS c
        |       FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT cur, CAST(sum(c) AS BIGINT) AS r FROM tr GROUP BY 1),
        |cells AS (
        |  SELECT tr.cur,
        |         tr.c * (CAST(floor(ln(r.r) * 1000000 + 0.5) AS BIGINT)
        |               - CAST(floor(ln(tr.c) * 1000000 + 0.5) AS BIGINT))
        |           AS contrib,
        |         r.r
        |  FROM tr JOIN r ON r.cur = tr.cur)
        |SELECT cur, max(r) AS n_transitions, count(*) AS n_next_types,
        |       CAST(sum(contrib) AS BIGINT) // max(r) AS h_cond_micro
        |FROM cells GROUP BY cur ORDER BY cur""".stripMargin) { (spark, dir) =>
    import graft.functions.ScaledLn
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tr = events(spark, dir)
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("c"))
    val row = tr.groupBy("cur").agg(sum("c").as("r"))
    tr.join(broadcast(row), "cur")
      .withColumn("contrib",
        col("c") * (ScaledLn.column(col("r")) - ScaledLn.column(col("c"))))
      .groupBy("cur")
      .agg(max("r").as("n_transitions"), count(lit(1)).as("n_next_types"),
        expr("sum(contrib) div max(r)").as("h_cond_micro"))
      .orderBy("cur")
  }

  /** Pipeline freshness report: how far each event type lags the
    * corpus watermark (global max ts) — the staleness screen an ingest
    * pipeline alarms on. Lags quantize to whole minutes (bounded
    * distinct values), then p50/p95 are EXPLICIT ceil(q·n)-th ranks on
    * the per-(type, lag) COUNT HISTOGRAM — the `q_winsorize` bound
    * pattern; the corpus is touched by one hash aggregate and the
    * windows run over distinct lag values per type.
    */
  query("q_freshness",
      """WITH g AS (SELECT max(epoch_us(ts)) AS gm FROM events),
        |h AS (
        |  SELECT event_type, (g.gm - epoch_us(ts)) // 60000000 AS lag_min,
        |         CAST(count(*) AS BIGINT) AS m
        |  FROM events, g GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, lag_min,
        |         CAST(sum(m) OVER (PARTITION BY event_type
        |           ORDER BY lag_min) AS BIGINT) AS cum,
        |         CAST(sum(m) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM h)
        |SELECT event_type, max(n) AS n,
        |       min(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT)
        |           THEN lag_min END) AS p50_lag_min,
        |       min(CASE WHEN cum >= CAST(ceil(0.95 * n) AS BIGINT)
        |           THEN lag_min END) AS p95_lag_min,
        |       max(lag_min) AS max_lag_min
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val ev = events(spark, dir)
    val gmax = ev.agg(max(unix_micros(col("ts"))).as("gm"))
    val hist = ev.crossJoin(broadcast(gmax))
      .withColumn("lag_min", expr("(gm - unix_micros(ts)) div 60000000"))
      .groupBy("event_type", "lag_min").agg(count(lit(1)).as("m"))
    val wv = Window.partitionBy("event_type").orderBy("lag_min")
    val cum = hist
      .withColumn("cum", sum("m").over(wv))
      .withColumn("n", sum("m").over(Window.partitionBy("event_type")))
    cum.groupBy("event_type")
      .agg(max("n").as("n"),
        min(when(col("cum") >= expr("cast(ceil(0.5 * n) as bigint)"),
          col("lag_min"))).as("p50_lag_min"),
        min(when(col("cum") >= expr("cast(ceil(0.95 * n) as bigint)"),
          col("lag_min"))).as("p95_lag_min"),
        max("lag_min").as("max_lag_min"))
      .orderBy("event_type")
  }

  /** Pearson correlation matrix over the lineitem numerics — the
    * column-profiling readout Spark's builtin `corr()` cannot serve
    * deterministically (Welford accumulation is partition-order-
    * dependent): quantize each column once (dollars / basis points —
    * the binding column is price at ~1e5 dollars, whose Σy² grows
    * ~1e10 per row, so every moment stays an exact long through
    * ~1e9 rows; quantize price more coarsely past that), accumulate all
    * nine moments in ONE map-side-combinable aggregate, then form each
    * `r` double-first (`q_chi2` discipline) with the one correctly-
    * rounded sqrt. Wide single-row readout, milli-scaled.
    */
  query("q_corr_matrix",
      """WITH l AS (
        |  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
        |         CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y,
        |         CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS z
        |  FROM lineitem),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |             CAST(sum(z) AS BIGINT) AS sz,
        |             CAST(sum(x * x) AS BIGINT) AS sxx,
        |             CAST(sum(y * y) AS BIGINT) AS syy,
        |             CAST(sum(z * z) AS BIGINT) AS szz,
        |             CAST(sum(x * y) AS BIGINT) AS sxy,
        |             CAST(sum(x * z) AS BIGINT) AS sxz,
        |             CAST(sum(y * z) AS BIGINT) AS syz
        |      FROM l)
        |SELECT n,
        |       CAST(floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |         * 1000.0 / sqrt((CAST(n AS DOUBLE) * sxx
        |                          - CAST(sx AS DOUBLE) * sx)
        |                       * (CAST(n AS DOUBLE) * syy
        |                          - CAST(sy AS DOUBLE) * sy))) AS BIGINT)
        |         AS r_qty_price_milli,
        |       CAST(floor((CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
        |         * 1000.0 / sqrt((CAST(n AS DOUBLE) * sxx
        |                          - CAST(sx AS DOUBLE) * sx)
        |                       * (CAST(n AS DOUBLE) * szz
        |                          - CAST(sz AS DOUBLE) * sz))) AS BIGINT)
        |         AS r_qty_disc_milli,
        |       CAST(floor((CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
        |         * 1000.0 / sqrt((CAST(n AS DOUBLE) * syy
        |                          - CAST(sy AS DOUBLE) * sy)
        |                       * (CAST(n AS DOUBLE) * szz
        |                          - CAST(sz AS DOUBLE) * sz))) AS BIGINT)
        |         AS r_price_disc_milli
        |FROM m""".stripMargin) { (spark, dir) =>
    val l = t(spark, dir, "lineitem")
      .withColumn("x", floor(col("l_quantity") + lit(0.5)).cast("long"))
      .withColumn("y", floor(col("l_extendedprice") + lit(0.5)).cast("long"))
      .withColumn("z", floor(col("l_discount") * 10000 + lit(0.5)).cast("long"))
    val m = l.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum(col("z") * col("z")).as("szz"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("z")).as("sxz"), sum(col("y") * col("z")).as("syz"))
    def rMilli(sa: String, sb: String, sab: String, saa: String, sbb: String) =
      floor((col("n").cast("double") * col(sab) -
        col(sa).cast("double") * col(sb)) * lit(1000.0) /
        sqrt((col("n").cast("double") * col(saa) -
          col(sa).cast("double") * col(sa)) *
          (col("n").cast("double") * col(sbb) -
            col(sb).cast("double") * col(sb)))).cast("long")
    m.select(col("n"),
      rMilli("sx", "sy", "sxy", "sxx", "syy").as("r_qty_price_milli"),
      rMilli("sx", "sz", "sxz", "sxx", "szz").as("r_qty_disc_milli"),
      rMilli("sy", "sz", "syz", "syy", "szz").as("r_price_disc_milli"))
  }

  /** A/B experiment readout: user-level conversion (any purchase among
    * users with any click) compared across two deterministic cohorts
    * (user_id parity — the hash-split stand-in), with lift and the
    * two-proportion chi-square statistic. Counts reduce to ONE per-user
    * aggregate + one 4-cell rollup; the statistic follows the `q_chi2`
    * double-first discipline (n·(x1·n2 − x2·n1)² / (n1·n2·x·(n−x)) in
    * milli-units — identical IEEE sequence both engines, no long wrap at
    * any cohort size). The experimentation-analytics staple.
    */
  query("q_ab_test",
      """WITH u AS (
        |  SELECT user_id, user_id % 2 AS cohort,
        |         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |           AS clicked,
        |         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS purchased
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(purchased) AS BIGINT) AS x
        |      FROM u WHERE clicked = 1 GROUP BY 1),
        |w AS (SELECT
        |        CAST(sum(CASE WHEN cohort = 0 THEN n END) AS BIGINT) AS n1,
        |        CAST(sum(CASE WHEN cohort = 0 THEN x END) AS BIGINT) AS x1,
        |        CAST(sum(CASE WHEN cohort = 1 THEN n END) AS BIGINT) AS n2,
        |        CAST(sum(CASE WHEN cohort = 1 THEN x END) AS BIGINT) AS x2
        |      FROM c)
        |SELECT n1, x1, n2, x2,
        |       (1000000 * x1) // n1 AS conv1_ppm,
        |       (1000000 * x2) // n2 AS conv2_ppm,
        |       CASE WHEN x1 > 0
        |            THEN (1000000 * (x2 * n1 - x1 * n2)) // (x1 * n2) END
        |         AS lift_ppm,
        |       CASE WHEN x1 + x2 > 0 AND n1 + n2 - x1 - x2 > 0
        |            THEN CAST(floor(
        |              (CAST(n1 + n2 AS DOUBLE) *
        |               (CAST(x1 AS DOUBLE) * n2 - CAST(x2 AS DOUBLE) * n1) *
        |               (CAST(x1 AS DOUBLE) * n2 - CAST(x2 AS DOUBLE) * n1))
        |              * 1000.0 /
        |              (CAST(n1 AS DOUBLE) * n2 * (x1 + x2)
        |               * (n1 + n2 - x1 - x2))) AS BIGINT) END AS chi2_milli
        |FROM w""".stripMargin) { (spark, dir) =>
    val users = events(spark, dir)
      .groupBy(col("user_id"), pmod(col("user_id"), lit(2)).as("cohort"))
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicked"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchased"))
      .filter(col("clicked") === 1L)
    val cells = users.groupBy("cohort")
      .agg(count(lit(1)).as("n"), sum("purchased").as("x"))
    val wide = cells.agg(
      sum(when(col("cohort") === 0, col("n"))).as("n1"),
      sum(when(col("cohort") === 0, col("x"))).as("x1"),
      sum(when(col("cohort") === 1, col("n"))).as("n2"),
      sum(when(col("cohort") === 1, col("x"))).as("x2"))
    wide
      .withColumn("conv1_ppm", expr("(1000000 * x1) div n1"))
      .withColumn("conv2_ppm", expr("(1000000 * x2) div n2"))
      .withColumn("lift_ppm",
        when(col("x1") > 0,
          expr("(1000000 * (x2 * n1 - x1 * n2)) div (x1 * n2)")))
      .withColumn("chi2_milli",
        when(col("x1") + col("x2") > 0 &&
          col("n1") + col("n2") - col("x1") - col("x2") > 0,
          floor(((col("n1") + col("n2")).cast("double") *
            (col("x1").cast("double") * col("n2") - col("x2").cast("double") * col("n1")) *
            (col("x1").cast("double") * col("n2") - col("x2").cast("double") * col("n1"))) *
            lit(1000.0) /
            (col("n1").cast("double") * col("n2") * (col("x1") + col("x2")) *
              (col("n1") + col("n2") - col("x1") - col("x2")))).cast("long")))
  }

  /** Inter-arrival burstiness per event type: the squared coefficient of
    * variation of whole-second gaps between consecutive events — CV² = 1
    * is Poisson, above is bursty, below is regular (the dimensionless
    * load-model readout next to `q_peak_concurrency`). Gaps come from one
    * lead() window over (ts, event_id) — the `q_window_lag` shape, an
    * external sort at scale — then CV² reads off the exact long moments
    * (n, Σd, Σd²). The ppm readout follows the `q_chi2` discipline:
    * `n·Q` and `S²` are formed DOUBLE-FIRST (1e6·n²·var would wrap a
    * long two orders of magnitude before the double envelope matters),
    * identical multiply-subtract-multiply-divide-floor sequence on both
    * engines — bit-exact at any scale.
    */
  query("q_burstiness",
      """WITH g AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |         lead(epoch_us(ts)) OVER (PARTITION BY event_type
        |           ORDER BY ts, event_id) AS next_us
        |  FROM events),
        |d AS (SELECT event_type, (next_us - us) // 1000000 AS d
        |      FROM g WHERE next_us IS NOT NULL),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |             CAST(sum(d) AS BIGINT) AS s, CAST(sum(d * d) AS BIGINT) AS q
        |      FROM d GROUP BY 1)
        |SELECT event_type, n_gaps, s, s // n_gaps AS mean_gap_s,
        |       CAST(floor((CAST(n_gaps AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
        |                  * 1000000.0 / (CAST(s AS DOUBLE) * s)) AS BIGINT)
        |         AS cv2_ppm
        |FROM m ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
    val gaps = events(spark, dir)
      .withColumn("next_us", lead(unix_micros(col("ts")), 1).over(w))
      .filter(col("next_us").isNotNull)
      .withColumn("d", expr("(next_us - unix_micros(ts)) div 1000000"))
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), sum("d").as("s"),
        sum(col("d") * col("d")).as("q"))
      .withColumn("cv2_ppm",
        floor((col("n_gaps").cast("double") * col("q") -
          col("s").cast("double") * col("s")) * lit(1000000.0) /
          (col("s").cast("double") * col("s"))).cast("long"))
      .withColumn("mean_gap_s", expr("s div n_gaps"))
      .select("event_type", "n_gaps", "s", "mean_gap_s", "cv2_ppm")
      .orderBy("event_type")
  }

  /** Peak concurrency (max simultaneous intervals) per event type — the
    * +1/−1 sweep with a running sum, the operational twin of
    * `q_interval_coverage`'s union length. Each event carries a service
    * interval [ts, ts + k seconds) (k from its JSON props; END EXCLUSIVE,
    * pinned by ordering end markers BEFORE start markers at equal
    * timestamps). The sweep is one window pass per type over 2 rows per
    * interval; the readout is the peak and the first instant it is
    * reached — all integer microseconds. Runs the BUCKETIZED
    * decomposition ([[graft.ops.IntervalCoverage.peakConcurrency]]:
    * clipped pieces preserve every instant's active count, so per-bucket
    * peaks max/min-combine exactly) — windows partition by
    * (type, bucket), never a global per-type sort; the oracle runs the
    * textbook single sweep, certifying the decomposition end-to-end.
    */
  query("q_peak_concurrency",
      """WITH iv AS (
        |  SELECT event_type, epoch_us(ts) AS s,
        |         epoch_us(ts) + CAST(json_extract_string(props, '$.k') AS BIGINT)
        |           * 1000000 AS e
        |  FROM events
        |  WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 0),
        |marks AS (
        |  SELECT event_type, s AS t, CAST(1 AS BIGINT) AS d FROM iv
        |  UNION ALL
        |  SELECT event_type, e AS t, CAST(-1 AS BIGINT) AS d FROM iv),
        |sw AS (
        |  SELECT event_type, t,
        |         CAST(sum(d) OVER (PARTITION BY event_type ORDER BY t, d)
        |           AS BIGINT) AS cur
        |  FROM marks),
        |pk AS (SELECT event_type, max(cur) AS peak FROM sw GROUP BY 1)
        |SELECT sw.event_type, max(pk.peak) AS peak, min(sw.t) AS peak_at_us
        |FROM sw JOIN pk ON sw.event_type = pk.event_type AND sw.cur = pk.peak
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    // materialize the narrow (type, ts0, ts1) frame ONCE: the auto-bucket
    // p90 probe and the sweep are two full passes, and each would
    // re-execute the JSON k-extraction over the whole events table — the
    // parse dominates, not the sweep (guide §3.3: materialize a reused
    // intermediate; the parsed frame is 3 narrow columns, a fraction of
    // the raw props strings it replaces)
    val iv = events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .filter(col("k").isNotNull && col("k") > 0)
      .select(col("event_type"), col("ts").as("ts0"),
        timestamp_micros(unix_micros(col("ts")) + col("k") * 1000000L).as("ts1"))
      .localCheckpoint(true)
    graft.ops.IntervalCoverage
      .peakConcurrencyAutoBucket(iv, Seq("event_type"), "ts0", "ts1")
      .orderBy("event_type")
  }

  /** Cross-source quantile normalization — the score-calibration step
    * that makes per-source quality scores comparable before mixing: each
    * source's value at within-source rank r maps to the GLOBAL value at
    * rank ceil(r·n_g/n_s), all in exact integer arithmetic
    * (`(r·n_g + n_s − 1) div n_s` is ceiling division for positive ints).
    * The mapping join is an equi-join on the target rank. The exact
    * global rank is a full sort at 100 TB — production would swap in
    * approx_percentile bin edges (envelope-graded in
    * `q_approx_percentile`); this query pins the exact semantics.
    */
  query("q_quantile_norm",
      """WITH d AS (SELECT source, doc_id, n_chars FROM documents),
        |r AS (SELECT source, doc_id, n_chars,
        |             CAST(row_number() OVER (PARTITION BY source
        |               ORDER BY n_chars, doc_id) AS BIGINT) AS r,
        |             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns
        |      FROM d),
        |g AS (SELECT CAST(row_number() OVER (ORDER BY n_chars, doc_id)
        |               AS BIGINT) AS j,
        |             n_chars AS gval
        |      FROM d),
        |ng AS (SELECT CAST(count(*) AS BIGINT) AS ng FROM d),
        |m AS (SELECT r.source, r.n_chars, g.gval
        |      FROM r CROSS JOIN ng
        |      JOIN g ON g.j = (r.r * ng.ng + r.ns - 1) // r.ns)
        |SELECT source, count(*) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_raw,
        |       CAST(sum(gval) AS BIGINT) AS sum_norm,
        |       min(gval) AS min_norm, max(gval) AS max_norm
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
    val bySource = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    val ranked = docs
      .withColumn("r", row_number().over(bySource).cast("long"))
      .withColumn("ns", count(lit(1)).over(Window.partitionBy("source")))
    val global = docs
      .withColumn("j", row_number().over(
        Window.orderBy(col("n_chars"), col("doc_id"))).cast("long"))
      .select(col("j"), col("n_chars").as("gval"))
    val ng = global.select(count(lit(1)).as("ng"))
    ranked.crossJoin(broadcast(ng))
      .withColumn("j", expr("(r * ng + ns - 1) div ns"))
      .join(global, "j")
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_raw"),
        sum("gval").as("sum_norm"), min("gval").as("min_norm"),
        max("gval").as("max_norm"))
      .orderBy("source")
  }

  /** Mergeable histogram quantiles — the percentile-monitoring analogue
    * of `q_hll_sketch_union`: integer log2 buckets (floor(log2(cents)) =
    * bit length - 1, exact in any engine) are counted PER INGEST SHARD,
    * shard histograms merge by plain summation (never re-scanning rows),
    * and p50 is located by cumulative bucket mass. Graded exactly: the
    * oracle re-derives the bucket arithmetic AND the true median
    * (half-integer, x2 to an integer) — no envelope needed because every
    * step is integer-exact.
    */
  query("q_value_histogram",
      """WITH ev AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |b AS (SELECT event_type, length(bin(cents)) - 1 AS bkt FROM ev),
        |h AS (SELECT event_type, bkt, count(*) AS n FROM b GROUP BY 1, 2),
        |c AS (SELECT event_type, bkt, n,
        |             sum(n) OVER (PARTITION BY event_type ORDER BY bkt) AS cumn,
        |             sum(n) OVER (PARTITION BY event_type) AS tot
        |      FROM h),
        |p AS (SELECT event_type, CAST(min(bkt) AS BIGINT) AS p50_bucket
        |      FROM c WHERE cumn * 2 >= tot GROUP BY 1),
        |m AS (SELECT event_type, count(*) AS n,
        |             CAST(quantile_cont(cents, 0.5) * 2 AS BIGINT) AS med2
        |      FROM ev GROUP BY 1)
        |SELECT m.event_type, m.n, p.p50_bucket, m.med2,
        |       (m.med2 >= (CAST(1 AS BIGINT) << (p.p50_bucket + 1)) AND
        |        m.med2 <  (CAST(1 AS BIGINT) << (p.p50_bucket + 2))) AS median_in_bucket
        |FROM m JOIN p ON m.event_type = p.event_type
        |ORDER BY m.event_type""".stripMargin) { (spark, dir) =>
    val ev = events(spark, dir)
      .withColumn("cents", expr("cast(floor(value * 100 + 0.5) as bigint)"))
      .withColumn("bkt", (length(expr("bin(cents)")) - 1).cast("long"))
    val perShard = ev
      .groupBy(col("event_type"), pmod(col("user_id"), lit(8)).as("shard"), col("bkt"))
      .agg(count(lit(1)).as("n"))
    val merged = perShard.groupBy("event_type", "bkt").agg(sum("n").as("n"))
    val w = Window.partitionBy("event_type").orderBy("bkt")
    val p50b = merged
      .withColumn("cumn", sum("n").over(w))
      .withColumn("tot", sum("n").over(Window.partitionBy("event_type")))
      .filter(col("cumn") * 2 >= col("tot"))
      .groupBy("event_type").agg(min("bkt").as("p50_bucket"))
    val med = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (expr("percentile(cents, 0.5d)") * 2).cast("long").as("med2"))
    med.join(broadcast(p50b), "event_type")
      .withColumn("median_in_bucket",
        col("med2") >= expr("shiftleft(cast(1 as bigint), cast(p50_bucket as int) + 1)") &&
          col("med2") < expr("shiftleft(cast(1 as bigint), cast(p50_bucket as int) + 2)"))
      .select("event_type", "n", "p50_bucket", "med2", "median_in_bucket")
      .orderBy("event_type")
  }
}
