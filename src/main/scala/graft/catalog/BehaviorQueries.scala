package graft
package catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QuerySupport._

/** Event-log behaviour queries (SURVEY.md §2B): funnels, cohorts,
  * attribution, click paths and sequential-pattern mining.
  */
private[graft] object BehaviorQueries extends QueryFamily {

  /** Deterministic pseudonymization (PII-safe export, the tokenization
    * sibling of `q_pii_redact`'s destructive redaction): identities are
    * replaced by `md5(salt ':' id)` prefixes — the cross-engine
    * pseudo-random contract [[Sampling]] already pins — and the readout
    * PROVES referential integrity survives: events joined to the order
    * side ON THE PSEUDONYM reproduce exactly the raw-key join. Pure
    * scan-side projection (no shuffle added beyond the join being
    * audited); salt rotation = new pseudonym universe.
    */
  query("q_pseudonymize",
      """WITH ev AS (
        |  SELECT substr(md5('s9:' || CAST(user_id AS VARCHAR)), 1, 16) AS p,
        |         event_type
        |  FROM events),
        |cust AS (
        |  SELECT DISTINCT substr(md5('s9:' || CAST(o_custkey AS VARCHAR)), 1, 16) AS p
        |  FROM orders)
        |SELECT event_type, count(*) AS n_matched,
        |       count(DISTINCT ev.p) AS n_pseudonyms
        |FROM ev JOIN cust ON ev.p = cust.p
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    def pseudo(c: org.apache.spark.sql.Column) =
      substring(md5(concat(lit("s9:"), c.cast("string")).cast("binary")), 1, 16)
    val ev = events(spark, dir)
      .select(pseudo(col("user_id")).as("p"), col("event_type"))
    val cust = t(spark, dir, "orders")
      .select(pseudo(col("o_custkey")).as("p")).distinct()
    ev.join(cust, "p")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_matched"),
        countDistinct(col("p")).as("n_pseudonyms"))
      .orderBy("event_type")
  }

  /** Conversion funnel: each user's FIRST click, converted if a purchase
    * follows within 7 days, cohorted by first-click day. Two bounded
    * aggregates (one row per user) + one equi-join; the gap readout is
    * integer minutes (`div`), so every column is bit-exact cross-engine.
    */
  query("q_funnel",
      """WITH c AS (
        |  SELECT user_id, min(ts) AS c0 FROM events WHERE event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS p0
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND e.ts >= c.c0 AND e.ts <= c.c0 + INTERVAL 7 DAY
        |  GROUP BY 1)
        |SELECT CAST(CAST(c.c0 AS DATE) AS VARCHAR) AS cohort_day,
        |       count(*) AS n_clickers,
        |       CAST(sum(CASE WHEN p.p0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
        |       CAST(sum(CASE WHEN p.p0 IS NOT NULL
        |                THEN (epoch_us(p.p0) - epoch_us(c.c0)) // 60000000
        |                ELSE 0 END) AS BIGINT) AS sum_gap_min
        |FROM c LEFT JOIN p ON c.user_id = p.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val ev = events(spark, dir)
    val c = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min("ts").as("c0"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") >= col("c0") && col("ts") <= col("c0") + expr("INTERVAL 7 DAYS"))
      .groupBy(col("user_id")).agg(min("ts").as("p0"))
    c.join(p, Seq("user_id"), "left")
      .groupBy(to_date(col("c0")).cast("string").as("cohort_day"))
      .agg(count(lit(1)).as("n_clickers"),
        sum(when(col("p0").isNotNull, 1L).otherwise(0L)).as("n_converted"),
        sum(when(col("p0").isNotNull,
          expr("(unix_micros(p0) - unix_micros(c0)) div 60000000")).otherwise(0L))
          .as("sum_gap_min"))
      .orderBy("cohort_day")
  }

  /** Strict 3-step ordered funnel (click → view → purchase, each stage
    * strictly after the previous, conversion bounded to 7 days from the
    * first click) — the K-stage generalization of `q_funnel`. Each stage
    * is one bounded per-user aggregate (min event time after the previous
    * stage's time) chained by equi-joins on user — no window over the
    * event stream, no range join; the chain extends to any K with K
    * aggregates.
    */
  query("q_funnel3",
      """WITH c AS (
        |  SELECT user_id, min(ts) AS c0 FROM events
        |  WHERE event_type = 'click' GROUP BY 1),
        |v AS (
        |  SELECT e.user_id, min(e.ts) AS v0, min(c.c0) AS c0
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'view' AND e.ts > c.c0 GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS p0
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > v.v0
        |    AND e.ts <= v.c0 + INTERVAL 7 DAY
        |  GROUP BY 1)
        |SELECT CAST(CAST(c.c0 AS DATE) AS VARCHAR) AS cohort_day,
        |       count(*) AS n_clicked,
        |       CAST(sum(CASE WHEN v.v0 IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_viewed,
        |       CAST(sum(CASE WHEN p.p0 IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_converted
        |FROM c LEFT JOIN v ON c.user_id = v.user_id
        |       LEFT JOIN p ON c.user_id = p.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val ev = events(spark, dir)
    val c = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min("ts").as("c0"))
    val v = ev.filter(col("event_type") === "view")
      .join(c, "user_id").filter(col("ts") > col("c0"))
      .groupBy("user_id").agg(min("ts").as("v0"), min("c0").as("c0"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(v, "user_id")
      .filter(col("ts") > col("v0") && col("ts") <= col("c0") + expr("INTERVAL 7 DAYS"))
      .groupBy("user_id").agg(min("ts").as("p0"))
    c.join(v.select(col("user_id"), col("v0")), Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .groupBy(to_date(col("c0")).cast("string").as("cohort_day"))
      .agg(count(lit(1)).as("n_clicked"),
        sum(when(col("v0").isNotNull, 1L).otherwise(0L)).as("n_viewed"),
        sum(when(col("p0").isNotNull, 1L).otherwise(0L)).as("n_converted"))
      .orderBy("cohort_day")
  }

  /** Weekly cohort retention: users grouped by first-seen ISO week, the
    * classic wk+0..wk+3 active-user matrix. The distinct (user, week)
    * activity set is aggregated once; offsets are exact integer week
    * counts (both engines truncate weeks to Monday).
    */
  query("q_cohort_retention",
      """WITH a AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cw FROM a GROUP BY 1),
        |x AS (SELECT a.user_id, date_diff('day', f.cw, a.wk) // 7 AS off, f.cw
        |      FROM a JOIN f ON a.user_id = f.user_id)
        |SELECT CAST(CAST(cw AS DATE) AS VARCHAR) AS cohort_week,
        |       count(DISTINCT CASE WHEN off = 0 THEN user_id END) AS w0,
        |       count(DISTINCT CASE WHEN off = 1 THEN user_id END) AS w1,
        |       count(DISTINCT CASE WHEN off = 2 THEN user_id END) AS w2,
        |       count(DISTINCT CASE WHEN off = 3 THEN user_id END) AS w3
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val ev = events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val first = ev.groupBy("user_id").agg(min("wk").as("cw"))
    val act = ev.distinct().join(first, "user_id")
      .withColumn("off", expr("datediff(cast(wk as date), cast(cw as date)) div 7"))
    act.groupBy(col("cw").cast("date").cast("string").as("cohort_week"))
      .agg(countDistinct(when(col("off") === 0, col("user_id"))).as("w0"),
        countDistinct(when(col("off") === 1, col("user_id"))).as("w1"),
        countDistinct(when(col("off") === 2, col("user_id"))).as("w2"),
        countDistinct(when(col("off") === 3, col("user_id"))).as("w3"))
      .orderBy("cohort_week")
  }

  /** Frequent-itemset pairs (market-basket) over order baskets with the
    * A-priori prune: only brands whose single-item basket support clears
    * `minSupport` enter the pairing at all, so the within-basket self-join
    * explodes over surviving items only — the classic guard that keeps
    * pairwise mining from blowing up on a 100 TB basket table. The
    * frequent-item set is a bounded dimension (≤ distinct brands) and
    * broadcast; the pair join is a within-basket equi-join on the basket
    * key (never a cross join); lift is integer-exact ppm so both engines
    * hash identically.
    */
  query("q_itemsets",
      """WITH bi AS (
        |  SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM bi),
        |s AS (SELECT item, count(*) AS supp FROM bi GROUP BY 1),
        |f AS (SELECT s.item, s.supp FROM s CROSS JOIN nb
        |      WHERE s.supp * 200 >= nb.n_baskets),
        |fbi AS (SELECT bi.basket, bi.item FROM bi JOIN f USING (item)),
        |pr AS (
        |  SELECT a.item AS item_a, b.item AS item_b, count(*) AS pair_supp
        |  FROM fbi a JOIN fbi b ON a.basket = b.basket AND a.item < b.item
        |  GROUP BY 1, 2),
        |pf AS (SELECT pr.* FROM pr CROSS JOIN nb
        |       WHERE pr.pair_supp * 200 >= nb.n_baskets)
        |SELECT pf.item_a, pf.item_b, pf.pair_supp,
        |       sa.supp AS supp_a, sb.supp AS supp_b,
        |       (1000000 * pf.pair_supp) // sa.supp AS conf_ppm,
        |       (1000000 * nb.n_baskets * pf.pair_supp) // (sa.supp * sb.supp)
        |         AS lift_ppm
        |FROM pf JOIN f sa ON pf.item_a = sa.item
        |        JOIN f sb ON pf.item_b = sb.item
        |        CROSS JOIN nb
        |ORDER BY pf.pair_supp DESC, pf.item_a, pf.item_b LIMIT 20""".stripMargin) { (spark, dir) =>
    // distinct (basket, brand): basket = order, item = part brand.
    // Materialized ONCE (localCheckpoint): the basket count, the item
    // supports, and BOTH sides of the within-basket pair self-join reuse
    // this frame — unmaterialized, each branch re-derived the whole
    // lineitem⋈part⋈distinct subtree (the before plan scanned lineitem
    // and part 12x EACH; guide §3.3: materialise reused intermediates to
    // truncate the plan). At 100 TB this is the difference between one
    // pass over the fact table and twelve.
    val bi = t(spark, dir, "lineitem")
      .join(broadcast(t(spark, dir, "part")), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
      .distinct()
      .localCheckpoint(true)
    // RELATIVE support (0.5% of baskets): the threshold scales with the
    // data, so the same query is meaningful at sf0.001 and at 100 TB
    val nBaskets = bi.select(countDistinct("basket").as("n_baskets"))
    val itemSupp = bi.groupBy("item").agg(count(lit(1)).as("supp"))
    val frequent = itemSupp.crossJoin(broadcast(nBaskets)) // A-priori prune
      .filter(col("supp") * 200 >= col("n_baskets")).drop("n_baskets")
      .localCheckpoint(true) // ≤|brands| rows, reused by fbi (x2) and sa/sb
    val fbi = bi.join(broadcast(frequent.select("item")), "item")
    val pairs = fbi.as("a").join(fbi.as("b"), Seq("basket"))
      .filter(col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("pair_supp"))
      .crossJoin(broadcast(nBaskets))
      .filter(col("pair_supp") * 200 >= col("n_baskets")).drop("n_baskets")
    val sa = frequent.select(col("item").as("item_a"), col("supp").as("supp_a"))
    val sb = frequent.select(col("item").as("item_b"), col("supp").as("supp_b"))
    pairs.join(broadcast(sa), "item_a").join(broadcast(sb), "item_b")
      .crossJoin(broadcast(nBaskets))
      // lift = N*supp(ab)/(supp(a)*supp(b)); floor ppm = bit-exact readout
      .withColumn("lift_ppm",
        expr("(1000000 * n_baskets * pair_supp) div (supp_a * supp_b)"))
      .withColumn("conf_ppm", expr("(1000000 * pair_supp) div supp_a"))
      .select("item_a", "item_b", "pair_supp", "supp_a", "supp_b",
        "conf_ppm", "lift_ppm")
      .orderBy(col("pair_supp").desc, col("item_a"), col("item_b"))
      .limit(20)
  }

  /** First-order Markov transition matrix over each user's time-ordered
    * event stream: lag-1 pairs → transition counts → row-normalized
    * probabilities in integer ppm. One window pass (partitioned by user,
    * so state never exceeds a user's history) and one bounded aggregate
    * (|types|² rows) — the transition model of a 100 TB event log is a
    * 25-row readout.
    */
  query("q_markov",
      """WITH t AS (
        |  SELECT user_id, event_type AS cur,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev, cur, count(*) AS n
        |      FROM t WHERE prev IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT prev, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT c.prev, c.cur, c.n, rt.tot, (1000000 * c.n) // rt.tot AS p_ppm
        |FROM c JOIN rt ON c.prev = rt.prev
        |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = events(spark, dir)
      .withColumn("prev", lag("event_type", 1).over(byUser))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("cur"))
      .agg(count(lit(1)).as("n"))
    val rowTot = trans.groupBy("prev").agg(sum("n").as("tot"))
    trans.join(broadcast(rowTot), "prev")
      .withColumn("p_ppm", expr("(1000000 * n) div tot"))
      .select("prev", "cur", "n", "tot", "p_ppm")
      .orderBy("prev", "cur")
  }

  /** Blocked fuzzy matching (entity-resolution candidate pairs): distinct
    * part names paired ONLY within a shared-token block (last word), then
    * verified with exact Levenshtein ≤ 3. The block key turns an O(n²)
    * all-pairs into an equi-join — the standard blocking discipline; a
    * production run would add a per-block size cap exactly like
    * [[graft.ops.Dedup]]'s `maxBucketSize` (the vocabulary here is
    * bounded, so the cap would never fire). Levenshtein is integer-exact
    * and identically defined in Spark and DuckDB.
    */
  query("q_fuzzy_match",
      """WITH n AS (
        |  SELECT DISTINCT p_name, str_split(p_name, ' ')[-1] AS block FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.block = b.block AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val names = t(spark, dir, "part").select(col("p_name")).distinct()
      .withColumn("block", element_at(split(col("p_name"), " "), -1))
    names.as("a").join(names.as("b"), "block")
      .filter(col("a.p_name") < col("b.p_name"))
      .withColumn("dist", levenshtein(col("a.p_name"), col("b.p_name")))
      .filter(col("dist") <= 3)
      .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
        col("dist").cast("long").as("dist"))
      .orderBy("name_a", "name_b")
  }

  /** Last-touch attribution: each purchase credits the most recent
    * click or view by the same user strictly before it (7-day lookback)
    * — the event-analytics staple next to `q_funnel`. ONE per-user
    * window pass carries running last-click/last-view timestamps (the
    * `q_pattern_negation` idiom — no self-join, no range join); the
    * credited channel is pure timestamp arithmetic (later of the two
    * running maxes; an exact tie credits the view — documented
    * tie-break). Revenue rides along as exact micro-units.
    */
  query("q_attribution",
      """WITH x AS (
        |  SELECT user_id, event_id, event_type, ts, "value",
        |         max(CASE WHEN event_type = 'click' THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS last_click,
        |         max(CASE WHEN event_type = 'view' THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS last_view
        |  FROM events),
        |p AS (
        |  SELECT *, greatest(last_click, last_view) AS touch_ts,
        |         CASE WHEN last_view IS NOT NULL AND
        |                   (last_click IS NULL OR last_view >= last_click)
        |              THEN 'view' ELSE 'click' END AS channel
        |  FROM x WHERE event_type = 'purchase')
        |SELECT channel, count(*) AS n_purchases,
        |       CAST(sum(CAST(floor("value" * 1000000) AS BIGINT)) AS BIGINT)
        |         AS sum_value_u,
        |       count(DISTINCT user_id) AS n_users
        |FROM p
        |WHERE touch_ts IS NOT NULL AND ts <= touch_ts + INTERVAL 7 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = events(spark, dir)
      .withColumn("last_click",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .withColumn("last_view",
        max(when(col("event_type") === "view", col("ts"))).over(w))
    ev.filter(col("event_type") === "purchase")
      .withColumn("touch_ts", greatest(col("last_click"), col("last_view")))
      .filter(col("touch_ts").isNotNull &&
        col("ts") <= col("touch_ts") + expr("INTERVAL 7 DAYS"))
      .withColumn("channel",
        when(col("last_view").isNotNull &&
          (col("last_click").isNull || col("last_view") >= col("last_click")),
          "view").otherwise("click"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"),
        sum(floor(col("value") * 1000000).cast("long")).as("sum_value_u"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("channel")
  }

  /** Sequential-pattern support (the 2-sequence core of PrefixSpan-style
    * mining): for every ordered type pair ⟨a, b⟩, how many users have
    * SOME a-event strictly before SOME b-event — `min_ts(a) < max_ts(b)`
    * per user, so the corpus collapses to one (user × type) aggregate of
    * first/last timestamps and the pattern join runs on that bounded
    * frame (|types|² combos per user, never the event log). The
    * sequence-mining complement to `q_click_paths`' contiguous paths.
    */
  query("q_seq_patterns",
      """WITH per AS (
        |  SELECT user_id, event_type,
        |         min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM per),
        |p AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb,
        |         CAST(count(*) AS BIGINT) AS n_users
        |  FROM per a JOIN per b ON b.user_id = a.user_id
        |  WHERE a.event_type <> b.event_type AND a.first_us < b.last_us
        |  GROUP BY 1, 2)
        |SELECT ta, tb, n_users, (1000000 * n_users) // n.nu AS supp_ppm
        |FROM p, n
        |ORDER BY n_users DESC, ta, tb LIMIT 15""".stripMargin) { (spark, dir) =>
    val per = events(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .localCheckpoint(true) // read twice (both pattern sides)
    val nUsers = per.select("user_id").distinct().count()
    val a = per.select(col("user_id"), col("event_type").as("ta"), col("first_us"))
    val b = per.select(col("user_id"), col("event_type").as("tb"), col("last_us"))
    a.join(b, Seq("user_id"))
      .filter(col("ta") =!= col("tb") && col("first_us") < col("last_us"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("n_users"))
      .withColumn("supp_ppm", expr(s"(1000000 * n_users) div ${nUsers}L"))
      .orderBy(col("n_users").desc, col("ta"), col("tb"))
      .limit(15)
  }

  /** Clickstream path mining: the most-traveled 3-step event-type
    * sequences (per-user, time-ordered) with traversal and distinct-user
    * volume — the funnel-DISCOVERY complement to `q_funnel3`'s fixed
    * funnel. Two lead()s in ONE per-user window pass build every
    * consecutive triple (no self-joins, no per-user collects); the path
    * space is |types|³-bounded so the count aggregate is tiny, and the
    * top-k is a TakeOrdered with a path-string tie-break.
    */
  query("q_click_paths",
      """WITH s AS (
        |  SELECT user_id, event_type,
        |         lead(event_type, 1) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS e2,
        |         lead(event_type, 2) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS e3
        |  FROM events)
        |SELECT event_type || '>' || e2 || '>' || e3 AS path,
        |       count(*) AS n_traversals,
        |       count(DISTINCT user_id) AS n_users
        |FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n_traversals DESC, path LIMIT 15""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .withColumn("path",
        concat_ws(">", col("event_type"), col("e2"), col("e3")))
      .groupBy("path")
      .agg(count(lit(1)).as("n_traversals"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_traversals").desc, col("path").asc)
      .limit(15)
  }

  /** CEP pattern with NEGATION — "purchase preceded by a click within 7
    * days with NO error in between", the match-recognize shape funnels
    * can't express. ONE window pass per user (running last-click /
    * last-error timestamps over the (ts, event_id) total order) answers
    * both the positive and the negative condition — no self-join, no
    * range join; the only shuffle is the per-user partition. The
    * error-free predicate is `last_error <= last_click` (an error BEFORE
    * the click doesn't break the pattern; one between does).
    */
  query("q_pattern_negation",
      """WITH x AS (
        |  SELECT user_id, event_id, event_type, ts,
        |         max(CASE WHEN event_type = 'click' THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS last_click,
        |         max(CASE WHEN event_type = 'error' THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS last_error
        |  FROM events)
        |SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |       count(*) AS n_matched,
        |       CAST(sum(CASE WHEN last_error IS NULL OR last_error <= last_click
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
        |       CAST(sum(CASE WHEN last_error IS NULL OR last_error <= last_click
        |                THEN (epoch_us(ts) - epoch_us(last_click)) // 60000000
        |                ELSE 0 END) AS BIGINT) AS sum_gap_min
        |FROM x
        |WHERE event_type = 'purchase' AND last_click IS NOT NULL
        |  AND ts <= last_click + INTERVAL 7 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = events(spark, dir)
      .withColumn("last_click",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .withColumn("last_error",
        max(when(col("event_type") === "error", col("ts"))).over(w))
    ev.filter(col("event_type") === "purchase" && col("last_click").isNotNull &&
        col("ts") <= col("last_click") + expr("INTERVAL 7 DAYS"))
      .withColumn("clean",
        col("last_error").isNull || col("last_error") <= col("last_click"))
      .groupBy(to_date(col("ts")).cast("string").as("day"))
      .agg(count(lit(1)).as("n_matched"),
        sum(when(col("clean"), 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("clean"),
          expr("(unix_micros(ts) - unix_micros(last_click)) div 60000000"))
          .otherwise(0L)).as("sum_gap_min"))
      .orderBy("day")
  }

  /** Entity-resolution capstone: `q_fuzzy_match`'s blocked candidate pairs
    * fed through [[graft.ops.DupGroups.connectedComponents]] (alternating
    * large-star/small-star, lineage-cut rounds) into entity clusters with
    * a deterministic canonical representative (min part key per name).
    * Names with no fuzzy neighbor self-cluster via the left-join
    * `coalesce`. The same discipline that resolves duplicate metadata
    * records at 100 TB: block, verify, cluster, pick a survivor — no
    * stage is all-pairs and the cluster step is the audited CC operator.
    */
  query("q_entity_clusters",
      """WITH RECURSIVE names AS (
        |  SELECT p_name, CAST(min(p_partkey) AS BIGINT) AS nid
        |  FROM part GROUP BY 1),
        |p0 AS (
        |  SELECT a.nid AS ida, b.nid AS idb
        |  FROM names a JOIN names b
        |    ON str_split(a.p_name, ' ')[-1] = str_split(b.p_name, ' ')[-1]
        |   AND a.p_name < b.p_name
        |  WHERE levenshtein(a.p_name, b.p_name) <= 3),
        |edges AS (SELECT ida AS u, idb AS v FROM p0 UNION SELECT idb, ida FROM p0),
        |reach(node, lab) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
        |  WHERE r.lab < e.v),
        |comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY 1),
        |allc AS (
        |  SELECT n.nid AS node, coalesce(c.component, n.nid) AS component
        |  FROM names n LEFT JOIN comp c ON n.nid = c.node),
        |cl AS (SELECT component, count(*) AS cluster_size FROM allc GROUP BY 1)
        |SELECT r.p_name AS rep_name, cl.cluster_size,
        |       CAST(cl.component AS BIGINT) AS component
        |FROM cl JOIN names r ON cl.component = r.nid
        |ORDER BY 1""".stripMargin) { (spark, dir) =>
    val names = t(spark, dir, "part").groupBy("p_name")
      .agg(min("p_partkey").cast("long").as("nid"))
      .withColumn("block", element_at(split(col("p_name"), " "), -1))
    val pairs = names.as("a").join(names.as("b"), "block")
      .filter(col("a.p_name") < col("b.p_name") &&
        levenshtein(col("a.p_name"), col("b.p_name")) <= 3)
      .select(col("a.nid").as("u"), col("b.nid").as("v"))
    val comp = graft.ops.DupGroups.connectedComponents(pairs, "u", "v")
    val allc = names
      .join(comp.withColumnRenamed("node", "nid"), Seq("nid"), "left")
      .withColumn("component", coalesce(col("component"), col("nid")))
    val cl = allc.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    cl.join(names.select(col("nid").as("component"), col("p_name").as("rep_name")),
        "component")
      .select(col("rep_name"), col("cluster_size"),
        col("component").cast("long").as("component"))
      .orderBy("rep_name")
  }
}
