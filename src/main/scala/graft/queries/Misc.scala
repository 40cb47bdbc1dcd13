package graft.queries

import org.apache.spark.sql.functions._

import graft.{Oracle, Tables}
import graft.jql.Validator

/** Remaining oracle-checked operators: links GC (S12), JQL validation parity
  * (F7/F8), and event-time windowed aggregation (the batch twin of the
  * streaming `CdcStream.eventRates`).
  */
object Misc {

  /** S12: broken-link GC summary — dangling edges (dst has no issue) counted
    * per type and direction; the delete set of the reference's link cleanup
    * (reference: pkg/links/links.go:186-232 CleanupBrokenLinks).
    */
  private val linksGc = q("links_gc",
    Oracle.withIssuesAndLinks(
      """SELECT l.link_type, l.direction, count(*) AS n_broken
        |FROM links l LEFT JOIN issues i ON i.key = l.dst
        |WHERE i.key IS NULL
        |GROUP BY l.link_type, l.direction
        |ORDER BY l.link_type, l.direction""".stripMargin)) { (s, dir) =>
    Tables.links(s, dir)
      .join(Tables.issues(s, dir).select(col("key")),
        col("dst") === col("key"), "left_anti")
      .groupBy("link_type", "direction")
      .agg(count(lit(1)).as("n_broken"))
      .orderBy("link_type", "direction")
  }

  /** F7/F8: the validator's verdicts over a fixed corpus of queries drawn
    * from the reference's validation tests (reference: pkg/jql/builder_test.go,
    * pkg/jql/builder.go:267-341). The oracle is the expected literal table.
    */
  private val corpus: Seq[String] = Seq(
    """project = P1 AND status = "Done"""",
    """project = P1 AND""",
    """project = "unclosed""",
    """(project = P1""",
    """a = 1 OR a = 2 OR a = 3 OR a = 4""",
    """status in ("To Do", "Done") ORDER BY updated DESC""",
    """key in (issuesInEpic("E-7"))""",
    """summary ~ "x" AND AND type = Bug""")

  private val validate = {
    val expected = corpus.map { jql =>
      val r = Validator.validate(jql)
      (jql, r.valid, r.errors.length, r.warnings.length, r.suggestions.length)
    }
    val valuesSql = expected.map { case (j, v, e, w, s) =>
      s"('${j.replace("'", "''")}', $v, $e, $w, $s)"
    }.mkString(",\n  ")
    q("jql_validate",
      s"""SELECT * FROM (VALUES
         |  $valuesSql)
         |AS t(jql, valid, n_errors, n_warnings, n_suggestions)
         |ORDER BY jql""".stripMargin) { (s, dir) =>
      import s.implicits._
      // driver-side validation (it is a string linter), distributed as a tiny DF
      expected.toDF("jql", "valid", "n_errors", "n_warnings", "n_suggestions")
        .orderBy("jql")
    }
  }

  /** Tumbling event-time window aggregation — identical expression to the
    * streaming path (`CdcStream.eventRates`), run in batch for the oracle;
    * DuckDB's time_bucket is the same epoch-aligned window.
    */
  private val windowAgg = q("stream_window_agg",
    """SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
      |    '%Y-%m-%d %H:%M:%S') AS bucket_s,
      |  event_type, count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY bucket_s, event_type
      |ORDER BY bucket_s, event_type""".stripMargin) { (s, dir) =>
    graft.streaming.CdcStream.eventRates(Tables.events(s, dir))
      .orderBy("bucket_s", "event_type")
  }

  /** Session-window aggregation: per-user activity sessions split at 30-min
    * inactivity gaps — Spark's `session_window` (merging windows, usable in
    * batch AND streaming with a watermark), oracled by the classic
    * gaps-and-islands SQL (lag → new-session flag → running sum) in DuckDB.
    * Session end follows Spark's definition: last event + gap. The decimal
    * cast makes the per-session sum order-independent, like the tumbling
    * window twin.
    */
  private val sessionAgg = q("stream_session_agg",
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |m AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start_s,
      |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end_s,
      |  count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start_s""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start_s"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end_s"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start_s")
  }

  /** F1/F2/F12: key parsing — project extraction (multi-dash rule), epic-key
    * decomposition, and file-path → key recovery, round-tripped over the
    * issues table.
    */
  private val keyFuncs = q("key_functions",
    Oracle.withIssues(
      """SELECT key,
        |  regexp_extract(key, '^(.*)-[0-9]+$', 1) AS proj,
        |  regexp_extract(key, '-([0-9]+)$', 1)::INT AS num,
        |  regexp_extract('projects/' || regexp_extract(key, '^(.*)-[0-9]+$', 1)
        |      || '/issues/' || key || '.yaml',
        |    '([A-Z][A-Z0-9-]*-[0-9]+)\.yaml$', 1) AS key_from_path
        |FROM issues ORDER BY key LIMIT 1000""".stripMargin)) { (s, dir) =>
    import graft.functions.Keys
    Tables.issues(s, dir).select(col("key"),
        Keys.extractProjectKey(col("key")).as("proj"),
        Keys.parseEpicKey(col("key")).getField("number").as("num"),
        Keys.keyFromFilePath(concat(lit("projects/"),
          Keys.extractProjectKey(col("key")), lit("/issues/"), col("key"),
          lit(".yaml"))).as("key_from_path"))
      .orderBy("key").limit(1000)
  }

  /** S5: wire-format ingest round-trip — issues rendered to JIRA REST JSON
    * and parsed back through `from_json`; the oracle checks the surviving
    * projection against the source rows.
    */
  private val wireRoundtrip = q("ingest_wire_roundtrip",
    Oracle.withIssues(
      """SELECT key, project_key, summary, status_name, status_category,
        |  priority, issuetype,
        |  strftime(created, '%Y-%m-%d %H:%M:%S') AS created_s,
        |  coalesce(epic_link, '') AS epic_link,
        |  coalesce(parent_issue, '') AS parent_issue
        |FROM issues ORDER BY key LIMIT 2000""".stripMargin)) { (s, dir) =>
    import graft.sources.Ingest
    // the roundtrip is row-wise, so take the deterministic 2000-row slice
    // FIRST — the oracle's sort-then-limit over plain issues is unchanged,
    // and the engine renders/parses 2k JSON payloads instead of the table
    val slice = Tables.issues(s, dir).orderBy("key").limit(2000)
    Ingest.fromWire(Ingest.toWire(slice))
      .select(col("key"), col("project_key"), col("summary"), col("status_name"),
        col("status_category"), col("priority"), col("issuetype"),
        date_format(col("created"), "yyyy-MM-dd HH:mm:ss").as("created_s"),
        coalesce(col("epic_link"), lit("")).as("epic_link"),
        coalesce(col("parent_issue"), lit("")).as("parent_issue"))
      .orderBy("key").limit(2000)
  }

  /** As-of enrichment over the event stream: every purchase joined with the
    * same user's latest at-or-before view (classic attribution — the time-
    * series operator Spark lacks natively; see [[graft.operators.Asof]] for
    * the single-sweep implementation). DuckDB oracles it with its native
    * ASOF JOIN.
    */
  private val asof = q("stream_asof_attrib",
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
      |  FROM events)
      |SELECT p.event_id, p.user_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |  CAST(p.value AS DOUBLE) AS purchase_value,
      |  v.event_id AS view_id,
      |  coalesce(strftime(v.ts, '%Y-%m-%d %H:%M:%S'), '') AS view_ts
      |FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM ev WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id", "value")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"),
        col("event_id").as("view_id"))
    graft.operators.Asof.join(purchases, views, Seq("user_id"),
      leftTime = "ts", rightTime = "vts", rightPrefix = "",
      tieBreak = Seq("view_id")) // deterministic if equal-ts views ever appear
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("value").cast("double").as("purchase_value"),
        col("view_id"),
        coalesce(date_format(col("vts"), "yyyy-MM-dd HH:mm:ss"), lit(""))
          .as("view_ts"))
      .orderBy("event_id")
  }

  /** Bucketed range join over the event stream: every purchase with the
    * count of platform-wide errors in its preceding 5 minutes — NO equi key,
    * the case a naive plan turns into cartesian × range filter. See
    * [[graft.operators.RangeJoin]] for the bucket construction; DuckDB
    * oracles the same range predicate directly (its optimizer plans an
    * IEJoin for it).
    */
  private val rangeJoin = q("stream_range_errors",
    """WITH ev AS (
      |  SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |p AS (SELECT event_id, ts FROM ev WHERE event_type = 'purchase'),
      |e AS (SELECT event_id AS err_id, ts AS ets FROM ev WHERE event_type = 'error'),
      |c AS (
      |  SELECT p.event_id, count(e.err_id) AS n_errors
      |  FROM p JOIN e ON e.ets BETWEEN p.ts - INTERVAL 5 MINUTE AND p.ts
      |  GROUP BY p.event_id)
      |SELECT p.event_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |  coalesce(c.n_errors, 0) AS n_errors
      |FROM p LEFT JOIN c USING (event_id)
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("ts").cast("timestamp").as("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "ts")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("ts").as("ets"))
    val counts = graft.operators.RangeJoin
      .intervalJoin(purchases, errors, "ts", "ets", -300L, 0L)
      .groupBy("event_id").agg(count(col("err_id")).as("n_errors"))
    purchases.join(counts, Seq("event_id"), "left")
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        coalesce(col("n_errors"), lit(0L)).as("n_errors"))
      .orderBy("event_id")
  }

  /** Keyed stream-stream interval join, batch card: every click paired with
    * the SAME USER's views in the preceding 10 minutes — the attribution
    * pair stream a click-through model trains on. Unlike [[asof]] (latest
    * one) and [[rangeJoin]] (keyless count), this emits the full bounded
    * pair set through [[graft.operators.RangeJoin.intervalJoinKeyed]]: the
    * shuffle key is (user_id, time bucket), so fan-out is per-user density
    * per span — never co-temporal-rows² — and AQE splits any hot user.
    */
  private val intervalJoin = q("stream_interval_join",
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events),
      |c AS (SELECT event_id AS click_id, user_id, ts AS cts
      |      FROM ev WHERE event_type = 'click'),
      |v AS (SELECT event_id AS view_id, user_id, ts AS vts
      |      FROM ev WHERE event_type = 'view')
      |SELECT c.click_id, c.user_id, v.view_id,
      |  (epoch_us(c.cts) - epoch_us(v.vts))::BIGINT AS lag_us
      |FROM c JOIN v ON v.user_id = c.user_id
      |  AND v.vts >= c.cts - INTERVAL 10 MINUTE AND v.vts < c.cts
      |ORDER BY click_id, view_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
    graft.operators.RangeJoin
      .intervalJoinKeyed(clicks, views, Seq("user_id"),
        leftTime = "cts", rightTime = "vts", lowerSec = -600L, upperSec = 0L)
      // the bucketed join's range filter is closed on the upper end; the
      // card's window is [cts - 10min, cts) — drop the ts-equal pair
      .filter(col("vts") < col("cts"))
      .select(col("click_id"), col("user_id"), col("view_id"),
        (unix_micros(col("cts")) - unix_micros(col("vts"))).as("lag_us"))
      .orderBy("click_id", "view_id")
  }

  /** Multi-touch attribution credit — the step AFTER [[intervalJoin]]'s
    * pair production: each purchase's value splits LINEARLY (equal credit)
    * across the same user's views in the preceding 30 minutes, in exact
    * integer cents: every view gets ⌊cents/n⌋ and the division remainder
    * goes to the LATEST view (deterministic tiebreak view_id), so per-
    * purchase credits sum to the purchase value TO THE CENT — the invariant
    * a revenue report reconciles on and float splits always violate.
    * Purchases with no in-window view keep full credit on a NULL-view
    * "direct" row (revenue conservation again).
    *
    * Scale shape: the pair set comes from the keyed bucketed range join
    * (per-user density per span, AQE-split hot users); the per-purchase
    * count and latest-view rank are windows PARTITIONED by purchase id —
    * bounded by in-window views per purchase, never global.
    */
  private val attribution = q("stream_attribution_credit",
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    value
      |  FROM events),
      |p AS (
      |  SELECT event_id AS purchase_id, user_id, ts AS pts,
      |    (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS cents
      |  FROM ev WHERE event_type = 'purchase'),
      |v AS (SELECT event_id AS view_id, user_id, ts AS vts
      |      FROM ev WHERE event_type = 'view'),
      |pairs AS (
      |  SELECT p.purchase_id, p.user_id, p.cents, v.view_id, v.vts,
      |    count(*) OVER (PARTITION BY p.purchase_id) AS n,
      |    row_number() OVER (PARTITION BY p.purchase_id
      |      ORDER BY v.vts DESC, v.view_id DESC) AS rn
      |  FROM p JOIN v ON v.user_id = p.user_id
      |    AND v.vts >= p.pts - INTERVAL 30 MINUTE AND v.vts < p.pts),
      |credits AS (
      |  SELECT purchase_id, user_id, view_id,
      |    (cents // n + CASE WHEN rn = 1 THEN cents % n ELSE 0 END)::BIGINT
      |      AS credit_cents
      |  FROM pairs
      |  UNION ALL
      |  SELECT p.purchase_id, p.user_id, NULL::BIGINT AS view_id,
      |    p.cents AS credit_cents
      |  FROM p LEFT JOIN (SELECT DISTINCT purchase_id FROM pairs) x
      |    ON x.purchase_id = p.purchase_id
      |  WHERE x.purchase_id IS NULL)
      |SELECT purchase_id, user_id, view_id, credit_cents
      |FROM credits ORDER BY purchase_id, view_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("pts"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("vts"))
    val wN = Window.partitionBy("purchase_id")
    val wRn = Window.partitionBy("purchase_id")
      .orderBy(desc("vts"), desc("view_id"))
    val pairs = graft.operators.RangeJoin
      .intervalJoinKeyed(purchases, views, Seq("user_id"),
        leftTime = "pts", rightTime = "vts", lowerSec = -1800L, upperSec = 0L)
      .filter(col("vts") < col("pts"))
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("rn", row_number().over(wRn))
    val touched = pairs.select(
      col("purchase_id"), col("user_id"), col("view_id"),
      (expr("cents div n") +
        when(col("rn") === 1, col("cents") % col("n")).otherwise(0L))
        .cast("long").as("credit_cents"))
    val direct = purchases
      .join(pairs.select("purchase_id").distinct(),
        Seq("purchase_id"), "left_anti")
      .select(col("purchase_id"), col("user_id"),
        lit(null).cast("long").as("view_id"),
        col("cents").as("credit_cents"))
    touched.unionByName(direct)
      .orderBy("purchase_id", "view_id")
  }

  /** Heavy-hitter sketch as a first-class Catalyst aggregate (§2.9): top
    * issue types per project via [[graft.functions.HeavyHitters]]
    * (space-saving, k-bounded state). k=10 ≥ the 5 distinct types, so the
    * sketch is in its exact regime and DuckDB's exact groupBy+rank oracles
    * it; the eviction path is unit-tested separately.
    */
  private val heavyHitters = q("agg_heavy_hitters",
    Oracle.withIssues(
      """, c AS (
        |  SELECT project_key, issuetype, count(*) AS cnt
        |  FROM issues GROUP BY project_key, issuetype),
        |r AS (
        |  SELECT project_key, issuetype AS item, cnt,
        |    row_number() OVER (PARTITION BY project_key
        |      ORDER BY cnt DESC, issuetype) AS rank
        |  FROM c)
        |SELECT project_key, item, cnt, rank FROM r WHERE rank <= 10
        |ORDER BY project_key, rank""".stripMargin)) { (s, dir) =>
    Tables.issues(s, dir).groupBy("project_key")
      .agg(graft.functions.HeavyHitters(col("issuetype"), 10).as("hh"))
      .select(col("project_key"), posexplode(col("hh")))
      .select(col("project_key"), col("col.item").as("item"),
        col("col.cnt").as("cnt"), (col("pos") + 1).cast("long").as("rank"))
      .orderBy("project_key", "rank")
  }

  /** Pivot (crosstab) breakdown: issue counts as a project × type matrix —
    * the wide form of the preview breakdowns (A1). The pivot value list is
    * fixed (the enumerated issue types), which is also the scale rule: a
    * pivot's column set must be bounded and known, or the plan can't be
    * built — unbounded pivots belong in the long (groupBy) form. One hash
    * aggregate either way; DuckDB replays it as conditional sums.
    */
  private val pivotTypes = Seq("Bug", "Epic", "Story", "Sub-task", "Task")
  private val pivotMatrix = {
    val caseCols = pivotTypes.map(t =>
      s"""sum(CASE WHEN issuetype = '$t' THEN 1 ELSE 0 END)::BIGINT AS "$t"""")
      .mkString(",\n  ")
    q("agg_pivot_matrix",
      Oracle.withIssues(
        s"""SELECT project_key,
           |  $caseCols
           |FROM issues GROUP BY project_key ORDER BY project_key""".stripMargin)) {
      (s, dir) =>
      Tables.issues(s, dir)
        .groupBy("project_key")
        .pivot("issuetype", pivotTypes)
        .count()
        .na.fill(0L, pivotTypes)
        .orderBy("project_key")
    }
  }

  /** Exact quantiles of the event-value distribution per event type —
    * `percentile` (Spark) vs `quantile_cont` (DuckDB), both the standard
    * linear interpolation at (n−1)·p. Exact quantiles need the group sorted;
    * at 100 TB switch to `approx_percentile` (KLL/GK sketches, mergeable
    * partials) unless the gate demands exactness — the operator is
    * registered in its exact form because that is what the oracle can
    * replay.
    */
  private val quantiles = q("agg_value_quantiles",
    """SELECT event_type,
      |  count(*) AS n,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.9), 6) AS p90,
      |  round(quantile_cont(value, 0.99), 6) AS p99
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, dir) =>
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(percentile(col("value"), lit(0.5)), 6).as("p50"),
        round(percentile(col("value"), lit(0.9)), 6).as("p90"),
        round(percentile(col("value"), lit(0.99)), 6).as("p99"))
      .orderBy("event_type")
  }

  /** Rollup (hierarchical subtotals): flag → flag×status → grand total in
    * one pass — the strict-hierarchy sibling of q09's cube. Same scale shape
    * as any grouping-sets aggregate: Spark expands the sets map-side and
    * still makes one exchange on the grouping keys.
    */
  private val rollup = q("agg_rollup_hier",
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
    (s, dir) =>
    Tables.t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  /** Second-moment statistics (stddev, correlation) per group — computed from
    * exact DECIMAL power sums (n, Σx, Σx², Σy, Σxy, Σy²) cast to DOUBLE only
    * for the final closed-form arithmetic. The built-in `stddev`/`corr` are
    * single-pass doubles whose partial-merge order varies run to run (and
    * engine to engine); exact integer-scaled sums make the result
    * bit-stable across both, and the partial aggregation is map-side — one
    * exchange of 6 decimals per group at any scale.
    */
  private val moments = q("agg_stats_moments",
    """WITH s AS (
      |  SELECT l_returnflag,
      |    count(*)::BIGINT AS n,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
      |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
      |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round(sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) / (n::DOUBLE * (n - 1)::DOUBLE)), 6) AS sd_qty,
      |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
      |    / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
      |       * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6) AS corr_qty_price
      |FROM s ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val x = col("l_quantity").cast("decimal(18,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    val agg = Tables.t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(x * x).as("sxx"),
        sum(y).as("sy"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
    def d(name: String) = col(name).cast("double")
    val varX = d("n") * d("sxx") - d("sx") * d("sx")
    val varY = d("n") * d("syy") - d("sy") * d("sy")
    agg.select(col("l_returnflag"), col("n"),
      round(sqrt(varX / (d("n") * (col("n") - 1).cast("double"))), 6).as("sd_qty"),
      round((d("n") * d("sxy") - d("sx") * d("sy"))
        / (sqrt(varX) * sqrt(varY)), 6).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  /** Analytic window functions over per-user event streams: lag/lead
    * neighbors, a cumulative (running) sum, ntile quartiles, and
    * percent_rank — the offset/frame/distribution families in one ordered
    * pass. One exchange on `user_id`, one sort per partition, every function
    * shares the same window. The running sum accumulates in DECIMAL (a
    * cumulative double sum is fold-order-dependent; decimal is exact in both
    * engines), the ordering key (ts, event_id) is total so frames are
    * identical cross-engine, and percent_rank is materialized as EXACT
    * integer micro-units from its own definition — `(rank−1)·1e6 div
    * (n−1)` in pure BIGINTs — because `round(percent_rank(), 6)` straddles
    * decimal rounding boundaries between engines once partitions are large
    * enough that `(rank−1)/(n−1)` lands on .xxxxx5 values (the full-registry
    * sf1 rehearsal caught exactly that: 48 boundary rows at ~6k-event
    * users).
    */
  private val analytics = q("agg_window_analytics",
    """WITH ev AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
      |SELECT user_id, event_id,
      |  lag(event_id) OVER w AS prev_event,
      |  lead(event_id) OVER w AS next_event,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value,
      |  ntile(4) OVER w AS quartile,
      |  CASE WHEN count(*) OVER (PARTITION BY user_id) = 1 THEN 0
      |    ELSE ((rank() OVER w - 1) * 1000000)
      |      // (count(*) OVER (PARTITION BY user_id) - 1) END::BIGINT
      |    AS pr_micro
      |FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val part = Window.partitionBy("user_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp").as("ts"), col("value"))
      .select(col("user_id"), col("event_id"),
        lag(col("event_id"), 1).over(w).as("prev_event"),
        lead(col("event_id"), 1).over(w).as("next_event"),
        sum(col("value").cast("decimal(18,2)")).over(run)
          .cast("double").as("running_value"),
        ntile(4).over(w).as("quartile"),
        when(count(lit(1)).over(part) === 1, lit(0L))
          .otherwise(expr(
            "((rank() over (partition by user_id order by ts, event_id) - 1)"
              + " * 1000000) div (count(1) over (partition by user_id) - 1)"))
          .as("pr_micro"))
      .orderBy("user_id", "event_id")
  }

  /** Sketch-based approximate distinct count — the 100 TB cardinality path
    * (HyperLogLog partials are tiny and mergeable; exact distinct is a full
    * shuffle of every key). Sketch estimates differ by engine (Spark HLL++
    * rsd 0.05 vs DuckDB HLL), so the hash-checked contract is the exact
    * count plus a ±15% acceptance bound on the estimate (3σ of Spark's
    * default 5% rsd) — the property a pipeline actually relies on, asserted
    * in both engines over their own sketches.
    */
  private val approxDistinct = q("agg_distinct_sketch",
    """SELECT event_type,
      |  count(DISTINCT user_id) AS n_exact,
      |  approx_count_distinct(user_id)
      |    BETWEEN 0.85 * count(DISTINCT user_id)
      |        AND 1.15 * count(DISTINCT user_id) AS est_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, dir) =>
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id")).as("est"))
      .select(col("event_type"), col("n_exact"),
        col("est").between(lit(0.85) * col("n_exact"), lit(1.15) * col("n_exact"))
          .as("est_ok"))
      .orderBy("event_type")
  }

  /** RFM scoring — the classic customer-value segmentation (recency /
    * frequency / monetary quintiles, 5 = best) over the purchase stream,
    * with EXACT quintiles and no global window: each metric's global rank
    * comes from the two-phase bucketed construction every global ordering
    * here uses — bucket by ⌊log₂ value⌋ (monotone in the metric), rank
    * locally per bucket, broadcast the ≤64-row bucket totals back as rank
    * bases — so the plan survives a billion-customer table where a
    * partitionless `ntile(5)` would move every customer through one task.
    * All inputs are exact integers (days, counts, DECIMAL cents), ties
    * break on user_id, and the quintile is integer arithmetic on the exact
    * rank: bit-identical cross-engine.
    */
  private val rfm = q("stream_rfm_scores",
    """WITH p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |mx AS (SELECT max(ts) AS corpus_max FROM p),
      |u AS (
      |  SELECT user_id,
      |    date_diff('day', max(ts), (SELECT corpus_max FROM mx))::BIGINT
      |      AS recency_days,
      |    count(*)::BIGINT AS frequency,
      |    sum(cents)::BIGINT AS monetary_cents
      |  FROM p GROUP BY user_id),
      |n AS (SELECT count(*)::BIGINT AS nu FROM u),
      |r AS (
      |  SELECT user_id, recency_days, frequency, monetary_cents,
      |    row_number() OVER (ORDER BY recency_days, user_id) AS rr,
      |    row_number() OVER (ORDER BY frequency, user_id) AS fr,
      |    row_number() OVER (ORDER BY monetary_cents, user_id) AS mr
      |  FROM u)
      |SELECT user_id, recency_days, frequency, monetary_cents,
      |  (5 - ((rr - 1) * 5) // n.nu)::BIGINT AS r_quint,
      |  (1 + ((fr - 1) * 5) // n.nu)::BIGINT AS f_quint,
      |  (1 + ((mr - 1) * 5) // n.nu)::BIGINT AS m_quint,
      |  ((5 - ((rr - 1) * 5) // n.nu) * 100 + (1 + ((fr - 1) * 5) // n.nu) * 10
      |    + (1 + ((mr - 1) * 5) // n.nu))::BIGINT AS rfm_code
      |FROM r, n ORDER BY user_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val p = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    // ONE pass over the purchase stream: the per-user aggregate is truncated
    // (users-dimension-sized — it is the frame being ranked anyway) because
    // it is referenced by all three rank passes, the census and the final
    // join; un-truncated, each reference replays the events scan+aggregate
    // (the before-plan carried 108 Exchanges / 44 parquet scans). corpus_max
    // is max(umax) — max of per-user maxes IS the global max, so the
    // separate whole-stream max pass is gone too. The recency projection is
    // truncated again so the 1-row max and its broadcast run once, not once
    // per rank pass (guide §2.4).
    val u0 = graft.Iterative.truncate(p.groupBy("user_id")
      .agg(max("ts").as("umax"), count(lit(1)).as("frequency"),
        sum("cents").as("monetary_cents")))
    val mx = u0.agg(max("umax").as("corpus_max"))
    val u = graft.Iterative.truncate(u0
      .crossJoin(broadcast(mx))
      .select(col("user_id"),
        datediff(col("corpus_max"), col("umax")).cast("long").as("recency_days"),
        col("frequency"), col("monetary_cents")))
    val n = u.agg(count(lit(1)).as("nu"))
    // exact global rank of `metric` without a global window: log2-bucketed
    // local ranks + broadcast triangular bucket bases (the pipe_shuffle
    // construction; buckets are monotone in the value, so base+local = global)
    def rankOf(metric: String, as: String) = {
      val b = u.select(col("user_id"), col(metric).as("v"))
        .withColumn("pid", (length(bin(col("v"))) - 1).cast("int"))
      val per = b.groupBy("pid").agg(count(lit(1)).as("tot"))
      val bases = per
        .join(broadcast(per.select(col("pid").as("pid2"), col("tot").as("tot2"))),
          col("pid2") < col("pid"), "left")
        .groupBy("pid").agg(coalesce(sum("tot2"), lit(0L)).as("base"))
      val wLocal = Window.partitionBy("pid").orderBy("v", "user_id")
      b.withColumn("rn", row_number().over(wLocal))
        .join(broadcast(bases), Seq("pid"))
        .select(col("user_id"), (col("base") + col("rn")).as(as))
    }
    u.join(rankOf("recency_days", "rr"), Seq("user_id"))
      .join(rankOf("frequency", "fr"), Seq("user_id"))
      .join(rankOf("monetary_cents", "mr"), Seq("user_id"))
      .crossJoin(broadcast(n))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_cents"),
        (lit(5) - expr("((rr - 1) * 5) div nu")).cast("long").as("r_quint"),
        (lit(1) + expr("((fr - 1) * 5) div nu")).cast("long").as("f_quint"),
        (lit(1) + expr("((mr - 1) * 5) div nu")).cast("long").as("m_quint"))
      .withColumn("rfm_code",
        (col("r_quint") * 100 + col("f_quint") * 10 + col("m_quint"))
          .cast("long"))
      .orderBy("user_id")
  }

  /** Item co-visitation ("users who viewed X also viewed Y") — the
    * market-basket card behind every co-view recommender, over the ITEM
    * grain ([[cooccurrence]] covers the event-TYPE grain): items parse out
    * of the JSON `props` payload (the semi-structured column every event
    * stream actually carries), the per-user item set dedups BEFORE the
    * self-join, and each user contributes at most [[CovisitCap]] items in
    * deterministic hash order — the linkPredictCapped discipline, exact
    * here (fixture vocabulary 100 < cap) and Σ min(items,cap)² bounded on
    * an open item vocabulary. Lift is exact integer micro-units:
    * `both·N·1e6 div (ca·cb)`.
    */
  private val CovisitCap = 256
  private val covisitation = q("stream_covisitation",
    s"""WITH v AS (
       |  SELECT DISTINCT user_id,
       |    CAST(json_extract_string(props, '$$.k') AS INT) AS item
       |  FROM events WHERE event_type = 'view'),
       |capped AS (
       |  SELECT user_id, item FROM (
       |    SELECT user_id, item, row_number() OVER (PARTITION BY user_id
       |      ORDER BY ('0x' || substr(md5(user_id::VARCHAR || ':' ||
       |        item::VARCHAR), 1, 15))::BIGINT, item) AS rn
       |    FROM v) WHERE rn <= $CovisitCap),
       |ci AS (SELECT item, count(*)::BIGINT AS c FROM capped GROUP BY item),
       |n AS (SELECT count(DISTINCT user_id)::BIGINT AS nu FROM capped),
       |pairs AS (
       |  SELECT a.item AS item_a, b.item AS item_b,
       |    count(*)::BIGINT AS n_both
       |  FROM capped a JOIN capped b
       |    ON b.user_id = a.user_id AND a.item < b.item
       |  GROUP BY 1, 2)
       |SELECT p.item_a, p.item_b, p.n_both,
       |  (p.n_both * n.nu * 1000000 // (ca.c * cb.c))::BIGINT AS lift_micro
       |FROM pairs p JOIN ci ca ON ca.item = p.item_a
       |JOIN ci cb ON cb.item = p.item_b, n
       |ORDER BY n_both DESC, item_a, item_b LIMIT 20""".stripMargin) {
    (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val v = Tables.events(s, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("item"))
      .distinct()
    val capW = Window.partitionBy("user_id").orderBy("hk", "item")
    // the capped item-set frame feeds the item census, the user census and
    // BOTH self-join sides — truncated so the JSON parse + distinct + md5
    // cap window run once, not four times (before-plan: 36 Exchanges / 10
    // scans / 30 Window nodes; guide §2.4)
    val capped = graft.Iterative.truncate(v
      .withColumn("hk", graft.functions.Md5Prefix64(
        concat_ws(":", col("user_id").cast("string"),
          col("item").cast("string"))))
      .withColumn("rn", row_number().over(capW))
      .filter(col("rn") <= CovisitCap)
      .select("user_id", "item"))
    val ci = capped.groupBy("item").agg(count(lit(1)).as("c"))
    val n = capped.agg(countDistinct("user_id").as("nu"))
    val pairs = capped.as("a")
      .join(capped.select(col("user_id"), col("item").as("item_b")).as("b"),
        col("a.user_id") === col("b.user_id") && col("a.item") < col("item_b"))
      .groupBy(col("a.item").as("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(ci.select(col("item").as("item_a"), col("c").as("ca")), Seq("item_a"))
      .join(ci.select(col("item").as("item_b"), col("c").as("cb")), Seq("item_b"))
      .crossJoin(broadcast(n))
      .select(col("item_a"), col("item_b"), col("n_both"),
        expr("(n_both * nu * 1000000) div (ca * cb)").as("lift_micro"))
      .orderBy(desc("n_both"), col("item_a"), col("item_b")).limit(20)
  }

  /** Sketch RE-AGGREGATION — the property that makes sketches worth their
    * error bars at 100 TB: per-day HLL sketches of distinct users merge
    * into a weekly estimate WITHOUT re-touching the raw events (Spark's
    * datasketches `hll_sketch_agg` → `hll_union_agg`), so a year of
    * dailies rolls up to any window at sketch-sized cost. The card pins
    * the merged estimate inside ±15% of the exact weekly distinct (the
    * same bounded-error oracle discipline as [[approxDistinct]]: each
    * engine runs its own estimator, both must land in band), plus the
    * exact count and how many daily sketches merged.
    */
  private val sketchMerge = q("agg_sketch_merge",
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |wk AS (
      |  SELECT date_trunc('week', ts) AS week, user_id,
      |    date_trunc('day', ts) AS day
      |  FROM ev)
      |SELECT strftime(week, '%Y-%m-%d') AS week_s,
      |  count(DISTINCT day)::BIGINT AS n_days,
      |  count(DISTINCT user_id)::BIGINT AS n_exact,
      |  approx_count_distinct(user_id)
      |    BETWEEN 0.85 * count(DISTINCT user_id)
      |        AND 1.15 * count(DISTINCT user_id) AS est_ok
      |FROM wk GROUP BY week ORDER BY week_s""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      .withColumn("week", date_trunc("week", col("ts")))
      .withColumn("day", date_trunc("day", col("ts")))
    // daily sketches (the artifact a real pipeline persists), merged per week
    val daily = ev.groupBy("week", "day")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val weekly = daily.groupBy("week")
      .agg(count(lit(1)).as("n_days"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val exact = ev.groupBy("week")
      .agg(countDistinct("user_id").as("n_exact"))
    weekly.join(exact, Seq("week"))
      .select(date_format(col("week"), "yyyy-MM-dd").as("week_s"),
        col("n_days"), col("n_exact"),
        col("est").between(lit(0.85) * col("n_exact"),
          lit(1.15) * col("n_exact")).as("est_ok"))
      .orderBy("week_s")
  }

  /** Arbitrary GROUPING SETS — the general form behind cube/rollup (both are
    * sugar for specific set lists): three unrelated breakdowns (by status,
    * by priority, by line number) in ONE Expand + ONE partial→final hash
    * aggregate pass instead of three scans + a union. `grouping_id()`
    * disambiguates which set produced each row (NULL data values vs NULL
    * subtotal markers — the classic grouping-sets trap).
    */
  private val groupingSets = q("agg_grouping_sets",
    """SELECT l_returnflag, l_linenumber, l_linestatus,
      |  CAST(GROUPING(l_returnflag) * 4 + GROUPING(l_linenumber) * 2
      |    + GROUPING(l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linenumber), (l_linestatus))
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linenumber NULLS FIRST,
      |  l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
    Tables.t(s, dir, "lineitem").createOrReplaceTempView("li_gs")
    s.sql(
      """SELECT l_returnflag, l_linenumber, l_linestatus,
        |  CAST(GROUPING(l_returnflag) * 4 + GROUPING(l_linenumber) * 2
        |    + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM li_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linenumber), (l_linestatus))
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linenumber NULLS FIRST,
        |  l_linestatus NULLS FIRST""".stripMargin)
  }

  /** Metadata-only table statistics via parquet AGGREGATE pushdown: the scan
    * node itself returns COUNT/MIN/MAX from parquet footers — zero data pages
    * read. At 100 TB this answers "how big is the table, what is the key
    * range" from ~row-group-count × 100 bytes of footer I/O instead of a full
    * scan; it is the planner's row-count source for join sizing too. Requires
    * the DSv2 parquet path (pushdown doesn't exist in the V1 reader), so the
    * query plans in a cloned session scoped to this read — the engine-wide
    * default stays V1, whose plan shapes the rest of the suite pins.
    * ExplainAudit asserts `PushedAggregation` is present so a regression back
    * to a full scan fails the suite.
    */
  private val tableKeys = Seq(
    "documents" -> "doc_id", "embeddings" -> "vec_id",
    "events" -> "event_id", "lineitem" -> "l_orderkey",
    "orders" -> "o_orderkey")

  /** The footer-stats session is derived from the parent once and memoized:
    * bench/verify rebuild query DataFrames repeatedly, and `newSession()` per
    * call would spin up a fresh SessionState (catalog, conf, planner) each
    * time. Keyed weakly by the parent session so test harnesses that cycle
    * SparkSessions don't pin dead ones.
    */
  private val statsSessions =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.SparkSession]()

  private[graft] def statsSession(
      s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    statsSessions.synchronized {
      var s2 = statsSessions.get(s)
      if (s2 == null) {
        s2 = s.newSession()
        s2.conf.set("spark.sql.sources.useV1SourceList", "")
        s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        statsSessions.put(s, s2)
      }
      s2
    }

  private[graft] def tableStatsDf(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val s2 = statsSession(s)
    tableKeys.map { case (t, k) =>
      val df = s2.read.parquet(s"$dir/$t.parquet")
      // min/max pushdown silently falls back — and DuckDB's lexicographic
      // min over strings would diverge from a numeric cast — if a testdata
      // regeneration ever turns a key column non-numeric: fail loudly instead
      val keyType = df.schema(k).dataType
      val integral = keyType match {
        case _: org.apache.spark.sql.types.ByteType |
             _: org.apache.spark.sql.types.ShortType |
             _: org.apache.spark.sql.types.IntegerType |
             _: org.apache.spark.sql.types.LongType => true
        case _ => false
      }
      require(integral,
        s"meta_table_stats expects integral key $t.$k, got ${keyType.sql}")
      df.agg(count(lit(1)).as("n_rows"),
          min(col(k)).cast("long").as("min_key"),
          max(col(k)).cast("long").as("max_key"))
        .select(lit(t).as("table_name"), col("n_rows"), col("min_key"),
          col("max_key"))
    }.reduce(_ unionByName _)
  }

  private val tableStats = q("meta_table_stats",
    tableKeys.map { case (t, k) =>
      s"SELECT '$t' AS table_name, count(*)::BIGINT AS n_rows, " +
        s"min($k)::BIGINT AS min_key, max($k)::BIGINT AS max_key FROM $t"
    }.mkString("", "\nUNION ALL ", "\nORDER BY table_name")) { (s, dir) =>
    tableStatsDf(s, dir).orderBy("table_name")
  }

  /** Bits per dimension for [[zorderSkipping]] — 4+4 bits → 256 Morton
    * cells, cut at the top 4 bits into 16 aligned block files.
    */
  private val ZBits = 4

  /** Z-order data-skipping card — the layout-effectiveness report for
    * multi-dimensional file pruning at 100 TB: events are Morton-clustered
    * on (user_id, event time), ACTUALLY WRITTEN as one parquet file per
    * aligned z-block (hive `zfile=N` layout), read back, and each file
    * reports its (user, time) bounding box plus whether a fixed probe box
    * (the middle quarter of each dimension) can PRUNE it without opening
    * it — exactly the per-file min-max verdict a parquet footer gives a
    * 1000-executor scan. The fraction of `prunable` rows is the number
    * that justifies (or rejects) the layout: interleaved bits keep every
    * file's box tight in BOTH dimensions, where a one-column sort leaves
    * the other dimension's box spanning the whole domain (every file
    * overlaps every probe → zero skipping).
    *
    * The oracle derives the identical assignment purely from the base
    * table, so a green row proves the write→read round trip preserved
    * block assignment AND the box/prunability math. Bins here are LINEAR
    * min-max bins in exact integer arithmetic (`(x−min)·2^bits div span`)
    * because quantile fences aren't replayable in static SQL. Scale shape:
    * one 4-scalar bounds aggregate (the same bounded collect as a centroid
    * pull), one map-side code projection, one shuffle keyed on the ≤16
    * block ids for the write, and a 16-group aggregate on the read —
    * nothing corpus² anywhere.
    */
  private val zorderSkipping = {
    val nBins = 1 << ZBits
    // Morton interleave of two ZBits-bit codes; dialect-parameterized so
    // both engines evaluate the same formula (Spark spells shifts as
    // functions, DuckDB as operators)
    def mortonDuck(cu: String, ct: String): String =
      (0 until ZBits).flatMap(i => Seq(
        s"((($cu >> $i) & 1) << ${2 * i})",
        s"((($ct >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
    val sql =
      s"""WITH b AS (
         |  SELECT min(user_id) AS umin, max(user_id) AS umax,
         |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS tmin,
         |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS tmax
         |  FROM events),
         |c AS (
         |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
         |    ((user_id - b.umin) * $nBins) // (b.umax - b.umin + 1) AS cu,
         |    ((epoch_us(CAST(ts AS TIMESTAMP)) - b.tmin) * $nBins)
         |      // (b.tmax - b.tmin + 1) AS ct
         |  FROM events, b),
         |f AS (
         |  SELECT (${mortonDuck("cu", "ct")}) >> $ZBits AS zfile,
         |    count(*)::BIGINT AS n_rows,
         |    min(user_id)::BIGINT AS min_user, max(user_id)::BIGINT AS max_user,
         |    min(tus)::BIGINT AS min_ts_us, max(tus)::BIGINT AS max_ts_us
         |  FROM c GROUP BY 1)
         |SELECT f.zfile::BIGINT AS zfile, f.n_rows, f.min_user, f.max_user,
         |  f.min_ts_us, f.max_ts_us,
         |  NOT (f.min_user <= b.umin + (b.umax - b.umin + 1) // 2
         |    AND f.max_user >= b.umin + (b.umax - b.umin + 1) // 4
         |    AND f.min_ts_us <= b.tmin + (b.tmax - b.tmin + 1) // 2
         |    AND f.max_ts_us >= b.tmin + (b.tmax - b.tmin + 1) // 4) AS prunable
         |FROM f, b ORDER BY zfile""".stripMargin
    q("meta_zorder_skipping", sql) { (s, dir) =>
      zorderSkippingCard(s, dir, graft.Caches
        .scratchDir("zorder-skip").toString + "/events_z")
    }
  }

  /** The [[zorderSkipping]] implementation against an explicit output
    * `path`, so tests can assert the physical layout (one parquet file per
    * aligned z-block directory) on a path they control.
    */
  private[graft] def zorderSkippingCard(s: org.apache.spark.sql.SparkSession,
      dir: String, path: String): org.apache.spark.sql.DataFrame = {
    val nBins = 1 << ZBits
    locally {
      import org.apache.spark.sql.functions.{shiftleft, shiftright}
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"))
      // bounded driver pull: exactly four scalars, like a centroid collect
      val b = ev.agg(min("user_id"), max("user_id"), min("tus"), max("tus")).head
      val (umin, umax, tmin, tmax) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      // integer `div`, never `/`: float division can flip a boundary bin
      val cu = expr(s"((user_id - $umin) * $nBins) div ${umax - umin + 1}")
      val ct = expr(s"((tus - $tmin) * $nBins) div ${tmax - tmin + 1}")
      def bit(c: org.apache.spark.sql.Column, i: Int, outPos: Int) =
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), outPos)
      val zkey = (0 until ZBits)
        .flatMap(i => Seq(bit(cu, i, 2 * i), bit(ct, i, 2 * i + 1)))
        .reduce(_ bitwiseOR _)
      // one shuffle keyed on the <=16 block ids -> exactly one file per
      // aligned z-block directory
      ev.withColumn("zfile", shiftright(zkey, ZBits))
        .repartition(col("zfile"))
        .write.mode("overwrite").partitionBy("zfile").parquet(path)
      val back = s.read.parquet(path)
      val boxULo = umin + (umax - umin + 1) / 4
      val boxUHi = umin + (umax - umin + 1) / 2
      val boxTLo = tmin + (tmax - tmin + 1) / 4
      val boxTHi = tmin + (tmax - tmin + 1) / 2
      back.groupBy(col("zfile").cast("long").as("zfile"))
        .agg(count(lit(1)).as("n_rows"),
          min("user_id").as("min_user"), max("user_id").as("max_user"),
          min("tus").as("min_ts_us"), max("tus").as("max_ts_us"))
        .withColumn("prunable",
          !(col("min_user") <= boxUHi && col("max_user") >= boxULo &&
            col("min_ts_us") <= boxTHi && col("max_ts_us") >= boxTLo))
        .orderBy("zfile")
    }
  }

  /** Incremental z-order compaction — the maintenance half of
    * [[zorderSkipping]]'s layout story: a late batch (event_id % 10 == 0
    * here; the CDC delta in production) lands in an ALREADY-CLUSTERED
    * corpus, and only the z-blocks the batch actually touches are
    * rewritten — dynamic partition overwrite replaces exactly the dirty
    * `zfile=N` directories and never reads or rewrites a clean one. At
    * 100 TB this is the difference between a nightly delta costing
    * O(|delta| + |dirty blocks|) and re-clustering the whole corpus;
    * bin fences are computed ONCE over the full domain and pinned (table
    * metadata in production), so block ids are stable under any future
    * batch and a row's block never migrates.
    *
    * The card reports per block: rows after compaction, late rows
    * absorbed, and whether the block was rewritten. The oracle re-derives
    * all three from the base table alone, so a green row proves the
    * base-write → stage → dynamic-overwrite cycle lost nothing and
    * touched only what it claimed. PipelineSpec additionally pins the
    * PHYSICAL promise the SQL can't see: clean block files are
    * byte-identical (same path, same bytes) after the upsert.
    */
  private val zorderCompact = {
    val nBins = 1 << ZBits
    def mortonDuck(cu: String, ct: String): String =
      (0 until ZBits).flatMap(i => Seq(
        s"((($cu >> $i) & 1) << ${2 * i})",
        s"((($ct >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
    val sql =
      s"""WITH b AS (
         |  SELECT min(user_id) AS umin, max(user_id) AS umax,
         |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS tmin,
         |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS tmax
         |  FROM events),
         |c AS (
         |  SELECT
         |    ((user_id - b.umin) * $nBins) // (b.umax - b.umin + 1) AS cu,
         |    ((epoch_us(CAST(ts AS TIMESTAMP)) - b.tmin) * $nBins)
         |      // (b.tmax - b.tmin + 1) AS ct,
         |    32 * (epoch_us(CAST(ts AS TIMESTAMP)) - b.tmin)
         |      >= 27 * (b.tmax - b.tmin + 1) AS is_late
         |  FROM events, b)
         |SELECT ((${mortonDuck("cu", "ct")}) >> $ZBits)::BIGINT AS zfile,
         |  count(*)::BIGINT AS n_rows,
         |  sum(CASE WHEN is_late THEN 1 ELSE 0 END)::BIGINT AS n_late,
         |  sum(CASE WHEN is_late THEN 1 ELSE 0 END) > 0 AS rewritten
         |FROM c GROUP BY 1 ORDER BY zfile""".stripMargin
    q("meta_zorder_compact", sql) { (s, dir) =>
      zorderCompactCard(s, dir, graft.Caches
        .scratchDir("zorder-compact").toString + "/events_z")
    }
  }

  /** The full events table binned to its z-block id, with the late flag:
    * `(event_id, user_id, tus, is_late, zfile)`. The "late batch" is the
    * newest 5/32 of the time range (`32·(tus−tmin) ≥ 27·span`, pure integer
    * compare — no division to disagree on), because real CDC deltas are
    * time-localized: they dirty the high-time z-blocks and leave history
    * blocks untouched, which is exactly the claim the compaction spec
    * pins. The 27/32 cut deliberately SPLITS a time bin (13.5 of 16), so
    * the dirty blocks hold both pre-existing rows and late rows — the
    * upsert exercises a true merge, not just fresh-directory creation. Fences are pinned over the FULL domain (production: table
    * metadata), so the late batch bins identically to the base load and a
    * row's block never migrates.
    */
  private def zorderBinned(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val nBins = 1 << ZBits
    import org.apache.spark.sql.functions.{shiftleft, shiftright}
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts").cast("timestamp")).as("tus"))
    val b = ev.agg(min("user_id"), max("user_id"), min("tus"), max("tus")).head
    val (umin, umax, tmin, tmax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val cu = expr(s"((user_id - $umin) * $nBins) div ${umax - umin + 1}")
    val ct = expr(s"((tus - $tmin) * $nBins) div ${tmax - tmin + 1}")
    def bit(c: org.apache.spark.sql.Column, i: Int, outPos: Int) =
      shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), outPos)
    val zkey = (0 until ZBits)
      .flatMap(i => Seq(bit(cu, i, 2 * i), bit(ct, i, 2 * i + 1)))
      .reduce(_ bitwiseOR _)
    ev.withColumn("is_late",
        lit(32L) * (col("tus") - lit(tmin)) >= lit(27L) * lit(tmax - tmin + 1))
      .withColumn("zfile", shiftright(zkey, ZBits))
  }

  private val zorderCols = Seq("event_id", "user_id", "tus", "is_late", "zfile")

  /** Base load for [[zorderCompact]]: the on-time three quarters clustered
    * into one file per touched z-block.
    */
  private[graft] def zorderCompactBase(s: org.apache.spark.sql.SparkSession,
      dir: String, path: String): Unit =
    zorderBinned(s, dir).filter(!col("is_late"))
      // pinned partition count: a keyed repartition with no explicit count
      // is AQE-coalescible, and a sub-advisory layout write then runs as
      // ONE task writing every z-block directory serially (guide §6); the
      // conf-driven count keeps one file per block with parallel writers
      .repartition(s.sessionState.conf.numShufflePartitions, col("zfile"))
      .write.mode("overwrite").partitionBy("zfile").parquet(path)

  /** Upsert step for [[zorderCompact]]: existing rows of DIRTY blocks + the
    * late batch, staged first (Spark refuses to overwrite a path it is
    * reading), then a dynamic partition overwrite — clean block
    * directories are never touched.
    */
  private[graft] def zorderCompactUpsert(s: org.apache.spark.sql.SparkSession,
      dir: String, path: String): Unit = {
    val late = zorderBinned(s, dir).filter(col("is_late"))
    val dirty = late.select("zfile").distinct()
    val existingDirty = s.read.parquet(path)
      .join(dirty.hint("broadcast"), Seq("zfile"), "left_semi")
    val staging = graft.Caches
      .scratchDir("zorder-stage").toString + "/delta"
    existingDirty.select(zorderCols.map(col): _*)
      .unionByName(late.select(zorderCols.map(col): _*))
      // same pinned count as the base load — the dirty-block rewrite must
      // follow the identical layout recipe (PipelineSpec pins clean-block
      // byte identity across the upsert)
      .repartition(s.sessionState.conf.numShufflePartitions, col("zfile"))
      .write.mode("overwrite").parquet(staging)
    s.read.parquet(staging)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("zfile").parquet(path)
  }

  /** Per-block census of a compacted layout at `path` — the card
    * [[zorderCompact]] reports and the physical spec reuses.
    */
  private[graft] def zorderCompactReport(s: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(path)
      .groupBy(col("zfile").cast("long").as("zfile"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("is_late").cast("long")).as("n_late"))
      .withColumn("rewritten", col("n_late") > 0)
      .orderBy("zfile")

  /** [[zorderCompact]] against an explicit layout `path`: base load, then
    * the staged dirty-block upsert, then the per-block card.
    */
  private[graft] def zorderCompactCard(s: org.apache.spark.sql.SparkSession,
      dir: String, path: String): org.apache.spark.sql.DataFrame = {
    zorderCompactBase(s, dir, path)
    zorderCompactUpsert(s, dir, path)
    zorderCompactReport(s, path)
  }

  /** Event-lateness distribution — the table a WATERMARK DELAY is read
    * from: per event, how far behind the maximum event-time already seen
    * at its arrival it was, bucketed in
    * power-of-two minutes with cumulative coverage. "Delay of 2^b minutes
    * admits cum_events/total of the stream" is precisely the trade
    * `withWatermark` forces every streaming job to make; picking the
    * delay without this table is guessing state size against data loss.
    *
    * Arrival order: the fixture events are generated in perfect event-time
    * order, where a real transport is not — so arrival is simulated as
    * event time plus a deterministic per-user-cohort transport delay
    * (`(user_id % 7) * 3` minutes: the mobile-cohort-syncs-late shape).
    * In production `arr` IS the log offset and the rest of the plan is
    * unchanged.
    *
    * Scale shape: the arrival-order running max is the bucketed two-phase
    * prefix machinery (monotone integer range buckets on event_id,
    * per-bucket partitioned window, |buckets|-row max-bases via the
    * triangular broadcast — max is associative like sum, so the same
    * construction holds) — never a single-partition WindowExec over the
    * stream history. The only global window runs over the ≤~40 histogram
    * rows (bounded by construction, allowlisted in ExplainAudit like the
    * token-length histogram's).
    */
  private val lateArrivals = {
    val B = 64 // monotone event_id range buckets (same as PrefixBuckets)
    q("stream_late_arrivals",
      s"""WITH ev AS (
         |  SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
         |    epoch_us(CAST(ts AS TIMESTAMP)) + (user_id % 7) * 180000000 AS arr
         |  FROM events),
         |m AS (
         |  SELECT tus, max(tus) OVER (ORDER BY arr, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
         |  FROM ev),
         |l AS (
         |  SELECT greatest(0, coalesce(prevmax - tus, 0)) // 60000000 AS late_min
         |  FROM m),
         |h AS (
         |  SELECT (length(bin(1 + late_min)) - 1)::INT AS bucket,
         |    count(*)::BIGINT AS n_events, max(late_min)::BIGINT AS max_late_min
         |  FROM l GROUP BY 1)
         |SELECT bucket, ((1::BIGINT << bucket) - 1)::BIGINT AS lo_minutes,
         |  n_events, max_late_min,
         |  sum(n_events) OVER (ORDER BY bucket
         |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_events
         |FROM h ORDER BY bucket""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // the three-long projection is read by the bounds pass, the per-bucket
      // max census and the windowed prev-max pass — truncated so the parquet
      // scan runs once and the re-reads are row-format block reads
      // (before-plan: 26 Exchanges / 12 scans; guide §2.4)
      val ev = graft.Iterative.truncate(Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("tus"))
        .withColumn("arr", col("tus") + (col("user_id") % 7) * lit(180000000L))
        .drop("user_id"))
      val bounds = ev.agg(min("arr").as("lo"), max("arr").as("hi"))
      val bucketed = ev.crossJoin(broadcast(bounds))
        .withColumn("pid",
          expr(s"cast(((arr - lo) * $B) div (hi - lo + 1) as int)"))
        .drop("lo", "hi")
      val wLocal = Window.partitionBy("pid").orderBy("arr", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val perB = bucketed.groupBy("pid").agg(max("tus").as("tot"))
      val bases = perB
        .join(broadcast(perB.select(col("pid").as("pid2"), col("tot").as("tot2"))),
          col("pid2") < col("pid"), "left")
        .groupBy("pid").agg(max("tot2").as("bmax")) // null for the first bucket
      val late = bucketed
        .withColumn("lmax", max("tus").over(wLocal))
        .join(broadcast(bases), Seq("pid"))
        // global prev-max = max(local prev-max, all lower buckets' max);
        // null+null (the very first event) means "nothing before" -> 0 late
        .withColumn("pm", greatest(coalesce(col("lmax"), col("bmax")),
          coalesce(col("bmax"), col("lmax"))))
        .select(expr("greatest(0L, coalesce(pm - tus, 0L)) div 60000000")
          .as("late_min"))
      val h = late
        .groupBy((length(bin(col("late_min") + 1)) - 1).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_events"), max("late_min").as("max_late_min"))
      // constant-valued partition key (pmod(x, 1) = 0, non-foldable) over
      // the ≤64-bucket histogram: identical cumulative sum, no WindowExec
      // empty-partition warning
      val wCum = Window.partitionBy(pmod(col("bucket"), lit(1)))
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.select(col("bucket"),
          expr("shiftleft(1L, bucket) - 1").as("lo_minutes"),
          col("n_events"), col("max_late_min"),
          sum("n_events").over(wCum).as("cum_events"))
        .orderBy("bucket")
    }
  }

  /** Ordered conversion funnel over the event stream: users who signed up,
    * then clicked strictly AFTER their first signup, then purchased strictly
    * after that first qualifying click. The strict ordering is the point —
    * a per-type min-timestamp pivot would count a purchase that happened
    * before the signup.
    *
    * Plan shape: a chain of user-keyed aggregate → join steps, one per
    * stage. Every shuffle is on user_id, so after the first exchange the
    * stage joins are co-partitioned (AQE reuses the partitioning); stage
    * tables only ever shrink. No window, no ordering beyond per-user mins —
    * this is the funnel shape that survives a billion-user event log.
    */
  private val funnel = q("stream_funnel",
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
      |       WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e
      |       JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t1
      |       WHERE e.event_type = 'click' GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e
      |       JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t2
      |       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT * FROM (
      |  SELECT 1 AS stage, 'signup' AS event_type, count(*)::BIGINT AS n_users FROM s1
      |  UNION ALL
      |  SELECT 2, 'click', count(*)::BIGINT FROM s2
      |  UNION ALL
      |  SELECT 3, 'purchase', count(*)::BIGINT FROM s3)
      |ORDER BY stage""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir).select("user_id", "event_type", "ts")
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === "click").as("e")
      .join(s1, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    def stage(n: Int, t: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(n).as("stage"), lit(t).as("event_type"), col("n_users"))
    stage(1, "signup", s1)
      .unionByName(stage(2, "click", s2))
      .unionByName(stage(3, "purchase", s3))
      .orderBy("stage")
  }

  /** Weekly retention cohorts: users grouped by first-seen ISO week, then
    * for each cohort the share still active N weeks later — the
    * (cohort × age) triangle every growth dashboard draws. Weeks (not days)
    * keep the output |weeks|² regardless of corpus size.
    *
    * Plan shape: two user-keyed aggregates (first-seen; distinct active
    * weeks) and one user-keyed join, then a tiny (cohort, age) aggregate.
    * The distinct-active-week dedup happens BEFORE the join, so the join
    * input is one row per (user, week), not per event.
    */
  private val retention = q("stream_retention_cohorts",
    """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |fs AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
      |       FROM ev GROUP BY user_id),
      |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM ev),
      |cs AS (SELECT cw, count(*) AS cohort_n FROM fs GROUP BY cw),
      |j AS (SELECT f.cw, date_diff('day', f.cw, a.aw) // 7 AS age_weeks,
      |        a.user_id
      |      FROM act a JOIN fs f ON f.user_id = a.user_id)
      |SELECT strftime(j.cw, '%Y-%m-%d') AS cohort_week_s,
      |  j.age_weeks::BIGINT AS age_weeks,
      |  count(*)::BIGINT AS n_active,
      |  count(*)::DOUBLE / cs.cohort_n AS retention
      |FROM j JOIN cs ON cs.cw = j.cw
      |GROUP BY j.cw, j.age_weeks, cs.cohort_n
      |ORDER BY cohort_week_s, age_weeks""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir).select("user_id", "ts")
    val fs = ev.groupBy("user_id")
      .agg(date_trunc("week", min("ts")).as("cw"))
    val act = ev.select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
      .distinct()
    val cs = fs.groupBy("cw").agg(count(lit(1)).as("cohort_n"))
    act.join(fs, Seq("user_id"))
      .select(col("cw"),
        expr("datediff(aw, cw) div 7").as("age_weeks"))
      .groupBy("cw", "age_weeks").agg(count(lit(1)).as("n_active"))
      .join(cs, Seq("cw"))
      .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week_s"),
        col("age_weeks"), col("n_active"),
        (col("n_active").cast("double") / col("cohort_n")).as("retention"))
      .orderBy("cohort_week_s", "age_weeks")
  }

  /** Join-key skew report for the edge table: the ten heaviest `src` keys
    * with their row share and multiple-of-mean — the diagnosis run before
    * any big join to decide between AQE skew-split, salting, or filtering a
    * hub key outright. One hash aggregate on the key plus a 1-row global
    * aggregate broadcast over the top-k; the listing folds to
    * TakeOrderedAndProject, so the report costs one scan at any scale.
    */
  private val joinSkew = q("meta_join_skew",
    Oracle.withIssuesAndLinks(
      """, k AS (SELECT src AS key, count(*) AS n FROM links GROUP BY src),
        |tot AS (SELECT sum(n) AS t, count(*) AS nk FROM k)
        |SELECT k.key, k.n::BIGINT AS n_rows,
        |  k.n::DOUBLE / tot.t AS share,
        |  k.n::DOUBLE * tot.nk / tot.t AS x_mean
        |FROM k, tot ORDER BY n_rows DESC, key LIMIT 10""".stripMargin)) {
    (s, dir) =>
    val k = Tables.links(s, dir).groupBy(col("src").as("key"))
      .agg(count(lit(1)).as("n"))
    val tot = k.agg(sum("n").as("t"), count(lit(1)).as("nk"))
    k.crossJoin(broadcast(tot))
      .select(col("key"), col("n").as("n_rows"),
        (col("n").cast("double") / col("t")).as("share"),
        (col("n").cast("double") * col("nk") / col("t")).as("x_mean"))
      .orderBy(desc("n_rows"), col("key")).limit(10)
  }

  /** Salted skew join — the manual skew-mitigation pattern for the case AQE
    * can't fix: a shuffle join whose hot keys ([[joinSkew]] measures them)
    * overload single reducers. Each fact row gets a deterministic salt in
    * [0, 8) from a column that VARIES within the hot key (`dst`), the dim
    * side replicates ×8 with one row per salt, and the join keys become
    * `(key, salt)` — a hot key's rows spread across 8 reducers instead of
    * one. The result is provably identical to the unsalted join (every fact
    * row still matches exactly one dim replica), which is what the oracle
    * checks: the DuckDB side is the PLAIN join, so any salting bug that
    * duplicates or drops rows hash-fails.
    *
    * When to reach for this at 100 TB: AQE's skew-join split handles
    * sort-merge inputs it can observe, but not aggregation-feeding joins
    * where the skewed key is also the group key downstream, not
    * shuffle-hash joins it declines to split, and not the first run before
    * statistics exist. Salting is the deterministic, planner-independent
    * fallback; the ×8 dim replication costs |dim|×8 rows — fine for
    * dimension tables, which is exactly the salted-join use case. The merge
    * hint pins the demonstration to the shuffle path (a broadcast would
    * hide the salt).
    */
  private val SaltBuckets = 8
  private val saltedJoin = q("meta_salted_join",
    Oracle.withIssuesAndLinks(
      """
        |SELECT i.status_name, count(*)::BIGINT AS n_links,
        |  count(DISTINCT l.src)::BIGINT AS n_issues
        |FROM links l JOIN issues i ON i.key = l.src
        |GROUP BY i.status_name ORDER BY i.status_name""".stripMargin)) {
    (s, dir) =>
    val fact = Tables.links(s, dir)
      .select(col("src"),
        pmod(graft.pipeline.hash64(col("dst")), lit(SaltBuckets.toLong))
          .cast("int").as("salt"))
    val dim = Tables.issues(s, dir)
      .select(col("key").as("src"), col("status_name"))
      .withColumn("salt", explode(sequence(lit(0), lit(SaltBuckets - 1))))
    fact.join(dim.hint("merge"), Seq("src", "salt"))
      .groupBy("status_name")
      .agg(count(lit(1)).as("n_links"), countDistinct("src").as("n_issues"))
      .orderBy("status_name")
  }

  /** Bucketed co-located join — the THIRD leg of the shuffle-elimination
    * toolkit next to [[joinSkew]] (diagnose) and [[saltedJoin]] (mitigate):
    * eliminate the join shuffle entirely by writing both sides bucketed on
    * the join key with the same bucket count. Each bucket pair is
    * co-located by construction, so the sort-merge join consumes the two
    * bucketed scans with NO Exchange on either side (BucketingSpec pins
    * that plan shape; a control shows the unbucketed twin shuffles). This
    * is the 100 TB shape for every repeated big-fact⨝big-dim join — pay
    * one bucketed write, then every subsequent sync/rescan joins
    * shuffle-free; the engine's issues⨝state CDC merge is the in-repo
    * consumer (SCALING.md).
    *
    * The oracle is the PLAIN join over the raw parquet, so any bucketing
    * bug that routes a key to the wrong bucket (dropping or duplicating
    * join matches) hash-fails. Money is summed as integer cents
    * (`floor(price·100 + 0.5)` per row) — no float accumulation. Bucketed
    * tables land under the session scratch root (removed at JVM exit) via
    * an explicit external-table path; names are dropped first so repeated
    * executions stay idempotent.
    */
  private val bucketedJoin = q("meta_bucketed_join",
    """SELECT c.c_mktsegment, count(*)::BIGINT AS n_orders,
      |  count(DISTINCT c.c_custkey)::BIGINT AS n_customers,
      |  sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT
      |    AS sum_cents
      |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin) {
    (s, dir) =>
    val scratch = graft.Caches.scratchDir("bucketed-join")
    val base = scratch.toString
    // catalog names carry the (unique) scratch-dir nonce: two concurrent
    // executions in one JVM each get their own tables — a fixed global name
    // raced (one run's drop removed the other's table mid-query). The
    // returned frame stays LAZY over the catalog tables (the bucket metadata
    // that makes the join exchange-free lives there — BucketingSpec inspects
    // exactly that plan), so this run's tables can't be dropped here; instead
    // each run garbage-collects nonce tables RETIRED by earlier runs
    // (retirement happens after the next run registers, so a table is only
    // dropped once a fresher one exists — never under a concurrent reader
    // that registered after it).
    val nonce = scratch.getFileName.toString.replaceAll("[^A-Za-z0-9]", "_")
    val tblO = s"graft_bkt_orders_$nonce"
    val tblC = s"graft_bkt_customer_$nonce"
    bucketedJoinRetired.synchronized {
      while (bucketedJoinRetired.size > BucketedKeepRuns) {
        val r = bucketedJoinRetired.dequeue()
        r.tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        // dropping an EXTERNAL table leaves its files behind — reclaim the
        // run's scratch dir too, or a long-lived session leaks one bucketed
        // copy of both sides per execution
        scala.util.Try(java.nio.file.Files.walk(r.dir)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () }))
      }
      bucketedJoinRetired.enqueue(BucketedRun(Seq(tblO, tblC), scratch))
    }
    // repartition by the bucket key with the bucket count BEFORE the
    // bucketed write: repartition's hash = the bucket id hash, so each of
    // the 16 tasks writes exactly its one bucket file in parallel — the
    // single-task scan otherwise wrote all 16 bucket files serially
    // (guide §6 write clustering; read-side plan unchanged, BucketingSpec
    // still pins the exchange-free join)
    Tables.t(s, dir, "orders")
      .select(col("o_custkey"),
        floor(col("o_totalprice") * lit(100) + lit(0.5)).cast("long")
          .as("cents"))
      .repartition(16, col("o_custkey"))
      .write.format("parquet").option("path", s"$base/orders")
      .bucketBy(16, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable(tblO)
    Tables.t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .repartition(16, col("c_custkey"))
      .write.format("parquet").option("path", s"$base/customer")
      .bucketBy(16, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable(tblC)
    s.table(tblO)
      .join(s.table(tblC).hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct("c_custkey").as("n_customers"),
        sum("cents").as("sum_cents"))
      .orderBy("c_mktsegment")
  }

  /** One past [[bucketedJoin]] execution: its catalog tables + the scratch
    * dir holding their external parquet.
    */
  private final case class BucketedRun(tables: Seq[String],
      dir: java.nio.file.Path)

  /** Executions kept registered BEHIND the live one: a lazy frame returned
    * up to this many runs ago can still be collected (catalog tables and
    * files intact). The old depth of 2 runs dropped tables out from under
    * frames held across a handful of executions — AnalysisException on next
    * action — which is a realistic lifetime for a notebook or a retried
    * driver stage.
    */
  private val BucketedKeepRuns = 8

  /** FIFO of past [[bucketedJoin]] runs; retirement drops the catalog
    * tables AND deletes their external scratch parquet — see the card for
    * the never-under-a-reader protocol.
    */
  private val bucketedJoinRetired = scala.collection.mutable.Queue.empty[BucketedRun]

  /** Conversion-lag statistics for the funnel's full converters: exact
    * microsecond lag from first signup to first qualifying purchase, as
    * count/min/max/mean. Integer microsecond differences keep the mean a
    * deterministic double cross-engine (same ints, one division). Same
    * user-keyed join chain as [[funnel]]; the stats are one 1-row aggregate.
    */
  private val conversionLag = q("stream_conversion_lag",
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
      |       WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e
      |       JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t1
      |       WHERE e.event_type = 'click' GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e
      |       JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t2
      |       WHERE e.event_type = 'purchase' GROUP BY e.user_id),
      |lag AS (
      |  SELECT s3.user_id, date_diff('microsecond', s1.t1, s3.t3) AS us
      |  FROM s3 JOIN s1 ON s1.user_id = s3.user_id)
      |SELECT count(*)::BIGINT AS n_converted,
      |  min(us)::BIGINT AS min_us, max(us)::BIGINT AS max_us,
      |  CAST(sum(us) AS DOUBLE) / count(*) AS mean_us
      |FROM lag""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir).select("user_id", "event_type", "ts")
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id")).filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id")).filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    s3.join(s1, Seq("user_id"))
      .select((unix_micros(col("t3")) - unix_micros(col("t1"))).as("us"))
      .agg(count(lit(1)).as("n_converted"),
        min("us").as("min_us"), max("us").as("max_us"),
        (sum("us").cast("double") / count(lit(1))).as("mean_us"))
  }

  /** Event-type co-occurrence with lift — the market-basket pass over the
    * event log ("which behaviors travel together?"): for each unordered
    * type pair, the number of users exhibiting both, and the lift
    * `n_both·N / (n_a·n_b)` (>1 = co-occur more than independence
    * predicts). The numerator/denominator are exact integer cross-products
    * with ONE final division, so the double is bit-identical cross-engine.
    *
    * Scale shape: the per-user blowup of the pair self-join is bounded by
    * the TYPE vocabulary, not the event count — the (user, type) frame is
    * deduped BEFORE the join, so a user contributes ≤ |types|² pair rows
    * regardless of how many raw events they have, and both join sides
    * shuffle once on user_id (co-partitioned). For high-cardinality
    * itemsets (products, not event types) the same plan takes a per-user
    * top-k cap on the deduped frame first; with a fixed type vocabulary no
    * cap is needed. Output is ≤ |types|² rows at any corpus size.
    */
  private val cooccurrence = q("stream_cooccurrence",
    """WITH ev AS (SELECT DISTINCT user_id, event_type FROM events),
      |n AS (SELECT event_type, count(*)::BIGINT AS nu FROM ev GROUP BY 1),
      |tot AS (SELECT count(DISTINCT user_id)::BIGINT AS nus FROM events),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    count(*)::BIGINT AS n_both
      |  FROM ev a JOIN ev b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT p.type_a, p.type_b, p.n_both, na.nu AS n_a, nb.nu AS n_b,
      |  (p.n_both * tot.nus)::DOUBLE / (na.nu * nb.nu) AS lift
      |FROM pairs p
      |JOIN n na ON na.event_type = p.type_a
      |JOIN n nb ON nb.event_type = p.type_b, tot
      |ORDER BY type_a, type_b""".stripMargin) { (s, dir) =>
    // the deduped (user, type) frame is referenced three times (census +
    // both self-join sides) — truncate it so the events scan + distinct run
    // once, not per reference (before-plan: 28 Exchanges / 10 scans). The
    // user census reads the SAME frame: a user with any event has a row in
    // ev, so countDistinct(user_id) over ev equals it over raw events —
    // that removes the fourth full pass outright (guide §2.4).
    val ev = graft.Iterative.truncate(
      Tables.events(s, dir).select("user_id", "event_type").distinct())
    val n = ev.groupBy("event_type").agg(count(lit(1)).as("nu"))
    val tot = ev.agg(countDistinct("user_id").as("nus"))
    val pairs = ev.as("a")
      .join(ev.as("b"), col("a.user_id") === col("b.user_id")
        && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(n.select(col("event_type").as("type_a"),
        col("nu").as("n_a"))), Seq("type_a"))
      .join(broadcast(n.select(col("event_type").as("type_b"),
        col("nu").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(tot))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
        col("n_b"),
        ((col("n_both") * col("nus")).cast("double")
          / (col("n_a") * col("n_b"))).as("lift"))
      .orderBy("type_a", "type_b")
  }

  /** Session opening paths — the path-analysis report over gap-based
    * sessions: the first three event types of every 30-minute-gap session,
    * as a ranked path table with session share ("view>click>purchase is
    * 12% of sessions"). The longer-horizon sibling of the one-step
    * transition matrix.
    *
    * Scale shape: session ids come from the gaps-and-islands windows
    * (lag → flag → running sum), all partitioned BY USER; the per-session
    * prefix is a rank filter (rk ≤ 3) BEFORE the 3-row collect, so no
    * session materializes more than three events anywhere. Output is the
    * top-10 paths + exact shares; path cardinality is ≤ |types|³
    * regardless of corpus size.
    */
  /** Session duration / bounce profile — the engagement dashboard next to
    * [[sessionPaths]]' opening paths: the same 30-minute-gap sessionization
    * (user-partitioned windows only), rolled up into a power-of-two
    * duration histogram with per-bucket session counts, mean events, and
    * zero-duration sessions (bounces — reported in the `bucket = -1` row so
    * they don't distort the log histogram). All
    * integers (exact microsecond durations, event counts); shares are one
    * division each. The census is |users|×|sessions|-bounded before the
    * final |buckets|-row rollup.
    */
  private val sessionDuration = q("stream_session_duration",
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
      |m AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m),
      |per AS (
      |  SELECT user_id, sid, count(*)::BIGINT AS n_events,
      |    (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT AS dur_us
      |  FROM s GROUP BY user_id, sid),
      |b AS (
      |  SELECT CASE WHEN dur_us = 0 THEN -1
      |    ELSE (length(bin(dur_us // 1000000)) - 1) END::BIGINT AS bucket,
      |    n_events, dur_us
      |  FROM per),
      |tot AS (SELECT count(*)::BIGINT AS n FROM per)
      |SELECT b.bucket, count(*)::BIGINT AS n_sessions,
      |  sum(b.n_events)::BIGINT AS n_events,
      |  max(b.dur_us)::BIGINT AS max_dur_us,
      |  count(*)::DOUBLE / tot.n AS share
      |FROM b, tot GROUP BY b.bucket, tot.n
      |ORDER BY bucket""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = 30L * 60 * 1000000
    val m = Tables.events(s, dir)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum("new_s").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val per = m.groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"),
        (unix_micros(max("ts")) - unix_micros(min("ts"))).as("dur_us"))
    // every session lands in exactly one bucket, so the session total is
    // Σ n_sessions over the ≤~40-bucket rollup — deriving it there (from the
    // truncated bucket frame) removes the second full sessionization pass
    // the separate per-count used to replay (before-plan: 12 Exchanges / 4
    // scans / 8 Window nodes; guide §2.4)
    val h = graft.Iterative.truncate(per
      .select(
        when(col("dur_us") === 0, lit(-1L))
          .otherwise((length(bin(expr("dur_us div 1000000"))) - 1)
            .cast("long")).as("bucket"),
        col("n_events"), col("dur_us"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"),
        max("dur_us").as("max_dur_us")))
    val tot = h.agg(sum("n_sessions").as("n"))
    h
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_sessions"), col("n_events"),
        col("max_dur_us"),
        (col("n_sessions").cast("double") / col("n")).as("share"))
      .orderBy("bucket")
  }

  private val sessionPaths = q("stream_session_paths",
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      |  FROM events),
      |m AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m),
      |r AS (
      |  SELECT user_id, sid, event_type,
      |    row_number() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rk
      |  FROM s),
      |p AS (
      |  SELECT user_id, sid, string_agg(event_type, '>' ORDER BY rk) AS path
      |  FROM r WHERE rk <= 3 GROUP BY user_id, sid),
      |c AS (SELECT path, count(*)::BIGINT AS n_sessions FROM p GROUP BY path),
      |tot AS (SELECT count(*)::BIGINT AS n FROM p)
      |SELECT c.path, c.n_sessions, c.n_sessions::DOUBLE / tot.n AS share
      |FROM c, tot
      |ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = 30L * 60 * 1000000
    val m = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("new_s",
        when(lag("ts", 1).over(byUser).isNull ||
          unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(byUser)) >= gapUs,
          1).otherwise(0))
    val sess = m.withColumn("sid", sum("new_s").over(
      byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bySession = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    val p = sess.withColumn("rk", row_number().over(bySession))
      .filter(col("rk") <= 3)
      .groupBy("user_id", "sid")
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(rk, event_type))), x -> x.event_type)"),
        ">").as("path"))
    // every session has exactly one path row in c, so the session total is
    // Σ n_sessions over the ≤|types|³ path counts — deriving it from the
    // truncated count frame removes the second full sessionization pass
    // (before-plan: 10 Exchanges / 4 scans / 16 Window nodes; guide §2.4)
    val c = graft.Iterative.truncate(
      p.groupBy("path").agg(count(lit(1)).as("n_sessions")))
    val tot = c.agg(sum("n_sessions").as("n"))
    c.crossJoin(broadcast(tot))
      .select(col("path"), col("n_sessions"),
        (col("n_sessions").cast("double") / col("n")).as("share"))
      .orderBy(desc("n_sessions"), col("path")).limit(10)
  }

  /** Event transition matrix — the first-order Markov model of user
    * behavior ("after a click, what happens next?"): consecutive event
    * pairs per user, with exact transition probabilities. Fuels both
    * product analytics and synthetic-sequence validation (a generated
    * event log should reproduce this matrix).
    *
    * Scale shape: the lead() window is partitioned BY USER — thousands of
    * rows per partition key, never a global window — and ties on the
    * timestamp are broken by event_id so the sequence (and therefore the
    * matrix) is deterministic. The matrix itself is ≤ |types|² rows;
    * probabilities are one division of two exact counts.
    */
  private val transitionMatrix = q("stream_transition_matrix",
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      |  FROM events),
      |ord AS (
      |  SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |  FROM ev),
      |t AS (SELECT src, dst, count(*)::BIGINT AS n_transitions
      |      FROM ord WHERE dst IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT src, sum(n_transitions)::BIGINT AS out_n FROM t GROUP BY src)
      |SELECT t.src, t.dst, t.n_transitions,
      |  t.n_transitions::DOUBLE / tot.out_n AS p
      |FROM t JOIN tot USING (src)
      |ORDER BY src, dst""".stripMargin) { (s, dir) =>
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    // the ≤|types|² matrix feeds both the output rows and the per-src
    // normalizer — truncated so the lead() window pass over the events runs
    // once, not twice (before-plan: 14 Exchanges / 4 scans; guide §2.4)
    val t = graft.Iterative.truncate(Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .select(col("event_type").as("src"),
        lead("event_type", 1).over(byUser).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("n_transitions")))
    val tot = t.groupBy("src").agg(sum("n_transitions").as("out_n"))
    t.join(broadcast(tot), Seq("src"))
      .select(col("src"), col("dst"), col("n_transitions"),
        (col("n_transitions").cast("double") / col("out_n")).as("p"))
      .orderBy("src", "dst")
  }

  /** Time-bounded conversion funnel — [[funnel]] with a per-stage deadline:
    * the click must land within 7 days of the signup, the purchase within
    * 7 days of the click. This is the form every real funnel uses (an
    * unbounded funnel conflates conversion with coincidence). Same
    * user-keyed min-aggregate chain and the same scale shape — the bound
    * is one extra predicate on the already-joined timestamps, exact
    * timestamp arithmetic in both engines.
    */
  private val funnelWindowed = q("stream_funnel_windowed",
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
      |       WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e
      |       JOIN s1 ON s1.user_id = e.user_id
      |         AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 7 DAY
      |       WHERE e.event_type = 'click' GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e
      |       JOIN s2 ON s2.user_id = e.user_id
      |         AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 7 DAY
      |       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT * FROM (
      |  SELECT 1 AS stage, 'signup' AS event_type, count(*)::BIGINT AS n_users FROM s1
      |  UNION ALL
      |  SELECT 2, 'click', count(*)::BIGINT FROM s2
      |  UNION ALL
      |  SELECT 3, 'purchase', count(*)::BIGINT FROM s3)
      |ORDER BY stage""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir).select("user_id", "event_type", "ts")
    val week = expr("INTERVAL 7 DAYS")
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id"))
      .filter(col("ts") > col("t1") && col("ts") <= col("t1") + week)
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("ts") > col("t2") && col("ts") <= col("t2") + week)
      .groupBy("user_id").agg(min("ts").as("t3"))
    def stage(n: Int, t: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(n).as("stage"), lit(t).as("event_type"), col("n_users"))
    stage(1, "signup", s1)
      .unionByName(stage(2, "click", s2))
      .unionByName(stage(3, "purchase", s3))
      .orderBy("stage")
  }

  /** Hourly rate-burst detection — the ingest-anomaly alarm over the event
    * stream: per (event_type, hour) counts flagged when they exceed twice
    * the type's MEDIAN hourly rate. Median (not mean) so a burst can't
    * inflate its own threshold; the median of integer counts is an integer
    * or an exact .5 half in both engines (Spark's exact `percentile` at
    * 0.5, DuckDB's `median`), so the `c > 2·med` verdict is exact — no
    * float tolerance anywhere.
    *
    * Scale shape: one map-combinable (type, hour) census — output is
    * |types|·|hours|, time-range-bounded, NOT corpus-proportional — then a
    * per-type median over those bounded rows and one broadcast-sized join
    * back. The raw event scan is the only corpus-sized stage.
    */
  private val rateAnomaly = q("stream_rate_anomaly",
    """WITH ev AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
      |  FROM events),
      |hc AS (SELECT event_type, h, count(*)::BIGINT AS c FROM ev GROUP BY 1, 2),
      |med AS (SELECT event_type, median(c)::DOUBLE AS median_c
      |        FROM hc GROUP BY 1)
      |SELECT hc.event_type, strftime(hc.h, '%Y-%m-%d %H:%M:%S') AS hour_s,
      |  hc.c AS n_events, med.median_c,
      |  hc.c > 2 * med.median_c AS is_burst
      |FROM hc JOIN med USING (event_type)
      |ORDER BY event_type, hour_s""".stripMargin) { (s, dir) =>
    val hc = Tables.events(s, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("c"))
    val med = hc.groupBy("event_type")
      .agg(expr("percentile(c, 0.5)").as("median_c"))
    hc.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour_s"),
        col("c").as("n_events"), col("median_c"),
        (col("c") > lit(2) * col("median_c")).as("is_burst"))
      .orderBy("event_type", "hour_s")
  }

  /** Daily resample with gap fill — the time-series regularization every
    * downstream model expects: each user's event history becomes a DENSE
    * per-day series over their own [first, last] activity span, missing
    * days carried forward from the last observed daily total. Event logs
    * are bursty; training a sequence model (or computing day-over-day
    * deltas) on the raw irregular series silently skips the quiet days —
    * this operator makes "no activity" an explicit row instead of an
    * absent one.
    *
    * Exactness: the grid is integer date arithmetic (`sequence(d0, d1,
    * 1 day)` / `generate_series`), daily totals aggregate in DECIMAL and
    * cast to DOUBLE only at the output edge (the windowAgg convention),
    * and the fill is `last(value) IGNORE NULLS` over a per-user ordered
    * frame — value-copying, no float arithmetic, so both engines carry
    * bit-identical fills. The first grid day per user always has events
    * (it IS the user's min day), so the fill never sees a leading null.
    *
    * Scale shape: one map-combinable (user, day) census, a per-user
    * two-value span aggregate, a generator explode whose output is
    * span-bounded (days, not events), one user+day-keyed left join, and a
    * per-USER window — partitioned, never global; a user's row count is
    * their span in days. Nothing here is corpus-proportional except the
    * initial scan and the (user, day) frames themselves.
    */
  private val gapFill = q("stream_gap_fill",
    """WITH ev AS (
      |  SELECT user_id,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    value FROM events),
      |daily AS (
      |  SELECT user_id, day, count(*)::BIGINT AS n_events,
      |    SUM(CAST(value AS DECIMAL(18,2))) AS day_value
      |  FROM ev GROUP BY 1, 2),
      |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
      |         FROM daily GROUP BY 1),
      |grid AS (
      |  SELECT user_id,
      |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM span),
      |joined AS (
      |  SELECT g.user_id, g.day,
      |    coalesce(d.n_events, 0)::BIGINT AS n_events, d.day_value
      |  FROM grid g LEFT JOIN daily d USING (user_id, day))
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day_s, n_events,
      |  n_events = 0 AS is_gap,
      |  CAST(last_value(day_value IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY day
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS filled_value
      |FROM joined
      |ORDER BY user_id, day_s""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"),
        col("value"))
      .groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("day_value"))
    val grid = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY")))
          .as("day"))
    val byUser = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        (coalesce(col("n_events"), lit(0L)) === 0).as("is_gap"),
        last("day_value", ignoreNulls = true).over(byUser)
          .cast("double").as("filled_value"))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        col("n_events"), col("is_gap"), col("filled_value"))
      .orderBy("user_id", "day_s")
  }

  /** Active-user rollup — DAU, new users, cumulative uniques, EXACT 7-day
    * rolling actives, and DAU/WAU stickiness per day: the engagement card
    * at the top of every product dashboard. The interesting operator is
    * WAU: a rolling COUNT DISTINCT, which no window frame computes —
    * instead each distinct (user, day) fact is exploded onto the ≤7 grid
    * days it can count toward, and WAU is a plain distinct-count per grid
    * day. That turns an un-windowable distinct into a map-side bounded
    * explode (7×, a constant) plus one keyed aggregate — the standard
    * rolling-distinct shape at any scale.
    *
    * Exactness: every column is an integer count except stickiness — one
    * division of two exact counts per output row. The cumulative-uniques
    * running sum is a GLOBAL window, sanctioned because its input is the
    * calendar-day frame (≤366 rows/year regardless of corpus size — in the
    * ExplainAudit allowlist with that bound).
    *
    * Scale shape: one (user, day) dedup from the event scan, from which
    * everything derives: DAU census, per-user first-day census (new/
    * cumulative), and the 7× contribution explode — all keyed exchanges,
    * outputs bounded by days or users, never events.
    */
  private val activeUsers = q("stream_active_users",
    """WITH ev AS (
      |  SELECT user_id,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
      |  FROM events),
      |ud AS (SELECT DISTINCT user_id, day FROM ev),
      |dau AS (SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY day),
      |fs AS (SELECT user_id, min(day) AS day FROM ud GROUP BY user_id),
      |nu AS (SELECT day, count(*)::BIGINT AS new_users FROM fs GROUP BY day),
      |contrib AS (
      |  SELECT DISTINCT user_id,
      |    CAST(unnest(generate_series(day, day + 6, INTERVAL 1 DAY)) AS DATE)
      |      AS gday
      |  FROM ud),
      |wau AS (SELECT gday AS day, count(DISTINCT user_id)::BIGINT AS wau
      |        FROM contrib GROUP BY 1),
      |base AS (
      |  SELECT d.day, d.dau, coalesce(n.new_users, 0)::BIGINT AS new_users
      |  FROM dau d LEFT JOIN nu n ON n.day = d.day)
      |SELECT strftime(b.day, '%Y-%m-%d') AS day_s, b.dau, b.new_users,
      |  sum(b.new_users) OVER (ORDER BY b.day
      |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_users,
      |  w.wau, b.dau::DOUBLE / w.wau AS stickiness
      |FROM base b JOIN wau w ON w.day = b.day
      |ORDER BY day_s""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // the (user, day) dedup feeds DAU, the first-day census and the WAU
    // explode — truncated so the events scan + distinct run once, not three
    // times (before-plan: 20 Exchanges / 6 scans; guide §2.4)
    val ud = graft.Iterative.truncate(Tables.events(s, dir)
      .select(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
      .distinct())
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val nu = ud.groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6),
          expr("INTERVAL 1 DAY"))).as("day"))
      .distinct()
      .groupBy("day").agg(countDistinct("user_id").as("wau"))
    // bounded global window: input is the calendar-day frame (≤366/yr);
    // constant-valued partition key (pmod = 0, non-foldable) → same
    // cumulative sum, no WindowExec empty-partition warning
    val cum = Window.partitionBy(pmod(dayofmonth(col("day")), lit(1)))
      .orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dau.join(nu, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_users", sum("new_users").over(cum))
      .join(wau, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        col("dau"), col("new_users"), col("cum_users"), col("wau"),
        (col("dau").cast("double") / col("wau")).as("stickiness"))
      .orderBy("day_s")
  }

  /** Seasonal-naive forecast baseline — the sanity floor every real
    * forecasting deployment is judged against: predict each of the last 7
    * days' per-type event counts from the SAME-WEEKDAY mean over the
    * training span, and report the mean absolute error. A model that can't
    * beat this table isn't learning the seasonality it claims to; the
    * card is the backtest harness shape (train/test split by a cutoff on
    * the entity's own timeline, never a random row split — that leaks).
    *
    * Exactness: daily counts are integers; weekday is epoch-day mod 7
    * (dayofweek() disagrees across engines on week origin, epoch
    * arithmetic cannot); the prediction is ONE division (train sum /
    * train days), each day's absolute error is floored to integer
    * micro-units BEFORE the final aggregate, and MAE is an integer `div`.
    * Scale shape: one map-combinable (type, day) census, a broadcast
    * 1-row max, a (type, weekday)-keyed mean frame of ≤ 7·|types| rows
    * broadcast into the test join — no window, nothing keyed finer than
    * (type, day).
    */
  private val forecastBaseline = q("stream_forecast_baseline",
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |d AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    count(*)::BIGINT AS n
      |  FROM ev GROUP BY 1, 2),
      |mx AS (SELECT max(day) AS mxd FROM d),
      |dd AS (
      |  SELECT d.*, mxd,
      |    date_diff('day', DATE '1970-01-01', day) % 7 AS wd
      |  FROM d, mx),
      |m AS (
      |  SELECT event_type, wd, sum(n)::BIGINT AS s, count(*)::BIGINT AS k
      |  FROM dd WHERE day <= mxd - 7 GROUP BY 1, 2),
      |e AS (
      |  SELECT dd.event_type,
      |    CAST(floor(abs(dd.n - m.s::DOUBLE / m.k) * 1000000 + 0.5)
      |      AS BIGINT) AS err_micro
      |  FROM dd JOIN m ON m.event_type = dd.event_type AND m.wd = dd.wd
      |  WHERE dd.day > dd.mxd - 7)
      |SELECT event_type, count(*)::BIGINT AS n_test_days,
      |  (sum(err_micro) // count(*))::BIGINT AS mae_micro
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, dir) =>
    val d = Tables.events(s, dir)
      .groupBy(col("event_type"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(count(lit(1)).as("n"))
    val mx = d.agg(max("day").as("mxd"))
    val dd = d.crossJoin(broadcast(mx))
      .withColumn("wd", expr("datediff(day, DATE'1970-01-01') % 7"))
    val m = dd.filter(col("day") <= date_sub(col("mxd"), 7))
      .groupBy("event_type", "wd")
      .agg(sum("n").as("s"), count(lit(1)).as("k"))
    dd.filter(col("day") > date_sub(col("mxd"), 7))
      .join(broadcast(m), Seq("event_type", "wd"))
      .select(col("event_type"),
        floor(abs(col("n") - col("s").cast("double") / col("k"))
          * lit(1000000L) + lit(0.5)).cast("long").as("err_micro"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_test_days"),
        expr("sum(err_micro) div count(1)").as("mae_micro"))
      .orderBy("event_type")
  }

  /** A/B experiment readout — the two-proportion z-test every product
    * experiment ships with: users split into control/treatment by a
    * DETERMINISTIC hash of their id (here `user_id % 2` — the fixture ids
    * are already uniform; production salts the hash per experiment),
    * conversion = the user produced at least one HIGH-VALUE purchase
    * (`value > 90` — the fixture's every-user-buys saturation makes the
    * bare any-purchase rate 1.0, which degenerates the pooled variance),
    * and the z-statistic comes from the pooled-proportion formula on exact
    * integer counts.
    *
    * Scale shape: one user-keyed aggregate (did this user convert — a
    * map-side max of an indicator), then a 2-group aggregate; no window,
    * no join, nothing keyed finer than the user. Exactness: all counts are
    * integers; the rates and z are a FIXED scalar expression tree over
    * those integers evaluated once on the single output row — IEEE doubles
    * are deterministic under a fixed op order, so both engines produce the
    * same bits, and z is additionally floored to nano-units.
    */
  /** The experiment-arm census shared by [[abTest]] and [[abPower]]: one
    * deterministic assignment (`user_id % 2`), one conversion definition
    * (a high-value purchase), one 2×2 count frame `(users_c, conv_c,
    * users_t, conv_t)`. Both the SQL CTE text and the Spark frame exist
    * exactly once so the readout and its power analysis can never
    * silently diverge on what the experiment WAS.
    */
  private val abArmsCtes =
    """u AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' AND value > 90 THEN 1
      |      ELSE 0 END)::BIGINT AS conv
      |  FROM events GROUP BY user_id),
      |v AS (
      |  SELECT user_id % 2 AS variant, count(*)::BIGINT AS n_users,
      |    sum(conv)::BIGINT AS n_conv
      |  FROM u GROUP BY 1),
      |w AS (
      |  SELECT
      |    max(CASE WHEN variant = 0 THEN n_users END)::BIGINT AS users_c,
      |    max(CASE WHEN variant = 0 THEN n_conv END)::BIGINT AS conv_c,
      |    max(CASE WHEN variant = 1 THEN n_users END)::BIGINT AS users_t,
      |    max(CASE WHEN variant = 1 THEN n_conv END)::BIGINT AS conv_t
      |  FROM v)""".stripMargin

  private def abArms(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val u = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase"
          && col("value") > 90, 1).otherwise(0))
        .cast("long").as("conv"))
    val v = u.groupBy((col("user_id") % 2).as("variant"))
      .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
    v.agg(
      max(when(col("variant") === 0, col("n_users"))).as("users_c"),
      max(when(col("variant") === 0, col("n_conv"))).as("conv_c"),
      max(when(col("variant") === 1, col("n_users"))).as("users_t"),
      max(when(col("variant") === 1, col("n_conv"))).as("conv_t"))
  }

  private val abTest = q("stream_ab_test",
    s"""WITH $abArmsCtes
      |SELECT users_c, conv_c, users_t, conv_t,
      |  conv_c::DOUBLE / users_c AS cvr_c,
      |  conv_t::DOUBLE / users_t AS cvr_t,
      |  CAST(floor((conv_t::DOUBLE / users_t - conv_c::DOUBLE / users_c)
      |    / nullif(sqrt(((conv_c + conv_t)::DOUBLE / (users_c + users_t))
      |      * (1 - (conv_c + conv_t)::DOUBLE / (users_c + users_t))
      |      * (1.0 / users_c + 1.0 / users_t)), 0) * 1000000000 + 0.5)
      |    AS BIGINT) AS z_nano
      |FROM w""".stripMargin) { (s, dir) =>
    val w = abArms(s, dir)
    val pooled = (col("conv_c") + col("conv_t")).cast("double") /
      (col("users_c") + col("users_t"))
    w.select(col("users_c"), col("conv_c"), col("users_t"), col("conv_t"),
      (col("conv_c").cast("double") / col("users_c")).as("cvr_c"),
      (col("conv_t").cast("double") / col("users_t")).as("cvr_t"),
      // nullif: at saturated conversion (p = 0 or 1) the pooled variance is
      // zero and z is undefined — NULL in both dialects, never an ANSI
      // divide-by-zero (the sf1 synthetic corpus saturates and caught this)
      floor((col("conv_t").cast("double") / col("users_t")
          - col("conv_c").cast("double") / col("users_c"))
        / nullif(sqrt(pooled * (lit(1) - pooled)
          * (lit(1.0) / col("users_c") + lit(1.0) / col("users_t"))), lit(0.0))
        * lit(1000000000L) + lit(0.5)).cast("long").as("z_nano"))
  }

  /** Experiment power analysis — the design-side companion of
    * [[abTest]]: from the same deterministic assignment and conversion
    * counts, the minimum detectable effect at the standard 80% power /
    * two-sided α = 0.05 (z constants 1.959964 and 0.841621 as fixed
    * literals — the textbook two-proportion approximation), and the
    * per-arm sample size that WOULD power the observed effect. The
    * question this answers — "was this experiment big enough to see what
    * it claims to see?" — is the first thing a readout review asks.
    *
    * Scale shape: identical to the readout card (one user-keyed indicator
    * aggregate, one 2-group aggregate, a single-row scalar epilogue).
    * Exactness: counts are integers; MDE and n-required are one fixed
    * expression tree each, floored to nano-units / whole users, and the
    * n-required division is nullif-guarded when the observed effect is
    * exactly zero (no effect → no finite sample size powers it).
    */
  private val abPower = q("stream_ab_power",
    s"""WITH $abArmsCtes,
      |s AS (
      |  SELECT users_c, users_t,
      |    (conv_c + conv_t)::DOUBLE / (users_c + users_t) AS pooled,
      |    conv_t::DOUBLE / users_t - conv_c::DOUBLE / users_c AS delta
      |  FROM w)
      |SELECT users_c, users_t,
      |  CAST(floor(pooled * 1000000000 + 0.5) AS BIGINT) AS pooled_nano,
      |  CAST(floor((1.959964 + 0.841621)
      |    * sqrt(pooled * (1 - pooled) * (1.0 / users_c + 1.0 / users_t))
      |    * 1000000000 + 0.5) AS BIGINT) AS mde_nano,
      |  CAST(ceil(2 * pooled * (1 - pooled)
      |    * ((1.959964 + 0.841621) / nullif(abs(delta), 0))
      |    * ((1.959964 + 0.841621) / nullif(abs(delta), 0)))
      |    AS BIGINT) AS n_required_per_arm
      |FROM s""".stripMargin) { (s, dir) =>
    val w = abArms(s, dir)
    val zsum = lit(1.959964) + lit(0.841621)
    val base = w.select(col("users_c"), col("users_t"),
      ((col("conv_c") + col("conv_t")).cast("double")
        / (col("users_c") + col("users_t"))).as("pooled"),
      (col("conv_t").cast("double") / col("users_t")
        - col("conv_c").cast("double") / col("users_c")).as("delta"))
    base.select(col("users_c"), col("users_t"),
      floor(col("pooled") * lit(1000000000L) + lit(0.5)).cast("long")
        .as("pooled_nano"),
      floor(zsum
        * sqrt(col("pooled") * (lit(1) - col("pooled"))
          * (lit(1.0) / col("users_c") + lit(1.0) / col("users_t")))
        * lit(1000000000L) + lit(0.5)).cast("long").as("mde_nano"),
      ceil(lit(2) * col("pooled") * (lit(1) - col("pooled"))
        * (zsum / nullif(abs(col("delta")), lit(0.0)))
        * (zsum / nullif(abs(col("delta")), lit(0.0))))
        .cast("long").as("n_required_per_arm"))
  }

  val all: Seq[GQuery] = Seq(linksGc, validate, windowAgg, sessionAgg, keyFuncs,
    wireRoundtrip, asof, rangeJoin, heavyHitters, pivotMatrix, quantiles,
    rollup, moments, analytics, approxDistinct, groupingSets, tableStats,
    funnel, retention, joinSkew, conversionLag, saltedJoin, bucketedJoin,
    cooccurrence,
    rateAnomaly, transitionMatrix, funnelWindowed, sessionPaths, gapFill,
    activeUsers, zorderSkipping, zorderCompact, lateArrivals, intervalJoin,
    attribution, sketchMerge, covisitation, rfm, sessionDuration, abTest,
    abPower, forecastBaseline)
}
