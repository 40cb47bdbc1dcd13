package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Oracle, Tables}
import graft.state.StateStore

/** CDC / incremental-sync operators, oracle-checked (SURVEY.md §2.8 C1/C2/C4,
  * §2.2 P3/P4, §2.4 A3). The scenario replicates the reference's two-run
  * incremental test (reference: test/incremental_sync_test.go:20): a first
  * sync at watermark W captures per-issue state; a simulated server-side edit
  * bumps `updated` on a deterministic subset; the second run must pick up
  * exactly the new+modified set, merge it upsert-on-newer, and report stats.
  *
  * All three phases are joins/aggregations — fully SQL-expressible, so DuckDB
  * replays them on the same derived tables.
  */
object Cdc {

  /** First-sync watermark. */
  private val W = Timestamp.valueOf("1998-01-01 00:00:00")
  /** Second-run sync instant. */
  private val W2 = Timestamp.valueOf("1998-06-01 00:00:00")

  /** `incoming`: the current issue table with simulated post-first-sync edits —
    * issues whose key-suffix % 11 == 0 got `updated` bumped by 5 days.
    */
  private def incoming(s: SparkSession, dir: String): DataFrame =
    Tables.issues(s, dir).withColumn("updated",
      when(expr("cast(element_at(split(key, '-'), 2) as int) % 11 = 0"),
        expr("timestampadd(DAY, 5, updated)")).otherwise(col("updated")))

  private val incomingCte: String =
    """incoming AS (
      |  SELECT * REPLACE (
      |    CASE WHEN string_split(key, '-')[2]::INT % 11 = 0
      |      THEN updated + INTERVAL 5 DAY ELSE updated END AS updated)
      |  FROM issues)""".stripMargin

  /** SQL mirror of [[StateStore.fromIssues]] over a source CTE. The checksum
    * expression is the oracle twin of [[StateStore.recordChecksum]] — every
    * YAML-persisted scalar in Yaml.columns order, null-coalesced, timestamps
    * through the VARCHAR cast. The two must change in lockstep.
    */
  private def stateSql(src: String, syncedAt: Timestamp): String =
    s"""SELECT key, project_key, TIMESTAMP '$syncedAt' AS last_synced,
       |  updated AS last_updated,
       |  'projects/' || project_key || '/issues/' || key || '.yaml' AS file_path,
       |  sha256(coalesce(key,'') || '|' || coalesce(project_key,'') || '|' ||
       |    coalesce(summary,'') || '|' || coalesce(description,'') || '|' ||
       |    coalesce(status_name,'') || '|' || coalesce(status_category,'') || '|' ||
       |    coalesce(assignee_name,'') || '|' || coalesce(assignee_email,'') || '|' ||
       |    coalesce(reporter_name,'') || '|' || coalesce(reporter_email,'') || '|' ||
       |    coalesce(created::VARCHAR,'') || '|' || coalesce(updated::VARCHAR,'') || '|' ||
       |    coalesce(priority,'') || '|' || coalesce(issuetype,'') || '|' ||
       |    coalesce(sprint,'') || '|' || coalesce(epic_link,'') || '|' ||
       |    coalesce(parent_issue,'')) AS checksum,
       |  'synced' AS sync_status, 1 AS sync_count
       |FROM $src""".stripMargin

  /** P3/P4/C1: the incremental candidate set — new issues plus issues whose
    * `updated` moved past their per-key last_synced.
    */
  private val changed = q("cdc_changed_issues",
    Oracle.withIssues(
      s""", $incomingCte,
         |state AS (
         |  SELECT key, updated AS last_synced FROM issues
         |  WHERE updated <= TIMESTAMP '$W')
         |SELECT i.key, i.project_key, i.updated,
         |  CASE WHEN s.key IS NULL THEN 'new' ELSE 'modified' END AS change_type
         |FROM incoming i LEFT JOIN state s ON s.key = i.key
         |WHERE s.key IS NULL OR i.updated > s.last_synced
         |ORDER BY i.key""".stripMargin)) { (s, dir) =>
    val issues = Tables.issues(s, dir)
    val state = issues.filter(col("updated") <= lit(W))
      .select(col("key"), col("project_key"), col("updated").as("last_synced"),
        col("updated").as("last_updated"), lit(null).cast("string").as("file_path"),
        lit(null).cast("long").as("file_size"), lit(null).cast("string").as("checksum"),
        lit("synced").as("sync_status"), lit(1).as("sync_count"))
    StateStore.changedIssues(incoming(s, dir), state)
      .select("key", "project_key", "updated", "change_type")
      .orderBy("key")
  }

  /** The W-state ⊕ W2-batch merge both [[upsert]] and [[stats]] rank over —
    * identical construction in the two cards, so memoize it like
    * cdc_validate_state: one checksum-bearing merge per (session, dir)
    * instead of one per card (guide §2.4; plan audits bypass and still see
    * the raw construction).
    */
  private def mergedState(s: SparkSession, dir: String): DataFrame =
    graft.Caches.fragment(s, dir, "cdc_merged_state") {
      val issues = Tables.issues(s, dir)
      val state = StateStore.fromIssues(issues.filter(col("updated") <= lit(W)), W)
      val batch = StateStore.fromIssues(incoming(s, dir), W2)
      StateStore.merge(state, batch)
    }

  /** C2: upsert-on-newer merge of the second run's batch into first-run
    * state. Exercises all three merge branches: batch-newer (edited rows →
    * sync_count bumps), idempotent re-sync (equal timestamps → state kept),
    * and brand-new keys.
    */
  private val upsert = q("cdc_upsert_merge",
    Oracle.withIssues(
      s""", $incomingCte,
         |state AS (${stateSql(s"issues WHERE updated <= TIMESTAMP '$W'", W)}),
         |batch AS (${stateSql("incoming", W2)}),
         |merged AS (
         |  SELECT coalesce(b.key, s.key) AS key,
         |    CASE WHEN s.key IS NULL OR (b.key IS NOT NULL AND b.last_updated > s.last_updated)
         |      THEN b.project_key ELSE s.project_key END AS project_key,
         |    CASE WHEN s.key IS NULL OR (b.key IS NOT NULL AND b.last_updated > s.last_updated)
         |      THEN b.last_synced ELSE s.last_synced END AS last_synced,
         |    CASE WHEN s.key IS NULL OR (b.key IS NOT NULL AND b.last_updated > s.last_updated)
         |      THEN b.last_updated ELSE s.last_updated END AS last_updated,
         |    CASE WHEN s.key IS NULL OR (b.key IS NOT NULL AND b.last_updated > s.last_updated)
         |      THEN b.checksum ELSE s.checksum END AS checksum,
         |    CASE WHEN s.key IS NULL THEN 1
         |         WHEN b.key IS NOT NULL AND b.last_updated > s.last_updated
         |           THEN s.sync_count + 1 ELSE s.sync_count END AS sync_count
         |  FROM state s FULL JOIN batch b ON s.key = b.key)
         |SELECT key, project_key, last_synced, last_updated, checksum, sync_count
         |FROM merged ORDER BY key""".stripMargin)) { (s, dir) =>
    mergedState(s, dir)
      .select("key", "project_key", "last_synced", "last_updated", "checksum",
        "sync_count")
      .orderBy("key")
  }

  /** A3: aggregate sync statistics over the merged state. */
  private val stats = q("cdc_sync_stats",
    Oracle.withIssues(
      s""", $incomingCte,
         |state AS (${stateSql(s"issues WHERE updated <= TIMESTAMP '$W'", W)}),
         |batch AS (${stateSql("incoming", W2)}),
         |merged AS (
         |  SELECT coalesce(b.key, s.key) AS key,
         |    CASE WHEN s.key IS NULL OR (b.key IS NOT NULL AND b.last_updated > s.last_updated)
         |      THEN b.project_key ELSE s.project_key END AS project_key,
         |    CASE WHEN s.key IS NULL OR (b.key IS NOT NULL AND b.last_updated > s.last_updated)
         |      THEN b.last_synced ELSE s.last_synced END AS last_synced,
         |    CASE WHEN s.key IS NULL THEN 1
         |         WHEN s.key IS NOT NULL AND b.key IS NOT NULL AND b.last_updated > s.last_updated
         |           THEN s.sync_count + 1 ELSE s.sync_count END AS sync_count
         |  FROM state s FULL JOIN batch b ON s.key = b.key)
         |SELECT count(*) AS total_issues,
         |  count(*) AS synced, 0 AS failed,
         |  max(last_synced) AS last_sync_time,
         |  round(avg(sync_count), 4) AS avg_sync_count,
         |  array_to_string(list_sort(list(DISTINCT project_key)), ',') AS projects
         |FROM merged""".stripMargin)) { (s, dir) =>
    StateStore.stats(mergedState(s, dir))
  }

  /** J7: issue⇄state enrichment — every current issue joined with its sync
    * ledger row: sync status (pending when never synced), last-synced instant,
    * and a staleness flag. The reference is a per-issue driver-side map lookup
    * (reference: pkg/state/manager.go:374-383 GetIssueState); here it is a
    * keyed equi-join of two tables hashed on the same key — co-partitioned
    * shuffle join at scale, never a broadcast of the unbounded state table.
    */
  private val enrich = q("cdc_state_enrich",
    Oracle.withIssues(
      s""", state AS (
         |  SELECT key, updated AS last_synced FROM issues
         |  WHERE updated <= TIMESTAMP '$W')
         |SELECT i.key, i.project_key,
         |  strftime(i.updated, '%Y-%m-%d %H:%M:%S') AS updated_s,
         |  CASE WHEN s.key IS NULL THEN 'pending' ELSE 'synced' END AS sync_status,
         |  coalesce(strftime(s.last_synced, '%Y-%m-%d %H:%M:%S'), '') AS last_synced_s,
         |  (s.key IS NOT NULL AND i.updated > s.last_synced) AS stale
         |FROM issues i LEFT JOIN state s ON s.key = i.key
         |ORDER BY i.key""".stripMargin)) { (s, dir) =>
    val issues = Tables.issues(s, dir)
    val state = issues.filter(col("updated") <= lit(W))
      .select(col("key").as("s_key"), col("updated").as("last_synced"))
    issues.join(state, col("key") === col("s_key"), "left")
      .select(col("key"), col("project_key"),
        date_format(col("updated"), "yyyy-MM-dd HH:mm:ss").as("updated_s"),
        when(col("s_key").isNull, "pending").otherwise("synced").as("sync_status"),
        coalesce(date_format(col("last_synced"), "yyyy-MM-dd HH:mm:ss"), lit(""))
          .as("last_synced_s"),
        (col("s_key").isNotNull && col("updated") > col("last_synced")).as("stale"))
      .orderBy("key")
  }

  /** The batch twin of [[graft.streaming.StatefulCdc]] (C1/C2/P4 as a
    * `flatMapGroupsWithState` operator): two versions of the bumped keys flow
    * through one batch, every group folds to its newest version over empty
    * initial state. The multi-batch stateful path (modified events, counter
    * growth, idempotent replays) is pinned by StreamSpec.
    */
  private val stateful = q("stream_stateful_changes",
    Oracle.withIssues(
      s""", $incomingCte,
         |versions AS (SELECT key, project_key, updated FROM issues
         |  UNION ALL SELECT key, project_key, updated FROM incoming),
         |latest AS (SELECT key, project_key, updated,
         |    row_number() OVER (PARTITION BY key ORDER BY updated DESC) AS rn
         |  FROM versions)
         |SELECT key, project_key, 'new' AS change_type,
         |  strftime(updated, '%Y-%m-%d %H:%M:%S') AS updated_s, 1 AS sync_count
         |FROM latest WHERE rn = 1 ORDER BY key""".stripMargin)) { (s, dir) =>
    import graft.streaming.StatefulCdc
    val both = Tables.issues(s, dir).select("key", "project_key", "updated")
      .unionByName(incoming(s, dir).select("key", "project_key", "updated"))
      .select(col("key"), col("project_key"),
        col("updated").cast("timestamp").as("updated"))
      .as[StatefulCdc.Update](org.apache.spark.sql.Encoders.product[StatefulCdc.Update])
    StatefulCdc.changes(both)
      .select(col("key"), col("project_key"), col("change_type"),
        date_format(col("updated"), "yyyy-MM-dd HH:mm:ss").as("updated_s"),
        col("sync_count"))
      .orderBy("key")
  }

  /** C4/O5: operation-journal tail — newest 50 entries, bounded history
    * (reference: pkg/state/manager.go:149-152,636-644). The events table
    * stands in for the journal.
    */
  private val history = q("cdc_history_tail",
    """SELECT event_id, event_type,
      |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s, value
      |FROM events
      |ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id LIMIT 50""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .orderBy(desc("ts"), col("event_id"))
      .select(col("event_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"), col("value"))
      .limit(50)
  }

  /** J6/C10: state-vs-files reconciliation — the recovery report's three
    * anti-join/drift classes (reference: pkg/state/manager.go:473-550
    * ValidateState). The "filesystem" side is derived deterministically from
    * state with seeded damage: every 13th key's file is missing, every 97th
    * key has an orphan file, every 17th surviving file's checksum drifted —
    * so both engines reconcile the identical scenario.
    */
  private val validate = q("cdc_state_validate",
    Oracle.withIssues(
      s""", state AS (${stateSql(s"issues WHERE updated <= TIMESTAMP '$W'", W)}),
         |files AS (
         |  SELECT file_path,
         |    CASE WHEN string_split(key, '-')[2]::INT % 17 = 0
         |      THEN sha256(key) ELSE checksum END AS checksum
         |  FROM state WHERE string_split(key, '-')[2]::INT % 13 <> 0
         |  UNION ALL
         |  SELECT 'projects/' || project_key || '/issues/orphan-' || key || '.yaml',
         |    sha256(key)
         |  FROM state WHERE string_split(key, '-')[2]::INT % 97 = 0)
         |SELECT key, file_path, issue FROM (
         |  SELECT s.key, s.file_path, 'missing_file' AS issue
         |  FROM state s LEFT JOIN files f ON f.file_path = s.file_path
         |  WHERE f.file_path IS NULL
         |  UNION ALL
         |  SELECT NULL AS key, f.file_path, 'orphaned_file' AS issue
         |  FROM files f LEFT JOIN state s ON s.file_path = f.file_path
         |  WHERE s.file_path IS NULL
         |  UNION ALL
         |  SELECT s.key, s.file_path, 'checksum_mismatch' AS issue
         |  FROM state s JOIN files f ON f.file_path = s.file_path
         |  WHERE s.checksum <> f.checksum)
         |ORDER BY issue, file_path""".stripMargin)) { (s, dir) =>
    val issues = Tables.issues(s, dir)
    // validate() reads each side three times (two anti-joins + drift) —
    // cache so the sha256-bearing state derivation computes once. Memoized
    // fragments (deterministic in (s, dir)), so repeated builds reuse ONE
    // CacheManager entry instead of stacking a new pair per run.
    val st = graft.Caches.fragment(s, dir, "cdc_validate_state") {
      StateStore.fromIssues(issues.filter(col("updated") <= lit(W)), W)
    }
    val files = graft.Caches.fragment(s, dir, "cdc_validate_files") {
      val sfx = expr("cast(element_at(split(key, '-'), 2) as int)")
      val present = st.filter(sfx % 13 =!= 0)
        .select(col("file_path"),
          when(sfx % 17 === 0, sha2(col("key"), 256))
            .otherwise(col("checksum")).as("checksum"))
      val orphans = st.filter(sfx % 97 === 0)
        .select(concat(lit("projects/"), col("project_key"), lit("/issues/orphan-"),
          col("key"), lit(".yaml")).as("file_path"),
          sha2(col("key"), 256).as("checksum"))
      present.unionByName(orphans)
    }
    StateStore.validate(st, files)
      .orderBy("issue", "file_path")
  }

  /** The per-issue STATUS CHANGELOG itself ([[Tables.statusHistory]]), oracle-
    * pinned so the table every JQL history operator (`WAS` / `CHANGED`)
    * evaluates against is cell-exact in both engines — interval chaining
    * (valid_to = next changed_at, open tail), predecessor linkage, and the
    * end-on-current-status invariant all break the hash if wrong. One
    * project's slice: the derivation is per-row (explode over a projection),
    * so one project exercises every code path at 1/7 the dump size.
    */
  private val statusHistoryQ = q("cdc_status_history",
    Oracle.withHistory(
      """SELECT key, seq, status_name, prev_status,
        |  strftime(changed_at, '%Y-%m-%d %H:%M:%S') AS changed_at_s,
        |  strftime(valid_to, '%Y-%m-%d %H:%M:%S') AS valid_to_s
        |FROM history WHERE project_key = 'P1'
        |ORDER BY key, seq""".stripMargin)) { (s, dir) =>
    Tables.statusHistory(s, dir)
      .filter(col("project_key") === "P1")
      .select(col("key"), col("seq"), col("status_name"), col("prev_status"),
        date_format(col("changed_at"), "yyyy-MM-dd HH:mm:ss").as("changed_at_s"),
        date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to_s"))
      .orderBy("key", "seq")
  }

  /** C2/C3 generalized: SCD-type-2 history build — compress each key's event
    * stream into validity intervals (`valid_from`, `valid_to`) that change
    * only when the tracked attribute changes. Two window passes per key
    * (lag to find change points, lead to close intervals), each ONE shuffle
    * on `user_id` — Spark plans consecutive windows over the same
    * (partition, order) as a single exchange + sort. Deterministic under
    * same-timestamp events via the `event_id` tiebreak. This is the batch
    * twin of what `flatMapGroupsWithState` maintains incrementally in
    * [[graft.streaming.StatefulCdc]].
    */
  private val scd2 = q("cdc_scd2_intervals",
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      |  FROM events),
      |ch AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM ev),
      |st AS (SELECT * FROM ch WHERE prev IS NULL OR prev <> event_type),
      |iv AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vto
      |  FROM st)
      |SELECT user_id, event_type,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
      |  strftime(vto, '%Y-%m-%d %H:%M:%S') AS valid_to,
      |  event_id
      |FROM iv ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("vto", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("vto"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("event_id"))
      .orderBy("user_id", "event_id")
  }

  /** Fact × SCD2 event-time enrichment: every purchase enriched with the
    * per-user STATE RUN (the [[scd2]] interval) valid at its own timestamp
    * — the audit-correct dimension lookup (a late replay enriches with the
    * attributes true WHEN IT HAPPENED, not today's).
    *
    * Scale shape: fact × SCD2 is exactly an AS-OF join on `valid_from`
    * (in a well-formed SCD2 the latest version starting ≤ ts IS the one
    * whose interval contains ts), so this composes
    * [[graft.operators.Asof]] — one co-partitioned sort-merge pass, no
    * range probe, no broadcast requirement on the (event-scale) dimension.
    * Equal-timestamp version chains resolve deterministically by the
    * version's source event id (the as-of tieBreak = the oracle's
    * `ORDER BY s.ts DESC, s.event_id DESC` rank).
    */
  private val scd2Enrich = q("cdc_scd2_enrich",
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    value
      |  FROM events),
      |ch AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM ev),
      |st AS (SELECT user_id, event_type, ts, event_id FROM ch
      |       WHERE prev IS NULL OR prev <> event_type),
      |p AS (SELECT event_id, user_id, ts, value FROM ev
      |      WHERE event_type = 'purchase'),
      |r AS (
      |  SELECT p.event_id, p.user_id, p.ts, p.value,
      |    s.event_type AS state, s.ts AS since,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY s.ts DESC, s.event_id DESC) AS rn
      |  FROM p JOIN st s ON s.user_id = p.user_id AND s.ts <= p.ts)
      |SELECT event_id, user_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |  CAST(value AS DOUBLE) AS purchase_value,
      |  state, strftime(since, '%Y-%m-%d %H:%M:%S') AS state_since
      |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val versions = ev
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(col("user_id"), col("event_type").as("state"),
        col("ts").as("vfrom"), col("event_id").as("src_event"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    graft.operators.Asof.join(purchases, versions, Seq("user_id"),
        leftTime = "ts", rightTime = "vfrom", rightPrefix = "st_",
        tieBreak = Seq("src_event"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("value").cast("double").as("purchase_value"),
        col("st_state").as("state"),
        date_format(col("st_vfrom"), "yyyy-MM-dd HH:mm:ss").as("state_since"))
      .orderBy("event_id")
  }

  /** Per-project sync staleness — the freshness dashboard a CDC operator
    * watches: each project's newest issue update, and how many days it
    * trails the corpus-wide newest (the project that stopped moving is the
    * one whose sync or upstream broke). The reference lag is the CORPUS MAX
    * update, not wall-clock `now()` — deterministic, replayable, and at
    * 100 TB one broadcast row instead of a per-executor clock read.
    * One map-combinable per-project aggregate + a 1-row global max joined
    * back broadcast; |projects| output rows.
    */
  private val staleness = q("cdc_staleness",
    Oracle.withIssues(
      """, pmax AS (
        |  SELECT project_key, count(*)::BIGINT AS n_issues,
        |    max(updated) AS newest
        |  FROM issues GROUP BY project_key),
        |gmax AS (SELECT max(newest) AS corpus_newest FROM pmax)
        |SELECT p.project_key, p.n_issues,
        |  strftime(p.newest, '%Y-%m-%d %H:%M:%S') AS newest_s,
        |  date_diff('day', p.newest, g.corpus_newest)::BIGINT AS lag_days,
        |  date_diff('day', p.newest, g.corpus_newest) > 30 AS stale
        |FROM pmax p, gmax g
        |ORDER BY project_key""".stripMargin)) { (s, dir) =>
    val pmax = Tables.issues(s, dir)
      .groupBy("project_key")
      .agg(count(lit(1)).as("n_issues"), max("updated").as("newest"))
    val gmax = pmax.agg(max("newest").as("corpus_newest"))
    // `stale` derives from the SAME day-granular lag the report shows —
    // deriving it from raw timestamps instead would let the two columns
    // contradict each other on sub-day gaps (stale=true, lag_days=30)
    pmax.crossJoin(broadcast(gmax))
      .select(col("project_key"), col("n_issues"),
        date_format(col("newest"), "yyyy-MM-dd HH:mm:ss").as("newest_s"),
        datediff(col("corpus_newest"), col("newest")).cast("long").as("lag_days"))
      .withColumn("stale", col("lag_days") > 30)
      .orderBy("project_key")
  }

  /** Activity islands — the backfill planner's primitive: per project, the
    * maximal runs of CONSECUTIVE active days (days with ≥1 issue update),
    * so the complement — the gaps between islands — is exactly the set of
    * contiguous date ranges a re-sync has to cover, batched into the fewest
    * possible JQL `updated >= X AND updated <= Y` windows (one sync job per
    * gap, not one per missing day).
    *
    * The islands construction is the classic gaps-and-islands sweep:
    * `epoch_day − row_number()` is constant exactly within a consecutive
    * run, so one window PARTITIONED BY project (never global) + one
    * group-by yields every island in two passes over the per-(project, day)
    * census — which is itself map-combinable and bounded by
    * |projects| × |days|, not issue volume.
    */
  private val islands = q("cdc_activity_islands",
    Oracle.withIssues(
      """, days AS (
        |  SELECT project_key, CAST(updated AS DATE) AS d,
        |    count(*)::BIGINT AS n_updates
        |  FROM issues GROUP BY 1, 2),
        |grp AS (
        |  SELECT project_key, d, n_updates,
        |    date_diff('day', DATE '1970-01-01', d)
        |      - row_number() OVER (PARTITION BY project_key ORDER BY d) AS g
        |  FROM days)
        |SELECT project_key,
        |  strftime(min(d), '%Y-%m-%d') AS island_start,
        |  strftime(max(d), '%Y-%m-%d') AS island_end,
        |  count(*)::BIGINT AS n_days,
        |  sum(n_updates)::BIGINT AS n_updates
        |FROM grp GROUP BY project_key, g
        |ORDER BY project_key, island_start""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val days = Tables.issues(s, dir)
      .select(col("project_key"), to_date(col("updated")).as("d"))
      .groupBy("project_key", "d").agg(count(lit(1)).as("n_updates"))
    val w = Window.partitionBy("project_key").orderBy("d")
    days
      .withColumn("g", datediff(col("d"), lit("1970-01-01").cast("date"))
        - row_number().over(w))
      .groupBy("project_key", "g")
      .agg(date_format(min("d"), "yyyy-MM-dd").as("island_start"),
        date_format(max("d"), "yyyy-MM-dd").as("island_end"),
        count(lit(1)).as("n_days"),
        sum("n_updates").as("n_updates"))
      .select("project_key", "island_start", "island_end", "n_days",
        "n_updates")
      .orderBy("project_key", "island_start")
  }

  /** Round-14 partitioned-ledger operator (S13 extension): a REAL on-disk
    * state ledger in the partitioned-base layout — base saved under
    * `__seg=` range-block dirs, one delta appended — read back through
    * [[StateStore.loadResolvedPruned]] restricted to the delta's touched
    * blocks. The oracle recomputes the identical restricted resolution in
    * SQL, so the card proves BOTH that the physical layout is invisible
    * (values survive the partitioned write/read round-trip) and that
    * block-restricted resolution equals the definitional
    * latest-per-key-within-touched-blocks. Key suffixes are scaled ×40 so
    * the ledger spans many 65536-blocks at every sf (raw sf0.01 suffixes
    * would all land in block 0 and the restriction would be vacuous).
    */
  private val scaleKeySpark =
    "concat(project_key, '-', cast(cast(element_at(split(key, '-'), 2) as bigint) * 40 as string))"
  private val scaleKeySql =
    "project_key || '-' || CAST(string_split(key, '-')[2]::BIGINT * 40 AS VARCHAR)"

  private val prunedResolve = q("cdc_state_pruned_resolve",
    Oracle.withIssues(
      s""", $incomingCte,
         |s0 AS (SELECT * REPLACE ($scaleKeySql AS key)
         |  FROM issues WHERE project_key = 'P1'),
         |i0 AS (SELECT * REPLACE ($scaleKeySql AS key)
         |  FROM incoming WHERE project_key = 'P1'),
         |base AS (${stateSql(s"s0 WHERE updated <= TIMESTAMP '$W'", W)}),
         |fresh AS (
         |  SELECT i.* FROM i0 i LEFT JOIN base s ON s.key = i.key
         |  WHERE s.key IS NULL OR i.updated > s.last_synced),
         |batch AS (${stateSql("fresh", W2)}),
         |delta AS (
         |  SELECT b.key,
         |    CASE WHEN s.key IS NULL OR b.last_updated > s.last_updated
         |      THEN b.project_key ELSE s.project_key END AS project_key,
         |    CASE WHEN s.key IS NULL OR b.last_updated > s.last_updated
         |      THEN b.last_synced ELSE s.last_synced END AS last_synced,
         |    CASE WHEN s.key IS NULL OR b.last_updated > s.last_updated
         |      THEN b.last_updated ELSE s.last_updated END AS last_updated,
         |    CASE WHEN s.key IS NULL OR b.last_updated > s.last_updated
         |      THEN b.checksum ELSE s.checksum END AS checksum,
         |    CASE WHEN s.key IS NULL THEN 1
         |      WHEN b.last_updated > s.last_updated THEN s.sync_count + 1
         |      ELSE s.sync_count END AS sync_count
         |  FROM batch b LEFT JOIN base s ON s.key = b.key),
         |blk AS (SELECT DISTINCT string_split(key, '-')[2]::BIGINT
         |    // ${StateStore.StatePartBlock} AS b FROM delta),
         |unioned AS (
         |  SELECT key, project_key, last_synced, last_updated, checksum, sync_count
         |  FROM base
         |  UNION ALL
         |  SELECT key, project_key, last_synced, last_updated, checksum, sync_count
         |  FROM delta),
         |resolved AS (
         |  SELECT *, row_number() OVER (PARTITION BY key
         |    ORDER BY last_updated DESC, sync_count DESC, last_synced DESC) AS rn
         |  FROM unioned
         |  WHERE string_split(key, '-')[2]::BIGINT // ${StateStore.StatePartBlock}
         |    IN (SELECT b FROM blk))
         |SELECT key, project_key, last_synced, last_updated, checksum, sync_count
         |FROM resolved WHERE rn = 1 ORDER BY key""".stripMargin)) { (s, dir) =>
    val (path, segs) = prunedLedger(s, dir)
    StateStore.loadResolvedPruned(s, path, segs)
      .select("key", "project_key", "last_synced", "last_updated", "checksum",
        "sync_count")
      .orderBy("key")
  }

  /** The card's on-disk ledger (range-block base + one delta), built once
    * per (session, dir) through [[graft.Caches.memo]] — the build is SETUP
    * (physical writes the operator under test does not include: save, delta
    * commit); the operator the card times and oracles is the pruned
    * resolved READ. The ledger lives under [[graft.Caches.scratchRoot]],
    * which only the JVM shutdown hook deletes.
    */
  private def prunedLedger(s: SparkSession, dir: String): (String, Seq[String]) =
    graft.Caches.memo(s, dir, "cdc_pruned_ledger") {
      val first = Tables.issues(s, dir).filter(col("project_key") === "P1")
        .withColumn("key", expr(scaleKeySpark))
      val inc = incoming(s, dir).filter(col("project_key") === "P1")
        .withColumn("key", expr(scaleKeySpark))
      val base = StateStore.fromIssues(first.filter(col("updated") <= lit(W)), W)
        .localCheckpoint(true)
      val fresh = StateStore.changedIssues(inc, base).drop("change_type")
      val batch = StateStore.fromIssues(fresh, W2)
      val touched = base.join(batch.select("key"), Seq("key"), "left_semi")
      val delta = StateStore.merge(touched, batch).localCheckpoint(true)
      val path = graft.Caches.scratchDir("pruned-card").toString + "/state"
      StateStore.save(base, path)
      StateStore.appendDelta(delta, path)
      (path, StateStore.touchedSegs(delta.select("key")))
    }

  val all: Seq[GQuery] = Seq(changed, upsert, stats, enrich, stateful, history,
    validate, scd2, scd2Enrich, staleness, islands, statusHistoryQ,
    prunedResolve)
}
