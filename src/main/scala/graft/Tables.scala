package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table catalog: the driver-generated TPC-H-ish parquet tables plus the
  * engine's domain tables (`issues`, `links`) derived deterministically from
  * them so every JQL / domain query is oracle-checkable in DuckDB with
  * equivalent SQL (see [[Oracle]] for the DuckDB-dialect derivation).
  *
  * Scale note: all derivations are narrow (projection-only) except `links`,
  * which is one equi-join lineitem⨝orders on the orderkey — broadcastable at
  * small SF, shuffle-hash/sort-merge on co-partitioned keys at 100 TB.
  */
object Tables {

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Count the five large fixture tables once (codegen compiler, parquet
    * footers), so the first timed query doesn't absorb the one-time init.
    * A table missing from `sfDir` is skipped.
    */
  def warm(spark: SparkSession, sfDir: String): Unit =
    Seq("orders", "lineitem", "documents", "embeddings", "events")
      .foreach(n => try t(spark, sfDir, n).count() catch { case _: Throwable => })

  /** Fan a narrow frame out to the session's parallelism when its scan
    * plans markedly fewer partitions. A small single-row-group parquet
    * file plans ONE scan task, and every CPU-heavy map above it (text
    * normalization, shingling, signature folds) then runs single-threaded —
    * measured as multi-second one-task stages in the round-14 profiles.
    * SIZE-GATED, not assumed: when the scan already parallelizes (a real
    * corpus is thousands of splits), this is the identity and nothing extra
    * moves at scale — only an under-parallel scan pays one small
    * HASH-PARTITIONED exchange on the provided uniform key to unlock the
    * cores (hash, NOT round-robin: a keyless `repartition(n)` first pays a
    * local sort of its input — sort-before-repartition, needed for
    * deterministic retries — while hash partitioning is deterministic per
    * row with no sort, so the only cost is the exchange). The partition
    * count is pinned to the session's shuffle-partition setting so AQE
    * cannot re-coalesce a deliberately CPU-parallel exchange (conf-driven,
    * scale-adaptive — guide §2.5/§6). Row order is not semantics anywhere
    * in the registry (every query's output is aggregated or totally
    * ordered; the DuckDB oracle computes in its own order), so the
    * repartition is result-invisible.
    *
    * The gate reads the leaf relations' FILE METADATA (bytes + file count,
    * already listed on the driver at read time) and reproduces Spark's
    * split-sizing arithmetic, instead of `df.rdd.getNumPartitions`: the RDD
    * conversion forced a second full physical plan + RDD DAG per call site
    * (bypassing AQE's view of the query) just to read a partition count —
    * the probe itself is now free.
    */
  def fanOut(df: DataFrame, key: Column): DataFrame = {
    val s = df.sparkSession
    val conf = s.sessionState.conf
    val target = conf.numShufflePartitions
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val rels = leaves.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
    }.collect {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation => h
    }
    // unknown shape (non-file leaves): stay the identity — every call site
    // hands in a narrow map over a parquet scan
    if (rels.isEmpty || rels.size != leaves.size) return df
    val openCost = conf.filesOpenCostInBytes
    val maxSplit = conf.filesMaxPartitionBytes
    val minPartitionNum = conf.filesMinPartitionNum
      .getOrElse(s.sparkContext.defaultParallelism)
    // FilePartition.maxSplitBytes arithmetic: split = min(maxPartitionBytes,
    // max(openCost, totalBytes/minPartitionNum)); planned tasks ≈
    // ceil(totalBytes/split) after bin packing — exact enough for a 4x gate
    val planned = rels.map { h =>
      val totalBytes =
        h.location.sizeInBytes + h.location.inputFiles.length.toLong * openCost
      val bytesPerCore = totalBytes / math.max(1, minPartitionNum)
      val split = math.min(maxSplit, math.max(openCost, bytesPerCore))
      math.max(1L, (totalBytes + split - 1) / split)
    }.sum
    if (planned * 4 < target) df.repartition(target, key) else df
  }

  /** The events table's `ts` physical type has varied across testdata
    * generations (TIMESTAMP(NANOS) read as long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, later TIMESTAMP(MICROS)
    * read as TIMESTAMP_NTZ), so normalize from whatever the file actually
    * holds to a session-local TIMESTAMP at micros precision — the exact
    * value DuckDB's `CAST(ts AS TIMESTAMP)` yields in the oracle. Schema
    * inspection happens on the driver against the parquet footer; no data
    * pass.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = t(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // session TZ is pinned to UTC everywhere, so NTZ→LTZ is value-exact
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Domain `issues` table derived from `orders` (narrow projection, no
    * shuffle). Key format `P{custkey%7}-{orderkey}` matches the reference's
    * issue-key regex (reference: internal/cli/sync.go:335). Values are chosen
    * so every JQL-dialect predicate (SURVEY.md §2.2-P1) has selective,
    * non-degenerate data to bite on.
    */
  def issues(spark: SparkSession, sfDir: String): DataFrame = {
    val o = t(spark, sfDir, "orders")
    val proj = concat(lit("P"), (col("o_custkey") % 7).cast("string"))
    val key = concat(proj, lit("-"), col("o_orderkey").cast("string"))
    o.select(
      key.as("key"),
      proj.as("project_key"),
      concat(lit("Issue "), col("o_orderkey").cast("string"), lit(" "),
        col("o_orderpriority")).as("summary"),
      concat(lit("Synced order "), col("o_orderstatus")).as("description"),
      when(col("o_orderstatus") === "F", "Done")
        .when(col("o_orderstatus") === "O", "In Progress")
        .otherwise("To Do").as("status_name"),
      when(col("o_orderstatus") === "F", "done")
        .when(col("o_orderstatus") === "O", "indeterminate")
        .otherwise("new").as("status_category"),
      concat(lit("user"), (col("o_custkey") % 20).cast("string")).as("assignee_name"),
      concat(lit("user"), (col("o_custkey") % 20).cast("string"),
        lit("@example.com")).as("assignee_email"),
      concat(lit("rep"), (col("o_custkey") % 13).cast("string")).as("reporter_name"),
      concat(lit("rep"), (col("o_custkey") % 13).cast("string"),
        lit("@example.com")).as("reporter_email"),
      col("o_orderdate").as("created"),
      expr("timestampadd(DAY, cast(o_orderkey % 30 as int), o_orderdate)")
        .as("updated"),
      when(substring(col("o_orderpriority"), 1, 1) === "1", "Highest")
        .when(substring(col("o_orderpriority"), 1, 1) === "2", "High")
        .when(substring(col("o_orderpriority"), 1, 1) === "3", "Medium")
        .when(substring(col("o_orderpriority"), 1, 1) === "4", "Low")
        .otherwise("Lowest").as("priority"),
      when(col("o_orderkey") % 5 === 0, "Epic")
        .when(col("o_orderkey") % 5 === 1, "Story")
        .when(col("o_orderkey") % 5 === 2, "Bug")
        .when(col("o_orderkey") % 5 === 3, "Task")
        .otherwise("Sub-task").as("issuetype"),
      concat(lit("Sprint "), (col("o_orderkey") % 10).cast("string")).as("sprint"),
      when(col("o_orderkey") % 5 =!= 0,
        concat(lit("E-"), (col("o_orderkey") % 50).cast("string")))
        .as("epic_link"),
      when(col("o_orderkey") % 5 === 4,
        concat(proj, lit("-"), (col("o_orderkey") - 1).cast("string")))
        .as("parent_issue"))
  }

  /** The full-parity issue table: [[issues]] enriched with the reference's
    * relationship arrays (`subtasks`, `issue_links` — pkg/client/client.go:
    * 59-73), the shape an API fetch delivers to the sync loop. Derivation is
    * two keyed aggregations + two left joins ([[graft.sink.Yaml.withRelationships]]);
    * sync consumers materialize it once per corpus snapshot, the way the
    * reference holds fetched issues in memory.
    */
  def issuesFull(spark: SparkSession, sfDir: String): DataFrame =
    graft.sink.Yaml.withRelationships(issues(spark, sfDir), links(spark, sfDir))

  /** Per-issue STATUS CHANGELOG derived from `orders` — the interval table
    * JQL's history operators (`status WAS X`, `status CHANGED FROM a TO b`)
    * evaluate against. JIRA keeps this as the issue changelog; the reference
    * syncs current snapshots only, so the engine derives a deterministic
    * changelog both engines can replay: issue key's walk has
    * `1 + o_orderkey % 4` steps (so ~25% of issues NEVER changed), each step
    * `1 + o_orderkey % 7` days apart starting at `created`, stepping through
    * the To Do → In Progress → Done cycle so that the LAST step equals the
    * issues table's current `status_name` — `WAS` therefore includes the
    * current value, exactly JIRA's rule. One narrow projection + one
    * `explode(sequence(...))` per row: no shuffle, scales linearly, and the
    * open interval (`valid_to IS NULL`) marks the live version like any SCD2.
    */
  def statusHistory(spark: SparkSession, sfDir: String): DataFrame = {
    val o = t(spark, sfDir, "orders")
    val proj = concat(lit("P"), (col("o_custkey") % 7).cast("string"))
    val key = concat(proj, lit("-"), col("o_orderkey").cast("string"))
    val idx = when(col("o_orderstatus") === "F", 2)
      .when(col("o_orderstatus") === "O", 1).otherwise(0)
    val base = o.select(
      key.as("key"), proj.as("project_key"),
      col("o_orderdate").as("created"),
      idx.as("idx"),
      (col("o_orderkey") % 4 + 1).cast("int").as("n"),
      (col("o_orderkey") % 7 + 1).cast("int").as("stride"))
    // status at step i of the walk that ENDS on the current status index:
    // cycle[(idx - (n-1) + i) mod 3] — consecutive steps always differ
    def statusAt(i: Column): Column = element_at(
      array(lit("To Do"), lit("In Progress"), lit("Done")),
      (((col("idx") - (col("n") - 1) + i) % 3 + 3) % 3 + 1).cast("int"))
    base
      .withColumn("i", explode(sequence(lit(0), col("n") - 1)))
      .select(
        col("key"), col("project_key"),
        (col("i") + 1).cast("int").as("seq"),
        statusAt(col("i")).as("status_name"),
        when(col("i") > 0, statusAt(col("i") - 1)).as("prev_status"),
        expr("timestampadd(DAY, i * stride, created)").as("changed_at"),
        when(col("i") < col("n") - 1,
          expr("timestampadd(DAY, (i + 1) * stride, created)")).as("valid_to"))
  }

  /** Domain `links` edge table derived from lineitem⨝orders: each lineitem
    * becomes one typed, directed edge from its order's issue. Replaces the
    * reference's symlink edges (reference: pkg/links/links.go:31-95).
    */
  def links(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    val o = t(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
    val proj = concat(lit("P"), (col("o_custkey") % 7).cast("string"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(
        concat(proj, lit("-"), col("l_orderkey").cast("string")).as("src"),
        when(col("l_linenumber") % 3 === 0, "blocks")
          .when(col("l_linenumber") % 3 === 1, "clones")
          .otherwise("documents").as("link_type"),
        when(col("l_linenumber") % 2 === 0, "outward")
          .otherwise("inward").as("direction"),
        concat(lit("P"), (col("l_suppkey") % 7).cast("string"), lit("-"),
          col("l_partkey").cast("string")).as("dst"),
        proj.as("project_key"))
  }
}

/** DuckDB-dialect equivalents of [[Tables]]' derivations, prepended as CTEs
  * to every oracle SQL that touches the domain tables. Values must match the
  * Spark derivation EXACTLY (the driver hash-compares outputs).
  */
object Oracle {
  val issuesCte: String =
    """issues AS (
      |  SELECT
      |    'P' || CAST(o_custkey % 7 AS STRING) || '-' || CAST(o_orderkey AS STRING) AS key,
      |    'P' || CAST(o_custkey % 7 AS STRING) AS project_key,
      |    'Issue ' || CAST(o_orderkey AS STRING) || ' ' || o_orderpriority AS summary,
      |    'Synced order ' || o_orderstatus AS description,
      |    CASE o_orderstatus WHEN 'F' THEN 'Done' WHEN 'O' THEN 'In Progress' ELSE 'To Do' END AS status_name,
      |    CASE o_orderstatus WHEN 'F' THEN 'done' WHEN 'O' THEN 'indeterminate' ELSE 'new' END AS status_category,
      |    'user' || CAST(o_custkey % 20 AS STRING) AS assignee_name,
      |    'user' || CAST(o_custkey % 20 AS STRING) || '@example.com' AS assignee_email,
      |    'rep' || CAST(o_custkey % 13 AS STRING) AS reporter_name,
      |    'rep' || CAST(o_custkey % 13 AS STRING) || '@example.com' AS reporter_email,
      |    o_orderdate AS created,
      |    o_orderdate + CAST(o_orderkey % 30 AS INT) * INTERVAL 1 DAY AS updated,
      |    CASE substring(o_orderpriority, 1, 1)
      |      WHEN '1' THEN 'Highest' WHEN '2' THEN 'High' WHEN '3' THEN 'Medium'
      |      WHEN '4' THEN 'Low' ELSE 'Lowest' END AS priority,
      |    CASE CAST(o_orderkey % 5 AS INT)
      |      WHEN 0 THEN 'Epic' WHEN 1 THEN 'Story' WHEN 2 THEN 'Bug'
      |      WHEN 3 THEN 'Task' ELSE 'Sub-task' END AS issuetype,
      |    'Sprint ' || CAST(o_orderkey % 10 AS STRING) AS sprint,
      |    CASE WHEN o_orderkey % 5 <> 0
      |      THEN 'E-' || CAST(o_orderkey % 50 AS STRING) END AS epic_link,
      |    CASE WHEN o_orderkey % 5 = 4
      |      THEN 'P' || CAST(o_custkey % 7 AS STRING) || '-' || CAST(o_orderkey - 1 AS STRING) END AS parent_issue
      |  FROM orders
      |)""".stripMargin

  val linksCte: String =
    """links AS (
      |  SELECT
      |    'P' || CAST(o_custkey % 7 AS STRING) || '-' || CAST(l_orderkey AS STRING) AS src,
      |    CASE CAST(l_linenumber % 3 AS INT)
      |      WHEN 0 THEN 'blocks' WHEN 1 THEN 'clones' ELSE 'documents' END AS link_type,
      |    CASE WHEN l_linenumber % 2 = 0 THEN 'outward' ELSE 'inward' END AS direction,
      |    'P' || CAST(l_suppkey % 7 AS STRING) || '-' || CAST(l_partkey AS STRING) AS dst,
      |    'P' || CAST(o_custkey % 7 AS STRING) AS project_key
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |)""".stripMargin

  /** DuckDB twin of [[Tables.statusHistory]] (lateral generate_series is
    * unsupported there, so the per-row expansion is `unnest(generate_series)`
    * in the SELECT list — same rows).
    */
  val historyCte: String =
    """hbase AS (
      |  SELECT o_orderkey, o_custkey, o_orderdate,
      |    CASE o_orderstatus WHEN 'F' THEN 2 WHEN 'O' THEN 1 ELSE 0 END AS idx,
      |    CAST(o_orderkey % 4 + 1 AS INT) AS n,
      |    CAST(o_orderkey % 7 + 1 AS INT) AS stride
      |  FROM orders),
      |hexp AS (
      |  SELECT *, unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS i FROM hbase),
      |history AS (
      |  SELECT
      |    'P' || CAST(o_custkey % 7 AS STRING) || '-' || CAST(o_orderkey AS STRING) AS key,
      |    'P' || CAST(o_custkey % 7 AS STRING) AS project_key,
      |    CAST(i + 1 AS INT) AS seq,
      |    ['To Do','In Progress','Done'][CAST((((idx - (n-1) + i) % 3 + 3) % 3 + 1) AS INT)] AS status_name,
      |    CASE WHEN i > 0 THEN ['To Do','In Progress','Done'][CAST((((idx - (n-1) + i - 1) % 3 + 3) % 3 + 1) AS INT)] END AS prev_status,
      |    o_orderdate + i * stride * INTERVAL 1 DAY AS changed_at,
      |    CASE WHEN i < n - 1 THEN o_orderdate + (i+1) * stride * INTERVAL 1 DAY END AS valid_to
      |  FROM hexp)""".stripMargin

  /** `WITH issues AS (...) <sql>` helper. */
  def withIssues(sql: String): String = s"WITH $issuesCte\n$sql"
  def withLinks(sql: String): String = s"WITH $linksCte\n$sql"
  def withIssuesAndLinks(sql: String): String =
    s"WITH $issuesCte,\n$linksCte\n$sql"
  def withHistory(sql: String): String = s"WITH $historyCte\n$sql"
  def withIssuesAndHistory(sql: String): String =
    s"WITH $issuesCte,\n$historyCte\n$sql"
}
