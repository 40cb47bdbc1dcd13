package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

import graft.state.DirSwap

/** Field-mapping ingest (SURVEY.md §2.1 S5): JIRA wire JSON → the flat issue
  * record, including the custom-field epic link and inward/outward link
  * duality (reference: pkg/client/client.go:237-282 convertJIRAIssue,
  * :304-397 extractRelationships/extractEpicLink/extractSubtasks/
  * extractIssueLinks).
  *
  * Pure `from_json` + projection — no UDFs, fully codegen'd, so ingest at
  * 100 TB is a map-only stage over the raw payload column.
  */
object Ingest {

  /** The JIRA REST wire shape (the subset the reference maps). */
  val wireSchema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("fields", StructType(Seq(
      StructField("summary", StringType),
      StructField("description", StringType),
      StructField("created", StringType),
      StructField("updated", StringType),
      StructField("priority", StructType(Seq(StructField("name", StringType)))),
      StructField("issuetype", StructType(Seq(StructField("name", StringType)))),
      StructField("status", StructType(Seq(
        StructField("name", StringType),
        StructField("statusCategory", StructType(Seq(StructField("key", StringType))))))),
      StructField("assignee", StructType(Seq(
        StructField("displayName", StringType), StructField("emailAddress", StringType)))),
      StructField("reporter", StructType(Seq(
        StructField("displayName", StringType), StructField("emailAddress", StringType)))),
      StructField("customfield_12311140", StringType), // epic link custom field
      StructField("parent", StructType(Seq(StructField("key", StringType)))),
      StructField("subtasks", ArrayType(StructType(Seq(StructField("key", StringType))))),
      StructField("issuelinks", ArrayType(StructType(Seq(
        StructField("type", StructType(Seq(StructField("name", StringType)))),
        StructField("inwardIssue", StructType(Seq(
          StructField("key", StringType), StructField("summary", StringType)))),
        StructField("outwardIssue", StructType(Seq(
          StructField("key", StringType), StructField("summary", StringType)))))))))))))

  /** Parse a raw JSON payload column into the flat issue schema plus nested
    * `subtasks` and `issue_links` arrays. Mirrors convertJIRAIssue: project
    * key from the issue key, epic link from the custom field, links carry
    * the inward/outward direction.
    */
  def fromWire(raw: DataFrame, jsonCol: String = "payload"): DataFrame = {
    val parsed = raw.withColumn("w", from_json(col(jsonCol), wireSchema))
    val f = (name: String) => col(s"w.fields.$name")
    parsed.select(
      col("w.key").as("key"),
      regexp_extract(col("w.key"), "^(.*)-\\d+$", 1).as("project_key"),
      f("summary").as("summary"),
      f("description").as("description"),
      f("status.name").as("status_name"),
      f("status.statusCategory.key").as("status_category"),
      f("assignee.displayName").as("assignee_name"),
      f("assignee.emailAddress").as("assignee_email"),
      f("reporter.displayName").as("reporter_name"),
      f("reporter.emailAddress").as("reporter_email"),
      graft.functions.Time.parseJiraTimestamp(f("created")).as("created"),
      graft.functions.Time.parseJiraTimestamp(f("updated")).as("updated"),
      f("priority.name").as("priority"),
      f("issuetype.name").as("issuetype"),
      f("customfield_12311140").as("epic_link"),
      f("parent.key").as("parent_issue"),
      expr("transform(w.fields.subtasks, s -> s.key)").as("subtasks"),
      // inward/outward duality: exactly one of the two sides is set
      expr("""transform(w.fields.issuelinks, l -> named_struct(
             |  'link_type', l.type.name,
             |  'direction', CASE WHEN l.inwardIssue.key IS NOT NULL THEN 'inward' ELSE 'outward' END,
             |  'issue_key', coalesce(l.inwardIssue.key, l.outwardIssue.key),
             |  'summary', coalesce(l.inwardIssue.summary, l.outwardIssue.summary)))""".stripMargin)
        .as("issue_links"))
  }

  /** Inverse of [[fromWire]]: render flat issue rows as JIRA wire JSON —
    * fixture generation parity with the reference's mock client
    * (reference: pkg/client/mock.go:282-351 fixture factories).
    */
  def toWire(issues: DataFrame): DataFrame = {
    val wire = to_json(struct(
      col("key"),
      struct(
        col("summary"),
        col("description"),
        graft.functions.Time.formatJiraTimestamp(col("created")).as("created"),
        graft.functions.Time.formatJiraTimestamp(col("updated")).as("updated"),
        struct(col("priority").as("name")).as("priority"),
        struct(col("issuetype").as("name")).as("issuetype"),
        struct(col("status_name").as("name"),
          struct(col("status_category").as("key")).as("statusCategory")).as("status"),
        struct(col("assignee_name").as("displayName"),
          col("assignee_email").as("emailAddress")).as("assignee"),
        struct(col("reporter_name").as("displayName"),
          col("reporter_email").as("emailAddress")).as("reporter"),
        col("epic_link").as("customfield_12311140"),
        when(col("parent_issue").isNotNull,
          struct(col("parent_issue").as("key"))).as("parent")
      ).as("fields")))
    issues.select(wire.as("payload"))
  }

  /** S11: explode the nested relationship arrays into the first-class edge
    * table `(src, link_type, direction, dst, project_key)` — the distributed
    * replacement for symlink edges (reference: pkg/links/links.go:31-95).
    */
  def edges(issues: DataFrame): DataFrame = {
    def base(extra: Column*) =
      issues.select(col("key").as("src") +: col("project_key") +: extra: _*)
    val epic = base(col("epic_link").as("dst"))
      .filter(col("dst").isNotNull)
      .select(col("src"), lit("epic").as("link_type"),
        lit("outward").as("direction"), col("dst"), col("project_key"))
    val parent = base(col("parent_issue").as("dst"))
      .filter(col("dst").isNotNull)
      .select(col("src"), lit("parent").as("link_type"),
        lit("outward").as("direction"), col("dst"), col("project_key"))
    val subtasks = base(explode_outer(col("subtasks")).as("dst"))
      .filter(col("dst").isNotNull)
      .select(col("src"), lit("subtask").as("link_type"),
        lit("outward").as("direction"), col("dst"), col("project_key"))
    val links = issues
      .select(col("key").as("src"), col("project_key"),
        explode_outer(col("issue_links")).as("l"))
      .filter(col("l").isNotNull)
      .select(col("src"), col("l.link_type").as("link_type"),
        col("l.direction").as("direction"), col("l.issue_key").as("dst"),
        col("project_key"))
    epic.unionByName(parent).unionByName(subtasks).unionByName(links)
  }

  /** S11 sink: persist edges partitioned by (project_key, link_type) — the
    * layout the reference encodes as relationship directories.
    */
  def writeEdges(edges: DataFrame, path: String): Unit = {
    val fs = new Path(path).getFileSystem(edges.sparkSession.sparkContext.hadoopConfiguration)
    // a full rewrite replaces the table either way, but finishing any
    // interrupted swap first keeps its leftovers from shadowing or
    // resurrecting old edges later
    recover(fs, path)
    // stage + swap rather than overwrite-in-place: an in-place overwrite
    // deletes the table before writing, so a crash mid-write leaves a
    // PARTIAL table that reads as valid
    stageEdges(edges, path + "__compact")
    swapAll(fs, path)
  }

  /** Write edges partitioned by (project_key, link_type) into `dir`. The
    * rows are re-hashed on the partition columns first (keeping the full
    * task-slot count) so each (project_key, link_type) lands in one task:
    * one file per partition instead of tasks × partitions small files, and
    * one open writer per task instead of one per partition value.
    */
  private def stageEdges(edges: DataFrame, dir: String): Unit =
    edges
      .repartition(edges.sparkSession.sparkContext.defaultParallelism,
        col("project_key"), col("link_type"))
      .write.mode("overwrite")
      .partitionBy("project_key", "link_type")
      .parquet(dir)

  /** Replace the whole table by the complete staged one at `<path>__compact`:
    * swap every project dir either side holds, parking the old ones at
    * `<path>__old` ([[graft.state.DirSwap]]). The first write has nothing
    * to park and renames the stage into place.
    */
  private def swapAll(fs: FileSystem, path: String): Unit = {
    val table = new Path(path)
    val stage = new Path(path + "__compact")
    if (!fs.exists(table)) {
      if (!fs.rename(stage, table))
        throw new java.io.IOException(s"edge-table rename failed: $stage -> $table")
    } else {
      def projects(dir: Path) =
        fs.listStatus(dir).toSeq.map(_.getPath.getName).filter(_.startsWith("project_key="))
      DirSwap.swap(fs, table, stage, new Path(path + "__old"),
        (projects(table) ++ projects(stage)).distinct.sorted)()
    }
  }

  /** S11 incremental sink: replace the edges of every issue in
    * `changedIssues` — the batch's sync universe, not just the srcs that
    * still have edges — with whatever `edges` now holds for them (idempotent
    * per-src replace, reference: pkg/links/links.go:309-331). Using the
    * changed-key set as the deletion universe covers the two cases a
    * batch-derived set misses: an issue whose links were all removed (no
    * rows in `edges` at all) and a link whose link_type changed (its old
    * row lives in a partition the new batch doesn't touch). Every edge
    * carries its src issue's project_key, as [[edges]] derives it.
    *
    * Scale shape: work in proportion to the affected projects, not the
    * table. One small collect names the projects of `changedIssues`; one
    * write job reads only their partitions (partition-pruned), anti-joins
    * them on src against the changed keys, adds the batch's edges and
    * stages the result at `<path>__upsert`, one file per partition. Each
    * affected `project_key=X` dir is then swapped for its staged copy
    * ([[graft.state.DirSwap]]); a project the batch emptied has no staged
    * copy, so its dir (and every link_type partition in it) goes away. The
    * next edge-table writer rolls a crashed swap forward.
    */
  def upsertEdges(edges: DataFrame, changedIssues: DataFrame, path: String): Unit =
    upsertEdges(edges, changedIssues, path, None)

  /** [[upsertEdges]] with a test-only crash injected into its swap. */
  private[graft] def upsertEdges(edges: DataFrame, changedIssues: DataFrame,
      path: String, crash: Option[DirSwap.Crash]): Unit = {
    val spark = edges.sparkSession
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed swap can leave the table without some (or all) of its
    // project dirs — recover BEFORE deciding the table doesn't exist, or this
    // batch would recreate it with only its own edges and silently drop
    // everyone else's
    recover(fs, path)
    if (!fs.exists(new Path(path))) return writeEdges(edges, path)
    // Spark writes null and "" partition values alike (as the default
    // partition name) and reads both back as null
    val pk = coalesce(col("project_key"), lit(""))
    val projects = changedIssues.select(pk).distinct().collect().map(_.getString(0))
    if (projects.isEmpty) return
    // explicit schema: a previous zero-edge write leaves a parquet dir with
    // no data files, which defeats inference
    val kept = spark.read.schema(edges.schema).parquet(path)
      .filter(pk.isin(projects.toSeq: _*))
      .join(changedIssues.select(col("key").as("src")), Seq("src"), "left_anti")
    stageEdges(kept.select(edges.columns.map(col).toSeq: _*).unionByName(edges),
      path + "__upsert")
    DirSwap.swap(fs, new Path(path), new Path(path + "__upsert"),
      new Path(path + "__cold"), projects.toSeq.sorted.map(p =>
        ExternalCatalogUtils.getPartitionPathString("project_key", p)), crash)()
  }

  /** Make the edge table whole again after a crashed writer: finish an
    * interrupted swap of a full rewrite (staged at `__compact`) or of an
    * upsert (staged at `__upsert`). Every edge-table
    * writer runs this first.
    */
  private def recover(fs: FileSystem, path: String): Unit =
    Seq("__compact" -> "__old", "__upsert" -> "__cold").foreach { case (stage, cold) =>
      DirSwap.recover(fs, new Path(path), new Path(path + stage), new Path(path + cold))
    }
}
