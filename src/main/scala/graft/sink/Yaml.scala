package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** YAML record sink + source (SURVEY.md §2.1 S6/S7/S8): one issue = one YAML
  * file at `projects/{project}/issues/{key}.yaml`, the reference's on-disk
  * contract (reference: pkg/schema/yaml.go:30-84, path rule :118-122).
  *
  * The write is `foreachPartition` — each task writes its partition's files
  * directly (no driver collect), so the sink parallelizes with the data; the
  * directory layout does the job of `partitionBy`. The read is
  * `spark.read.text(wholetext)` + a per-partition snakeyaml parse back into
  * the flat issue schema.
  */
object Yaml {

  /** Issue columns persisted to YAML (the flat schema of Tables.issues). */
  val columns: Seq[String] = Seq(
    "key", "project_key", "summary", "description", "status_name",
    "status_category", "assignee_name", "assignee_email", "reporter_name",
    "reporter_email", "created", "updated", "priority", "issuetype", "sprint",
    "epic_link", "parent_issue")

  /** Relationship-array columns (the reference's Relationships block beyond
    * the two scalar pointers): persisted when present, null-filled otherwise.
    */
  val relColumns: Seq[String] = Seq("subtasks", "issue_links")

  /** Issues per shard directory in the optional sharded layout. 8192 keeps
    * every shard tree a small object while the block id stays 5 digits up
    * to 8.2 billion issues per project.
    */
  val ShardBlock: Long = 8192L

  /** Shard segment for the OPTIONAL sharded corpus layout:
    * `projects/{proj}/issues/{shard}/{key}.yaml`. Content-determined from
    * the key alone (reads, GC, and the state ledger all derive it), default
    * layout stays FLAT (reference parity, pkg/schema/yaml.go:118-122).
    *
    * The shard is the issue-number RANGE BLOCK — zero-padded
    * `suffix / 8192` — not a uniform hash, and the difference is the whole
    * point: git serializes an O(entries) tree object for every directory a
    * commit touches (SCALING_MEASURED.md run 6), and under a uniform hash a
    * bulk batch touches EVERY shard, so per-commit tree work stays
    * O(corpus/shards) forever. Issue numbers are sequence-assigned, so
    * range blocks make an append-mostly CDC stream touch only the TAIL
    * block(s) per project — per-commit tree work is O(batch + one block),
    * constant as the corpus grows. Keys without a numeric suffix fall back
    * to a 256-way md5 shard (same derivability, hash distribution).
    * The writers and the ledger derive it in-plan through the SQL twin
    * [[graft.state.StateStore.shardSegCol]] ([[issuePath]]).
    */
  def shardSeg(key: String): String = {
    val dash = key.lastIndexOf('-')
    val suffix = if (dash >= 0) key.substring(dash + 1) else key
    if (suffix.nonEmpty && suffix.length <= 18 && suffix.forall(_.isDigit))
      f"${suffix.toLong / ShardBlock}%05d"
    else {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes(StandardCharsets.UTF_8))
      f"${d(0) & 0xff}%02x"
    }
  }

  /** Spark SQL type of an optional relationship-array column, used to
    * null-fill partial schemas (the reference's Relationships block,
    * pkg/client/client.go:59-73: subtasks []string + issue_links []IssueLink).
    */
  private def relType(c: String): String = c match {
    case "subtasks" => "array<string>"
    case "issue_links" =>
      "array<struct<link_type:string,direction:string,issue_key:string>>"
    case "created" | "updated" => "timestamp"
    case _ => "string"
  }

  /** Enrich a flat issues frame with the reference's relationship arrays:
    * `subtasks` = keys whose parent_issue is this issue (one self-aggregation
    * on parent_issue), `issue_links` = the typed edge table grouped by source
    * key. Both arrays are sorted so YAML bytes — and therefore blob shas and
    * oracle hashes — are deterministic under any partitioning. Plan shape:
    * two keyed aggregations + two left joins on the issue key; at 100 TB all
    * four shuffles share the same key, so AQE/co-partitioning folds them onto
    * one exchange of each side.
    */
  def withRelationships(issues: DataFrame, links: DataFrame,
      allIssues: DataFrame = null): DataFrame = {
    // `allIssues` lets an incremental sync enrich a small batch with
    // subtask children drawn from the FULL corpus: both aggregation inputs
    // are pruned by a semi-join on the batch's keys first, so the work is
    // batch-proportional, not corpus-proportional. Rows whose parent key is
    // not an enrichment target would never survive the final left join, so
    // the semi-join is a pure pruning step — results are identical with or
    // without it.
    val base = Option(allIssues).getOrElse(issues)
    val keys = issues.select(col("key").as("__rk"))
    // tolerate partial CDC schemas: a batch carrying no parent_issue column
    // simply has no subtask derivation to offer
    val withSubs =
      if (!base.columns.contains("parent_issue")) issues
      else {
        val subs = base.filter(col("parent_issue").isNotNull)
          .join(keys, col("parent_issue") === col("__rk"), "left_semi")
          .groupBy(col("parent_issue").as("key"))
          .agg(sort_array(collect_list(col("key"))).as("subtasks"))
        issues.join(subs, Seq("key"), "left")
      }
    val lnks = links
      .join(keys, col("src") === col("__rk"), "left_semi")
      .groupBy(col("src").as("key"))
      .agg(sort_array(collect_list(struct(
        col("link_type"), col("direction"), col("dst").as("issue_key"))))
        .as("issue_links"))
    withSubs.join(lnks, Seq("key"), "left")
  }

  /** YAML double-quoted scalar escapes. Newlines and control characters must
    * be escaped explicitly — a literal newline inside a double-quoted scalar
    * is folded to a space by YAML parsers (silent content change on a
    * multi-line description).
    */
  private[graft] def esc(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '\\' => sb ++= "\\\\"
      case '"' => sb ++= "\\\""
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' || c == '\u007f' => sb ++= f"\\x${c.toInt}%02x"
      // YAML 1.1 line-break characters beyond \n\r — NEL (in the C1 range),
      // LINE SEPARATOR, PARAGRAPH SEPARATOR — are folded by parsers exactly
      // like a raw newline, and C1 controls are invalid unescaped
      case c if (c >= '\u0080' && c <= '\u009f') || c == '\u2028' || c == '\u2029' =>
        sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').result()
  }

  private[graft] val wire = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")

  private def fmtTs(r: Row, field: String): String = r.get(r.fieldIndex(field)) match {
    case t: java.sql.Timestamp => t.toLocalDateTime.format(wire)
    case ldt: java.time.LocalDateTime => ldt.format(wire)
    case null => ""
    case other => other.toString
  }

  /** Serialize one flat issue row to the reference's YAML document layout
    * (nested status/assignee/reporter/relationships blocks;
    * reference: pkg/schema/yaml.go:137-155 ToYAML).
    */
  def toYamlString(r: Row): String = {
    def s(f: String): String = Option(r.getAs[String](f)).getOrElse("")
    val sb = new StringBuilder
    sb ++= s"key: ${esc(s("key"))}\n"
    sb ++= s"project: ${esc(s("project_key"))}\n"
    sb ++= s"summary: ${esc(s("summary"))}\n"
    sb ++= s"description: ${esc(s("description"))}\n"
    sb ++= "status:\n"
    sb ++= s"  name: ${esc(s("status_name"))}\n"
    sb ++= s"  category: ${esc(s("status_category"))}\n"
    sb ++= "assignee:\n"
    sb ++= s"  name: ${esc(s("assignee_name"))}\n"
    sb ++= s"  email: ${esc(s("assignee_email"))}\n"
    sb ++= "reporter:\n"
    sb ++= s"  name: ${esc(s("reporter_name"))}\n"
    sb ++= s"  email: ${esc(s("reporter_email"))}\n"
    sb ++= s"created: ${esc(fmtTs(r, "created"))}\n"
    sb ++= s"updated: ${esc(fmtTs(r, "updated"))}\n"
    sb ++= s"priority: ${esc(s("priority"))}\n"
    sb ++= s"issuetype: ${esc(s("issuetype"))}\n"
    sb ++= s"sprint: ${esc(s("sprint"))}\n"
    // relationships block ordered as the reference's struct: epic_link,
    // parent_issue, subtasks, issue_links (pkg/client/client.go:59-73);
    // empty members are omitted like yaml:"...,omitempty"
    def seqOf[T](f: String): Seq[T] =
      Option(r.getAs[scala.collection.Seq[T]](f)).map(_.toSeq).getOrElse(Seq.empty)
    val subtasks =
      if (r.schema.fieldNames.contains("subtasks")) seqOf[String]("subtasks")
      else Seq.empty
    val issueLinks =
      if (r.schema.fieldNames.contains("issue_links")) seqOf[Row]("issue_links")
      else Seq.empty
    val hasRel = s("epic_link").nonEmpty || s("parent_issue").nonEmpty ||
      subtasks.nonEmpty || issueLinks.nonEmpty
    if (hasRel) {
      sb ++= "relationships:\n"
      if (s("epic_link").nonEmpty) sb ++= s"  epic_link: ${esc(s("epic_link"))}\n"
      if (s("parent_issue").nonEmpty) sb ++= s"  parent_issue: ${esc(s("parent_issue"))}\n"
      if (subtasks.nonEmpty) {
        sb ++= "  subtasks:\n"
        subtasks.foreach(st => sb ++= s"    - ${esc(st)}\n")
      }
      if (issueLinks.nonEmpty) {
        sb ++= "  issue_links:\n"
        issueLinks.foreach { l =>
          def ls(f: String): String = Option(l.getAs[String](f)).getOrElse("")
          sb ++= s"    - type: ${esc(ls("link_type"))}\n"
          sb ++= s"      direction: ${esc(ls("direction"))}\n"
          sb ++= s"      issue_key: ${esc(ls("issue_key"))}\n"
        }
      }
    }
    sb.result()
  }

  /** Per-batch write outcome (A4's written/failed split,
    * reference: internal/sync/batch.go:33-60 BatchResult.FailedIssues). The
    * failed KEYS come back too — like the reference's in-memory failed list —
    * so the state merge can exclude them; failures are exceptional, the list
    * is not a data-plane structure.
    */
  final case class WriteResult(written: Long, failedKeys: Seq[String]) {
    def failed: Long = failedKeys.length.toLong
  }

  /** The one issue-path layout rule, `projects/{p}/issues/[{shard}/]{key}.yaml`
    * (reference: pkg/schema/yaml.go:118-122; the shard segment only in the
    * sharded layout, [[shardSeg]]), as a column: the writers project it, the
    * state ledger records it ([[graft.state.StateStore.fromIssues]]), so the
    * manifest lines and the ledger's `file_path` name the same file.
    */
  def issuePath(project: Column, key: Column, sharded: Boolean): Column = {
    val shard =
      if (sharded) concat(graft.state.StateStore.shardSegCol(key), lit("/"))
      else lit("")
    concat(lit("projects/"), project, lit("/issues/"), shard, key, lit(".yaml"))
  }

  /** `(key, path, yaml)` rows for the writers: partial schemas (e.g. a CDC
    * stream carrying only changed fields) are completed with nulls — absent
    * columns persist as empty — and the YAML document is rendered in the
    * projection (native YamlRender, stays in codegen over unsafe rows), so a
    * writer task converts three flat strings per issue, never the
    * relationship arrays.
    */
  private def rendered(issues: DataFrame, sharded: Boolean): DataFrame = {
    val complete = (columns ++ relColumns).foldLeft(issues) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(relType(c)))
    }
    complete.select(col("key"),
      issuePath(col("project_key"), col("key"), sharded).as("path"),
      graft.functions.YamlRender.forIssue(complete).as("yaml"))
  }

  /** The one per-partition row writer over [[rendered]] rows: each file lands
    * at `repoDir/path`, with one createDirectories syscall per directory per
    * partition, not per row. `written(path, bytes)` runs inside the row's
    * failure guard, so an IOException from it fails the row like a failed
    * file write: the row goes to `failed(key)` and the batch goes on — the
    * reference records failed issues and syncs the rest.
    */
  private def writeRows(repoDir: String, rows: Iterator[Row])(
      written: (String, Array[Byte]) => Unit, failed: String => Unit): Unit = {
    val made = new java.util.HashMap[String, java.nio.file.Path]()
    rows.foreach { r =>
      val key = r.getString(0)
      try {
        val rel = r.getString(1)
        val slash = rel.lastIndexOf('/')
        val d = rel.substring(0, slash)
        var dir = made.get(d)
        if (dir == null) {
          dir = Paths.get(repoDir, d)
          Files.createDirectories(dir)
          made.put(d, dir)
        }
        val bytes = r.getString(2).getBytes(StandardCharsets.UTF_8)
        Files.write(dir.resolve(rel.substring(slash + 1)), bytes)
        written(rel, bytes)
      } catch { case _: java.io.IOException => failed(key) }
    }
  }

  /** S6/S8: write one YAML file per issue at [[issuePath]] under `repoDir`,
    * creating the directory tree (reference: pkg/schema/yaml.go:88-116
    * CreateDirectoryStructure) — no git objects. The Sink query and a CDC
    * stream without git commits write through this.
    */
  def writeIssuesCounted(issues: DataFrame, repoDir: String,
      sharded: Boolean = false): WriteResult = {
    val counter = issues.sparkSession.sparkContext.longAccumulator("yaml_written")
    val failures = issues.sparkSession.sparkContext
      .collectionAccumulator[String]("yaml_failed")
    rendered(issues, sharded).foreachPartition { rows: Iterator[Row] =>
      writeRows(repoDir, rows)((_, _) => counter.add(1), failures.add)
    }
    // dedup: under speculative execution or partial task retry the same key
    // can be attempted more than once (and can even succeed in one attempt
    // while failing in another — keeping it failed is safe: the file exists
    // but the key stays out of state and is retried next run). Distinct keys
    // keep written/failed/attempted reconcilable on a cluster.
    WriteResult(counter.value, failures.value.asScala.toSeq.distinct)
  }

  /** [[writeIssuesCounted]] returning only the written count. */
  def writeIssues(issues: DataFrame, repoDir: String,
      sharded: Boolean = false): Long =
    writeIssuesCounted(issues, repoDir, sharded).written

  /** One parsed issue link (the reference's IssueLink,
    * pkg/client/client.go:69-75; `type` on the wire → `link_type` in the
    * schema, matching the links edge table).
    */
  final case class YamlLink(link_type: String, direction: String,
      issue_key: String)

  /** Handle to a distributed blob-write's on-disk manifest: per-partition
    * entry files under `.git/graft-manifest/<token>/`. The handle never holds
    * the entry list in memory — `written`/`failedKeys` come from one
    * streaming scan at construction, and [[entries]] re-opens the files on
    * demand (so a commit retry re-reads the same entries byte-for-byte).
    */
  final case class BlobManifest(dir: java.nio.file.Path, written: Long,
      failedKeys: Seq[String]) {
    def failed: Long = failedKeys.length.toLong
    /** `(path, sha)` pairs, streamed from the manifest files. */
    def entries: Iterator[(String, String)] =
      BlobManifest.scan(dir).collect { case Right(e) => e }
    def delete(): Unit = {
      if (Files.isDirectory(dir)) {
        Files.list(dir).iterator().asScala.foreach(Files.deleteIfExists(_))
        Files.deleteIfExists(dir)
      }
      ()
    }
  }

  object BlobManifest {
    /** The handle of a published manifest dir, counted in one streaming scan. */
    private[sink] def load(dir: java.nio.file.Path): BlobManifest = {
      var written = 0L
      val failedKeys = scala.collection.mutable.LinkedHashSet.empty[String]
      scan(dir).foreach {
        case Right(_) => written += 1
        case Left(k) => failedKeys += k
      }
      BlobManifest(dir, written, failedKeys.toSeq)
    }

    /** Lazily stream manifest lines: `Left(failedKey)` / `Right((path, sha))`.
      * Files are read in partition order; each is closed before the next
      * opens.
      */
    private[sink] def scan(
        dir: java.nio.file.Path): Iterator[Either[String, (String, String)]] = {
      val parts = Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      parts.iterator.flatMap { p =>
        Files.readAllLines(p, StandardCharsets.UTF_8).asScala.iterator.flatMap { line =>
          val f = line.split('\t')
          if (f.length >= 3 && f(0) == "ok") Some(Right((f(2), f(1))))
          else if (f.length >= 2 && f(0) == "fail") Some(Left(f(1)))
          else None
        }
      }
    }
  }

  /** Rebuild the manifest handles a prior run left under
    * `.git/graft-manifest/` — the durability counterpart of the reference's
    * "nothing acknowledged may be lost" recovery (reference:
    * pkg/state/manager.go:210-267). A stream stopped (or killed) between the
    * YAML/blob write and the cadence-boundary commit leaves its manifests on
    * disk by design; their keys are already marked synced in the state table,
    * so NOTHING re-emits them — the restart must re-feed them into a commit
    * or they are permanently absent from git history.
    *
    * Un-renamed `*.attempt-*` temp files (a task killed mid-write) are
    * deleted first: the atomic-rename protocol means only renamed `part-*`
    * files are complete, and a truncated attempt file could otherwise feed a
    * corrupt path into the tree. Handles come back oldest-first (dir mtime,
    * then name) so the commit's latest-wins path overlay preserves batch
    * order across a multi-batch cadence window.
    */
  def recoverManifests(repoDir: String): Seq[BlobManifest] = {
    val root = Paths.get(repoDir, ".git", "graft-manifest")
    if (!Files.isDirectory(root)) return Nil
    Files.list(root).iterator().asScala.toSeq
      .filter(Files.isDirectory(_))
      .sortBy(d => (scala.util.Try(Files.getLastModifiedTime(d).toMillis)
        .getOrElse(Long.MaxValue), d.getFileName.toString))
      .map { dir =>
        Files.list(dir).iterator().asScala
          .filter(_.getFileName.toString.contains(".attempt-"))
          .foreach(Files.deleteIfExists(_))
        BlobManifest.load(dir)
      }
  }

  /** S6+S9 fused, what sync and stream run: each task writes its
    * partition's YAML files AND the corresponding git loose blob objects
    * (content-addressed, so concurrent / retried tasks converge on identical
    * object files) — the hashing and object creation that `git add` would do
    * serially on the driver run distributed with the data. The `(sha, path)`
    * outcomes go to a per-partition MANIFEST file instead of a driver collect
    * (temp + atomic rename — a retried or speculative attempt republishes
    * identical content, so the winning file is always well-formed). The
    * manifest feeds the tree-direct commit ([[GitRepo.commitTreeDirect]]),
    * which holds the batch's pairs on the driver for the merge, and
    * persists until [[BlobManifest.delete]], so commit retries re-read it
    * from disk.
    *
    * Requires an initialized repo ([[GitRepo.init]]) at `repoDir`.
    */
  def writeIssuesWithBlobsManifest(issues: DataFrame, repoDir: String,
      sharded: Boolean = false): BlobManifest = {
    val manifestDir = Paths.get(repoDir, ".git", "graft-manifest",
      java.util.UUID.randomUUID().toString)
    Files.createDirectories(manifestDir)
    val manifestDirStr = manifestDir.toString
    rendered(issues, sharded).foreachPartition { rows: Iterator[Row] =>
      val taskManifestDir = Paths.get(manifestDirStr)
      val tc = org.apache.spark.TaskContext.get()
      val part = f"part-${tc.partitionId()}%05d"
      val tmp = taskManifestDir.resolve(s"$part.attempt-${tc.taskAttemptId()}")
      val gitDir = Paths.get(repoDir, ".git")
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        Files.newOutputStream(tmp), StandardCharsets.UTF_8), 1 << 16)
      try writeRows(repoDir, rows)(
        (rel, bytes) => w.write(s"ok\t${GitObjects.writeBlob(gitDir, bytes)}\t$rel\n"),
        key => w.write(s"fail\t$key\n"))
      finally w.close()
      Files.move(tmp, taskManifestDir.resolve(part),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    }
    BlobManifest.load(manifestDir)
  }

  /** Flat issue record parsed back from YAML (timestamps re-parsed from the
    * wire format — F3's chain applies on read).
    */
  final case class YamlIssue(
      key: String, project_key: String, summary: String, description: String,
      status_name: String, status_category: String,
      assignee_name: String, assignee_email: String,
      reporter_name: String, reporter_email: String,
      created: java.sql.Timestamp, updated: java.sql.Timestamp,
      priority: String, issuetype: String, sprint: Option[String],
      epic_link: Option[String], parent_issue: Option[String],
      subtasks: Seq[String], issue_links: Seq[YamlLink])

  /** The one scan of the YAML tree: `(src, value)` = (file URI, whole
    * document) for every `*.yaml` under `repoDir/projects`, in both layouts.
    * A missing `projects/` root OR an initialized-but-empty tree yields an
    * empty frame, not a path-does-not-exist AnalysisException from the glob
    * (the walk short-circuits at the first .yaml, so it is O(dirs) not
    * O(files)).
    */
  private def scanYaml(spark: SparkSession, repoDir: String): DataFrame = {
    val root = Paths.get(repoDir, "projects")
    val anyYaml = Files.isDirectory(root) && {
      val walk = Files.walk(root)
      try walk.anyMatch(p => p.toString.endsWith(".yaml"))
      finally walk.close()
    }
    if (!anyYaml) {
      import spark.implicits._
      return Seq.empty[(String, String)].toDF("src", "value")
    }
    spark.read.option("wholetext", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.yaml")
      .text(s"$repoDir/projects")
      .select(input_file_name().as("src"), col("value"))
  }

  /** The one field accessor over a parsed YAML record: top-level and
    * one-level nested scalars as strings, "" when absent — what
    * [[toYamlString]] writes for a null.
    */
  private final class Fields(m: java.util.Map[_, _]) {
    private def str(o: Any): String = if (o == null) "" else o.toString
    def apply(k: String): String = str(m.get(k))
    def apply(k: String, f: String): String = m.get(k) match {
      case sub: java.util.Map[_, _] => str(sub.get(f))
      case _ => ""
    }
    /** A wire timestamp; null when empty (partial CDC schemas render null
      * created/updated as "").
      */
    def ts(k: String): java.time.LocalDateTime = {
      val s = apply(k)
      if (s.isEmpty) null else java.time.LocalDateTime.parse(s, wire)
    }
    /** The list at `k.f`, empty when absent. */
    def list(k: String, f: String): Seq[Any] = m.get(k) match {
      case sub: java.util.Map[_, _] => sub.get(f) match {
        case l: java.util.List[_] => l.asScala.toSeq
        case _ => Nil
      }
      case _ => Nil
    }
  }

  /** S7: read the YAML tree back into the flat issue schema. Layout-agnostic:
    * the recursive lookup reads the flat AND the sharded corpus layouts (and
    * any mix mid-migration) in one scan — key identity lives in the document,
    * not the path.
    */
  def readIssues(spark: SparkSession, repoDir: String): DataFrame = {
    import spark.implicits._
    scanYaml(spark, repoDir).select("value").as[String].mapPartitions { docs =>
      val yaml = new org.yaml.snakeyaml.Yaml()
      docs.map { doc =>
        val d = new Fields(yaml.load[java.util.Map[_, _]](doc))
        def opt(s: String): Option[String] = if (s.isEmpty) None else Some(s)
        def ts(k: String): java.sql.Timestamp =
          Option(d.ts(k)).map(java.sql.Timestamp.valueOf).orNull
        YamlIssue(
          d("key"), d("project"), d("summary"), d("description"),
          d("status", "name"), d("status", "category"),
          d("assignee", "name"), d("assignee", "email"),
          d("reporter", "name"), d("reporter", "email"),
          ts("created"), ts("updated"),
          d("priority"), d("issuetype"), opt(d("sprint")),
          opt(d("relationships", "epic_link")),
          opt(d("relationships", "parent_issue")),
          d.list("relationships", "subtasks").map(_.toString),
          d.list("relationships", "issue_links").collect {
            case lm: java.util.Map[_, _] =>
              val l = new Fields(lm)
              YamlLink(l("type"), l("direction"), l("issue_key"))
          })
      }
    }.toDF()
  }

  /** `(file_path, checksum)` for every YAML record on disk: each file is
    * parsed back and its persisted scalar fields re-hashed with the state
    * ledger's record formula ([[graft.state.StateStore.recordChecksumJvm]]),
    * so recovery can detect content edited outside of sync by comparing
    * against the checksum recorded at sync time — the reference's
    * ValidateState checksum pass (pkg/state/manager.go:473-550), distributed.
    * An unparseable file yields a sentinel checksum that can never match, so
    * corruption surfaces as drift instead of aborting the scan.
    */
  def fileRecordChecksums(spark: SparkSession, repoDir: String): DataFrame = {
    import spark.implicits._
    scanYaml(spark, repoDir).as[(String, String)].mapPartitions { docs =>
      val yaml = new org.yaml.snakeyaml.Yaml()
      docs.map { case (src, doc) =>
        // both layouts: projects/{proj}/issues/[{shard}/]{key}.yaml
        val rel = src.replaceFirst(
          "^.*?(projects/[^/]+/issues/(?:[^/]+/)?[^/]+\\.yaml)$", "$1")
        val checksum = try {
          val d = new Fields(yaml.load[java.util.Map[_, _]](doc))
          def ts(k: String): String =
            Option(d.ts(k)).map(graft.state.StateStore.tsCastString).getOrElse("")
          // StateStore.checksumColumns (= Yaml.columns) order
          graft.state.StateStore.recordChecksumJvm(Array(
            d("key"), d("project"), d("summary"), d("description"),
            d("status", "name"), d("status", "category"),
            d("assignee", "name"), d("assignee", "email"),
            d("reporter", "name"), d("reporter", "email"),
            ts("created"), ts("updated"),
            d("priority"), d("issuetype"), d("sprint"),
            d("relationships", "epic_link"),
            d("relationships", "parent_issue")))
        } catch { case scala.util.control.NonFatal(_) => s"unparseable:$rel" }
        (rel, checksum)
      }
    }.toDF("file_path", "checksum")
  }
}
