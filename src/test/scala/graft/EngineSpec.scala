package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.SyncEngine
import graft.engine.SyncEngine.SyncOptions
import graft.sink.GitRepo
import graft.sources.{Ingest, Throttle}
import graft.state.StateStore

class EngineSpec extends AnyFunSuite {
  import TestSpark._

  // past all data timestamps, so an idempotent re-run really is a no-op
  private val now1 = java.sql.Timestamp.valueOf("2002-01-01 00:00:00")
  private val now2 = java.sql.Timestamp.valueOf("2002-01-02 00:00:00")

  /** An edge table's rows as sorted `|`-joined strings, src first. */
  private def edgeRows(edges: org.apache.spark.sql.DataFrame): Seq[String] =
    edges.select("src", "link_type", "direction", "dst", "project_key")
      .collect().map(_.mkString("|")).toSeq.sorted

  test("full sync pipeline: jql filter → yaml → edges → commit → state") {
    val work = Files.createTempDirectory("graft-engine").toString
    val repo = s"$work/repo"
    val statePath = s"$work/state"
    val steps = scala.collection.mutable.ArrayBuffer.empty[String]
    val progress = new SyncEngine.ProgressReporter {
      def step(name: String, percent: Int): Unit = steps += name
    }
    val result = SyncEngine.run(spark,
      Tables.issues(spark, sf), Tables.links(spark, sf),
      repo, statePath,
      SyncOptions(jql = Some("""project = P5 AND status != "Done"""")),
      now = now1, progress = progress)
    assert(result.successful > 0)
    assert(result.total == result.successful) // non-incremental: all written
    assert(steps.containsSlice(Seq("planning", "filtering", "writing",
      "relationships", "committing", "state", "done")))
    // artifacts exist
    assert(SinkSpec.log(repo).exists(_.startsWith("feat(sync): sync")))
    assert(StateStore.load(spark, statePath).count() == result.successful)
    assert(new java.io.File(s"$repo/relationships").exists())

    // second run, incremental: nothing changed → nothing written
    val r2 = SyncEngine.run(spark,
      Tables.issues(spark, sf), Tables.links(spark, sf),
      repo, statePath,
      SyncOptions(jql = Some("""project = P5 AND status != "Done""""),
        incremental = true),
      now = now2)
    assert(r2.successful == 0)
    assert(r2.skipped == r2.total)
  }

  test("incremental sync preserves other issues' relationship edges") {
    val work = Files.createTempDirectory("graft-edgekeep").toString
    val repo = s"$work/repo"
    val statePath = s"$work/state"
    val issues = Tables.issues(spark, sf)
    val links = Tables.links(spark, sf)
    SyncEngine.run(spark, issues, links, repo, statePath,
      SyncOptions(), now = now1)
    val e0 = spark.read.parquet(s"$repo/relationships").count()
    assert(e0 > 0)
    // no-op incremental rerun: nothing changed → the edge table must survive
    SyncEngine.run(spark, issues, links, repo, statePath,
      SyncOptions(incremental = true), now = now2)
    assert(spark.read.parquet(s"$repo/relationships").count() == e0)
    // targeted change: bump ONE issue with edges; its edges are replaced,
    // everyone else's stay
    val victim = spark.read.parquet(s"$repo/relationships")
      .select("src").head.getString(0)
    val bumped = issues.withColumn("updated",
      when(col("key") === victim, lit(java.sql.Timestamp.valueOf("2002-01-03 00:00:00")))
        .otherwise(col("updated")))
    val before = edgeRows(spark.read.parquet(s"$repo/relationships"))
    val r3 = SyncEngine.run(spark, bumped, links, repo, statePath,
      SyncOptions(incremental = true), now = java.sql.Timestamp.valueOf("2002-01-04 00:00:00"))
    assert(r3.successful == 1)
    assert(spark.read.parquet(s"$repo/relationships").count() == e0)
    // the edge set itself: every other issue's edges are unchanged, and the
    // victim's are exactly its links
    val after = spark.read.parquet(s"$repo/relationships")
    assert(edgeRows(after.filter(col("src") =!= victim)) ==
      before.filterNot(_.startsWith(victim + "|")))
    assert(edgeRows(after.filter(col("src") === victim)) ==
      edgeRows(links.filter(col("src") === victim)))
  }

  test("incremental sync that removes every edge of a project drops its dir") {
    val work = Files.createTempDirectory("graft-edgedrop").toString
    val repo = s"$work/repo"
    val statePath = s"$work/state"
    val issues = Tables.issues(spark, sf)
    val links = Tables.links(spark, sf)
    SyncEngine.run(spark, issues, links, repo, statePath, SyncOptions(), now = now1)
    val rel = s"$repo/relationships"
    val gone = spark.read.parquet(rel).select("project_key").head.getString(0)
    assert(new java.io.File(s"$rel/project_key=$gone").exists())
    val others = edgeRows(spark.read.parquet(rel).filter(col("project_key") =!= gone))
    // every issue of `gone` changes, and the source now reports no links
    // for any of them
    val bumped = issues.withColumn("updated",
      when(col("project_key") === gone, lit(java.sql.Timestamp.valueOf("2002-01-03 00:00:00")))
        .otherwise(col("updated")))
    val r = SyncEngine.run(spark, bumped, links.filter(col("project_key") =!= gone),
      repo, statePath, SyncOptions(incremental = true),
      now = java.sql.Timestamp.valueOf("2002-01-04 00:00:00"))
    assert(r.successful == issues.filter(col("project_key") === gone).count())
    assert(!new java.io.File(s"$rel/project_key=$gone").exists())
    assert(edgeRows(spark.read.parquet(rel)) == others)
  }

  test("incremental sync leaves one parquet file per touched edge partition") {
    val work = Files.createTempDirectory("graft-edgefiles").toString
    val repo = s"$work/repo"
    val statePath = s"$work/state"
    val issues = Tables.issues(spark, sf)
    val links = Tables.links(spark, sf)
    SyncEngine.run(spark, issues, links, repo, statePath, SyncOptions(), now = now1)
    // one issue with edges in each of two projects changes
    val rel = s"$repo/relationships"
    val victims = spark.read.parquet(rel).groupBy("project_key").agg(min("src"))
      .orderBy("project_key").limit(2).collect().map(_.getString(1)).toSeq
    val bumped = issues.withColumn("updated",
      when(col("key").isin(victims: _*), lit(java.sql.Timestamp.valueOf("2002-01-03 00:00:00")))
        .otherwise(col("updated")))
    val r = SyncEngine.run(spark, bumped, links, repo, statePath,
      SyncOptions(incremental = true), now = java.sql.Timestamp.valueOf("2002-01-04 00:00:00"))
    assert(r.successful == 2)
    val touched = issues.filter(col("key").isin(victims: _*))
      .select("project_key").collect().map(_.getString(0)).toSet
    assert(touched.size == 2)
    touched.foreach { p =>
      val parts = new java.io.File(s"$rel/project_key=$p").listFiles()
        .filter(_.getName.startsWith("link_type="))
      assert(parts.nonEmpty)
      parts.foreach { d =>
        val files = d.listFiles().count(_.getName.endsWith(".parquet"))
        assert(files == 1, s"$p/${d.getName}: $files files")
      }
    }
  }

  test("failed file writes are counted and stay out of state for retry") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-fail").toString
    val repo = s"$work/repo"
    val statePath = s"$work/state"
    // sabotage one project: a FILE where its directory belongs
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(repo, "projects"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(repo, "projects", "P9"), "not a dir".getBytes)
    val issues = Seq(("P9-1", "P9", "s9"), ("P8-1", "P8", "s8"))
      .toDF("key", "project_key", "summary")
      .withColumn("updated", lit("2001-12-01 00:00:00").cast("timestamp"))
    val links = Seq.empty[(String, String, String, String, String)]
      .toDF("src", "link_type", "direction", "dst", "project_key")
    val r = SyncEngine.run(spark, issues, links, repo, statePath,
      SyncOptions(), now = now1)
    assert(r.successful == 1 && r.failed == 1 && r.total == 2)
    // only the written issue is marked synced
    assert(StateStore.load(spark, statePath).select("key").as[String]
      .collect().toSeq == Seq("P8-1"))
    // unblock the project: the failed issue is still an incremental candidate
    java.nio.file.Files.delete(java.nio.file.Paths.get(repo, "projects", "P9"))
    val r2 = SyncEngine.run(spark, issues, links, repo, statePath,
      SyncOptions(incremental = true), now = now2)
    assert(r2.successful == 1 && r2.failed == 0)
    assert(StateStore.load(spark, statePath).count() == 2)
  }

  test("dry run counts but writes nothing") {
    val work = Files.createTempDirectory("graft-dry").toString
    val result = SyncEngine.run(spark,
      Tables.issues(spark, sf), Tables.links(spark, sf),
      s"$work/repo", s"$work/state",
      SyncOptions(jql = Some("project = P6"), dryRun = true), now = now1)
    assert(result.successful == 0 && result.total > 0)
    assert(!new java.io.File(s"$work/repo/projects").exists())
    assert(StateStore.load(spark, s"$work/state").count() == 0)
  }

  test("recover detects and repairs orphans and missing files") {
    val work = Files.createTempDirectory("graft-recover").toString
    val repo = s"$work/repo"
    val statePath = s"$work/state"
    SyncEngine.run(spark, Tables.issues(spark, sf), Tables.links(spark, sf),
      repo, statePath, SyncOptions(jql = Some("project = P2")), now = now1)
    // corrupt: delete one synced file, add one orphan
    val synced = java.nio.file.Paths.get(repo, "projects", "P2", "issues")
    val victim = Files.list(synced).iterator().next()
    Files.delete(victim)
    Files.write(synced.resolve("ORPHAN-1.yaml"), "key: ORPHAN-1\n".getBytes)
    val report = SyncEngine.recover(spark, repo, statePath, repair = true)
    val issues = report.groupBy("issue").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(issues.getOrElse("missing_file", 0L) == 1)
    assert(issues.getOrElse("orphaned_file", 0L) == 1)
    // repaired: orphan removed, missing key dropped from state
    assert(!Files.exists(synced.resolve("ORPHAN-1.yaml")))
    val reReport = SyncEngine.recover(spark, repo, statePath)
    assert(reReport.count() == 0)
  }

  test("recover handles an initialized-but-empty tree and a missing tree") {
    val work = Files.createTempDirectory("graft-empty-tree").toString
    // no projects/ at all
    assert(SyncEngine.recover(spark, s"$work/norepo", s"$work/nostate").count() == 0)
    // projects/ exists but holds no yaml files
    Files.createDirectories(java.nio.file.Paths.get(work, "repo2", "projects", "P1", "issues"))
    assert(SyncEngine.recover(spark, s"$work/repo2", s"$work/nostate2").count() == 0)
  }

  test("recover flags files whose content was edited outside of sync") {
    val work = Files.createTempDirectory("graft-drift").toString
    val repo = s"$work/repo"
    val statePath = s"$work/state"
    SyncEngine.run(spark, Tables.issues(spark, sf), Tables.links(spark, sf),
      repo, statePath, SyncOptions(jql = Some("project = P3")), now = now1)
    // a clean tree reconciles with zero findings — including the checksum pass
    assert(SyncEngine.recover(spark, repo, statePath).count() == 0)
    // tamper: rewrite one file's summary out-of-band
    val dir = java.nio.file.Paths.get(repo, "projects", "P3", "issues")
    val victim = Files.list(dir).iterator().next()
    val edited = new String(Files.readAllBytes(victim), "UTF-8")
      .replaceFirst("summary: \"", "summary: \"EDITED ")
    Files.write(victim, edited.getBytes("UTF-8"))
    // and corrupt a second file beyond parsing
    val it = Files.list(dir).iterator(); it.next()
    val garbled = it.next()
    Files.write(garbled, "::: not yaml {{{\n".getBytes("UTF-8"))
    val report = SyncEngine.recover(spark, repo, statePath).cache()
    val drifted = report.filter(col("issue") === "checksum_mismatch")
      .select("file_path").collect().map(_.getString(0)).toSet
    assert(drifted == Set(victim, garbled).map(p =>
      java.nio.file.Paths.get(repo).relativize(p).toString))
    // drift is report-only: repair leaves the files in place
    SyncEngine.recover(spark, repo, statePath, repair = true)
    assert(Files.exists(victim) && Files.exists(garbled))
  }

  test("empty full-run selection leaves the edge table untouched") {
    val work = Files.createTempDirectory("graft-emptyfull").toString
    val repo = s"$work/repo"
    val statePath = s"$work/state"
    SyncEngine.run(spark, Tables.issues(spark, sf), Tables.links(spark, sf),
      repo, statePath, SyncOptions(jql = Some("project = P4")), now = now1)
    val edges = spark.read.parquet(s"$repo/relationships").count()
    assert(edges > 0)
    // a misconfigured filter selecting nothing must not rewrite
    // relationships/ to empty (regression: the edge job used to fork before
    // the empty check)
    val r = SyncEngine.run(spark, Tables.issues(spark, sf),
      Tables.links(spark, sf), repo, statePath,
      SyncOptions(jql = Some("project = NOPE")), now = now2)
    assert(r.total == 0 && r.successful == 0)
    assert(spark.read.parquet(s"$repo/relationships").count() == edges)
  }

  test("mass drift: corpus-proportional findings stay snapshot-stable across repair") {
    val work = Files.createTempDirectory("graft-massdrift").toString
    val repo = s"$work/repo"
    val statePath = s"$work/state"
    SyncEngine.run(spark, Tables.issues(spark, sf), Tables.links(spark, sf),
      repo, statePath, SyncOptions(jql = Some("project = P1")), now = now1)
    val n = StateStore.load(spark, statePath).count()
    assert(n > 0)
    // wipe the state: EVERY synced file becomes an orphan at once — the
    // corpus-proportional findings shape (restored backup / mass corruption)
    // that recover must absorb without a driver-side full collect
    StateStore.save(StateStore.load(spark, statePath).limit(0), statePath)
    val report = SyncEngine.recover(spark, repo, statePath, repair = true)
    // the report is a SNAPSHOT: repair already deleted the files, yet the
    // returned frame still lists every one of them
    assert(report.filter(col("issue") === "orphaned_file").count() == n)
    assert(Files.list(java.nio.file.Paths.get(repo, "projects", "P1", "issues"))
      .count() == 0)
    // the git index converged with the tree (no resurfacing paths)
    val lsFiles = scala.sys.process.Process(
      Seq("git", "ls-files"), new java.io.File(repo)).!!
    assert(!lsFiles.contains("projects/P1/issues/"))
    // and a post-repair recover finds a clean tree
    assert(SyncEngine.recover(spark, repo, statePath).count() == 0)
  }

  test("repair drops orphaned files from the git index, tree reconverges") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-repairidx").toString
    val repo = s"$work/repo"
    val statePath = s"$work/state"
    SyncEngine.run(spark, Tables.issues(spark, sf), Tables.links(spark, sf),
      repo, statePath, SyncOptions(jql = Some("project = P3")), now = now1)
    // drop one synced key from state: its COMMITTED file becomes an orphan
    val st = StateStore.load(spark, statePath)
    val victim = st.select("key").as[String].orderBy("key").head()
    StateStore.save(st.filter(col("key") =!= victim), statePath)
    SyncEngine.recover(spark, repo, statePath, repair = true)
    val victimPath = s"projects/P3/issues/$victim.yaml"
    assert(!Files.exists(java.nio.file.Paths.get(repo, victimPath)))
    // the deletion must reach the index too, not just the disk (a stale
    // index entry would show as a lingering deletion in `git status`)
    val lsFiles = scala.sys.process.Process(
      Seq("git", "ls-files"), new java.io.File(repo)).!!
    assert(!lsFiles.linesIterator.contains(victimPath))
    // next batch commit picks up the staged deletion and status converges
    val r = SyncEngine.run(spark, Tables.issues(spark, sf),
      Tables.links(spark, sf), repo, statePath,
      SyncOptions(jql = Some(s"""project = P3 AND key != "$victim"""")),
      now = now2)
    assert(r.successful > 0)
    // no lingering ' D' (deleted-but-unstaged) entries — relationships/ is
    // an untracked parquet dir by design, so filter to tracked-file states
    val porcelain = scala.sys.process.Process(
      Seq("git", "status", "--porcelain"), new java.io.File(repo)).!!
    assert(!porcelain.linesIterator.exists(_.take(2).contains('D')))
    val (code, lsTree) = {
      val out = new StringBuilder
      val logger = scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), _ => ())
      val c = scala.sys.process.Process(
        Seq("git", "ls-tree", "-r", "--name-only", "HEAD"),
        new java.io.File(repo)).!(logger)
      (c, out.result())
    }
    assert(code == 0 && !lsTree.linesIterator.contains(victimPath))
  }

  test("repair commits its removals: a stream commit and a later sync keep them out of HEAD") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-repaircommit").toString
    val repo = s"$work/repo"
    val statePath = s"$work/state"
    SyncEngine.run(spark, Tables.issues(spark, sf), Tables.links(spark, sf),
      repo, statePath, SyncOptions(jql = Some("project = P3")), now = now1)
    val st = StateStore.load(spark, statePath)
    val victim = st.select("key").as[String].orderBy("key").head()
    StateStore.save(st.filter(col("key") =!= victim), statePath)
    SyncEngine.recover(spark, repo, statePath, repair = true)
    val victimPath = s"projects/P3/issues/$victim.yaml"
    def headPaths(): Seq[String] = scala.sys.process.Process(
      Seq("git", "ls-tree", "-r", "--name-only", "HEAD"),
      new java.io.File(repo)).!!.linesIterator.toSeq
    // the repair is in HEAD itself, not only staged for a later commit
    assert(!headPaths().contains(victimPath))
    // a tree-direct commit (what a stream batch runs) builds on that HEAD
    val m = graft.sink.Yaml.writeIssuesWithBlobsManifest(
      Tables.issues(spark, sf).filter(col("project_key") === "P4").limit(5), repo)
    try assert(GitRepo.commitTreeDirect(repo, "feat(sync): stream batch 0 (5 issues)",
      m.entries).isDefined)
    finally m.delete()
    val r = SyncEngine.run(spark, Tables.issues(spark, sf),
      Tables.links(spark, sf), repo, statePath,
      SyncOptions(jql = Some(s"""project = P3 AND key != "$victim"""")),
      now = now2)
    assert(r.successful > 0)
    assert(!headPaths().contains(victimPath))
    assert(headPaths().exists(_.startsWith("projects/P4/")))
    val porcelain = scala.sys.process.Process(
      Seq("git", "status", "--porcelain"), new java.io.File(repo)).!!
    assert(!porcelain.linesIterator.exists(_.take(2).contains('D')), porcelain)
  }

  test("batch sync and recover read the ledger's pending stream deltas") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-deltas").toString
    val repo = s"$work/repo"
    val statePath = s"$work/state"
    SyncEngine.run(spark, Tables.issues(spark, sf), Tables.links(spark, sf),
      repo, statePath, SyncOptions(jql = Some("project = P2")), now = now1)
    // what a CdcStream batch commits: the YAML files plus a state delta
    // (StateStore.appendDelta), the base untouched
    def streamBatch(batch: org.apache.spark.sql.DataFrame): Seq[String] = {
      val wr = graft.sink.Yaml.writeIssuesCounted(batch, repo)
      assert(wr.failed == 0)
      StateStore.appendDelta(StateStore.merge(StateStore.empty(spark),
        StateStore.fromIssues(batch, now1)), statePath)
      batch.select("key").as[String].collect().toSeq.sorted
    }
    val streamed = Tables.issues(spark, sf).filter(col("project_key") === "P4")
      .orderBy("key").limit(5).cache()
    val keys = streamBatch(streamed)
    assert(StateStore.deltaCount(spark, statePath) == 1)
    def fileOf(k: String) = java.nio.file.Paths.get(repo, "projects",
      k.takeWhile(_ != '-'), "issues", s"$k.yaml")
    // the streamed files are tracked by the ledger: nothing to report or delete
    val report = SyncEngine.recover(spark, repo, statePath, repair = true)
    assert(report.count() == 0, report.collect().mkString(", "))
    assert(keys.forall(k => Files.exists(fileOf(k))))
    // and already synced: an incremental run over them writes nothing
    val r = SyncEngine.run(spark, streamed, Tables.links(spark, sf), repo,
      statePath, SyncOptions(incremental = true), now = now2)
    assert(r.successful == 0 && r.total == keys.length)
    // a missing streamed file is dropped from the ledger for good: its
    // delta must not bring the key back after the repair
    val more = Tables.issues(spark, sf).filter(col("project_key") === "P5")
      .orderBy("key").limit(3)
    val victim = streamBatch(more).head
    Files.delete(fileOf(victim))
    val repaired = SyncEngine.recover(spark, repo, statePath, repair = true)
      .select("key", "issue").as[(String, String)].collect().toSeq
    assert(repaired == Seq((victim, "missing_file")))
    assert(SyncEngine.recover(spark, repo, statePath).count() == 0)
    assert(StateStore.loadResolved(spark, statePath)
      .filter(col("key") === victim).count() == 0)
    streamed.unpersist()
  }

  test("retry with exponential backoff: fails then succeeds, delays grow") {
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    val out = SyncEngine.withRetry(maxRetries = 3, baseMs = 100, capMs = 250,
      sleep = delays += _) { () =>
      calls += 1
      if (calls < 3) throw new RuntimeException("flaky")
      "ok"
    }
    assert(out == "ok" && calls == 3)
    assert(delays.toSeq == Seq(100, 200)) // base, base*2 (cap not hit)
    intercept[RuntimeException] {
      SyncEngine.withRetry(1, 100, 150, delays += _)(() => throw new RuntimeException("always"))
    }
    assert(delays.last == 100)
  }

  test("wire ingest: JSON → nested record, epic custom field, link duality") {
    import spark.implicits._
    val payload = """{
      "key": "PROJ-7",
      "fields": {
        "summary": "Wire summary",
        "description": "desc",
        "created": "2024-01-02T03:04:05.000Z",
        "updated": "2024-02-02T03:04:05.000Z",
        "priority": {"name": "High"},
        "issuetype": {"name": "Story"},
        "status": {"name": "In Progress", "statusCategory": {"key": "indeterminate"}},
        "assignee": {"displayName": "A User", "emailAddress": "a@example.com"},
        "reporter": {"displayName": "R User", "emailAddress": "r@example.com"},
        "customfield_12311140": "PROJ-1",
        "parent": {"key": "PROJ-2"},
        "subtasks": [{"key": "PROJ-8"}, {"key": "PROJ-9"}],
        "issuelinks": [
          {"type": {"name": "Blocks"}, "inwardIssue": {"key": "PROJ-3", "summary": "s3"}},
          {"type": {"name": "Cloners"}, "outwardIssue": {"key": "PROJ-4", "summary": "s4"}}
        ]
      }
    }"""
    val df = Ingest.fromWire(Seq(payload).toDF("payload")).cache()
    val r = df.head
    assert(r.getAs[String]("key") == "PROJ-7")
    assert(r.getAs[String]("project_key") == "PROJ")
    assert(r.getAs[String]("epic_link") == "PROJ-1")
    assert(r.getAs[String]("parent_issue") == "PROJ-2")
    assert(r.getSeq[String](r.fieldIndex("subtasks")).toList == List("PROJ-8", "PROJ-9"))
    assert(r.getAs[String]("status_category") == "indeterminate")

    val edges = Ingest.edges(df).cache()
    val byType = edges.collect()
      .map(e => (e.getAs[String]("link_type"), e.getAs[String]("dst"),
        e.getAs[String]("direction"))).toSet
    assert(byType == Set(
      ("epic", "PROJ-1", "outward"),
      ("parent", "PROJ-2", "outward"),
      ("subtask", "PROJ-8", "outward"),
      ("subtask", "PROJ-9", "outward"),
      ("blocks", "PROJ-3", "inward"),
      ("cloners", "PROJ-4", "outward")).map {
      case (t, d, dir) => (t.toLowerCase, d, dir)
    } || byType == Set(
      ("Blocks", "PROJ-3", "inward"), ("Cloners", "PROJ-4", "outward"),
      ("epic", "PROJ-1", "outward"), ("parent", "PROJ-2", "outward"),
      ("subtask", "PROJ-8", "outward"), ("subtask", "PROJ-9", "outward")))
  }

  test("edge sink writes partitioned parquet that reads back") {
    val dir = Files.createTempDirectory("graft-edges").toString
    val links = Tables.links(spark, sf).limit(500)
    Ingest.writeEdges(links, s"$dir/edges")
    val back = spark.read.parquet(s"$dir/edges")
    assert(back.count() == 500)
    assert(back.columns.toSet ==
      Set("src", "link_type", "direction", "dst", "project_key"))
  }

  test("rate-limited iterator enforces spacing without losing rows") {
    var clock = 0L
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = Throttle.rateLimited(
      (1 to 10).iterator, maxPerSecond = 2,
      nanoTime = () => clock,
      sleepMs = { ms => sleeps += ms; clock += ms * 1000000 }).toList
    assert(out == (1 to 10).toList) // lossless
    assert(sleeps.nonEmpty && sleeps.forall(_ <= 500)) // 2/sec → 500ms spacing
  }
}
