package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.{GitRepo, Yaml}

class SinkSpec extends AnyFunSuite {
  import TestSpark._

  /** The engine's commit protocol: distributed YAML + blob write, the
    * manifest merged into HEAD's trees. Returns the batch's `(path, sha)`
    * entries and the new commit, if any.
    */
  private def commitDirect(repo: String, batch: org.apache.spark.sql.DataFrame,
      message: String): (Seq[(String, String)], Option[String]) = {
    val m = Yaml.writeIssuesWithBlobsManifest(batch, repo)
    try (m.entries.toSeq, GitRepo.commitTreeDirect(repo, message, m.entries))
    finally m.delete()
  }

  private def git(repo: String, args: String*): Int =
    scala.sys.process.Process(Seq("git") ++ args, new java.io.File(repo)).!

  test("YAML write → read round-trips every field") {
    val repo = Files.createTempDirectory("graft-rt").toString
    val slice = Tables.issues(spark, sf)
      .filter(col("project_key") === "P2")
      .limit(200).cache()
    val n = Yaml.writeIssues(slice, repo)
    assert(n == slice.count())
    val back = Yaml.readIssues(spark, repo).cache()
    assert(back.count() == n)
    // cast timestamps to strings: source is TIMESTAMP_NTZ, round-trip is
    // TIMESTAMP — same instants, different Row rendering
    val cols = Yaml.columns.map {
      case c @ ("created" | "updated") => date_format(col(c), "yyyy-MM-dd HH:mm:ss").as(c)
      case c => col(c)
    }
    val orig = slice.select(cols: _*).orderBy("key").collect()
    val rt = back.select(cols: _*).orderBy("key").collect()
    orig.zip(rt).foreach { case (a, b) =>
      assert(a.toString == b.toString, s"row mismatch: $a vs $b")
    }
  }

  test("relationship arrays (subtasks, issue_links) round-trip through YAML") {
    val repo = Files.createTempDirectory("graft-rel").toString
    val enriched = Yaml.withRelationships(
      Tables.issues(spark, sf), Tables.links(spark, sf))
      .filter(col("project_key") === "P5")
      .limit(300).cache()
    Yaml.writeIssues(enriched, repo)
    val back = Yaml.readIssues(spark, repo).cache()
    // normalize both sides to sorted flat strings (write sorts the arrays)
    def flat(df: org.apache.spark.sql.DataFrame) = df.select(
      col("key"),
      array_join(coalesce(col("subtasks"), array()), ",").as("st"),
      array_join(expr(
        "transform(coalesce(issue_links, array()), l -> concat(l.link_type, '|', l.direction, '|', l.issue_key))"),
        ";").as("il")).orderBy("key").collect()
    val a = flat(enriched)
    val b = flat(back)
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
    // at least some rows exercise each array shape
    assert(back.filter(size(col("subtasks")) > 0).count() > 0)
    assert(back.filter(size(col("issue_links")) > 0).count() > 0)
  }

  test("native YamlRender is byte-identical to toYamlString on every issue") {
    val enriched = Yaml.withRelationships(
      Tables.issues(spark, sf), Tables.links(spark, sf)).limit(2000)
    val complete = (Yaml.columns ++ Yaml.relColumns).foldLeft(enriched) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast("string"))
    }
    val both = complete.select(
      graft.functions.YamlRender.forIssue(complete).as("fast"),
      struct((Yaml.columns ++ Yaml.relColumns).map(col): _*).as("row"))
      .collect()
    assert(both.length > 0)
    both.foreach { r =>
      val slow = Yaml.toYamlString(r.getStruct(1))
      assert(r.getString(0) == slow,
        s"render mismatch:\n${r.getString(0)}\n--- vs ---\n$slow")
    }
  }

  test("YAML escaping survives quotes and backslashes") {
    import spark.implicits._
    val repo = Files.createTempDirectory("graft-esc").toString
    val tricky = Seq(
      ("PX-1", "PX", """He said "hi" \ bye""", "d", "To Do", "new", "u", "u@e",
        "r", "r@e", "2024-01-01 00:00:00", "2024-01-02 00:00:00", "High",
        "Bug", null, null, null))
      .toDF("key", "project_key", "summary", "description", "status_name",
        "status_category", "assignee_name", "assignee_email", "reporter_name",
        "reporter_email", "c", "u2", "priority", "issuetype", "sprint",
        "epic_link", "parent_issue")
      .withColumn("created", col("c").cast("timestamp"))
      .withColumn("updated", col("u2").cast("timestamp"))
      .drop("c", "u2")
    Yaml.writeIssues(tricky, repo)
    val back = Yaml.readIssues(spark, repo).head
    assert(back.getAs[String]("summary") == """He said "hi" \ bye""")
  }

  test("property: arbitrary strings survive esc → snakeyaml parse exactly") {
    import org.scalacheck.Gen
    // bias toward the hostile ranges: C0/C1 controls, YAML specials, quotes,
    // backslashes, unicode line separators, surrogate-free high planes
    val hostileChar: Gen[Char] = Gen.oneOf(
      Gen.choose(0.toChar, 0x1f.toChar),
      Gen.oneOf('"', '\\', '\n', '\r', '\t', '\u007f', '\u0085',
        '\u2028', '\u2029', ':', '#', '-', '\'', '{', '}', '[', ']'),
      Gen.choose(0x80.toChar, 0x9f.toChar),
      Gen.alphaNumChar,
      Gen.choose(0x00a0.toChar, 0xd7ff.toChar))
    val genStr: Gen[String] =
      Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, hostileChar)).map(_.mkString)
    val yaml = new org.yaml.snakeyaml.Yaml()
    Iterator.continually(genStr.sample).flatten.take(300).foreach { s =>
      val rendered = {
        // drive through the real record renderer, not esc() in isolation
        val row = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          Array[Any]("K-1", "K", s, s, "", "", "", "", "", "", null, null,
            "", "", null, null, null, null, null),
          org.apache.spark.sql.types.StructType(
            (Yaml.columns ++ Yaml.relColumns).map(c =>
              org.apache.spark.sql.types.StructField(c,
                org.apache.spark.sql.types.StringType))))
        Yaml.toYamlString(row)
      }
      val m = yaml.load[java.util.Map[String, Object]](rendered)
      assert(Option(m.get("summary")).map(_.toString).getOrElse("") == s,
        s"summary mangled for ${s.map(_.toInt).mkString("[", ",", "]")}")
      assert(Option(m.get("description")).map(_.toString).getOrElse("") == s)
    }
  }

  test("YAML 1.1 unicode line breaks (NEL/LS/PS) and C1 controls round-trip") {
    import spark.implicits._
    val repo = Files.createTempDirectory("graft-u").toString
    // snakeyaml folds NEL/LS/PS like raw newlines if left unescaped —
    // the exact silent-content-change esc() must prevent
    val desc = "nel\u0085ls\u2028ps\u2029c1\u009fend"
    val tricky = Seq(("PX-3", "PX", "s", desc))
      .toDF("key", "project_key", "summary", "description")
    Yaml.writeIssues(tricky, repo)
    val back = Yaml.readIssues(spark, repo).head
    assert(back.getAs[String]("description") == desc)
  }

  test("multi-line description and empty timestamps survive the round-trip") {
    import spark.implicits._
    val repo = Files.createTempDirectory("graft-nl").toString
    val desc = "line one\nline two\ttabbed\r\nline three"
    val tricky = Seq(("PX-2", "PX", "s", desc))
      .toDF("key", "project_key", "summary", "description")
    // partial CDC schema: created/updated absent → written as "" → read as null
    Yaml.writeIssues(tricky, repo)
    val back = Yaml.readIssues(spark, repo).head
    assert(back.getAs[String]("description") == desc) // newlines NOT folded to spaces
    assert(back.getAs[java.sql.Timestamp]("created") == null)
    assert(back.getAs[java.sql.Timestamp]("updated") == null)
  }

  test("readIssues on a tree without YAML records is empty, not an error") {
    val work = Files.createTempDirectory("graft-noyaml").toString
    // no projects/ at all
    val none = Yaml.readIssues(spark, s"$work/repo")
    assert(none.count() == 0)
    assert(none.columns.toSeq == Yaml.columns ++ Yaml.relColumns)
    // projects/ exists but holds no yaml files
    Files.createDirectories(java.nio.file.Paths.get(work, "repo2", "projects", "P1", "issues"))
    assert(Yaml.readIssues(spark, s"$work/repo2").count() == 0)
  }

  test("git sink: init, batch commits, clean worktree, conventional messages") {
    val repo = Files.createTempDirectory("graft-git").toString
    GitRepo.init(repo)
    assert(SinkSpec.isClean(repo))

    // batch 1: two issues
    val b1 = Tables.issues(spark, sf).filter(col("project_key") === "P3").limit(2)
    val (_, h1) = commitDirect(repo, b1, "feat(sync): sync batch 1 (2 issues)")
    assert(h1.isDefined)
    assert(SinkSpec.isClean(repo))

    // idempotent re-run: same content → nothing to commit
    assert(commitDirect(repo, b1, "feat(sync): rerun")._2.isEmpty)

    // batch 2: more issues → second commit
    val b2 = Tables.issues(spark, sf).filter(col("project_key") === "P4").limit(2)
    val (_, h2) = commitDirect(repo, b2, "feat(sync): sync batch 2 (2 issues)")
    assert(h2.isDefined && h2 != h1)

    val log = SinkSpec.log(repo)
    assert(log == Seq("feat(sync): sync batch 2 (2 issues)",
      "feat(sync): sync batch 1 (2 issues)"))
    assert(SinkSpec.isClean(repo))
  }

  test("distributed blob write + tree-direct commit: valid repo, clean tree, idempotent") {
    val repo = Files.createTempDirectory("graft-blobs").toString
    GitRepo.init(repo)
    val b1 = Tables.issues(spark, sf).filter(col("project_key") === "P1").limit(50).cache()
    val m = Yaml.writeIssuesWithBlobsManifest(b1, repo)
    assert(m.written == b1.count() && m.failed == 0)
    val entries = m.entries.toSeq
    val h1 = GitRepo.commitTreeDirect(repo, "feat(sync): blob batch 1", m.entries)
    m.delete()
    assert(h1.isDefined)
    // the hand-rolled loose objects must be bit-valid to git itself
    val fsck = scala.sys.process.Process(
      Seq("git", "fsck", "--strict"), new java.io.File(repo)).!
    assert(fsck == 0, "git fsck rejected executor-written objects")
    // worktree content matches HEAD → status clean
    assert(SinkSpec.isClean(repo))
    assert(SinkSpec.log(repo).head == "feat(sync): blob batch 1")
    // idempotent re-run: same content → same tree → no new commit
    assert(commitDirect(repo, b1, "feat(sync): rerun")._2.isEmpty)
    // content readable back through git (not just the worktree)
    val (path, sha) = entries.head
    val catOut = scala.sys.process.Process(
      Seq("git", "cat-file", "blob", sha), new java.io.File(repo)).!!
    val onDisk = new String(Files.readAllBytes(
      java.nio.file.Paths.get(repo, path)), java.nio.charset.StandardCharsets.UTF_8)
    assert(catOut == onDisk)
    b1.unpersist()
  }

  test("index-free tree commit: byte-identical trees to the index path, fsck-clean") {
    // two repos, same batches: one committed by plain git (`git add` +
    // `git commit` through its index), one through direct tree merging
    // (commitTreeDirect) — the resulting TREE shas must be identical commit
    // by commit, proving the hand-written tree objects (sort order, modes,
    // binary shas, emptied directories dropped) match what git itself builds
    val viaGit = Files.createTempDirectory("graft-tree-a").toString
    val direct = Files.createTempDirectory("graft-tree-b").toString
    assert(git(viaGit, "init", "-q") == 0)
    GitRepo.init(direct)
    def commitViaGit(message: String): Unit = assert(git(viaGit,
      "-c", "user.name=t", "-c", "user.email=t@localhost",
      "commit", "-q", "-m", message) == 0)
    def treeOf(repo: String): String = scala.sys.process.Process(
      Seq("git", "rev-parse", "HEAD^{tree}"), new java.io.File(repo)).!!.trim
    def tracked(repo: String): Seq[String] = scala.sys.process.Process(
      Seq("git", "ls-tree", "-r", "--name-only", "HEAD"),
      new java.io.File(repo)).!!.linesIterator.toSeq
    val batches = Seq(
      Tables.issues(spark, sf).filter(col("project_key").isin("P1", "P2")).limit(60),
      Tables.issues(spark, sf).filter(col("project_key").isin("P2", "P3")).limit(80),
      // overlapping keys: updates must replace, not duplicate
      Tables.issues(spark, sf).filter(col("project_key") === "P1").limit(30)
        .withColumn("summary", concat(col("summary"), lit(" v2"))))
    batches.zipWithIndex.foreach { case (b, i) =>
      Yaml.writeIssues(b, viaGit)
      assert(git(viaGit, "add", "--", "projects") == 0)
      commitViaGit(s"feat(sync): batch $i")
      assert(commitDirect(direct, b, s"feat(sync): batch $i")._2.isDefined)
      assert(treeOf(viaGit) == treeOf(direct),
        s"batch $i: direct tree diverged from git's own tree")
    }
    // idempotent replay: same adds → same root tree → no commit
    assert(commitDirect(direct, batches.last, "replay")._2.isEmpty)
    // removals: one project emptied (its directories must leave the tree)
    // and two files of another, plus a path HEAD never tracked (a no-op)
    val before = tracked(direct)
    val projects = before.map(_.split('/')(1)).distinct.sorted
    assert(projects.size >= 2)
    val gone = before.filter(_.startsWith(s"projects/${projects.last}/")) ++
      before.filter(_.startsWith(s"projects/${projects.head}/")).take(2)
    assert(git(viaGit, Seq("rm", "-q", "--") ++ gone: _*) == 0)
    commitViaGit("fix(recover): removals")
    val removes = gone :+ "projects/PX/issues/PX-0.yaml"
    assert(GitRepo.commitTreeDirect(direct, "fix(recover): removals",
      Iterator.empty, removes.iterator).isDefined)
    gone.foreach(p => Files.delete(java.nio.file.Paths.get(direct, p)))
    assert(treeOf(viaGit) == treeOf(direct), "removal tree diverged from git's own tree")
    assert(tracked(direct) == before.filterNot(gone.toSet))
    assert(GitRepo.commitTreeDirect(direct, "replay",
      Iterator.empty, removes.iterator).isEmpty)
    // hand-written tree objects are bit-valid to git itself
    assert(scala.sys.process.Process(
      Seq("git", "fsck", "--strict"), new java.io.File(direct)).! == 0,
      "git fsck rejected directly-written tree objects")
    // history depth matches (4 commits each), messages intact
    assert(SinkSpec.log(direct) == SinkSpec.log(viaGit))
    assert(SinkSpec.log(direct).length == 4)
    assert(SinkSpec.isClean(direct))
  }

  test("tree-direct commits: modes and special names survive") {
    val repo = Files.createTempDirectory("graft-modes").toString
    GitRepo.init(repo)
    // seed through plain git: an executable (mode 100755) and a filename
    // with bytes that default `ls-tree` would C-quote — both live in the
    // SAME directory a tree-direct commit will rebuild
    val dir = java.nio.file.Paths.get(repo, "projects", "P1", "issues")
    Files.createDirectories(dir)
    Files.write(dir.resolve("hook.sh"), "#!/bin/sh\n".getBytes)
    dir.resolve("hook.sh").toFile.setExecutable(true)
    // a double quote forces C-quoting in default `ls-tree` output (kept
    // ASCII: the container's filesystem encoding can't create non-ASCII
    // names, but the quoting hazard is identical)
    val weird = "sp ce\"quote.yaml"
    Files.write(dir.resolve(weird),
      "k: v\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(git(repo, "add", "--", "projects") == 0)
    assert(git(repo, "-c", "user.name=t", "-c", "user.email=t@localhost",
      "commit", "-q", "-m", "chore: seed") == 0)
    // index-free commit into the same directory
    val b = Tables.issues(spark, sf).filter(col("project_key") === "P1").limit(5)
    val (wr, h) = commitDirect(repo, b, "feat(sync): direct batch")
    assert(h.isDefined)
    // -z: NUL-delimited and UNQUOTED — quote-bearing names come back raw
    def lsr() = scala.sys.process.Process(
      Seq("git", "ls-tree", "-r", "-z", "HEAD"),
      new java.io.File(repo)).!!.split(0.toChar).toSeq.filter(_.nonEmpty)
    // the rebuilt tree preserved the exec mode and the raw special name
    assert(lsr().exists(l => l.startsWith("100755") && l.endsWith("hook.sh")),
      s"exec mode degraded: ${lsr().mkString("\n")}")
    assert(lsr().exists(_.endsWith(weird)), "special-byte name corrupted")
    assert(scala.sys.process.Process(
      Seq("git", "fsck", "--strict"), new java.io.File(repo)).! == 0)
    val paths = lsr().map(l => l.substring(l.indexOf('\t') + 1)).toSet
    assert(wr.map(_._1).forall(paths))
    assert(SinkSpec.isClean(repo))
  }

  test("property: writeTree's keyed sort equals the definitional tree order") {
    // writeTree sorts on precomputed utf-8 keys (allocation-free compare);
    // treeOrder is the definitional per-comparison form. The two must agree
    // on every name git allows — including non-ASCII, prefixes, and the
    // dir-as-name+'/' rule — or tree shas silently diverge from git's own.
    import org.scalacheck.Gen
    import graft.sink.GitObjects
    import graft.sink.GitObjects.TreeEntry
    val genName = Gen.nonEmptyListOf(Gen.frequency(
      (8, Gen.alphaNumChar), (2, Gen.oneOf('-', '.', '_', ' ', '"', '\'')),
      (1, Gen.oneOf('é', '中', '\ud83d')), // latin-1, CJK, lone surrogate class
      (1, Gen.oneOf('a', 'a')))).map(_.mkString.take(24))
    val genEntries = Gen.listOfN(12, for {
      n <- genName; t <- Gen.oneOf(true, false)
    } yield TreeEntry(n, "0" * 40, t)).map(_.distinctBy(e => (e.name, e.isTree)))
    Iterator.continually(genEntries.sample).flatten.take(300).foreach { es =>
      val definitional = es.sortWith(GitObjects.treeOrder).map(e => (e.name, e.isTree))
      val keyed = es
        .map(e => ((if (e.isTree) e.name + "/" else e.name)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8), e))
        .sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0)
        .map(t => (t._2.name, t._2.isTree))
      assert(keyed == definitional, s"sort orders diverged on ${es.map(_.name)}")
    }
  }

  test("partitioned corpus layout: two-column predicate prunes to one directory") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files
      .createTempDirectory("graft-prune-spec").toString + "/docs"
    Tables.t(spark, sf, "documents")
      .select("doc_id", "n_chars", "lang", "source")
      .write.mode("overwrite").partitionBy("source", "lang").parquet(out)
    val pruned = spark.read.parquet(out)
      .filter(col("source") === "src7" && col("lang") === "en")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("src7"),
      "source/lang predicates must prune partitions at the scan")
    // the physical proof: after pruning, the scan reads exactly as many
    // files as live under the ONE matching partition directory
    pruned.collect()
    val numFiles = pruned.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
      }.sum
    val dirFiles = new java.io.File(s"$out/source=src7/lang=en").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(numFiles == dirFiles && dirFiles >= 1,
      s"scan read $numFiles files; the matching directory holds $dirFiles")
  }

  test("no file under src/main/scala stages with `add -A` or commits through porcelain") {
    // every commit merges trees directly: a worktree scan (`add -A`), a
    // porcelain `commit` or an index feed (`update-index`, `write-tree`)
    // grows with the whole corpus on every batch
    val root = java.nio.file.Paths.get("src/main/scala")
    val invocation = Seq(
      "\"add\"\\s*,\\s*\"-A\"".r, // run(dir, "add", "-A", ...)
      "\"(commit|update-index|write-tree)\"".r, // run(dir, ..., "commit", ...)
      // one whole command line
      "\"git\\s+(add\\s+-A|(commit|update-index|write-tree)(?![\\w-]))".r)
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        invocation.exists(_.findFirstIn(src).isDefined)
      }
      .map(root.relativize(_).toString).toSeq
    assert(offenders.isEmpty, s"porcelain git invocations in $offenders")
  }
}

object SinkSpec {

  /** A clean worktree has no pending changes
    * (reference: pkg/git/git.go:104-119 ValidateWorkingTree). Resets the
    * index to HEAD first, so it compares the worktree with HEAD: a
    * stream's index-free commits don't read as phantom dirt.
    */
  def isClean(repoDir: String): Boolean = {
    GitRepo.resetIndexToHead(repoDir)
    scala.util.Try(scala.sys.process.Process(Seq("git", "status", "--porcelain"),
      new java.io.File(repoDir)).!!).toOption.exists(_.trim.isEmpty)
  }

  /** Commit subjects, newest first. */
  def log(repoDir: String, n: Int = 50): Seq[String] =
    scala.sys.process.Process(Seq("git", "log", s"-$n", "--pretty=%s"),
      new java.io.File(repoDir)).!!.linesIterator.filter(_.nonEmpty).toSeq
}
