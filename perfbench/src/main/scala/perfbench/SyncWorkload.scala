package perfbench

import java.nio.file.Path
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.SyncEngine

/** Closed loop, one client: rounds of a full `SyncEngine.run` into fresh
  * repo/state dirs, then incremental cycles in which a seeded ~1 % of the
  * selected issues change, each followed by a no-op rescan. Full syncs are
  * write-heavy (YAML, git blobs, commit); incremental and no-op cycles are
  * read-heavy (the change filter over the whole state) with a nearly idle
  * sink.
  */
object SyncWorkload extends Workload {
  final case class Inputs(issues: DataFrame, links: DataFrame, jql: String,
      selected: Long, changed: Seq[Long])

  /** 15,000 issues, about 8,500 of them selected by the JQL filter: small
    * enough that a run measures three rounds after a warm one.
    */
  val Sf = 0.01
  /** Incremental cycles per full sync. */
  val IncrPerRound = 1
  /** No-op rescans after each incremental cycle: the cheapest op, so the
    * one whose median needs the most samples.
    */
  val NoopsPerIncr = 3
  /** Measured rounds: one per this many seconds of the run length (at
    * least one); a round takes about 8 s on 4 cores. A count, not a
    * deadline, so that every run measures the same work: with a deadline,
    * runs on either side of a round boundary measured one warm round more
    * or less, and their figures split into two groups.
    */
  val RoundSeconds = 10
  /** Share of issues changed per incremental cycle, in 1/1000. */
  val ChangePerMille = 10
  val Projects: Seq[String] = (0 until 7).map(i => s"P$i")

  /** Sync time of cycle `i` (0 = the full sync). Every generated `updated`
    * lies before day 0, so only the seeded changes are newer than state.
    */
  private def now(i: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDateTime.of(2002, 1, 1, 0, 0).plusDays(i))

  private def changedIn(seed: Long, cycle: Int): Column =
    pmod(xxhash64(col("key"), lit(seed), lit(cycle)), lit(1000L)) < ChangePerMille

  /** The issues as the source reports them at incremental cycle `i`: every
    * issue keeps the `updated`/`summary` of its latest change so far, and a
    * change made in cycle j lands one hour after sync time j-1.
    */
  private def asOfCycle(in: Inputs, seed: Long, i: Int): DataFrame =
    if (i == 0) in.issues
    else {
      val last = (1 to i).foldLeft(lit(0)) { (acc, j) =>
        when(changedIn(seed, j), lit(j)).otherwise(acc)
      }
      in.issues.withColumn("__c", last)
        .withColumn("updated", when(col("__c") > 0,
          expr("timestampadd(DAY, __c - 1, timestamp'2002-01-01 01:00:00')"))
          .otherwise(col("updated")))
        .withColumn("summary", when(col("__c") > 0,
          concat(col("summary"), lit(" (rev "), col("__c").cast("string"), lit(")")))
          .otherwise(col("summary")))
        .drop("__c")
    }

  /** The issue and edge tables: they do not depend on the seed, so they
    * are derived once.
    */
  private def baseTables(spark: SparkSession, data: Path): (String, String) = {
    val base = Data.ensure(spark, data, Sf, Seq("orders", "lineitem"))
    (Data.derived(base, "issues_full")(graft.Tables.issuesFull(spark, base.toString)),
      Data.derived(base, "links")(graft.Tables.links(spark, base.toString)))
  }

  def prepare(spark: SparkSession, data: Path): Unit = { baseTables(spark, data); () }

  def generate(ctx: Ctx): Inputs = {
    val spark = ctx.spark
    val (issuesPath, linksPath) = baseTables(spark, ctx.data)
    val issues = spark.read.parquet(issuesPath).cache()
    val links = spark.read.parquet(linksPath).cache()
    val projects = new scala.util.Random(ctx.seed).shuffle(Projects).take(4).sorted
    issues.count(); links.count()
    // expected counts, from plain column filters on the generated slice
    val inScope = issues.filter(col("project_key").isin(projects: _*))
    val selected = inScope.count()
    val changed = (1 to IncrPerRound).map(i => inScope.filter(changedIn(ctx.seed, i)).count())
    Inputs(issues, links, projects.mkString("project in (", ", ", ")"), selected, changed)
  }

  /** Unmeasured rounds on the real inputs, so the measured rounds run on
    * warm code paths.
    */
  val WarmRounds = 1

  def warmUp(ctx: Ctx, in: Inputs): Unit =
    (0 until WarmRounds).foreach { r =>
      val dir = ctx.dir(s"sync_warm$r")
      val opts = SyncEngine.SyncOptions(jql = Some(in.jql))
      SyncEngine.run(ctx.spark, in.issues, in.links, s"$dir/repo", s"$dir/state", opts, now(0))
      (1 to IncrPerRound).foreach { i =>
        val input = asOfCycle(in, ctx.seed, i)
        Seq(0, 1).foreach(_ => SyncEngine.run(ctx.spark, input, in.links, s"$dir/repo",
          s"$dir/state", opts.copy(incremental = true), now(i)))
      }
      Data.delete(dir)
    }

  /** Step name → ms until the next step, from the engine's progress
    * reporter. "relationships" only marks the fork of the edge job inside
    * the write phase, so it is folded into "writing".
    */
  private[perfbench] def phases(steps: Seq[(String, Double)], endMs: Double): Map[String, Double] =
    steps.zip(steps.drop(1).map(_._2) :+ endMs)
      .map { case ((name, s), e) =>
        (if (name == "relationships") "writing" else name) -> (e - s) }
      .filterNot(_._1 == "done")
      .groupMapReduce(_._1)(_._2)(_ + _)

  def measure(ctx: Ctx, in: Inputs): Map[String, Any] = {
    val spark = ctx.spark
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val checks = ArrayBuffer.empty[Map[String, Any]]
    def check(name: String, expected: Long, observed: Long): Unit =
      checks += Map("op" -> (ops.size - 1), "name" -> name, "expected" -> expected,
        "observed" -> observed)

    def cycle(kind: String, input: DataFrame, repo: String, state: String,
        i: Int, expected: Long): Unit = {
      val steps = ArrayBuffer.empty[(String, Double)]
      val reporter = new SyncEngine.ProgressReporter {
        def step(name: String, percent: Int): Unit =
          steps.synchronized { steps += name -> Clock.nowMs; () }
      }
      val req = s"cycle-${ops.size}"
      // write back what earlier cycles left dirty, so that no cycle pays
      // for the page-cache flush of the one before it
      new ProcessBuilder("sync").inheritIO().start().waitFor()
      ctx.tracer.span(s"sync.$kind", req) { id =>
        val t0 = Clock.nowMs
        val res = scala.util.Try(SyncEngine.run(spark, input, in.links, repo, state,
          SyncEngine.SyncOptions(jql = Some(in.jql), incremental = kind != "full"),
          now(i), progress = reporter))
        val t1 = Clock.nowMs
        val ph = steps.synchronized(phases(steps.toSeq, t1))
        if (ctx.tracer.on) steps.synchronized {
          steps.zip(steps.drop(1).map(_._2) :+ t1).foreach { case ((n, s), e) =>
            if (n != "done")
              ctx.tracer.add(id, s"engine.${if (n == "relationships") "writing" else n}", req, s, e)
          }
        }
        ops += Map("kind" -> kind, "ms" -> (t1 - t0), "phases" -> ph,
          "written" -> res.map(_.successful).getOrElse(-1L),
          "write_failed" -> res.map(_.failed).getOrElse(0L),
          "scanned" -> res.map(_.total).getOrElse(0L),
          "error" -> res.failed.map(e => String.valueOf(e.getMessage)).getOrElse(""))
        check(s"${kind}_written", expected, res.map(_.successful).getOrElse(-1L))
      }
      Jvm.sampleLive()
    }

    def stateRows(state: String): Long =
      graft.state.StateStore.load(spark, state).count()

    // round dirs are removed after the loop, so that deleting one round's
    // tree does not compete with the next round's writes
    var repoMb, stateMb = 0.0
    (0 until math.max(1, ctx.seconds / RoundSeconds)).foreach { round =>
      val dir = ctx.dir(s"sync/r$round")
      val (repo, state) = (s"$dir/repo", s"$dir/state")
      cycle("full", in.issues, repo, state, 0, in.selected)
      check("full_state_rows", in.selected, stateRows(state))
      check("full_tree_files", in.selected, Git.trackedFiles(repo, "projects"))
      repoMb = Data.bytes(java.nio.file.Paths.get(repo)) / 1048576.0
      (1 to IncrPerRound).foreach { i =>
        val input = asOfCycle(in, ctx.seed, i)
        cycle("incr", input, repo, state, i, in.changed(i - 1))
        (1 to NoopsPerIncr).foreach(_ => cycle("noop", input, repo, state, i, 0L))
      }
      check("round_state_rows", in.selected, stateRows(state))
      stateMb = Data.bytes(java.nio.file.Paths.get(state)) / 1048576.0
    }
    Data.delete(ctx.work.resolve("sync"))
    Map("ops" -> ops.toSeq, "checks" -> checks.toSeq,
      "sink" -> Map("repo_mb" -> repoMb, "repo_issues" -> in.selected),
      "state" -> Map("rows" -> in.selected, "mb" -> stateMb))
  }
}

/** Reads a repository's HEAD through the `git` binary, as a user would. */
object Git {
  def trackedFiles(repo: String, under: String): Long = {
    val p = new ProcessBuilder("git", "-C", repo, "ls-tree", "-r", "--name-only",
      "HEAD", under).redirectErrorStream(true).start()
    val n = scala.io.Source.fromInputStream(p.getInputStream).getLines()
      .count(_.endsWith(".yaml"))
    if (p.waitFor() != 0) -1L else n.toLong
  }
}
