package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Ingest

class SourceSpec extends AnyFunSuite {
  import TestSpark._

  private val fmt = "graft.sources.v2.JiraFixtureSource"

  private def writeFixture(n: Int): String = {
    val dir = Files.createTempDirectory("graft-fixture")
    val payloads = Ingest.toWire(Tables.issues(spark, sf).orderBy("key").limit(n))
      .collect().map(_.getString(0))
    val f = dir.resolve("issues.jsonl")
    Files.write(f, payloads.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  test("DSv2 source pages the fixture: one partition per page of pageSize") {
    val path = writeFixture(250)
    val df = spark.read.format(fmt)
      .option("path", path).option("token", "t").option("pageSize", "100")
      .load()
    assert(df.count() == 250)
    assert(df.rdd.getNumPartitions == 3) // ceil(250/100) pages
    // fromWire recovers the issue records
    val issues = Ingest.fromWire(df)
    assert(issues.select("key").distinct().count() == 250)
    assert(issues.filter(col("project_key").isNull).count() == 0)
  }

  test("limit pushdown plans only the pages the bound needs") {
    val path = writeFixture(250)
    def read() = spark.read.format(fmt)
      .option("path", path).option("token", "t").option("pageSize", "100")
      .load()
    val bounded = read().limit(150)
    assert(bounded.count() == 150)
    // the pushed limit caps paging at ceil(150/100) = 2 pages — the third
    // page is never planned, let alone fetched
    val scanParts = bounded.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.partitions.size
    }
    assert(scanParts == Seq(2),
      s"a bounded scan must not page past its bound (planned $scanParts)")
    val plan = bounded.queryExecution.executedPlan.toString
    assert(plan.contains("pushedLimit=150"),
      s"limit did not reach the scan:\n$plan")
    // a limit above the fixture size degrades to the full 3-page scan
    assert(read().limit(9999).count() == 250)
  }

  test("auth probe: missing or empty token fails at planning") {
    val path = writeFixture(5)
    val noToken = intercept[Exception] {
      spark.read.format(fmt).option("path", path).load().count()
    }
    assert(noToken.getMessage.contains("token"))
    val empty = intercept[Exception] {
      spark.read.format(fmt).option("path", path).option("token", " ").load().count()
    }
    assert(empty.getMessage.contains("credentials"))
  }

  test("reader-side rate limit still yields every row") {
    val path = writeFixture(30)
    val df = spark.read.format(fmt)
      .option("path", path).option("token", "t")
      .option("pageSize", "10").option("maxPerSecond", "1000")
      .load()
    assert(df.count() == 30)
  }

  // ---- live HTTP transport (against the in-process mock JIRA) -------------

  private val httpFmt = "graft.sources.v2.JiraHttpSource"

  private def wirePayloads(n: Int): Seq[String] =
    Ingest.toWire(Tables.issues(spark, sf).orderBy("key").limit(n))
      .collect().map(_.getString(0)).toSeq

  test("http source pages the live protocol: probe + one partition per page") {
    val mock = new MockJira(wirePayloads(250))
    val port = mock.start()
    try {
      val df = spark.read.format(httpFmt)
        .option("url", s"http://127.0.0.1:$port")
        .option("jql", "project = P1").option("token", "sekret")
        .option("pageSize", "100").load()
      assert(df.count() == 250)
      assert(df.rdd.getNumPartitions == 3)
      val issues = Ingest.fromWire(df)
      assert(issues.select("key").distinct().count() == 250)
      assert(issues.filter(col("project_key").isNull).count() == 0)
    } finally mock.stop()
  }

  test("http source: limit pushdown never requests pages past the bound") {
    val mock = new MockJira(wirePayloads(250))
    val port = mock.start()
    try {
      val bounded = spark.read.format(httpFmt)
        .option("url", s"http://127.0.0.1:$port")
        .option("jql", "project = P1").option("token", "sekret")
        .option("pageSize", "100").load().limit(150)
      assert(bounded.count() == 150)
      import scala.jdk.CollectionConverters._
      val dataReqs = mock.requests.asScala.filterNot(_.contains("maxResults=0"))
      assert(dataReqs.size == 2, s"expected 2 page requests, saw: $dataReqs")
      assert(!dataReqs.exists(_.contains("startAt=200")),
        "a bounded scan requested a page past its bound")
      // the second page is trimmed to the bound, not a full pageSize
      assert(dataReqs.exists(r => r.contains("startAt=100") &&
        r.contains("maxResults=50")), s"saw: $dataReqs")
    } finally mock.stop()
  }

  test("http source: bad credentials fail at planning (one 401, no tasks)") {
    val mock = new MockJira(wirePayloads(5))
    val port = mock.start()
    try {
      val ex = intercept[Exception] {
        spark.read.format(httpFmt)
          .option("url", s"http://127.0.0.1:$port")
          .option("jql", "project = P1").option("token", "wrong")
          .load().count()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(_.getMessage != null) &&
        causes(ex).exists(c => Option(c.getMessage).exists(_.contains("401"))),
        s"expected a 401 planning failure, got: $ex")
      // exactly the probe request reached the server — no page fetches
      assert(mock.requests.size() == 1)
      val missing = intercept[Exception] {
        spark.read.format(httpFmt)
          .option("url", s"http://127.0.0.1:$port")
          .option("jql", "x").load().count()
      }
      assert(missing.getMessage.contains("token"))
    } finally mock.stop()
  }

  test("http source: a 429 with Retry-After is retried, every row delivered") {
    val mock = new MockJira(wirePayloads(30), rateLimitOnce = true)
    val port = mock.start()
    try {
      val df = spark.read.format(httpFmt)
        .option("url", s"http://127.0.0.1:$port")
        .option("jql", "project = P1").option("token", "sekret")
        .option("pageSize", "10").load()
      assert(df.count() == 30)
      import scala.jdk.CollectionConverters._
      // the throttled page appears twice: the 429 and its retry
      val dataReqs = mock.requests.asScala.filterNot(_.contains("maxResults=0"))
      assert(dataReqs.size == 4, s"expected 3 pages + 1 retry, saw: $dataReqs")
    } finally mock.stop()
  }

  test("http source: live endpoint (env-gated like the reference suite)") {
    // mirror of reference test/jql_sync_integration_test.go:27-46 — runs
    // only when an operator provides a real endpoint; always skipped in the
    // zero-egress build
    assume(sys.env.contains("JIRA_LIVE_URL") && sys.env.contains("JIRA_PAT"),
      "set JIRA_LIVE_URL + JIRA_PAT (+ JIRA_LIVE_JQL) to run against live JIRA")
    val df = spark.read.format(httpFmt)
      .option("url", sys.env("JIRA_LIVE_URL"))
      .option("jql", sys.env.getOrElse("JIRA_LIVE_JQL", "order by created"))
      .option("token", sys.env("JIRA_PAT"))
      .load().limit(10)
    assert(df.count() > 0)
  }

  test("upsertEdges deletes changed issues' stale edges across all partitions") {
    import spark.implicits._
    val path = s"${Files.createTempDirectory("graft-edges")}/relationships"
    def edf(rows: (String, String, String, String, String)*) =
      rows.toDF("src", "link_type", "direction", "dst", "project_key")
    Ingest.writeEdges(edf(
      ("P1-1", "epic", "outward", "E-1", "P1"),
      ("P1-1", "blocks", "outward", "P1-9", "P1"),
      ("P1-2", "epic", "outward", "E-1", "P1"),
      ("P2-1", "epic", "outward", "E-2", "P2")), path)
    // P1-1's link changed type epic→parent (old rows live in partitions the
    // new batch doesn't touch); P1-2's links were ALL removed (absent from
    // the batch entirely) — both must lose their old rows
    Ingest.upsertEdges(
      edf(("P1-1", "parent", "outward", "E-1", "P1")),
      Seq(("P1-1", "P1"), ("P1-2", "P1")).toDF("key", "project_key"), path)
    val after = spark.read.parquet(path)
      .select("src", "link_type", "dst").as[(String, String, String)]
      .collect().toSet
    assert(after == Set(("P1-1", "parent", "E-1"), ("P2-1", "epic", "E-2")))
    // the partition the batch emptied is physically dropped
    assert(!new java.io.File(s"$path/project_key=P1/link_type=blocks").exists())
  }

  test("writeEdges produces one file per (project, link_type) partition") {
    import spark.implicits._
    val path = s"${Files.createTempDirectory("graft-onefile")}/relationships"
    val edges = Tables.links(spark, sf).limit(5000)
    Ingest.writeEdges(edges, path)
    val parts = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("project_key=")).flatMap(_.listFiles())
    assert(parts.nonEmpty)
    parts.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"${d.getName}: $files files")
    }
    assert(spark.read.parquet(path).count() == edges.count())

    // full rewrites are staged + swapped, so an interrupted rewrite (an
    // incomplete __compact left behind, src intact) must neither shadow the
    // table nor break the next rewrite
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path + "__compact")) // no _SUCCESS
    val smaller = Tables.links(spark, sf).limit(100)
    Ingest.writeEdges(smaller, path)
    assert(spark.read.parquet(path).count() == smaller.count())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__compact")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__old")))
  }

  test("upsertEdges first completes a full rewrite that crashed before promoting") {
    import spark.implicits._
    val path = s"${Files.createTempDirectory("graft-rewrite-crash")}/relationships"
    def edf(rows: (String, String, String, String, String)*) =
      rows.toDF("src", "link_type", "direction", "dst", "project_key")
    Ingest.writeEdges(edf(("P1-1", "epic", "outward", "E-1", "P1"),
      ("P1-2", "epic", "outward", "E-1", "P1"),
      ("P1-3", "epic", "outward", "E-1", "P1"),
      ("P1-4", "epic", "outward", "E-1", "P1")), path)
    // crash window: a full rewrite staged __compact and parked the table at
    // __old but died before promoting — src is absent, the complete data
    // sits in __compact. An incremental upsert that runs NEXT must recover
    // the full table first, not recreate it with only its batch.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__compact2"))) // stash
    // simulate: __compact complete, src gone, __old holds the pre-rewrite copy
    assert(fs.rename(new org.apache.hadoop.fs.Path(path + "__compact2"),
      new org.apache.hadoop.fs.Path(path + "__compact")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(path + "__old"))
    Ingest.upsertEdges(
      edf(("P1-1", "epic", "outward", "E-9", "P1")), // P1-1 now points at E-9
      Seq(("P1-1", "P1")).toDF("key", "project_key"), path)
    val after = spark.read.parquet(path)
      .select("src", "dst").as[(String, String)].collect().toSet
    // the other issues' edges survived; P1-1's edge was replaced
    assert(after == Set(("P1-1", "E-9"), ("P1-2", "E-1"), ("P1-3", "E-1"), ("P1-4", "E-1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__compact")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__old")))
  }

  test("upsertEdges keeps the other edges of an empty project key") {
    import spark.implicits._
    val path = s"${Files.createTempDirectory("graft-emptypk")}/relationships"
    def edf(rows: (String, String, String, String, String)*) =
      rows.toDF("src", "link_type", "direction", "dst", "project_key")
    // a key without a numeric suffix gets project_key "" from fromWire; Spark
    // writes that partition value as the default partition and reads it
    // back as null
    Ingest.writeEdges(edf(("NODASH", "epic", "outward", "E-1", ""),
      ("OTHER", "epic", "outward", "E-2", ""),
      ("P1-1", "epic", "outward", "E-3", "P1")), path)
    Ingest.upsertEdges(edf(("NODASH", "epic", "outward", "E-9", "")),
      Seq(("NODASH", "")).toDF("key", "project_key"), path)
    val after = spark.read.parquet(path)
      .select("src", "dst").as[(String, String)].collect().toSet
    assert(after == Set(("NODASH", "E-9"), ("OTHER", "E-2"), ("P1-1", "E-3")))
  }

  /** An edge table with four projects and three link types. */
  private def edgeFixture(prefix: String) = {
    import spark.implicits._
    val path = s"${Files.createTempDirectory(prefix)}/relationships"
    Ingest.writeEdges(Seq(
      ("P1-1", "epic", "outward", "E-1", "P1"),
      ("P1-1", "blocks", "outward", "P1-9", "P1"),
      ("P1-2", "epic", "outward", "E-1", "P1"),
      ("P2-1", "epic", "outward", "E-2", "P2"),
      ("P2-2", "blocks", "inward", "P2-5", "P2"),
      ("P3-1", "parent", "outward", "P3-0", "P3"),
      ("P3-2", "blocks", "outward", "P1-1", "P3"),
      ("P4-1", "epic", "outward", "E-4", "P4"))
      .toDF("src", "link_type", "direction", "dst", "project_key"), path)
    path
  }

  // An upsert touching P1, P2, P3 (its swap order): P1-1 changes link type,
  // P2 loses every edge, P3-2 changes target. Each injected crash must leave
  // a table the next edge-table writer completes.
  {
    import graft.state.DirSwap
    val crashes = (0 until 3).flatMap(k => Seq(DirSwap.AfterOut(k), DirSwap.AfterSwap(k))) :+
      DirSwap.BeforeCleanup
    crashes.foreach { crash =>
      test(s"upsertEdges crash $crash: the next writer and upsert leave the complete table") {
        import spark.implicits._
        def edf(rows: (String, String, String, String, String)*) =
          rows.toDF("src", "link_type", "direction", "dst", "project_key")
        def keys(ks: String*) =
          ks.map(k => (k, k.takeWhile(_ != '-'))).toDF("key", "project_key")
        val path = edgeFixture("graft-upsert-crash")
        def table() = spark.read.parquet(path)
          .select("src", "link_type", "dst").as[(String, String, String)].collect().toSet
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        intercept[DirSwap.InjectedCrash] {
          Ingest.upsertEdges(
            edf(("P1-1", "parent", "outward", "E-1", "P1"),
              ("P3-2", "blocks", "outward", "P3-7", "P3")),
            keys("P1-1", "P2-1", "P2-2", "P3-2"), path, Some(crash))
        }
        val afterU1 = Set(("P1-1", "parent", "E-1"), ("P1-2", "epic", "E-1"),
          ("P3-1", "parent", "P3-0"), ("P3-2", "blocks", "P3-7"), ("P4-1", "epic", "E-4"))
        // the next upsert is the next writer: it rolls the crashed swap
        // forward before it reads the table
        Ingest.upsertEdges(edf(("P1-2", "epic", "outward", "E-5", "P1")), keys("P1-2"), path)
        assert(table() == afterU1 - (("P1-2", "epic", "E-1")) + (("P1-2", "epic", "E-5")))
        assert(!new java.io.File(s"$path/project_key=P2").exists())
        assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__upsert")))
        assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__cold")))
      }
    }
  }

  test("upsertEdges starts at most 5 Spark jobs") {
    import spark.implicits._
    val path = edgeFixture("graft-upsert-jobs")
    val batch = Seq(("P1-1", "parent", "outward", "E-1", "P1"),
      ("P3-2", "blocks", "outward", "P3-7", "P3"))
      .toDF("src", "link_type", "direction", "dst", "project_key")
    // the engine hands over its cached, materialized batch
    val changed = Seq(("P1-1", "P1"), ("P2-1", "P2"), ("P3-2", "P3"))
      .toDF("key", "project_key").cache()
    changed.count()
    val sc = spark.sparkContext
    val group = "upsert-edges-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "upsertEdges")
      try Ingest.upsertEdges(batch, changed, path) finally sc.clearJobGroup()
      org.apache.spark.sql.graftbridge.drainListenerBus(sc)
    } finally {
      sc.removeSparkListener(listener)
      changed.unpersist()
    }
    // the project collect and the one staged write, each split into jobs by
    // AQE; a chain of collects, a checkpoint and a dynamic overwrite started
    // 12 on this fixture
    assert(jobs.get <= 5, s"${jobs.get} jobs")
    assert(spark.read.parquet(path).filter(col("src") === "P3-2").select("dst")
      .as[String].collect().toSeq == Seq("P3-7"))
  }

  test("rate policy: Retry-After, budget spread, reset wait, capped backoff") {
    import graft.sources.Throttle
    import graft.sources.Throttle.RateSignal
    // 429 honors Retry-After; a known budget is spread across the reset
    // window, never faster than the base delay
    assert(Throttle.nextDelayMs(RateSignal(429, retryAfterMs = Some(500)), 100, 0) == 500)
    assert(Throttle.nextDelayMs(
      RateSignal(200, remaining = Some(5), resetInMs = Some(1000)), 100, 0) == 200)
    assert(Throttle.nextDelayMs(
      RateSignal(200, remaining = Some(50), resetInMs = Some(1000)), 100, 0) == 100)
    assert(Throttle.nextDelayMs(RateSignal(200), 100, 0) == 100)
    // exhausted budget waits out the reset window
    assert(Throttle.nextDelayMs(
      RateSignal(200, remaining = Some(0), resetInMs = Some(750)), 100, 0) == 750)
    // missing Retry-After → exponential backoff, capped
    assert(Throttle.nextDelayMs(RateSignal(429), 100, 3) == 800)
    assert(Throttle.nextDelayMs(RateSignal(429), 100, 20, backoffCapMs = 30000) == 30000)
  }

  test("wire round-trip preserves values end to end") {
    val orig = Tables.issues(spark, sf).orderBy("key").limit(100).cache()
    val back = Ingest.fromWire(Ingest.toWire(orig)).cache()
    val cols = Seq("key", "project_key", "summary", "status_name", "priority",
      "issuetype", "epic_link", "parent_issue")
    val a = orig.select(cols.map(col): _*).orderBy("key").collect().map(_.toString)
    val b = back.select(cols.map(col): _*).orderBy("key").collect().map(_.toString)
    assert(a.sameElements(b))
  }
}
