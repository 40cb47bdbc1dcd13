package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.GitRepo
import graft.state.StateStore
import graft.streaming.CdcStream

class StreamSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("CdcStream: checkpointed stream merges state, writes YAML, commits git") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val work = Files.createTempDirectory("graft-cdcstream").toString
    val mem = MemoryStream[(String, String, String, Timestamp)]
    // sync clock must track event time (reference semantics compare
    // issue.updated against state.last_synced)
    val clockTimes = Iterator(ts("2024-01-15 00:00:00"), ts("2024-01-16 00:00:00"),
      ts("2024-02-15 00:00:00"), ts("2024-02-16 00:00:00"))
    val query = CdcStream.start(
      mem.toDF().toDF("key", "project_key", "summary", "updated"),
      s"$work/repo", s"$work/state", s"$work/ckpt",
      clock = () => clockTimes.next())
    try {
      mem.addData(("P1-1", "P1", "v1", ts("2024-01-01 00:00:00")),
        ("P1-2", "P1", "v1", ts("2024-01-01 00:00:00")))
      query.processAllAvailable()
      // replay-equivalent batch: same rows again → no new state, no commit
      mem.addData(("P1-1", "P1", "v1", ts("2024-01-01 00:00:00")))
      query.processAllAvailable()
      // genuine update
      mem.addData(("P1-1", "P1", "v2", ts("2024-02-01 00:00:00")))
      query.processAllAvailable()
    } finally query.stop()

    val state = StateStore.loadResolved(spark, s"$work/state").cache()
    assert(state.count() == 2)
    assert(state.filter(col("key") === "P1-1").head.getAs[Int]("sync_count") == 2)
    val log = SinkSpec.log(s"$work/repo")
    assert(log.length == 2) // batch 0 and the real update; idempotent batch skipped
    assert(log.forall(_.startsWith("feat(sync): stream batch")))
    assert(SinkSpec.isClean(s"$work/repo"))
  }

  test("CdcStream survives a stop/restart from its checkpoint exactly-once") {
    import spark.implicits._
    // MemoryStream offsets die with the query, so restart semantics need a
    // durable source: a file-source directory the test appends batches to.
    // This is THE streaming guarantee everything else leans on — a driver
    // crash mid-pipeline resumes from the checkpoint, consumes only
    // not-yet-committed input, and the idempotent state merge keeps
    // effects exactly-once
    val work = Files.createTempDirectory("graft-cdcrestart").toString
    val srcDir = s"$work/src"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val schema = "key STRING, project_key STRING, summary STRING, updated TIMESTAMP"
    def srcStream = spark.readStream.schema(schema).parquet(srcDir)
    def startQuery(t: Timestamp) = CdcStream.start(srcStream,
      s"$work/repo", s"$work/state", s"$work/ckpt", clock = () => t)
    // batch 1: two issues
    Seq(("P1-1", "P1", "v1", ts("2024-01-01 00:00:00")),
      ("P1-2", "P1", "v1", ts("2024-01-01 00:00:00")))
      .toDF("key", "project_key", "summary", "updated")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = startQuery(ts("2024-01-15 00:00:00"))
    try q1.processAllAvailable() finally q1.stop()
    assert(SinkSpec.log(s"$work/repo").length == 1)
    // the "crash": query gone; new input lands while nothing is running
    Seq(("P1-1", "P1", "v2", ts("2024-02-01 00:00:00")),
      ("P1-3", "P1", "v1", ts("2024-02-01 00:00:00")))
      .toDF("key", "project_key", "summary", "updated")
      .coalesce(1).write.mode("append").parquet(srcDir)
    // restart from the same checkpoint: must consume ONLY the new file
    val q2 = startQuery(ts("2024-02-15 00:00:00"))
    try q2.processAllAvailable() finally q2.stop()
    val state = StateStore.loadResolved(spark, s"$work/state").cache()
    assert(state.count() == 3)
    assert(state.filter(col("key") === "P1-1").head.getAs[Int]("sync_count") == 2,
      "the update must sync exactly once more after restart")
    assert(state.filter(col("key") === "P1-2").head.getAs[Int]("sync_count") == 1,
      "an already-committed batch must not replay after restart")
    assert(SinkSpec.log(s"$work/repo").length == 2)
    // a third restart with nothing new is a no-op: no commit, no state churn
    val q3 = startQuery(ts("2024-03-15 00:00:00"))
    try q3.processAllAvailable() finally q3.stop()
    assert(SinkSpec.log(s"$work/repo").length == 2)
    assert(StateStore.loadResolved(spark, s"$work/state")
      .filter(col("key") === "P1-1").head.getAs[Int]("sync_count") == 2)
    state.unpersist()
  }

  test("streamed issues whose file write fails stay out of state for retry") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val work = Files.createTempDirectory("graft-cdcfail").toString
    val repo = s"$work/repo"
    // sabotage project P9: a FILE where its directory belongs
    Files.createDirectories(java.nio.file.Paths.get(repo, "projects"))
    Files.write(java.nio.file.Paths.get(repo, "projects", "P9"),
      "not a dir".getBytes)
    val mem = MemoryStream[(String, String, String, Timestamp)]
    val query = CdcStream.start(
      mem.toDF().toDF("key", "project_key", "summary", "updated"),
      repo, s"$work/state", s"$work/ckpt", commitToGit = false,
      clock = () => ts("2024-01-15 00:00:00"))
    try {
      mem.addData(("P9-1", "P9", "v1", ts("2024-01-01 00:00:00")),
        ("P8-1", "P8", "v1", ts("2024-01-01 00:00:00")))
      query.processAllAvailable()
      // only the written issue is marked synced — the failed one must remain
      // an incremental candidate
      assert(StateStore.loadResolved(spark, s"$work/state").select("key").as[String]
        .collect().toSeq == Seq("P8-1"))
      // unblock and re-deliver: the failed issue syncs on retry
      Files.delete(java.nio.file.Paths.get(repo, "projects", "P9"))
      mem.addData(("P9-1", "P9", "v1", ts("2024-01-01 00:00:00")))
      query.processAllAvailable()
    } finally query.stop()
    assert(StateStore.loadResolved(spark, s"$work/state").count() == 2)
    assert(Files.exists(java.nio.file.Paths.get(repo,
      "projects", "P9", "issues", "P9-1.yaml")))
  }

  test("commit cadence: K batches fold into one git commit, nothing lost") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val work = Files.createTempDirectory("graft-cdccadence").toString
    val mem = MemoryStream[(String, String, String, Timestamp)]
    val clockTimes = Iterator.continually(ts("2024-01-15 00:00:00"))
    val query = CdcStream.start(
      mem.toDF().toDF("key", "project_key", "summary", "updated"),
      s"$work/repo", s"$work/state", s"$work/ckpt",
      commitEvery = 2, clock = () => clockTimes.next())
    try {
      // four data batches at cadence 2 → exactly two commits
      (1 to 4).foreach { i =>
        mem.addData((s"P1-$i", "P1", s"v$i", ts("2024-01-01 00:00:00")))
        query.processAllAvailable()
      }
    } finally query.stop()
    val log = SinkSpec.log(s"$work/repo")
    assert(log.length == 2, s"cadence 2 over 4 batches must commit twice: $log")
    assert(log.forall(_.matches("feat\\(sync\\): stream batch \\d+ \\(2 issues\\)")),
      s"each commit carries its window's 2 issues: $log")
    // HEAD's tree holds every file from all four batches (latest commit
    // includes the earlier ones' paths — trees accumulate)
    val lsr = scala.sys.process.Process(
      Seq("git", "ls-tree", "-r", "--name-only", "HEAD"),
      new java.io.File(s"$work/repo")).!!
    val committed = lsr.linesIterator.toSet
    assert((1 to 4).forall(i => committed(s"projects/P1/issues/P1-$i.yaml")),
      s"missing paths in HEAD: $committed")
    // and the state table saw all four regardless of commit cadence
    assert(StateStore.loadResolved(spark, s"$work/state").count() == 4)
    // fsck accepts the cadence-built trees too
    assert(scala.sys.process.Process(
      Seq("git", "fsck", "--strict"), new java.io.File(s"$work/repo")).! == 0)
  }

  test("stop mid-cadence-window: restart recovers the parked manifest into git history") {
    import spark.implicits._
    // the durability hole this pins: under commitEvery=K a batch's keys are
    // state-acknowledged BEFORE the cadence-boundary commit, so a stop inside
    // the window parks a manifest that nothing re-emits — restart must
    // recover it or the issues are permanently absent from git history
    val work = Files.createTempDirectory("graft-cdcrecover").toString
    val srcDir = s"$work/src"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val schema = "key STRING, project_key STRING, summary STRING, updated TIMESTAMP"
    def startQuery() = CdcStream.start(
      spark.readStream.schema(schema).parquet(srcDir),
      s"$work/repo", s"$work/state", s"$work/ckpt",
      commitEvery = 2, clock = () => ts("2024-01-15 00:00:00"))
    Seq(("P1-1", "P1", "v1", ts("2024-01-01 00:00:00")))
      .toDF("key", "project_key", "summary", "updated")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // one batch into a cadence-2 window: state knows the key, git doesn't
    assert(StateStore.loadResolved(spark, s"$work/state").count() == 1)
    assert(scala.sys.process.Process(
      Seq("git", "rev-parse", "--verify", "-q", "HEAD"),
      new java.io.File(s"$work/repo")).! != 0, "nothing may be committed yet")
    val mroot = java.nio.file.Paths.get(s"$work/repo", ".git", "graft-manifest")
    import scala.jdk.CollectionConverters._
    assert(Files.list(mroot).iterator().asScala.size == 1,
      "the pending manifest must survive the stop")
    // restart with NO new data: recovery must commit the parked manifest
    // immediately (a future cadence boundary may never come)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val log = SinkSpec.log(s"$work/repo")
    assert(log == Seq("feat(sync): recover 1 issues from interrupted stream"),
      s"unexpected log: $log")
    val lsr = scala.sys.process.Process(
      Seq("git", "ls-tree", "-r", "--name-only", "HEAD"),
      new java.io.File(s"$work/repo")).!!
    assert(lsr.linesIterator.contains("projects/P1/issues/P1-1.yaml"))
    assert(scala.sys.process.Process(
      Seq("git", "fsck", "--strict"), new java.io.File(s"$work/repo")).! == 0)
    assert(Files.list(mroot).iterator().asScala.isEmpty,
      "recovered manifests must be deleted after the commit")
  }

  test("manifest recovery composes with the sharded layout") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val work = Files.createTempDirectory("graft-cdcrecshard").toString
    val repo = s"$work/repo"
    GitRepo.init(repo)
    // the kill window again, but the parked manifest carries SHARDED paths —
    // recovery must commit them verbatim (the tree rebuild crosses the extra
    // directory level)
    val m = graft.sink.Yaml.writeIssuesWithBlobsManifest(
      Seq(("P3-40000", "P3", "v1", ts("2024-01-01 00:00:00")))
        .toDF("key", "project_key", "summary", "updated"),
      repo, sharded = true)
    assert(m.written == 1)
    val mem = MemoryStream[(String, String, String, Timestamp)]
    val q = CdcStream.start(
      mem.toDF().toDF("key", "project_key", "summary", "updated"),
      repo, s"$work/state", s"$work/ckpt", sharded = true,
      clock = () => ts("2024-01-15 00:00:00"))
    q.stop()
    val shard = graft.sink.Yaml.shardSeg("P3-40000")
    val lsr = scala.sys.process.Process(
      Seq("git", "ls-tree", "-r", "--name-only", "HEAD"),
      new java.io.File(repo)).!!.linesIterator.toSet
    assert(lsr == Set(s"projects/P3/issues/$shard/P3-40000.yaml"), s"$lsr")
    assert(scala.sys.process.Process(
      Seq("git", "fsck", "--strict"), new java.io.File(repo)).! == 0)
  }

  test("kill between state append and commit at cadence 1: restart recovers it") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val work = Files.createTempDirectory("graft-cdcrecover1").toString
    val repo = s"$work/repo"
    GitRepo.init(repo)
    // simulate the kill window at commitEvery=1: YAML + blobs + manifest are
    // on disk (and the key acknowledged in state by appendDelta), the process
    // dies before commitTreeDirect runs
    val m = graft.sink.Yaml.writeIssuesWithBlobsManifest(
      Seq(("P2-7", "P2", "v1", ts("2024-01-01 00:00:00")))
        .toDF("key", "project_key", "summary", "updated"), repo)
    assert(m.written == 1)
    // a task killed mid-write also leaves an un-renamed attempt file with a
    // possibly-truncated tail — recovery must discard it, not commit it
    Files.write(m.dir.resolve("part-99999.attempt-3"),
      "ok\tdeadbeef\tprojects/P2/issues/TRUNC".getBytes)
    val mem = MemoryStream[(String, String, String, Timestamp)]
    val q = CdcStream.start(
      mem.toDF().toDF("key", "project_key", "summary", "updated"),
      repo, s"$work/state", s"$work/ckpt",
      clock = () => ts("2024-01-15 00:00:00"))
    q.stop() // recovery already ran inside start()
    assert(SinkSpec.log(repo) ==
      Seq("feat(sync): recover 1 issues from interrupted stream"))
    val lsr = scala.sys.process.Process(
      Seq("git", "ls-tree", "-r", "--name-only", "HEAD"),
      new java.io.File(repo)).!!.linesIterator.toSet
    assert(lsr == Set("projects/P2/issues/P2-7.yaml"),
      s"attempt-file junk leaked into the tree: $lsr")
    assert(scala.sys.process.Process(
      Seq("git", "fsck", "--strict"), new java.io.File(repo)).! == 0)
  }

  test("sharded layout: files, git tree, state paths and reads all agree") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val work = Files.createTempDirectory("graft-cdcshard").toString
    val mem = MemoryStream[(String, String, String, Timestamp)]
    val query = CdcStream.start(
      mem.toDF().toDF("key", "project_key", "summary", "updated"),
      s"$work/repo", s"$work/state", s"$work/ckpt",
      sharded = true, clock = () => ts("2024-01-15 00:00:00"))
    val keys = Seq("P1-1", "P1-2", "P1-3", "P2-9")
    try {
      mem.addData(keys.map(k =>
        (k, k.takeWhile(_ != '-'), "v1", ts("2024-01-01 00:00:00"))): _*)
      query.processAllAvailable()
    } finally query.stop()
    // every file lands at projects/{proj}/issues/{md5[0:2]}/{key}.yaml
    def relOf(k: String) = {
      val proj = k.takeWhile(_ != '-')
      s"projects/$proj/issues/${graft.sink.Yaml.shardSeg(k)}/$k.yaml"
    }
    keys.foreach { k =>
      assert(Files.exists(java.nio.file.Paths.get(s"$work/repo", relOf(k))),
        s"missing sharded file for $k at ${relOf(k)}")
    }
    // the SQL twin in the state ledger derives the same path
    val statePaths = StateStore.loadResolved(spark, s"$work/state")
      .select("key", "file_path").as[(String, String)].collect().toMap
    keys.foreach(k => assert(statePaths(k) == relOf(k),
      s"state path ${statePaths(k)} != writer path ${relOf(k)}"))
    // the commit carries the sharded paths and git accepts the deeper tree
    val lsr = scala.sys.process.Process(
      Seq("git", "ls-tree", "-r", "--name-only", "HEAD"),
      new java.io.File(s"$work/repo")).!!.linesIterator.toSet
    assert(keys.forall(k => lsr(relOf(k))), s"HEAD tree: $lsr")
    assert(scala.sys.process.Process(
      Seq("git", "fsck", "--strict"), new java.io.File(s"$work/repo")).! == 0)
    // the layout-agnostic reader finds the sharded corpus
    val back = graft.sink.Yaml.readIssues(spark, s"$work/repo")
      .select("key").as[String].collect().toSet
    assert(back == keys.toSet)
  }

  test("two updates to one key inside a single micro-batch collapse to the latest") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val work = Files.createTempDirectory("graft-cdcdup").toString
    val mem = MemoryStream[(String, String, String, Timestamp)]
    val query = CdcStream.start(
      mem.toDF().toDF("key", "project_key", "summary", "updated"),
      s"$work/repo", s"$work/state", s"$work/ckpt",
      clock = () => ts("2024-03-01 00:00:00"))
    try {
      // same key twice in ONE batch, out of order: v2 older, v1 newer
      mem.addData(
        ("P1-1", "P1", "newer", ts("2024-02-05 00:00:00")),
        ("P1-1", "P1", "older", ts("2024-02-01 00:00:00")))
      query.processAllAvailable()
    } finally query.stop()
    val state = StateStore.loadResolved(spark, s"$work/state").collect()
    assert(state.length == 1) // no duplicate state rows
    assert(state.head.getAs[Timestamp]("last_updated") == ts("2024-02-05 00:00:00"))
    // the YAML on disk holds the newer version deterministically
    val yaml = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$work/repo", "projects", "P1", "issues", "P1-1.yaml")))
    assert(yaml.contains("newer") && !yaml.contains("older"))
  }

  test("eventRates with watermark drops late data in streaming mode") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val rates = CdcStream.eventRates(
      mem.toDF().toDF("ts", "event_type", "value"), watermarkDelay = Some("1 hour"))
    val query = rates.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("rates_out")
      .start()
    try {
      mem.addData((ts("2024-01-01 10:15:00"), "click", 1.0),
        (ts("2024-01-01 10:45:00"), "click", 2.0))
      query.processAllAvailable()
      // advance watermark far past the first window, then send a late row
      mem.addData((ts("2024-01-01 14:00:00"), "click", 3.0))
      query.processAllAvailable()
      mem.addData((ts("2024-01-01 10:50:00"), "click", 99.0)) // too late → dropped
      query.processAllAvailable()
      mem.addData((ts("2024-01-01 16:00:00"), "click", 4.0)) // closes the 14:00 window
      query.processAllAvailable()
    } finally query.stop()
    val out = spark.table("rates_out").collect()
      .map(r => r.getAs[String]("bucket_s") -> r.getAs[Long]("n")).toMap
    assert(out("2024-01-01 10:00:00") == 2) // late 10:50 row was NOT counted
  }

  test("StatefulCdc: per-key watermark state across micro-batches") {
    import spark.implicits._
    import graft.streaming.StatefulCdc
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, String, Timestamp)]
    val changes = StatefulCdc.changes(
      mem.toDF().toDF("key", "project_key", "updated").as[StatefulCdc.Update])
    val query = changes.writeStream
      .outputMode("append").format("memory").queryName("cdc_changes").start()
    def emitted() = spark.table("cdc_changes")
      .select("key", "change_type", "sync_count")
      .as[(String, String, Int)].collect().toSeq
    try {
      // batch 0: two versions of P1-1 in ONE batch collapse to the newest
      mem.addData(("P1-1", "P1", ts("2024-01-02 00:00:00")),
        ("P1-1", "P1", ts("2024-01-01 00:00:00")))
      query.processAllAvailable()
      assert(emitted() == Seq(("P1-1", "new", 1)))
      // batch 1: replay (same timestamp) → idempotent, nothing emitted
      mem.addData(("P1-1", "P1", ts("2024-01-02 00:00:00")))
      query.processAllAvailable()
      assert(emitted() == Seq(("P1-1", "new", 1)))
      // batch 2: genuine advance + a brand-new key
      mem.addData(("P1-1", "P1", ts("2024-02-01 00:00:00")),
        ("P2-9", "P2", ts("2024-01-15 00:00:00")))
      query.processAllAvailable()
      assert(emitted().sorted == Seq(("P1-1", "modified", 2), ("P1-1", "new", 1),
        ("P2-9", "new", 1)))
    } finally query.stop()
  }

  test("StatefulCdc TTL: timeout invocation evicts state; activity re-arms") {
    import graft.streaming.StatefulCdc
    import org.apache.spark.sql.streaming.TestGroupState
    // timeout invocation (no rows): state is dropped
    val timedOut = TestGroupState.create[StatefulCdc.KeyState](
      org.apache.spark.api.java.Optional.of(StatefulCdc.KeyState(ts("2024-01-01 00:00:00"), 3)),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = true)
    assert(StatefulCdc.detect(Some(60000L))("P1-1", Iterator.empty, timedOut).isEmpty)
    assert(timedOut.isRemoved)
    // after eviction the key re-emits as new with a reset counter
    val fresh = TestGroupState.create[StatefulCdc.KeyState](
      org.apache.spark.api.java.Optional.empty[StatefulCdc.KeyState](),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val out = StatefulCdc.detect(Some(60000L))("P1-1",
      Iterator(StatefulCdc.Update("P1-1", "P1", ts("2024-01-01 00:00:00"))), fresh).toSeq
    assert(out.map(c => (c.change_type, c.sync_count)) == Seq(("new", 1)))
    assert(fresh.getTimeoutTimestampMs.isPresent) // TTL armed
    // a no-op update (not newer) still refreshes the TTL, emits nothing
    val idle = TestGroupState.create[StatefulCdc.KeyState](
      org.apache.spark.api.java.Optional.of(StatefulCdc.KeyState(ts("2024-01-02 00:00:00"), 2)),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 5000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    assert(StatefulCdc.detect(Some(60000L))("P1-1",
      Iterator(StatefulCdc.Update("P1-1", "P1", ts("2024-01-02 00:00:00"))), idle).isEmpty)
    assert(idle.getTimeoutTimestampMs.isPresent)
  }

  test("batch eventRates matches a hand-computed hourly rollup") {
    val df = CdcStream.eventRates(Tables.events(spark, sf))
    val total = df.agg(sum("n")).head.getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("streaming session windows: sessions close when the watermark passes the gap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val sessions = mem.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total"))
    val query = sessions.writeStream
      .outputMode("append").format("memory").queryName("sess_out").start()
    def emitted() = spark.table("sess_out")
      .select("user_id", "n_events").as[(Long, Long)].collect().toSeq
    try {
      // one user, two bursts 30+ min apart → two sessions; nothing emits
      // until the watermark passes session-end + gap
      mem.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 10:10:00"), 2.0))
      query.processAllAvailable()
      assert(emitted().isEmpty) // session still open
      mem.addData((1L, ts("2024-01-01 11:00:00"), 4.0)) // gap ≥ 30min → new session
      query.processAllAvailable()
      mem.addData((1L, ts("2024-01-01 13:00:00"), 8.0)) // advances watermark
      query.processAllAvailable()
      // first session (2 events) closed; the 11:00 session closed by 13:00 too
      assert(emitted().toSet == Set((1L, 2L), (1L, 1L)))
    } finally query.stop()
  }

  test("funnel stages are monotone non-increasing and strictly ordered in time") {
    val rows = SparkEntry.queries("stream_funnel")(spark, sf)
      .orderBy("stage").collect()
    assert(rows.length == 3)
    val counts = rows.map(_.getAs[Long]("n_users"))
    assert(counts(0) >= counts(1) && counts(1) >= counts(2),
      s"funnel widened downstream: ${counts.mkString(",")}")
    assert(counts(0) > 0, "no signups in the event table")
  }

  test("cooccurrence: pairs are canonical, bounded by marginals, lift positive") {
    val df = SparkEntry.queries("stream_cooccurrence")(spark, sf).cache()
    import org.apache.spark.sql.functions._
    assert(df.filter(col("type_a") >= col("type_b")).count() == 0,
      "pairs must be canonical (type_a < type_b), no mirrored duplicates")
    assert(df.filter(col("n_both") > least(col("n_a"), col("n_b")))
      .count() == 0, "users with both can't exceed either marginal")
    assert(df.filter(col("lift") <= 0).count() == 0)
    val types = Tables.events(spark, sf).select("event_type").distinct().count()
    assert(df.count() <= types * (types - 1) / 2,
      "output must be bounded by the type-pair vocabulary")
    df.unpersist()
  }

  test("rate anomaly: burst verdict is exactly the 2x-median comparison") {
    val df = SparkEntry.queries("stream_rate_anomaly")(spark, sf).cache()
    import org.apache.spark.sql.functions._
    assert(df.filter(col("is_burst") =!=
      (col("n_events") > lit(2) * col("median_c"))).count() == 0)
    assert(df.filter(col("median_c") <= 0).count() == 0,
      "every type present has at least one event per counted hour")
    // every event type in the log gets rows; hour census covers all events
    val types = Tables.events(spark, sf).select("event_type").distinct().count()
    assert(df.select("event_type").distinct().count() == types)
    assert(df.agg(sum("n_events")).collect()(0).getLong(0) ==
      Tables.events(spark, sf).count(),
      "hourly counts must partition the event log")
    df.unpersist()
  }

  test("session paths: <=3 segments, shares exact against the session census") {
    val df = SparkEntry.queries("stream_session_paths")(spark, sf).cache()
    import org.apache.spark.sql.functions._
    assert(df.filter(size(split(col("path"), ">")) > 3).count() == 0,
      "a path kept more than the session's first three events")
    // shares are n_sessions / total sessions — cross-check the denominator
    // against the session-window census (same 30-minute gap rule)
    val sessions = SparkEntry.queries("stream_session_agg")(spark, sf).count()
    assert(df.filter(abs(col("share") * sessions - col("n_sessions")) > 1e-6)
      .count() == 0, "share denominator diverged from the session census")
    assert(df.count() <= 10 && df.count() > 0)
    df.unpersist()
  }

  test("transition matrix: rows are distributions, transitions count n-1 per user") {
    val df = SparkEntry.queries("stream_transition_matrix")(spark, sf).cache()
    import org.apache.spark.sql.functions._
    val rowSums = df.groupBy("src").agg(sum("p").as("s"))
      .filter(abs(col("s") - 1.0) > 1e-9).count()
    assert(rowSums == 0, "per-source transition probabilities must sum to 1")
    // each user contributes exactly (events - 1) transitions
    val ev = Tables.events(spark, sf)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(df.agg(sum("n_transitions")).collect()(0).getLong(0) == expected)
    df.unpersist()
  }

  test("windowed funnel: bounded by the unwindowed funnel, still monotone") {
    val w = SparkEntry.queries("stream_funnel_windowed")(spark, sf)
      .orderBy("stage").collect().map(_.getAs[Long]("n_users"))
    val u = SparkEntry.queries("stream_funnel")(spark, sf)
      .orderBy("stage").collect().map(_.getAs[Long]("n_users"))
    assert(w.length == 3 && w(0) == u(0),
      "stage 1 has no deadline, so windowed == unwindowed there")
    (1 until 3).foreach { i =>
      assert(w(i) <= u(i), s"stage ${i + 1}: deadline widened the funnel")
    }
    assert(w(0) >= w(1) && w(1) >= w(2))
  }

  test("retention: age 0 is exactly 1.0 and cohort activity never exceeds it") {
    val df = SparkEntry.queries("stream_retention_cohorts")(spark, sf).cache()
    import org.apache.spark.sql.functions._
    // a cohort's first-seen week IS an active week, so age-0 retention = 1
    assert(df.filter(col("age_weeks") === 0 && col("retention") =!= 1.0)
      .count() == 0, "age-0 retention must be exactly 1.0")
    assert(df.filter(col("age_weeks") === 0).count() ==
      df.select("cohort_week_s").distinct().count(),
      "every cohort must have an age-0 row")
    assert(df.filter(col("retention") <= 0 || col("retention") > 1.0)
      .count() == 0)
    assert(df.filter(col("age_weeks") < 0).count() == 0,
      "activity before the cohort's first week is impossible")
    df.unpersist()
  }

  test("conversion lag: converters match funnel stage 3 and lags are positive") {
    val lag = SparkEntry.queries("stream_conversion_lag")(spark, sf).head
    val funnel = SparkEntry.queries("stream_funnel")(spark, sf)
      .orderBy("stage").collect()
    assert(lag.getAs[Long]("n_converted") == funnel(2).getAs[Long]("n_users"),
      "lag population must be exactly the stage-3 cohort")
    if (lag.getAs[Long]("n_converted") > 0) {
      assert(lag.getAs[Long]("min_us") > 0, "a conversion cannot predate its signup")
      assert(lag.getAs[Long]("min_us") <= lag.getAs[Long]("max_us"))
      val mean = lag.getAs[Double]("mean_us")
      assert(mean >= lag.getAs[Long]("min_us") && mean <= lag.getAs[Long]("max_us"))
    }
  }

  test("stream-stream interval join: clicks attribute to impressions in-window") {
    // two live streams joined on key + a time-bound — the streaming twin of
    // the batch range join. Both sides watermarked; the interval condition
    // bounds each side's state so Spark can evict (no unbounded buffers).
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val impDf = imps.toDF().toDF("ad_id", "imp_ts").withWatermark("imp_ts", "10 minutes")
    val clkDf = clicks.toDF().toDF("c_ad_id", "click_ts").withWatermark("click_ts", "10 minutes")
    val joined = impDf.join(clkDf,
      col("ad_id") === col("c_ad_id") &&
        col("click_ts") >= col("imp_ts") &&
        col("click_ts") <= col("imp_ts") + expr("INTERVAL 30 MINUTES"))
      .select("ad_id", "imp_ts", "click_ts")
    val query = joined.writeStream
      .outputMode("append").format("memory").queryName("attrib_out").start()
    try {
      imps.addData((7L, ts("2024-01-01 10:00:00")), (8L, ts("2024-01-01 10:05:00")))
      clicks.addData((7L, ts("2024-01-01 10:20:00")), // in window → joins
        (8L, ts("2024-01-01 11:00:00"))) // 55 min after imp → outside window
      query.processAllAvailable()
      val rows = spark.table("attrib_out")
        .select("ad_id").as[Long].collect().toSeq
      assert(rows == Seq(7L))
    } finally query.stop()
  }

  test("streaming exact dedup: within-watermark duplicates dropped, state expires") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    // dedup key = content fingerprint of NORMALIZED text (same rule as
    // pipe_dedup_exact), state bounded by the 1h watermark —
    // dropDuplicatesWithinWatermark is the streaming twin of the batch
    // keep-first dedup: state size ∝ fingerprints inside the watermark
    // horizon, not corpus size
    val deduped = mem.toDF().toDF("doc_id", "text", "ts")
      .withColumn("fp", sha2(graft.pipeline.normText(col("text")), 256))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("fp")
    val query = deduped.writeStream
      .outputMode("append").format("memory").queryName("stream_dedup").start()
    def kept() = spark.table("stream_dedup").select("doc_id")
      .as[Long].collect().toSet
    try {
      // batch 0: doc 2 is a near-identical re-serialization of doc 1
      // (normalization maps both to one fingerprint) → dropped; doc 3 kept
      mem.addData((1L, "hello world", ts("2024-01-01 10:00:00")),
        (2L, "Hello,   WORLD!", ts("2024-01-01 10:05:00")),
        (3L, "other text", ts("2024-01-01 10:10:00")))
      query.processAllAvailable()
      assert(kept() == Set(1L, 3L))
      // batch 1: advance event time so the 10:00 fingerprint state expires
      mem.addData((4L, "advance the watermark", ts("2024-01-01 20:00:00")))
      query.processAllAvailable()
      // batch 2: the SAME content re-arriving after expiry is a fresh record
      // (within-watermark semantics — exactly what a bounded-state streaming
      // dedup guarantees and nothing more)
      mem.addData((5L, "hello world", ts("2024-01-01 20:30:00")))
      query.processAllAvailable()
      assert(kept() == Set(1L, 3L, 4L, 5L))
    } finally query.stop()
  }

  test("streaming near-dup: foreachBatch maintains the signature index") {
    import spark.implicits._
    import graft.pipeline.Dedup
    implicit val ctx = spark.sqlContext
    val path = Files.createTempDirectory("graft-stream-sigs").toString + "/sigs"
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text").cache()
    val (half1, half2) = (docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0))
    val mem = MemoryStream[(Long, String)]
    val query = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) Dedup.upsertSignatures(batch, path)
      }
      .start()
    try {
      mem.addData(half1.as[(Long, String)].collect().toSeq: _*)
      query.processAllAvailable()
      mem.addData(half2.as[(Long, String)].collect().toSeq: _*)
      query.processAllAvailable()
      // two micro-batches converge to the same index a one-shot build yields
      val idx = spark.read.parquet(path).cache()
      val full = Dedup.bandSignatures(docs).cache()
      assert(idx.count() == full.count())
      assert(idx.except(full).count() == 0 && full.except(idx).count() == 0)
    } finally query.stop()
  }

  test("stream ledger: state, YAML corpus, git history, block dirs after compaction") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // 3-batch replay: insert across two range blocks, update, new key
    val work = Files.createTempDirectory("graft-pstream").toString
    val clockTimes = Iterator(ts("2024-01-15 00:00:00"),
      ts("2024-02-15 00:00:00"), ts("2024-03-15 00:00:00"))
    val mem = MemoryStream[(String, String, String, Timestamp)]
    val query = CdcStream.start(
      mem.toDF().toDF("key", "project_key", "summary", "updated"),
      s"$work/repo", s"$work/state", s"$work/ckpt",
      sharded = true, clock = () => clockTimes.next())
    try {
      mem.addData(("P1-1", "P1", "v1", ts("2024-01-01 00:00:00")),
        ("P1-70000", "P1", "v1", ts("2024-01-01 00:00:00")))
      query.processAllAvailable()
      mem.addData(("P1-1", "P1", "v2", ts("2024-02-01 00:00:00")))
      query.processAllAvailable()
      mem.addData(("P2-9", "P2", "v1", ts("2024-03-01 00:00:00")))
      query.processAllAvailable()
    } finally query.stop()
    def state() = StateStore.loadResolved(spark, s"$work/state")
      .collect().map(r => r.getAs[String]("key") ->
        (r.getAs[Timestamp]("last_updated"), r.getAs[Int]("sync_count"))).toMap
    val expected = Map(
      "P1-1" -> (ts("2024-02-01 00:00:00"), 2),
      "P1-70000" -> (ts("2024-01-01 00:00:00"), 1),
      "P2-9" -> (ts("2024-03-01 00:00:00"), 1))
    assert(state() == expected)
    val files = {
      val root = java.nio.file.Paths.get(work, "repo")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".yaml"))
        .map(p => root.relativize(p).toString).toSeq.sorted
    }
    assert(files == Seq("projects/P1/issues/00000/P1-1.yaml",
      "projects/P1/issues/00008/P1-70000.yaml",
      "projects/P2/issues/00000/P2-9.yaml"), s"YAML corpus: $files")
    assert(SinkSpec.log(s"$work/repo").length == 3)
    // the folded base is physically range-block partitioned and resolves
    // to the same rows
    StateStore.compactDeltas(spark, s"$work/state")
    val segDirs = new java.io.File(s"$work/state").listFiles().toSeq
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("__seg="))
    assert(segDirs.toSet == Set("__seg=00000", "__seg=00001"),
      s"compacted ledger must be range-block partitioned: $segDirs")
    assert(state() == expected)
  }

  test("a non-empty micro-batch starts at most 11 Spark jobs") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val work = Files.createTempDirectory("graft-stream-jobs").toString
    val mem = MemoryStream[(String, String, String, Timestamp)]
    val query = CdcStream.start(
      mem.toDF().toDF("key", "project_key", "summary", "updated"),
      s"$work/repo", s"$work/state", s"$work/ckpt",
      clock = () => ts("2024-01-15 00:00:00"))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    // the second batch: new keys and an update over an existing ledger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("sql.streaming.queryId") == query.id.toString &&
              p.getProperty("streaming.sql.batchId") == "1"))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      mem.addData(("P1-1", "P1", "v1", ts("2024-01-01 00:00:00")),
        ("P1-2", "P1", "v1", ts("2024-01-01 00:00:00")))
      query.processAllAvailable()
      mem.addData(("P1-1", "P1", "v2", ts("2024-01-02 00:00:00")),
        ("P1-3", "P1", "v1", ts("2024-01-02 00:00:00")))
      query.processAllAvailable()
      org.apache.spark.sql.graftbridge.drainListenerBus(sc)
    } finally {
      query.stop()
      sc.removeSparkListener(listener)
    }
    // the touched-block collect, the YAML+blob write, the delta append and
    // the state reads they share, each split into jobs by AQE; an
    // isEmpty probe of the delta before the append started 14
    assert(jobs.get > 0, "no job was attributed to the batch")
    assert(jobs.get <= 11, s"${jobs.get} jobs")
    assert(StateStore.loadResolved(spark, s"$work/state").count() == 3)
  }

  test("progress card: per-batch rows/latency/state telemetry with pinned bounds") {
    import spark.implicits._
    import graft.streaming.Progress
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    // a STATEFUL pipeline (watermarked windowed agg) so the state-store
    // numbers in the card are live, not vacuous zeros
    val rates = CdcStream.eventRates(
      mem.toDF().toDF("ts", "event_type", "value"), watermarkDelay = Some("1 hour"))
    val query = rates.writeStream
      .outputMode("append").format("memory").queryName("progress_out").start()
    val (b1, b2) = (
      (0 until 40).map(i => (ts(f"2024-01-01 10:${i % 60}%02d:00"), "click", 1.0)),
      (0 until 25).map(i => (ts(f"2024-01-01 12:${i % 60}%02d:00"), "view", 1.0)))
    val cards =
      try {
        mem.addData(b1)
        query.processAllAvailable()
        mem.addData(b2)
        query.processAllAvailable()
        Progress.card(query)
      } finally query.stop()
    // exactly the two data batches, in order, rows accounted exactly
    assert(cards.map(_.inputRows) == Seq(40L, 25L),
      s"per-batch input rows diverged: $cards")
    assert(cards.map(_.batchId) == cards.map(_.batchId).sorted)
    // every batch that did work has positive finite throughput + latency
    cards.foreach { c =>
      assert(c.batchDurationMs > 0, s"batch ${c.batchId} has no duration")
      assert(c.processedRowsPerSec > 0 && !c.processedRowsPerSec.isInfinite,
        s"batch ${c.batchId} rows/sec not a live rate: $c")
    }
    // the windowed agg holds keyed state: rows > 0, memory > 0, and the
    // second batch's state grew (new 12:00 windows joined the 10:00 ones)
    assert(cards.head.stateRows > 0 && cards.head.stateMemoryBytes > 0,
      s"stateful operator reported no state: ${cards.head}")
    assert(cards.last.stateRows >= cards.head.stateRows,
      "state shrank while the watermark never passed a window")
    assert(cards.map(_.inputRows).sum == 65)
    assert(cards.map(_.stateRows).max == cards.last.stateRows)
    // idle watermark-advance batches exist in raw progress but not the card
    val raw = query.recentProgress.toSeq.sortBy(_.batchId)
    assert(raw.size >= cards.size)
    assert(raw.filter(_.numInputRows > 0).map(_.batchId) == cards.map(_.batchId))
  }
}
