package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.JobManager
import graft.model.SyncJobSpec

class JobManagerSpec extends AnyFunSuite {
  import TestSpark._

  private val at = Timestamp.valueOf("2002-01-01 00:00:00")

  /** Run pending jobs until none is left Pending (bounded by retries). */
  private def drain(mgr: JobManager, work: String,
      sleep: Long => Unit = Thread.sleep): Unit = {
    var guard = 0
    while (mgr.list(phase = Some("Pending")).nonEmpty && guard < 100) {
      mgr.runPending(Tables.issues(spark, sf), Tables.links(spark, sf),
        s"$work/repos", s"$work/states", at, sleep)
      guard += 1
    }
  }

  private def spec(jql: String, retries: Int = 0, dryRun: Boolean = false) =
    SyncJobSpec("jql", Nil, Some(jql), None, None, "repo", None,
      max_retries = retries, backoff_base_sec = 1, backoff_cap_sec = 2,
      dry_run = dryRun)

  test("job lifecycle: Pending → Running → Completed with results") {
    val work = Files.createTempDirectory("graft-jobs").toString
    val mgr = new JobManager(spark)
    val id1 = mgr.submit(spec("project = P1", dryRun = true), at)
    val id2 = mgr.submit(spec("project = P2", dryRun = true), at)
    assert(id1 != id2 && id1.startsWith("jql-20020101"))
    assert(mgr.queueStatus() == Map("Pending" -> 2))
    drain(mgr, work)
    assert(mgr.queueStatus() == Map("Completed" -> 2))
    val done = mgr.status(id1).get
    assert(done.result.exists(_.total > 0))
    assert(done.attempts == 1)
  }

  test("invalid JQL fails after retries with backoff, phase = Failed") {
    val work = Files.createTempDirectory("graft-jobs-fail").toString
    val mgr = new JobManager(spark)
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val id = mgr.submit(spec("project = AND AND", retries = 2), at)
    drain(mgr, work, sleep = sleeps += _)
    val job = mgr.status(id).get
    assert(job.phase == "Failed")
    assert(job.attempts == 3) // 1 try + 2 retries
    assert(sleeps.toSeq == Seq(1000, 2000)) // base, then capped
    assert(job.error.isDefined)
  }

  test("cancel stops a pending job; delete drops terminal records") {
    val work = Files.createTempDirectory("graft-jobs-cancel").toString
    val mgr = new JobManager(spark)
    val keep = mgr.submit(spec("project = P1", dryRun = true), at)
    val cancelled = mgr.submit(spec("project = P2", dryRun = true),
      Timestamp.valueOf("2002-01-01 00:00:01"))
    assert(mgr.cancel(cancelled))
    drain(mgr, work)
    // the cancelled job was never executed
    assert(mgr.status(cancelled).get.phase == "Cancelled")
    assert(mgr.status(cancelled).get.result.isEmpty)
    assert(mgr.status(keep).get.phase == "Completed")
    // terminal cancel is a no-op; delete removes the record
    assert(!mgr.cancel(keep))
    assert(mgr.delete(keep))
    assert(mgr.status(keep).isEmpty)
    assert(mgr.queueStatus() == Map("Cancelled" -> 1))
  }

  test("listing filters by phase and type; queue status aggregates") {
    val mgr = new JobManager(spark)
    mgr.submit(spec("project = P1"), at)
    val incr = SyncJobSpec("incremental", Nil, Some("project = P2"), None, None,
      "repo", None, 0, 1, 2, dry_run = true)
    mgr.submit(incr, Timestamp.valueOf("2002-01-01 00:00:01"))
    assert(mgr.list(syncType = Some("incremental")).size == 1)
    assert(mgr.list(phase = Some("Pending")).size == 2)
    assert(mgr.queueStatus()("Pending") == 2)
  }
}
