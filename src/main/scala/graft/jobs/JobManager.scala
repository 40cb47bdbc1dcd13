package graft.jobs

import java.sql.Timestamp

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.SyncEngine
import graft.model.{BatchResult, SyncJobSpec}

/** Driver-side job orchestration — the reference's LocalJobManager + the
  * operator's phase state machine, re-expressed without Kubernetes
  * (reference: internal/api/cli.go:228-341 LocalJobManager;
  * internal/operator/controllers/jirasync_controller.go:243-266 phases
  * `"" → Pending → Running → Completed|Failed`; retry counting :603-647;
  * job IDs pkg/jobs/job_id.go:26-60).
  *
  * Orchestration is deliberately not a data-plane concern: jobs execute
  * through [[SyncEngine.run]], which does the distributed work; the manager
  * only tracks specs, phases, attempts, and results.
  */
final class JobManager(spark: SparkSession) {

  final case class JobRecord(
      id: String,
      spec: SyncJobSpec,
      phase: String, // Pending | Running | Completed | Failed
      attempts: Int,
      result: Option[BatchResult],
      error: Option[String],
      submittedAt: Timestamp)

  private val jobs = TrieMap.empty[String, JobRecord]

  /** Deterministic `{type}-{ts}-{hash8}` job ID (reference format with the
    * random suffix replaced by a spec hash so tests are reproducible).
    */
  def jobId(spec: SyncJobSpec, at: Timestamp): String = {
    val ts = new java.text.SimpleDateFormat("yyyyMMddHHmmss").format(at)
    val h = java.lang.Long.toHexString(
      graft.functions.Md5Prefix64.hash(
        (spec.toString + at.getTime).getBytes("UTF-8"))).take(8)
    s"${spec.sync_type}-$ts-$h"
  }

  def submit(spec: SyncJobSpec, at: Timestamp): String = {
    val id = jobId(spec, at)
    jobs.put(id, JobRecord(id, spec, "Pending", 0, None, None, at))
    id
  }

  def status(id: String): Option[JobRecord] = jobs.get(id)

  /** P7-adjacent listing with the reference's filter fields. Ordered by
    * (submittedAt, id) — a stable SUBMISSION order, so API clients paging
    * through the list see a consistent sequence as new jobs arrive (new
    * entries only ever append past the pages already read; the previous
    * id-first order interleaved job types and shifted page composition).
    */
  def list(phase: Option[String] = None, syncType: Option[String] = None): Seq[JobRecord] =
    jobs.values.toSeq
      .filter(j => phase.forall(_ == j.phase))
      .filter(j => syncType.forall(_ == j.spec.sync_type))
      .sortBy(j => (j.submittedAt.getTime, j.id))

  /** A5: queue status — counts by phase
    * (reference: pkg/jobs/scheduler.go:244-271).
    */
  def queueStatus(): Map[String, Int] =
    jobs.values.groupBy(_.phase).view.mapValues(_.size).toMap

  /** CancelJob parity (reference: pkg/jobs/scheduler.go:272-299): a
    * non-terminal job moves to Cancelled and is never picked up again.
    * Execution here is synchronous per attempt, so cancellation takes effect
    * between attempts — the reference's delete-propagation has the same
    * at-batch-boundary granularity.
    */
  def cancel(id: String): Boolean = jobs.get(id) match {
    case Some(j) if j.phase == "Pending" || j.phase == "Running" =>
      jobs.put(id, j.copy(phase = "Cancelled")); true
    case _ => false
  }

  /** DeleteJob parity (reference: pkg/jobs/scheduler.go:140-151): drop a
    * non-running job's record.
    */
  def delete(id: String): Boolean = jobs.get(id) match {
    case Some(j) if j.phase != "Running" => jobs.remove(id).isDefined
    case _ => false
  }

  /** Execute all Pending jobs through the engine. Each job gets the phase
    * machine: Pending → Running → Completed, or → Failed after
    * `max_retries` attempts with the spec's backoff.
    */
  def runPending(
      issues: DataFrame,
      links: => DataFrame,
      repoRoot: String,
      stateRoot: String,
      now: Timestamp,
      sleep: Long => Unit = Thread.sleep): Seq[JobRecord] = {
    list(phase = Some("Pending")).map { job =>
      val running = job.copy(phase = "Running", attempts = job.attempts + 1)
      jobs.put(job.id, running)
      val spec = job.spec
      val opts = SyncEngine.SyncOptions(
        jql = spec.jql_query,
        incremental = spec.sync_type == "incremental",
        dryRun = spec.dry_run,
        projects = spec.project_key.toSeq,
        maxRetries = spec.max_retries,
        backoffBaseMs = spec.backoff_base_sec * 1000L,
        backoffCapMs = spec.backoff_cap_sec * 1000L)
      val done =
        try {
          val result = SyncEngine.run(spark, issues, links,
            s"$repoRoot/${job.id}", s"$stateRoot/${job.id}", opts, now)
          running.copy(phase = "Completed", result = Some(result))
        } catch {
          case e: Throwable =>
            // app-level retry with the spec's exponential backoff (C7)
            if (running.attempts <= spec.max_retries) {
              sleep(math.min(spec.backoff_cap_sec * 1000L,
                spec.backoff_base_sec * 1000L * (1L << (running.attempts - 1))))
              jobs.put(job.id, running.copy(phase = "Pending"))
              running.copy(phase = "Pending",
                error = Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
            } else running.copy(phase = "Failed",
              error = Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
        }
      jobs.put(job.id, jobs.getOrElse(job.id, done) match {
        case j if j.phase == "Pending" => j // retry re-queued
        // a cancel() that landed mid-attempt sticks: the attempt's outcome
        // must not overwrite it (runPending never picks Cancelled back up,
        // matching the reference's at-batch-boundary delete propagation)
        case j if j.phase == "Cancelled" => j.copy(result = done.result)
        case _ => done
      })
      jobs(job.id)
    }
  }
}
