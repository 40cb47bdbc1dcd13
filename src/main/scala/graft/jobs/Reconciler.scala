package graft.jobs

import java.sql.Timestamp

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.SyncJobSpec

/** 5-field cron expression (`minute hour day-of-month month day-of-week`) —
  * the schedule grammar of the reference operator's CRD `schedule` field
  * (reference: internal/operator/types/types.go:23-24), which the Go
  * controller declares (PhaseScheduled,
  * internal/operator/controllers/jirasync_controller.go:55) but never
  * wires; [[Reconciler]] gives it real semantics. Supports star, value,
  * range `a-b`, step suffix `/s` (on star or range) and comma lists per
  * field; day-of-week 0 or 7 = Sunday; standard cron OR-rule when BOTH
  * day fields are restricted.
  */
final case class Cron(
    minutes: Set[Int], hours: Set[Int], doms: Set[Int], months: Set[Int],
    dows: Set[Int], domRestricted: Boolean, dowRestricted: Boolean) {

  private def dayMatches(d: java.time.LocalDate): Boolean = {
    val domOk = doms.contains(d.getDayOfMonth)
    val dowOk = dows.contains(d.getDayOfWeek.getValue % 7) // MON=1..SUN=7 → 0=SUN
    if (domRestricted && dowRestricted) domOk || dowOk else domOk && dowOk
  }

  /** The next matching minute STRICTLY AFTER `t` (so a tick landing exactly
    * on a fire minute never double-fires). Walks minute-by-minute with
    * whole-day and whole-month skips; bounded at ~5 years.
    */
  def nextAfter(t: Timestamp): Timestamp = {
    var cur = t.toLocalDateTime.withSecond(0).withNano(0).plusMinutes(1)
    val bound = cur.plusYears(5)
    while (cur.isBefore(bound)) {
      if (!months.contains(cur.getMonthValue))
        cur = cur.toLocalDate.withDayOfMonth(1).plusMonths(1).atStartOfDay()
      else if (!dayMatches(cur.toLocalDate))
        cur = cur.toLocalDate.plusDays(1).atStartOfDay()
      else if (!hours.contains(cur.getHour))
        cur = cur.plusHours(1).withMinute(0)
      else if (!minutes.contains(cur.getMinute))
        cur = cur.plusMinutes(1)
      else return Timestamp.valueOf(cur)
    }
    throw new IllegalArgumentException(s"cron never fires within 5 years: $this")
  }
}

object Cron {
  private def field(spec: String, lo: Int, hi: Int): (Set[Int], Boolean) = {
    def part(p: String): Set[Int] = {
      val (rangePart, step) = p.split("/") match {
        case Array(r) => (r, 1)
        case Array(r, s) => (r, s.toInt)
        case _ => throw new IllegalArgumentException(s"bad cron field part: $p")
      }
      require(step >= 1, s"cron step must be >= 1: $p")
      val (a, b) = rangePart match {
        case "*" => (lo, hi)
        case r if r.contains("-") =>
          val Array(x, y) = r.split("-"); (x.toInt, y.toInt)
        case r => val v = r.toInt; if (step == 1) (v, v) else (v, hi)
      }
      require(a >= lo && b <= hi && a <= b, s"cron value out of range: $p ($lo-$hi)")
      (a to b by step).toSet
    }
    val restricted = spec != "*" && !spec.startsWith("*/")
    (spec.split(",").toSet.flatMap(part), restricted)
  }

  def parse(expr: String): Cron = {
    val f = expr.trim.split("\\s+")
    require(f.length == 5, s"cron needs 5 fields, got ${f.length}: '$expr'")
    val (mins, _) = field(f(0), 0, 59)
    val (hrs, _) = field(f(1), 0, 23)
    val (doms, domR) = field(f(2), 1, 31)
    val (mons, _) = field(f(3), 1, 12)
    // accept 7 as Sunday by folding it onto 0
    val (dowsRaw, dowR) = field(f(4), 0, 7)
    val dows = dowsRaw.map(d => if (d == 7) 0 else d)
    Cron(mins, hrs, doms, mons, dows, domR, dowR)
  }
}

/** The reference operator's retry policy
  * (reference: internal/operator/types/types.go:57-67): after the k-th
  * failure the next attempt is delayed
  * `initialDelay * backoffMultiplier^k` seconds (k = retries already
  * consumed — the exact loop at
  * internal/operator/controllers/jirasync_controller.go:627-631), up to
  * `maxRetries` retries total.
  */
final case class RetryPolicy(
    maxRetries: Int, backoffMultiplier: Double, initialDelaySec: Int) {

  /** Delay before retry number `retryNo` (1-based) in milliseconds. */
  def delayMs(retryNo: Int): Long = {
    var d = initialDelaySec * 1000.0
    // reference: delay *= multiplier once per ALREADY-CONSUMED retry
    (1 until retryNo).foreach(_ => d = d * backoffMultiplier)
    d.toLong
  }
}

/** A declared sync resource: the CRD-shaped (spec, schedule, retryPolicy)
  * triple the reconcile loop drives. `schedule = None` is a one-shot.
  */
final case class SyncResource(
    name: String,
    spec: SyncJobSpec,
    schedule: Option[Cron] = None,
    retryPolicy: Option[RetryPolicy] = None)

/** Driver-side reconcile loop — the reference operator's controller
  * semantics (phase machine, cron schedule, exponential retry backoff) as
  * a deterministic library over [[JobManager]]
  * (reference: internal/operator/controllers/jirasync_controller.go:243-266
  * phase switch, :612-646 handleFailed retry backoff, :183-266 Reconcile).
  *
  * Everything is clock-injected: [[tick]] takes `now`, computes due work,
  * submits specs into the EXISTING phase machine ([[JobManager.submit]] →
  * `runPending`), and reads job outcomes back — no threads, no sleeps, so
  * a test drives years of schedule on a fake clock in milliseconds. A
  * production driver calls `tick` from any timer loop.
  *
  * Phases mirror the reference (`Scheduled → Pending → Running →
  * Completed | Failed`), with two reconcile-level arcs on top of the job
  * machine:
  *   - a FAILED resource with retryPolicy re-queues after
  *     `initialDelay × multiplier^k` (k = retries consumed), up to
  *     maxRetries, then rests in Failed;
  *   - a COMPLETED (or retries-exhausted) resource with a cron schedule
  *     re-arms for the next matching minute; one-shots rest where they
  *     ended.
  *
  * Job-level retries (`spec.max_retries`, C7) still apply WITHIN each
  * attempt — the reconciler's policy is the outer, cross-attempt loop,
  * exactly the controller/job split the reference has.
  */
final class Reconciler(
    spark: SparkSession,
    jobs: JobManager,
    issues: () => DataFrame,
    links: () => DataFrame,
    repoRoot: String,
    stateRoot: String) {

  final case class ResourceState(
      resource: SyncResource,
      phase: String, // Scheduled | Pending | Running | Completed | Failed
      nextRunAt: Option[Timestamp],
      retryCount: Int,
      jobId: Option[String],
      lastError: Option[String])

  private val state = TrieMap.empty[String, ResourceState]

  /** Register (or replace) a resource; it first fires at its next schedule
    * match, or immediately on the next tick when unscheduled.
    */
  def apply(res: SyncResource, now: Timestamp): ResourceState = {
    val st = res.schedule match {
      case Some(c) => ResourceState(res, "Scheduled", Some(c.nextAfter(now)),
        0, None, None)
      case None => ResourceState(res, "Scheduled", Some(now), 0, None, None)
    }
    state.put(res.name, st)
    st
  }

  def status(name: String): Option[ResourceState] = state.get(name)

  def list(): Seq[ResourceState] = state.values.toSeq.sortBy(_.resource.name)

  /** One reconcile pass at `now`: submit due resources, run the pending
    * queue once, then fold job outcomes into resource phases (applying
    * retry backoff / schedule re-arm). Returns the job ids submitted this
    * tick. `sleep` is forwarded to the job machine's in-attempt backoff.
    */
  def tick(now: Timestamp, sleep: Long => Unit = Thread.sleep): Seq[String] = {
    // 1. fire everything due
    val fired = state.toSeq.sortBy(_._1).flatMap {
      case (name, st) if st.phase == "Scheduled" &&
          st.nextRunAt.exists(!_.after(now)) =>
        val id = jobs.submit(st.resource.spec, now)
        state.put(name, st.copy(phase = "Pending", nextRunAt = None,
          jobId = Some(id)))
        Some(id)
      case _ => None
    }
    // 2. one drain pass through the existing phase machine
    if (fired.nonEmpty || state.values.exists(_.phase == "Pending"))
      jobs.runPending(issues(), links(), repoRoot, stateRoot, now, sleep)
    // 3. fold outcomes back into resource phases
    state.toSeq.foreach { case (name, st) =>
      st.jobId.flatMap(jobs.status) match {
        case Some(j) if st.phase == "Pending" || st.phase == "Running" =>
          j.phase match {
            case "Completed" =>
              val next = st.resource.schedule.map(_.nextAfter(now))
              state.put(name, st.copy(
                phase = if (next.isDefined) "Scheduled" else "Completed",
                nextRunAt = next, retryCount = 0, lastError = None))
            case "Failed" | "Cancelled" =>
              val retry = st.resource.retryPolicy
                .filter(p => st.retryCount < p.maxRetries)
              retry match {
                case Some(p) =>
                  val retryNo = st.retryCount + 1
                  val at = new Timestamp(now.getTime + p.delayMs(retryNo))
                  state.put(name, st.copy(phase = "Scheduled",
                    nextRunAt = Some(at), retryCount = retryNo,
                    lastError = j.error))
                case None =>
                  // retries exhausted: a cron resource re-arms for its next
                  // window (each window gets a fresh retry budget); a
                  // one-shot rests in Failed
                  val next = st.resource.schedule.map(_.nextAfter(now))
                  state.put(name, st.copy(
                    phase = if (next.isDefined) "Scheduled" else "Failed",
                    nextRunAt = next,
                    retryCount = if (next.isDefined) 0 else st.retryCount,
                    lastError = j.error))
              }
            case _ => // still Pending/Running inside the job machine
              state.put(name, st.copy(phase = j.phase))
          }
        case _ => ()
      }
    }
    fired
  }
}
