package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Bench-protocol guard rails: the committed bench_full.json is the
  * regression reference, and round 9 proved a contended host can replace it
  * with numbers 2x off on identical code. These tests pin the canary-drift
  * statistic and the refresh refusal it powers — no SparkSession needed.
  */
class BenchSpec extends AnyFunSuite {

  private def baseline(n: Int = 20, t: Double = 1.0): Map[String, Double] =
    (1 to n).map(i => s"q$i" -> t).toMap

  test("medianDriftRatio flags a synthetic 2x host slowdown") {
    val base = baseline()
    val slow = base.view.mapValues(_ * 2.0).toMap
    assert(Bench.medianDriftRatio(base, slow).contains(2.0))
  }

  test("medianDriftRatio is robust to a few real per-query changes") {
    val base = baseline()
    // three genuinely-changed queries regress 10x, the rest are stable —
    // the MEDIAN stays ~1.0 so a legitimate refresh is not refused
    val fresh = base.map { case (k, v) =>
      k -> (if (Set("q1", "q2", "q3")(k)) v * 10 else v * 1.02)
    }
    val m = Bench.medianDriftRatio(base, fresh).get
    assert(m > 0.95 && m < 1.3, s"median $m should sit near the stable mass")
  }

  test("medianDriftRatio needs enough canaries and ignores sub-50ms noise") {
    assert(Bench.medianDriftRatio(baseline(4), baseline(4)).isEmpty)
    // tiny-baseline queries are excluded: all below 50ms leaves no canaries
    assert(Bench.medianDriftRatio(baseline(20, 0.01), baseline(20, 0.01)).isEmpty)
  }

  private def writeRun(dir: Path, name: String, qs: Map[String, Double],
      sf: String, sync: Double = 0.0, incr: Double = 0.0,
      staged: Boolean = false): Path = {
    val f = dir.resolve(name)
    val body = qs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val st = if (staged) "\"staged\":true," else ""
    Files.write(f,
      (s"""{"total":1.0,"queries":{$body},"errors":{},$st""" +
        s""""sync_issues_per_sec":$sync,"incr_scan_issues_per_sec":$incr,""" +
        s""""sf":"$sf"}""").getBytes("UTF-8"))
    f
  }

  /** decision against a dir holding (optionally) baseline/anchor/candidate */
  private def decide(dir: Path, fresh: Map[String, Double], sf: String,
      sync: Double = 0.0, incr: Double = 0.0, hasErrors: Boolean = false) =
    Bench.refreshDecision(dir.resolve("bench_full.json"),
      dir.resolve("bench_anchor.json"), dir.resolve("bench_candidate.json"),
      fresh, sync, incr, sf, hasErrors)

  private def isPark(d: Bench.RefreshDecision, prefix: String): Boolean =
    d match {
      case Bench.Park(r) => r.startsWith(prefix)
      case _ => false
    }

  test("refreshDecision parks a 2x-drifted sweep, either direction") {
    val dir = Files.createTempDirectory("graft-bench-spec")
    val base = baseline()
    writeRun(dir, "bench_full.json", base, "/sf0.1")
    assert(isPark(decide(dir, base.view.mapValues(_ * 2).toMap, "/sf0.1"),
      "query_drift"))
    // symmetric: a suspiciously-2x-FASTER sweep is also not a refresh basis
    assert(isPark(decide(dir, base.view.mapValues(_ / 2).toMap, "/sf0.1"),
      "query_drift"))
    // a mild in-bound sweep is clean — but only STAGES (two-window rule)
    assert(decide(dir, base.view.mapValues(_ * 1.1).toMap, "/sf0.1")
      == Bench.Stage)
  }

  test("refreshDecision parks a run with errors even when canaries agree") {
    // a mid-sweep crash leaves fast failures for the remaining queries
    // while the clean prefix matches the baseline perfectly — the partial
    // run must be parked regardless of drift
    val dir = Files.createTempDirectory("graft-bench-spec")
    val base = baseline()
    writeRun(dir, "bench_full.json", base, "/sf0.1")
    assert(decide(dir, base, "/sf0.1", hasErrors = true)
      == Bench.Park("errors"))
    // and even with no baseline to defend, an errored run never writes one
    val empty = Files.createTempDirectory("graft-bench-spec")
    assert(decide(empty, base, "/sf0.1", hasErrors = true)
      == Bench.Park("errors"))
  }

  test("refreshDecision never replaces a baseline from another sf") {
    val dir = Files.createTempDirectory("graft-bench-spec")
    writeRun(dir, "bench_full.json", baseline(), "/sf0.1")
    assert(decide(dir, baseline(), "/sf0.01") == Bench.Park("sf_mismatch"))
  }

  test("refreshDecision promotes directly when no readable baseline exists") {
    val dir = Files.createTempDirectory("graft-bench-spec")
    assert(decide(dir, baseline(), "/sf0.1") == Bench.Promote)
    Files.write(dir.resolve("bench_full.json"), "not json".getBytes("UTF-8"))
    assert(decide(dir, baseline(), "/sf0.1") == Bench.Promote)
  }

  test("clean query drift but out-of-band sync/incr leg parks the run") {
    // the round-10 hole: query drift 1.28 passed while the sync leg was 6x
    // under the committed window — that combination is an I/O-throttled
    // host, not an engine change, and must never reach the baseline
    val dir = Files.createTempDirectory("graft-bench-spec")
    val base = baseline()
    writeRun(dir, "bench_full.json", base, "/sf0.1",
      sync = 30000.0, incr = 100000.0)
    val fresh = base.view.mapValues(_ * 1.05).toMap
    assert(isPark(decide(dir, fresh, "/sf0.1", sync = 4888.0, incr = 90000.0),
      "sync_out_of_band"))
    assert(isPark(decide(dir, fresh, "/sf0.1", sync = 29000.0, incr = 20000.0),
      "incr_out_of_band"))
    // within the 0.5-2.0x band on both legs: clean (stages)
    assert(decide(dir, fresh, "/sf0.1", sync = 20000.0, incr = 110000.0)
      == Bench.Stage)
    // a missing leg (0.0: --sync-only skip or legacy baseline) is not judged
    assert(decide(dir, fresh, "/sf0.1", sync = 0.0, incr = 0.0) == Bench.Stage)
  }

  test("two-window rule: first clean run stages, promotion needs agreement") {
    val dir = Files.createTempDirectory("graft-bench-spec")
    val base = baseline()
    writeRun(dir, "bench_full.json", base, "/sf0.1")
    val w1 = base.view.mapValues(_ * 1.2).toMap
    // no candidate yet: the clean window stages
    assert(decide(dir, w1, "/sf0.1") == Bench.Stage)
    writeRun(dir, "bench_candidate.json", w1, "/sf0.1", staged = true)
    // second window agreeing with the staged one (and clean vs baseline)
    assert(decide(dir, base.view.mapValues(_ * 1.15).toMap, "/sf0.1")
      == Bench.Promote)
    // second window that does NOT agree with the staged candidate re-stages
    assert(decide(dir, base.view.mapValues(_ / 1.25).toMap, "/sf0.1")
      == Bench.Stage)
    // a PARKED (non-staged) candidate is never a promotion basis
    writeRun(dir, "bench_candidate.json", w1, "/sf0.1", staged = false)
    assert(decide(dir, base.view.mapValues(_ * 1.15).toMap, "/sf0.1")
      == Bench.Stage)
  }

  test("a parked run lands in its own slot and never destroys a staged candidate") {
    // host alternating clean/contended sweeps: without a separate park slot,
    // window 2's park overwrites window 1's staged candidate and window 3
    // re-stages instead of promoting — promotion starves forever
    val dir = Files.createTempDirectory("graft-bench-spec")
    val base = baseline()
    writeRun(dir, "bench_full.json", base, "/sf0.1")
    val w1 = base.view.mapValues(_ * 1.1).toMap
    val (basePath, anchorPath, candPath, parkedPath) =
      (dir.resolve("bench_full.json"), dir.resolve("bench_anchor.json"),
        dir.resolve("bench_candidate.json"), dir.resolve("bench_parked.json"))
    def json(marker: String): String =
      s"""{"total":1.0,"queries":{},"errors":{},$marker"sync_issues_per_sec":0.0,"incr_scan_issues_per_sec":0.0,"sf":"/sf0.1"}"""
    // window 1: clean → stages
    Bench.persistDecision(Bench.Stage, basePath, anchorPath, candPath,
      parkedPath, json, "/sf0.1", w1)
    writeRun(dir, "bench_candidate.json", w1, "/sf0.1", staged = true)
    // window 2: contended → parks, into parkedPath only
    Bench.persistDecision(Bench.Park("query_drift=2.000"), basePath,
      anchorPath, candPath, parkedPath, json, "/sf0.1",
      base.view.mapValues(_ * 2).toMap)
    assert(Files.exists(parkedPath), "park must write its own slot")
    assert(new String(Files.readAllBytes(candPath), "UTF-8")
      .contains("\"staged\":true"), "park must not clobber the staged candidate")
    // window 3: clean and agreeing with window 1 → promotes
    assert(decide(dir, base.view.mapValues(_ * 1.12).toMap, "/sf0.1")
      == Bench.Promote)
  }

  test("median-flat sweep with an exploded tail parks on the p90 gate") {
    // the round-12 hole: pipe_dedup_minhash_est ran 12x its baseline while
    // the sweep's MEDIAN stayed flat — the median-only gate promoted it.
    // Median optimizes the wrong statistic: at scale the slowest decile IS
    // the job time.
    val dir = Files.createTempDirectory("graft-bench-spec")
    val base = baseline(30)
    writeRun(dir, "bench_full.json", base, "/sf0.1")
    // 26 queries flat, the slowest 4 explode 8-18x → median ~1.0, p90 >> 1.5
    val fresh = base.map { case (k, v) =>
      k -> (if (Set("q1", "q2", "q3", "q4")(k)) v * 12 else v * 1.02)
    }
    assert(Bench.medianDriftRatio(base, fresh).exists(_ < 1.3),
      "scenario must be median-clean or it tests nothing")
    assert(isPark(decide(dir, fresh, "/sf0.1"), "query_p90"))
    // a tail that got FASTER is welcome (one-sided gate)
    val faster = base.map { case (k, v) =>
      k -> (if (Set("q1", "q2", "q3", "q4")(k)) v / 12 else v * 1.02)
    }
    assert(decide(dir, faster, "/sf0.1") == Bench.Stage)
  }

  test("totals beyond 1.4x the anchor park even when every per-query gate passes") {
    // the ratchet's aggregate form: heavy queries creep 1.45x (under every
    // per-query bound) while the baseline itself already drifted — the
    // SUMMED time vs the pinned anchor is the stop
    val dir = Files.createTempDirectory("graft-bench-spec")
    val anchor = ((1 to 10).map(i => s"s$i" -> 0.1) ++
      (11 to 20).map(i => s"h$i" -> 2.0)).toMap
    writeRun(dir, "bench_anchor.json", anchor, "/sf0.1")
    val fresh = anchor.map { case (k, v) =>
      k -> (if (k.startsWith("h")) v * 1.45 else v)
    }
    // baseline == fresh so the rolling gates are all clean; anchor median
    // 1.225 and p90 1.45 both pass — only the total (1.43x) trips
    writeRun(dir, "bench_full.json", fresh, "/sf0.1")
    assert(isPark(decide(dir, fresh, "/sf0.1"), "anchor_total"))
    // trim the heavy creep to 1.3x -> total 1.29x: clean again
    val ok = anchor.map { case (k, v) =>
      k -> (if (k.startsWith("h")) v * 1.3 else v)
    }
    writeRun(dir, "bench_full.json", ok, "/sf0.1")
    assert(decide(dir, ok, "/sf0.1") == Bench.Stage)
  }

  test("anchor stops the ratchet: three 1.28x steps, the fourth is refused") {
    // each step alone is under the 1.3 rolling bound; compounding
    // 1.28^3 = 2.1x would sail through a baseline-only guard. The pinned
    // anchor refuses any refresh beyond 1.5x from the BEST run regardless
    // of the rolling comparison.
    val dir = Files.createTempDirectory("graft-bench-spec")
    var cur = baseline()
    writeRun(dir, "bench_full.json", cur, "/sf0.1")
    writeRun(dir, "bench_anchor.json", cur, "/sf0.1")
    var refusedAt = -1
    for (step <- 1 to 4 if refusedAt < 0) {
      val fresh = cur.view.mapValues(_ * 1.28).toMap
      decide(dir, fresh, "/sf0.1") match {
        case Bench.Park(r) =>
          assert(r.startsWith("anchor_drift"), s"step $step parked on $r")
          refusedAt = step
        case _ =>
          // simulate the two-window promotion completing at this level
          writeRun(dir, "bench_full.json", fresh, "/sf0.1")
          cur = fresh
      }
    }
    // 1.28^1=1.28 ok, 1.28^2=1.64 > 1.5 → the ratchet stops at step 2
    assert(refusedAt == 2, s"anchor should refuse at step 2, got $refusedAt")
  }

  test("run-condition stamp carries nproc, load and timing protocol") {
    val j = Bench.runConditionsJson()
    assert(j.contains("\"nproc\":") && j.contains("\"load_avg\":") &&
      j.contains("\"timing\":\"best_of_2\""))
  }
  test("start-up sweep spares a live JVM's scratch root and young dirs") {
    val tmp = Files.createTempDirectory("bench-sweep")
    val now = System.currentTimeMillis()
    def dir(name: String, ageMs: Long): Path = {
      val d = Files.createDirectories(tmp.resolve(name))
      Files.write(d.resolve("f"), Array[Byte](1))
      Files.setLastModifiedTime(d, java.nio.file.attribute.FileTime.fromMillis(now - ageMs))
      d
    }
    val hour = 60L * 60 * 1000
    val live = dir(s"${Caches.ScratchPrefix}${ProcessHandle.current().pid()}-1", 2 * hour)
    // no process can hold this pid (above every OS pid limit)
    val dead = dir(s"${Caches.ScratchPrefix}${Int.MaxValue}-2", 2 * hour)
    val stale = dir("graft-stale", 2 * hour)
    val young = dir("graft-young", 0L)
    val foreign = dir("other-old", 2 * hour)
    Bench.sweepStaleTemp(tmp, now - hour)
    assert(Files.exists(live.resolve("f")), "a live JVM's scratch root was deleted")
    assert(!Files.exists(dead) && !Files.exists(stale), "stale graft-* dirs survived")
    assert(Files.exists(young) && Files.exists(foreign))
    assert(Caches.scratchRoot.getFileName.toString
      .startsWith(s"${Caches.ScratchPrefix}${ProcessHandle.current().pid()}-"))
    Bench.sweepStaleTemp(tmp, Long.MaxValue) // the live root survives even this
    assert(Files.exists(live))
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
  }
}
