"""Turns the JVM's raw samples into the benchmark's metrics.

Everything here is pure: it reads the raw result dict written by
perfbench.Main and returns numbers, so the arithmetic is unit-tested
without Spark (tests/test_stats.py).
"""
import math
import statistics

# Minimum number of samples that must lie beyond a reported tail percentile.
MIN_BEYOND = 10

# Query groups (name prefixes) of the query_sweep subset.
QUERY_GROUPS = ("q", "jql", "pipe", "mm", "graph", "cdc")

# The five incremental-index cards whose stages the pipeline layer counts.
PIPELINE_CARDS = ("pipe_dedup_incremental", "pipe_bm25_incremental",
                  "pipe_ann_incremental", "pipe_spans_incremental",
                  "mm_phash_incremental")

ENGINE_PHASES = ("planning", "filtering", "writing", "committing", "state")
SYNC_KINDS = ("full", "incr", "noop")
STREAM_PARTS = ("addBatch", "getBatch", "queryPlanning", "walCommit",
                "triggerExecution")
SELF_LAYERS = ("driver", "engine", "stream", "queries", "catalyst", "spark")


def nearest_rank(values, p):
    """The p-th percentile by nearest rank: the ceil(p/100 * n)-th smallest."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n, candidates=(99, 95, 90, 80, 75, 50)):
    """The highest candidate percentile with at least MIN_BEYOND samples
    beyond it, or None when even the median has fewer."""
    for p in candidates:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def iqm(values):
    """The interquartile mean: the mean of the samples left after dropping
    the lowest and the highest quarter (floor(n/4) each). Steadier than one
    order statistic when a run holds few samples, as every run here does."""
    if not values:
        return 0.0
    xs = sorted(values)
    k = len(xs) // 4
    mid = xs[k:len(xs) - k]
    return sum(mid) / len(mid)


def geomean(values):
    """The geometric mean; 0 when every op failed. A sample slowed by some
    share moves it by the same amount whatever the sample's size, so a
    regression in the fastest of many different ops shows as much as one in
    the slowest."""
    if not values:
        return 0.0
    return math.exp(sum(math.log(max(v, 1e-3)) for v in values) / len(values))


def median(values):
    """The median; 0 when every op failed (the run then reads correct:
    false)."""
    return statistics.median(values) if values else 0.0


def fail_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must lie in [0, attempted]")
    return failed / attempted


def failed_checks(checks):
    """The checks whose observed value differs from the expected one."""
    return [c for c in checks if c["observed"] != c["expected"]]


def open_loop_latencies(slices, batches):
    """Slice id -> ms from the slice's due time to the end of the
    micro-batch that committed it; slices no batch took are left out.

    Timing from the due time, not the release, charges a late generator and
    the queue wait to the engine's latency, as an open loop must.
    """
    end = {b["id"]: b["end_ms"] for b in batches}
    return {s["id"]: end[s["batch"]] - s["due_ms"]
            for s in slices if s["batch"] in end}


def backlog_max(slices, batches):
    """Most slices released but not yet committed, seen at any release."""
    end = {b["id"]: b["end_ms"] for b in batches}
    done = [end.get(s["batch"], math.inf) for s in slices]
    worst = 0
    for s in slices:
        t = s["released_ms"]
        worst = max(worst, sum(1 for o, d in zip(slices, done)
                               if o["released_ms"] <= t < d))
    return worst


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover.

    Children may overlap each other (jobs forked in parallel), so the
    covered part is the union of their intervals clipped to the parent.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["startMs"], s["endMs"]
        ivs = sorted((max(lo, c["startMs"]), min(hi, c["endMs"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_of(name):
    """The layer a span belongs to, by its name."""
    if name.startswith("engine."):
        return "engine"
    if name.startswith("stream."):
        return "stream"
    if name.startswith("query"):
        return "queries"
    if name.startswith("catalyst."):
        return "catalyst"
    if name.startswith("spark."):
        return "spark"
    return "driver"


def layer_self_seconds(spans):
    st = self_times(spans)
    out = {layer: 0.0 for layer in SELF_LAYERS}
    for s in spans:
        out[layer_of(s["name"])] += st[s["id"]] / 1000.0
    return out


def query_group(name):
    g = name.split("_", 1)[0]
    return "q" if g[1:].isdigit() else g


def _p(values, p):
    """Nearest-rank percentile; 0 when every op failed (the run then reads
    correct: false)."""
    return nearest_rank(values, p) if values else 0.0


# ---------------------------------------------------------------- outcome

def outcome(raw, expected_counts=None):
    """(attempted, bad, failures): how many ops the workload attempted, the
    indices of those that raised or whose output check failed, and why.

    Ops are sync cycles, cdc_stream slices and query_sweep queries. A failed
    op is never timed: the latency figures leave it out.
    """
    w = raw["workload"]
    bad, failures = set(), []
    if w == "sync":
        ops = raw["ops"]
        for i, o in enumerate(ops):
            if o["error"]:
                bad.add(i)
                failures.append("op %d %s: %s" % (i, o["kind"], o["error"]))
        for c in failed_checks(raw["checks"]):
            bad.add(c["op"])
            failures.append("op %d %s: expected %s, got %s" % (
                c["op"], c["name"], c["expected"], c["observed"]))
        return len(ops), bad, failures
    if w == "cdc_stream":
        slices = raw["slices"]
        bad = {s["id"] for s in slices if s["batch"] < 0}
        if bad:
            failures.append("%d slices never committed" % len(bad))
        wrong = ["%s: expected %s, got %s" % (c["name"], c["expected"], c["observed"])
                 for c in failed_checks(raw["checks"])]
        if raw.get("error"):
            wrong.append("query error: " + raw["error"])
        if wrong:
            # a wrong final state or row count taints every slice
            bad = {s["id"] for s in slices}
        return len(slices), bad, failures + wrong
    if w == "query_sweep":
        ops = raw["ops"]
        for i, o in enumerate(ops):
            want = (expected_counts or {}).get(o["name"])
            if o["error"]:
                failures.append("%s: %s" % (o["name"], o["error"]))
            elif want is None:
                failures.append("%s: no expected count" % o["name"])
            elif o["rows"] != want:
                failures.append("%s: expected %d rows, got %d" % (
                    o["name"], want, o["rows"]))
            else:
                continue
            bad.add(i)
        return len(ops), bad, failures
    raise ValueError("unknown workload " + w)


# ---------------------------------------------------------- end to end

def end_to_end(raw, expected_counts=None):
    """(metrics, named, samples, (attempted, failed)): the end-to-end metrics
    as name -> (value, unit), the workload's own named figures, the sample
    counts behind the percentiles, and the op tally."""
    w = raw["workload"]
    setup = raw["setup"]
    setup_s = setup["session_s"] + setup["gen_s"] + setup["warmup_s"]
    attempted, bad, _ = outcome(raw, expected_counts)
    if w == "sync":
        ok = [o for i, o in enumerate(raw["ops"]) if i not in bad]
        full = [o for o in ok if o["kind"] == "full"]
        lat = [o["ms"] for o in ok if o["kind"] == "incr"]
        noop = [o["ms"] for o in ok if o["kind"] == "noop"]
        items = median([o["written"] / max(1e-9, o["ms"] / 1000.0) for o in full])
        latency, secondary = iqm(lat), iqm(noop)
        named = {"sync_issues_per_s": items, "incr_sync_ms_p50": _p(lat, 50),
                 "noop_scan_ms_p50": _p(noop, 50)}
    elif w == "cdc_stream":
        lat = [v for k, v in open_loop_latencies(raw["slices"], raw["batches"]).items()
               if k not in bad]
        trig = [b["duration_ms"].get("triggerExecution", 0) for b in raw["batches"]]
        items = sum(b["rows"] for b in raw["batches"]) / max(1e-9, sum(trig) / 1000.0)
        latency, secondary = iqm(lat), iqm(trig)
        named = {"cdc_latency_ms_p50": _p(lat, 50), "cdc_latency_ms_p90": _p(lat, 90)}
    elif w == "query_sweep":
        ok = [o for i, o in enumerate(raw["ops"]) if i not in bad]
        lat = [o["ms"] for o in ok]
        sweep_s = median(raw["passes_ms"]) / 1000.0
        items = len(ok) / len(raw["passes_ms"]) / sweep_s
        # the ops are different queries, not repeats of one: every query
        # must move the latency, so no quarter of them is trimmed away
        latency = geomean(lat)
        secondary = sum(o["build_ms"] for o in ok) / max(1, len(ok))
        named = {"sweep_s": sweep_s, "query_ms_p50": _p(lat, 50),
                 "query_ms_p90": _p(lat, 90), "query_ms_geomean": latency,
                 "query_build_ms_mean": secondary}
    else:
        raise ValueError("unknown workload " + w)
    fr = fail_ratio(attempted, len(bad))
    named.update({"setup_s": setup_s, "fail_ratio": fr,
                  "peak_heap_mb": raw["live_heap_mb"]})
    metrics = {
        "setup_s": (setup_s, "s"),
        "items_per_s": (items, "1/s"),
        "latency_ms": (latency, "ms"),
        "secondary_ms": (secondary, "ms"),
        "ok_ratio": (1.0 - fr, "ratio"),
    }
    samples = {"latency": len(lat), "beyond_p90": beyond(len(lat), 90) if lat else 0,
               "tail_percentile": tail_percentile(len(lat))}
    return metrics, named, samples, (attempted, len(bad))


# ------------------------------------------------------------ per layer

def per_layer_names():
    names = []
    for ph in ENGINE_PHASES:
        for k in SYNC_KINDS:
            names.append("engine.%s_ms.%s" % (ph, k))
    names += ["sink.files_written", "sink.repo_mb_per_1k_issues",
              "sink.write_ok_ratio", "state.rows", "state.mb",
              "state.deltas_max", "state.changed_over_scanned"]
    names += ["stream.%s_ms" % p for p in STREAM_PARTS]
    names += ["stream.rows_per_batch", "stream.batches",
              "stream.backlog_slices_max", "stream.generator_late_ms_max",
              "stream.latency_ms_p50", "stream.latency_ms_p90",
              "stream.items_per_s", "stream.files_written", "stream.state_mb",
              "stream.changed_over_scanned",
              "stream.local1.latency_ms_p50", "stream.local1.items_per_s"]
    names += ["queries.build_s", "queries.exec_s", "queries.build_jobs"]
    for g in QUERY_GROUPS:
        names += ["queries.build_s.%s" % g, "queries.exec_s.%s" % g]
    names += ["tables.schema_jobs", "caches.fragment_hits",
              "caches.fragment_builds", "caches.fragment_evictions",
              "catalyst.analysis_ms", "catalyst.optimization_ms",
              "catalyst.planning_ms", "pipeline.incremental_stages",
              "pipeline.incremental_s"]
    names += ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_busy_s",
              "spark.core_busy_ratio", "spark.shuffle_read_mb",
              "spark.shuffle_write_mb", "spark.spill_mb", "spark.stage_skew_max",
              "jvm.gc_s", "jvm.live_heap_mb"]
    names += ["self_s.%s" % layer for layer in SELF_LAYERS]
    names += ["trace.overhead_pct", "trace.untraced_runs"]
    return names


def unit_of(name):
    if name.endswith("items_per_s"):
        return "1/s"
    if name.endswith("mb_per_1k_issues"):
        return "MB/1k"
    if name.endswith("_pct"):
        return "%"
    if "_ms" in name:
        return "ms"
    if name.endswith("_s") or name.startswith(("self_s.", "queries.build_s.",
                                               "queries.exec_s.")):
        return "s"
    if name.endswith("_mb") or name == "state.mb":
        return "MB"
    if "ratio" in name or "_over_" in name or "skew" in name:
        return "ratio"
    return "count"


def _stream(m, cdc, prefix="stream."):
    """The cdc_stream pass's figures, from its raw result."""
    bs = cdc["batches"]
    for p in STREAM_PARTS:
        m["%s%s_ms" % (prefix, p)] = _p([b["duration_ms"].get(p, 0) for b in bs], 50)
    m[prefix + "rows_per_batch"] = _p([b["rows"] for b in bs], 50)
    m[prefix + "batches"] = len(bs)
    m[prefix + "backlog_slices_max"] = backlog_max(cdc["slices"], bs)
    m[prefix + "generator_late_ms_max"] = max(
        s["released_ms"] - s["due_ms"] for s in cdc["slices"])
    e2e, named, _, _ = end_to_end(cdc)
    m[prefix + "latency_ms_p50"] = named["cdc_latency_ms_p50"]
    m[prefix + "latency_ms_p90"] = named["cdc_latency_ms_p90"]
    m[prefix + "items_per_s"] = e2e["items_per_s"][0]
    m[prefix + "files_written"] = cdc["sink"]["files_written"]
    m[prefix + "state_mb"] = cdc["state"]["mb"]
    m[prefix + "changed_over_scanned"] = (
        cdc["state"]["changed"] / max(1, cdc["state"]["scanned"]))


def per_layer(raw, cdc=None, local1=None, untraced=(), expected_counts=None):
    """Every per-layer metric of a traced run; layers the workload does not
    reach read 0.

    `cdc` is the traced cdc_stream pass (run with sync's traced run) and
    `local1` its single-core baseline (run with query_sweep's); `untraced`
    holds this source state's untraced end-to-end results of the same
    workload, against which the tracing overhead is measured, and
    `expected_counts` the query row counts that decide which traced ops
    count as correct.
    """
    w = raw["workload"]
    L = raw["layers"]
    m = {n: 0.0 for n in per_layer_names()}
    if w == "sync":
        ops = [o for o in raw["ops"] if not o["error"]]
        for k in SYNC_KINDS:
            for ph in ENGINE_PHASES:
                xs = [o["phases"].get(ph, 0.0) for o in ops if o["kind"] == k]
                if xs:
                    m["engine.%s_ms.%s" % (ph, k)] = median(xs)
        written = sum(o["written"] for o in ops)
        attempted = written + sum(o["write_failed"] for o in ops)
        m["sink.files_written"] = written
        m["sink.write_ok_ratio"] = written / attempted if attempted else 1.0
        m["sink.repo_mb_per_1k_issues"] = (
            raw["sink"]["repo_mb"] / (raw["sink"]["repo_issues"] / 1000.0))
        incr = [o for o in ops if o["kind"] != "full"]
        scanned = sum(o["scanned"] for o in incr)
        m["state.changed_over_scanned"] = (
            sum(o["written"] for o in incr) / scanned if scanned else 0.0)
        m["state.rows"] = raw["state"]["rows"]
        m["state.mb"] = raw["state"]["mb"]
    elif w == "query_sweep":
        ops = raw["ops"]
        m["queries.build_s"] = sum(o["build_ms"] for o in ops) / 1000.0
        m["queries.exec_s"] = sum(o["exec_ms"] for o in ops) / 1000.0
        for o in ops:
            g = query_group(o["name"])
            m["queries.build_s.%s" % g] += o["build_ms"] / 1000.0
            m["queries.exec_s.%s" % g] += o["exec_ms"] / 1000.0
        cards = [o for o in ops if o["name"] in PIPELINE_CARDS]
        m["pipeline.incremental_s"] = sum(o["ms"] for o in cards) / 1000.0
        m["pipeline.incremental_stages"] = sum(
            L["stages_by_group"].get(c, 0) for c in PIPELINE_CARDS)
    if cdc is not None:
        _stream(m, cdc)
        # the delta log only exists on the streaming path
        m["state.deltas_max"] = cdc["state"]["deltas_max"]
    if local1 is not None:
        e2e, named, _, _ = end_to_end(local1)
        m["stream.local1.latency_ms_p50"] = named["cdc_latency_ms_p50"]
        m["stream.local1.items_per_s"] = e2e["items_per_s"][0]
    for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.task_busy_s",
              "spark.core_busy_ratio", "spark.shuffle_read_mb",
              "spark.shuffle_write_mb", "spark.spill_mb", "spark.stage_skew_max",
              "tables.schema_jobs", "queries.build_jobs",
              "caches.fragment_hits", "caches.fragment_builds",
              "caches.fragment_evictions", "catalyst.analysis_ms",
              "catalyst.optimization_ms", "catalyst.planning_ms"):
        m[k] = L[k]
    m["jvm.gc_s"] = raw["gc_s"]
    m["jvm.live_heap_mb"] = raw["live_heap_mb"]
    # self time over every span of the traced run, the cdc pass included
    for r in (raw, cdc):
        if r is not None:
            for layer, s in layer_self_seconds(r["spans"]).items():
                m["self_s." + layer] += s
    base = [u["latency_ms"] for u in untraced]
    if base:
        t, _, _, _ = end_to_end(raw, expected_counts)
        m["trace.overhead_pct"] = 100.0 * (t["latency_ms"][0] / median(base) - 1.0)
        m["trace.untraced_runs"] = len(base)
    return m
