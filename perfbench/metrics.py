"""Reduces a workload run's raw record (result.json written by the JVM,
spans.jsonl when traced) to the benchmark's metrics. Pure functions, so
the bookkeeping rules are unit-tested in test_metrics.py."""
import math
import statistics

# Percentiles a `_tail` metric may take; it takes the highest one that
# leaves at least TAIL_BEYOND samples beyond it.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10

END_TO_END = (
    ("setup_s", "s"),
    ("rss_peak_mb", "MB"),
    ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"),
    ("throughput_per_s", "1/s"),
)

LAYER_UNITS = {
    "_ms": "ms", "_s": "s", "_us": "us", "_bytes": "bytes", "_mb": "MB",
    "_ratio": "ratio", "_rate": "ratio", "_share": "ratio", "_pct": "%",
    "_per_event": "bytes", "_util": "ratio",
}

REGISTRY_QUERIES = (
    "ingest_pipeline", "session_export", "session_counts", "ev_by_src", "ev_by_src_dest",
    "ev_sessions", "ev_by_second", "ev_dests_by_second", "ev_by_cluster", "get_top_users",
    "get_top_dests", "get_top_sources", "get_top_src_dests", "get_events_by_cluster",
    "ev_retention_count", "kmeans_assign", "kmeans_cluster_sizes", "kmeans_train_centers",
    "sparse_cosine_topk", "dedup_ngram_jaccard", "word_freq_topk", "percentiles_exact",
    "mad_outliers", "contamination_ngram_rate", "ann_pq", "doc_repetition",
)

LAYERS = ("streaming", "sources", "server", "operators", "ml", "scheduler")
ROOTS = ("streaming.batch", "server.call", "server.refresh", "sources.retention",
         "sources.land", "operators.query", "ml.train")

PER_LAYER = (
    "streaming.batch_ms", "streaming.plan_ms", "streaming.source_ms", "streaming.wal_ms",
    "streaming.state_commit_ms", "streaming.state_rows", "streaming.state_mem_bytes",
    "streaming.map_task_s", "streaming.gate_task_s", "streaming.shuffle_bytes_per_event",
    "streaming.backlog_rows", "streaming.gate_pass_ratio",
    "streaming.ingest_lag_p50_ms", "streaming.ingest_lag_tail_ms", "streaming.keepup_ratio",
    "views.batch_ms", "views.state_rows",
    "sources.export_write_ms", "sources.events_write_ms", "sources.retention_ms",
    "sources.dropped_dirs", "sources.store_files", "sources.feeder_late_ms",
    "server.refresh_p50_s", "server.refresh_max_s", "server.refreshes",
    "server.retained_rows", "server.refresh_task_s", "server.proc_p50_us",
    "server.proc_p95_us", "server.http_ms", "server.cache_hit_rate", "server.shed",
    "server.dash_p50_ms", "server.dash_tail_ms", "server.fresh_p50_s", "server.fresh_tail_s",
    "ml.train_s",
    "operators.cons_s", "operators.exec_s", "operators.jobs", "operators.stages",
    "operators.tasks", "operators.shuffle_bytes", "operators.spill_bytes",
    "operators.task_skew",
) + tuple(f"operators.{q}_s" for q in REGISTRY_QUERIES) + (
    "spark.task_s", "spark.gc_s", "proc.cpu_s", "proc.cpu_util",
    "box.steal_pct", "box.loadavg_1m",
) + tuple(f"self.{layer}_s" for layer in LAYERS) + (
    "trace.unaccounted_share", "trace.spans",
)

COUNT_NAMES = ("_rows", "_dirs", "_files", ".refreshes", ".shed", ".jobs", ".stages",
               ".tasks", ".spans", "_skew")


def layer_unit(name):
    if name.endswith(COUNT_NAMES):
        return "count"
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


# ---- percentiles ---------------------------------------------------------

def rank(p, n):
    """1-based nearest-rank position of percentile `p` among `n` samples."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def tail_percentile(n, ladder=TAIL_LADDER, beyond=TAIL_BEYOND):
    """Highest ladder percentile with at least `beyond` of `n` samples
    above its nearest-rank position; None when even the median has fewer."""
    best = None
    for p in ladder:
        if n - rank(p, n) >= beyond:
            best = p
    return best


def percentile(values, p):
    """Nearest-rank percentile."""
    v = sorted(values)
    if not v:
        return None
    return v[rank(p, len(v)) - 1]


def p50_tail(values):
    """(median, tail value, tail percentile); the tail falls back to the
    median when there are too few samples for any ladder rung."""
    if not values:
        return None, None, None
    p = tail_percentile(len(values)) or 50.0
    return percentile(values, 50.0), percentile(values, p), p


def mean(xs, default=0.0):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else default


# ---- streaming bookkeeping ------------------------------------------------
# progress rows: [batchId, startMs, triggerMs, inputRows, latestOffset,
#   getBatch, queryPlanning, addBatch, walCommit, commitOffsets,
#   stateCommitMs, stateRows, stateMemBytes]

def tranche_times(batches, per, n, at="commit", writes=None):
    """When each of the first `n` tranches (landing order, `per` events
    each) was done by a query: a batch takes whole tranches in landing
    order, so tranche i is in the batch whose cumulative input reaches
    (i+1)*per. `at="commit"` gives the batch's end (its commit);
    `at="write"` the end of its foreachBatch write (`writes` rows are
    [batchId, startMs, endMs]), when its files became visible."""
    write_end = {int(w[0]): w[2] for w in (writes or [])}
    out = [None] * n
    cum = 0.0
    i = 0
    for b in sorted(batches, key=lambda r: r[0]):
        if b[3] <= 0:
            continue
        cum += b[3]
        t = b[1] + b[2] if at == "commit" else write_end.get(int(b[0]))
        while i < n and (i + 1) * per <= cum + 1e-6:
            out[i] = t
            i += 1
    return out


def ingest_lags(tranches, commits, window):
    """Lag of every tranche due in the window: its export commit minus
    its due landing time. `tranches` rows are [t, dueMs, landedMs]."""
    ws, we = window
    lags = []
    for t, due, _ in tranches:
        t = int(t)
        if ws <= due < we and t < len(commits) and commits[t] is not None:
            lags.append(commits[t] - due)
    return lags


def freshness(calls, refreshes, visible, due_of, window, data_calls):
    """Age of the data behind each dashboard answer: the answer's time
    minus the due landing time of the newest tranche that was in the
    events store when the answering serving generation was built.
    The answering generation is the newest refresh that had finished
    before the call was sent; it was built from the store as it stood
    when that refresh started. Before any refresh the generation holds
    the pre-filled history only (newest tranche -1)."""
    ws, we = window
    done_refresh = sorted((r[1], r[0]) for r in refreshes if r[2] > 0)
    out = []
    for c in calls:
        _, idx, due, sent, done = c[0], int(c[1]), c[2], c[3], c[4]
        if not (ws <= due < we) or idx not in data_calls or c[6] <= 0:
            continue
        built = None
        for end, start in done_refresh:
            if end <= sent:
                built = start
            else:
                break
        newest = -1
        if built is not None:
            for i, v in enumerate(visible):
                if v is not None and v <= built:
                    newest = i
        out.append(done - due_of(newest))
    return out


# ---- spans ------------------------------------------------------------------

def union_len(intervals, lo, hi):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Per layer: sum over its spans of duration minus the part of that
    interval its child spans cover. Also the share of root (end-to-end)
    span time that no child span covers."""
    kids = {}
    for s in spans:
        if s.get("parent"):
            kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    by_layer = {layer: 0.0 for layer in LAYERS}
    root_total = root_self = 0.0
    for s in spans:
        dur = max(0.0, s["end_ms"] - s["start_ms"])
        own = dur - union_len(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
        layer = s["name"].split(".")[0]
        if layer in by_layer:
            by_layer[layer] += own
        if s["name"] in ROOTS and not s.get("parent"):
            root_total += dur
            root_self += own
    share = root_self / root_total if root_total > 0 else 0.0
    return {k: v / 1000.0 for k, v in by_layer.items()}, share


# ---- workload reductions ---------------------------------------------------

def in_window(rows, window, col=1):
    ws, we = window
    return [r for r in rows if ws <= r[col] < we]


def _live(raw):
    per = raw["per_tranche"]
    window = raw["window"]
    ws, we = window
    feed_start = raw["feed_start_ms"]

    def due_of(t):
        return feed_start + 1000.0 * t

    tranches = raw["tranches"]
    n = len(tranches)
    commits = tranche_times(raw["export_batches"], per, n)
    visible = tranche_times(raw["store_batches"], per, n, at="write", writes=raw["store_writes"])
    data_calls = {i for i, name in enumerate(raw["call_names"]) if not name.startswith("@")}
    fresh = freshness(raw["calls"], raw["refreshes"], visible, due_of, window, data_calls)
    lags = ingest_lags(tranches, commits, window)
    return fresh, busy_rate(raw["export_batches"], window), {"lags": lags, "fresh": fresh}


def busy_rate(batches, window):
    """Events the hot path committed per second of its own busy time:
    the input rows of the export batches that committed inside the
    window over the sum of their trigger durations. Idle time between
    triggers does not count, so the figure follows the speed of a batch,
    not the offered rate."""
    ws, we = window
    done = [b for b in batches if b[3] > 0 and ws < b[1] + b[2] <= we]
    busy = sum(b[2] for b in done)
    if not done or busy <= 0:
        return None
    return sum(b[3] for b in done) / (busy / 1000.0)


def _registry(raw):
    times = [q[1] + q[2] for q in raw["queries"] if q[3] >= 0]
    return times, len(times) / (sum(times) / 1000.0), {}


REDUCE = {"live_clickstream": _live, "batch_registry": _registry}


def end_to_end(raw):
    lat, rate, extra = REDUCE[raw["workload"]](raw)
    p50, tail, pct = p50_tail(lat)
    values = {
        "setup_s": (raw["first_op_ms"] - raw["jvm_start_ms"]) / 1000.0,
        "rss_peak_mb": raw["rss_peak_kb"] / 1024.0,
        "latency_p50_ms": p50,
        "latency_tail_ms": tail,
        "throughput_per_s": rate,
    }
    return values, {"tail_percentile": pct, "latency_samples": len(lat)}, extra


def check_outputs(raw, expected_counts):
    """Output checks that need the recorded reference (the JVM checks
    the rest itself); returns failure causes."""
    causes = []
    if raw["workload"] == "batch_registry":
        for name, _, _, rows, _, _ in raw["queries"]:
            want = expected_counts.get(name)
            if rows >= 0 and want is not None and rows != want:
                causes.append(f"{name}: {rows} rows, recorded {want}")
            elif want is None:
                causes.append(f"{name}: no recorded row count")
    return causes


def per_layer(raw, spans, extra):
    m = {name: 0.0 for name in PER_LAYER}
    window = raw["window"]
    ws, we = window
    wl = raw["workload"]
    cost = raw.get("task_cost", {})
    total = raw.get("task_total", {})

    def c(key, field):
        return cost.get(key, {}).get(field, 0)

    if wl == "live_clickstream":
        per = raw["per_tranche"]
        batches = raw["export_batches"]
        win = [b for b in in_window(batches, window) if b[3] > 0]
        m["streaming.batch_ms"] = mean(b[2] for b in win)
        m["streaming.plan_ms"] = mean(b[6] for b in win)
        m["streaming.source_ms"] = mean(b[4] + b[5] for b in win)
        m["streaming.wal_ms"] = mean(b[8] + b[9] for b in win)
        m["streaming.state_commit_ms"] = mean(b[10] for b in win)
        if win:
            m["streaming.state_rows"] = win[-1][11]
            m["streaming.state_mem_bytes"] = win[-1][12]
        rows = sum(b[3] for b in batches) or 1.0
        m["streaming.map_task_s"] = c("export", "map_run_ms") / 1000.0 / (rows / 1000.0)
        m["streaming.gate_task_s"] = c("export", "result_run_ms") / 1000.0 / (rows / 1000.0)
        m["streaming.shuffle_bytes_per_event"] = c("export", "shuffle_write_bytes") / rows
        m["streaming.gate_pass_ratio"] = raw["export_rows"] / rows
        lag50, lagt, _ = p50_tail(extra["lags"])
        m["streaming.ingest_lag_p50_ms"] = lag50 or 0.0
        m["streaming.ingest_lag_tail_ms"] = lagt or 0.0
        m["sources.export_write_ms"] = mean(w[2] - w[1] for w in in_window(raw["export_writes"], window))
        m["streaming.backlog_rows"] = mean(max(0.0, b[1]) for b in in_window(raw["backlog"], window, 0))
        offered = sum(per for t in raw["tranches"] if ws <= t[1] < we)
        done = sum(b[3] for b in raw["export_batches"] if ws <= b[1] + b[2] < we)
        m["streaming.keepup_ratio"] = done / offered if offered else 0.0
        views = [b for b in in_window(raw["views_batches"], window) if b[3] > 0]
        m["views.batch_ms"] = mean(b[2] for b in views)
        if views:
            m["views.state_rows"] = views[-1][11]
        m["sources.events_write_ms"] = mean(w[2] - w[1] for w in in_window(raw["store_writes"], window))
        passes = [r for r in raw["retention"] if r[0] < we]
        m["sources.retention_ms"] = mean(r[1] - r[0] for r in passes)
        m["sources.dropped_dirs"] = sum(max(0, r[2]) for r in passes)
        m["sources.store_files"] = raw["store_files"]
        late = [t[2] - t[1] for t in raw["tranches"] if ws <= t[1] < we]
        m["sources.feeder_late_ms"] = max(late) if late else 0.0
        refr = [r for r in raw["refreshes"] if ws <= r[0] < we and r[2] > 0]
        rs = [(r[1] - r[0]) / 1000.0 for r in refr]
        m["server.refresh_p50_s"] = statistics.median(rs) if rs else 0.0
        m["server.refresh_max_s"] = max(rs) if rs else 0.0
        m["server.refreshes"] = len(rs)
        m["server.retained_rows"] = raw["retained_rows"]
        m["server.refresh_task_s"] = c("refresh", "run_ms") / 1000.0 / max(1, len(raw["refreshes"]))
        prof = [p for p in raw["proc_profile"] if not p[0].startswith("@")]
        if prof:
            m["server.proc_p50_us"] = statistics.median(p[2] for p in prof)
            m["server.proc_p95_us"] = statistics.median(p[3] for p in prof)
        calls = [x for x in raw["calls"] if ws <= x[2] < we]
        data_idx = {i for i, n in enumerate(raw["call_names"]) if not n.startswith("@")}
        client = [x[4] - x[3] for x in calls if int(x[1]) in data_idx]
        if client:
            m["server.http_ms"] = statistics.median(client) - m["server.proc_p50_us"] / 1000.0
        (h0, m0), (h1, m1) = raw["cache_hits_misses"]
        looks = (h1 - h0) + (m1 - m0)
        m["server.cache_hit_rate"] = (h1 - h0) / looks if looks else 0.0
        m["server.shed"] = sum(1 for x in calls if x[5] == 503)
        d50, dt, _ = p50_tail([x[4] - x[2] for x in calls])
        m["server.dash_p50_ms"], m["server.dash_tail_ms"] = d50 or 0.0, dt or 0.0
        f50, ft, _ = p50_tail(extra["fresh"])
        m["server.fresh_p50_s"] = (f50 or 0.0) / 1000.0
        m["server.fresh_tail_s"] = (ft or 0.0) / 1000.0

    if wl == "batch_registry":
        qs = raw["queries"]
        m["operators.cons_s"] = sum(q[1] for q in qs) / 1000.0
        m["operators.exec_s"] = sum(q[2] for q in qs) / 1000.0
        for q in qs:
            m[f"operators.{q[0]}_s"] = (q[1] + q[2]) / 1000.0
            if q[0] == "kmeans_train_centers":
                m["ml.train_s"] = (q[1] + q[2]) / 1000.0
        names = {q[0] for q in qs}
        for field, key in (("jobs", "operators.jobs"), ("stages", "operators.stages"),
                           ("tasks", "operators.tasks"),
                           ("shuffle_write_bytes", "operators.shuffle_bytes"),
                           ("spill_bytes", "operators.spill_bytes")):
            m[key] = sum(c(n, field) for n in names)
        skews = [cost[n]["task_skew"] for n in names if n in cost]
        m["operators.task_skew"] = statistics.median(skews) if skews else 0.0

    m["spark.task_s"] = total.get("run_ms", 0) / 1000.0
    m["spark.gc_s"] = total.get("gc_ms", 0) / 1000.0
    m["proc.cpu_s"] = raw["window_cpu_s"]
    m["proc.cpu_util"] = raw["window_cpu_s"] / ((we - ws) / 1000.0 * raw["nproc"])
    m["box.steal_pct"] = raw["steal_pct"]
    m["box.loadavg_1m"] = max(raw["loadavg_1m"])

    traced = [s for s in spans if s["start_ms"] >= ws and s["start_ms"] < we]
    selfs, share = self_times(traced)
    for layer, v in selfs.items():
        m[f"self.{layer}_s"] = v
    m["trace.unaccounted_share"] = share
    m["trace.spans"] = len(traced)
    return m
