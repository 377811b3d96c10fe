"""Metric arithmetic for the benchmark: raw driver output -> metrics.

Pure functions over the raw JSON the Scala driver writes: each wire
file's due time and the micro-batch that read it (decoded from the query's
checkpoint), the TxTable commit logs, streaming progress and Gold refresh
spans. The benchmark's tests pin this module on synthetic inputs.
"""
import json
import os
import statistics

ENTITIES = ["profiles", "usage", "churn", "support"]


def percentile(samples, p):
    """Nearest-rank percentile of weighted samples [(value, weight)]:
    the smallest value whose cumulative weight reaches p * total."""
    pts = sorted((v, w) for v, w in samples if w > 0)
    if not pts:
        return 0.0
    total = sum(w for _, w in pts)
    need, acc = p * total, 0
    for v, w in pts:
        acc += w
        if acc >= need:
            return float(v)
    return float(pts[-1][0])


def p50(xs):
    return percentile([(x, 1) for x in xs], 0.5)


def commit_times(history, app_id):
    """Micro-batch id -> (version, commit ms) for the appends of `app_id`."""
    out = {}
    for h in sorted(history, key=lambda h: h["version"]):
        if h.get("txn_app") == app_id and h.get("txn_batch") is not None:
            out.setdefault(int(h["txn_batch"]), (int(h["version"]), int(h["commit_ms"])))
    return out


def event_commits(raw):
    """Every (file, entity) with its event count, due time, and silver commit
    (version, ms) — None when its batch never committed."""
    files = {f["name"]: f for f in raw["files"]}
    rows = []
    for e in ENTITIES:
        fb = raw["file_batches"][e]
        commits = commit_times(raw["history"][e], raw["app_ids"][e])
        for name, f in files.items():
            n = f["counts"].get(e, 0)
            if n:
                b = fb.get(name)
                rows.append({"entity": e, "file": name, "n": n, "due_ms": f["due_ms"],
                             "commit": commits.get(b) if b is not None else None})
    return rows


def refresh_end(refreshes, entity, version):
    """End (ms) of the first Gold refresh that read `entity` at >= `version`,
    or None."""
    best = None
    for r in refreshes:
        if r["versions"].get(entity, -1) >= version and (best is None or r["end_ms"] < best):
            best = r["end_ms"]
    return best


def stream_metrics(raw):
    """End-to-end stream metrics: latency and freshness over the steady
    window's events, throughput over the catch-up backlog.

    Freshness counts the Gold leg's refreshes only. An event that none of
    them covered was not fresh within the run: it counts with the time
    from its due time to the end of the steady phase, a lower bound."""
    rows = event_commits(raw)
    phase = {f["name"]: f["phase"] for f in raw["files"]}
    w0, w1 = raw["window_ms"]
    measured = [r for r in rows if phase[r["file"]] == "steady" and w0 <= r["due_ms"] < w1]
    backlog = [r for r in rows if phase[r["file"]] == "catchup"]
    # drain time of each leg, averaged over the four legs
    ends = {}
    for r in backlog:
        if r["commit"]:
            ends[r["entity"]] = max(ends.get(r["entity"], 0), r["commit"][1])
    drain_s = (statistics.mean(ends.values()) - raw["catchup_ms"][0]) / 1000.0 if ends else float("inf")
    lat = [(r["commit"][1] - r["due_ms"], r["n"]) for r in measured if r["commit"]]
    fresh = []
    for r in measured:
        if r["commit"]:
            end = refresh_end(raw["gold"], r["entity"], r["commit"][0])
            fresh.append(((end or raw["steady_ms"][1]) - r["due_ms"], r["n"]))
    offered = sum(r["n"] for r in rows)
    failed = sum(r["n"] for r in rows if not r["commit"])
    return {
        "latency_p50_ms": percentile(lat, 0.5),
        "latency_p90_ms": percentile(lat, 0.9),
        "freshness_p50_ms": percentile(fresh, 0.5),
        "freshness_p90_ms": percentile(fresh, 0.9),
        "throughput_per_s": sum(r["n"] for r in backlog if r["commit"]) / drain_s,
    }, offered, failed, rows


def commit_rate(rows, lo, hi):
    """Events/s committed to silver over the commits in [lo, hi], summed
    over the legs. A leg's rate is the events of its commits after the
    first one over the time from the first to the last, so a micro-batch
    that straddles an edge of the span does not skew it."""
    total = 0.0
    for e in ENTITIES:
        events = {}
        for r in rows:
            if r["entity"] == e and r["commit"] and lo <= r["commit"][1] <= hi:
                events[r["commit"][1]] = events.get(r["commit"][1], 0) + r["n"]
        pts = sorted(events.items())
        if len(pts) >= 2:
            total += sum(n for _, n in pts[1:]) / ((pts[-1][0] - pts[0][0]) / 1000.0)
    return total


def backlog_max(files, rows):
    """Largest number of offered-but-uncommitted events at any instant."""
    pts = [(f["published_ms"], sum(f["counts"].values())) for f in files]
    pts += [(r["commit"][1], -r["n"]) for r in rows if r["commit"]]
    level, peak = 0, 0
    for _, d in sorted(pts):
        level += d
        peak = max(peak, level)
    return peak


def progress_entries(raw):
    out = []
    for e in ENTITIES:
        for s in raw["progress"][e]:
            p = json.loads(s) if isinstance(s, str) else s
            p["_entity"] = e
            out.append(p)
    return out


def _ms(p, k):
    return float(p.get("durationMs", {}).get(k, 0))


def _epoch_ms(iso):
    from datetime import datetime, timezone
    t = datetime.strptime(iso[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def batch_phases(batches):
    """Micro-batch phase times of data-carrying batches."""
    trig = [_ms(p, "triggerExecution") for p in batches]
    over = [_ms(p, "triggerExecution") - _ms(p, "addBatch") for p in batches]
    return {
        "trigger_ms_p50": p50(trig),
        "add_batch_ms_p50": p50([_ms(p, "addBatch") for p in batches]),
        "epoch_overhead_ms_p50": p50(over),
        "epoch_overhead_share": sum(over) / sum(trig) if sum(trig) else 0.0,
        "latest_offset_ms_p50": p50([_ms(p, "latestOffset") for p in batches]),
        "query_planning_ms_p50": p50([_ms(p, "queryPlanning") for p in batches]),
        "wal_commit_ms_p50": p50([_ms(p, "walCommit") for p in batches]),
        "batches": float(len(batches)),
        "rows_per_batch_p50": p50([p["numInputRows"] for p in batches]),
    }


def stream_layers(raw, rows):
    prog = progress_entries(raw)
    data = [p for p in prog if p.get("numInputRows", 0) > 0]

    def within(lo, hi):
        return [p for p in data if lo <= _epoch_ms(p["timestamp"]) < hi]
    steady = within(*raw["window_ms"])
    m = {f"pipelines.{k}": v for k, v in batch_phases(steady).items()}
    m.update({f"pipelines.catchup.{k}": v for k, v in batch_phases(within(*raw["catchup_ms"])).items()})
    steady_files = [f for f in raw["files"] if f["phase"] == "steady"]
    names = {f["name"] for f in steady_files}
    m["pipelines.backlog_max_events"] = float(backlog_max(steady_files, [r for r in rows if r["file"] in names]))
    m["pipelines.gen_late_ms"] = float(max([f["published_ms"] - f["due_ms"] for f in steady_files] or [0]))
    w0, w1 = raw["window_ms"]
    feed_end = max(f["published_ms"] for f in steady_files)
    m["pipelines.steady_events_per_s"] = commit_rate(
        [r for r in rows if r["file"] in names], w0, feed_end)
    m["pipelines.window_events"] = float(sum(r["n"] for r in rows if r["file"] in names and w0 <= r["due_ms"] < w1))
    last, dropped = {}, 0
    for p in prog:
        for op in p.get("stateOperators", []):
            dropped += op.get("numRowsDroppedByWatermark", 0)
        if p.get("stateOperators"):
            last[p["_entity"]] = p["stateOperators"]
    m["state.rows_total"] = float(sum(op.get("numRowsTotal", 0) for ops in last.values() for op in ops))
    m["state.memory_bytes"] = float(sum(op.get("memoryUsedBytes", 0) for ops in last.values() for op in ops))
    m["state.rows_dropped_by_watermark"] = float(dropped)
    appends = [h for e in ENTITIES for h in raw["history"][e] if h.get("txn_app")]
    data_bytes = manifest_bytes = 0
    for e in ENTITIES:
        for root, _, fnames in os.walk(raw["tables"][e]):
            for n in fnames:
                size = os.path.getsize(os.path.join(root, n))
                if os.path.basename(root) == "_txlog":
                    manifest_bytes += size
                elif n.endswith(".parquet"):
                    data_bytes += size
    committed = {r["file"] for r in rows if r["commit"]}
    wire_bytes = sum(f["bytes"] for f in raw["files"] if f["name"] in committed)
    m["txtable.commits"] = float(len(appends))
    m["txtable.files_per_commit"] = statistics.mean([h["n_adds"] for h in appends]) if appends else 0.0
    m["txtable.bytes_per_input_byte"] = data_bytes / wire_bytes if wire_bytes else 0.0
    m["txtable.manifest_bytes"] = manifest_bytes / len(appends) if appends else 0.0
    gold = raw["gold"]
    m["gold.refresh_ms_p50"] = p50([g["end_ms"] - g["start_ms"] for g in gold])
    m["gold.refreshes"] = float(len(gold))
    tr = raw.get("trace") or {}
    unions = tr.get("batch_job_union_ms", {})
    qid = tr.get("query_ids", {})
    gaps = []
    for p in steady:
        u = unions.get(f"{qid.get(p['_entity'])}/{p['batchId']}")
        if u is not None:
            gaps.append(_ms(p, "triggerExecution") - u)
    m["driver.gap_ms_p50"] = p50(gaps)
    # the trace is taken before the output checks run, so every bucket is
    # the workload's own work. Catalyst events carry no job properties, so
    # they cannot be told apart by bucket: catalyst.* and scan.* sum all.
    buckets = tr.get("buckets", {})
    m.update(spark_layers("", buckets.get("stream", {}), max(1, len(data))))
    plans = {k: sum(b.get(k, 0) for b in buckets.values()) for k in
             ("analysis_ms", "optimization_ms", "planning_ms", "files_read", "bytes_read", "plans")}
    m.update(catalyst_layers("", plans, max(1, plans["plans"])))
    return m


SPARK_KEYS = ["jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
              "deserialize_ms", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
              "input_bytes"]


def spark_layers(prefix, bucket, per):
    """Spark job/stage/task totals per unit of work (micro-batch or query)."""
    return {f"{prefix}spark.{k}": float(bucket.get(k, 0)) / per for k in SPARK_KEYS}


def catalyst_layers(prefix, bucket, per):
    return {
        f"{prefix}catalyst.analysis_ms": float(bucket.get("analysis_ms", 0)) / per,
        f"{prefix}catalyst.optimization_ms": float(bucket.get("optimization_ms", 0)) / per,
        f"{prefix}catalyst.planning_ms": float(bucket.get("planning_ms", 0)) / per,
        f"{prefix}scan.files_read": float(bucket.get("files_read", 0)) / per,
        f"{prefix}scan.bytes_read": float(bucket.get("bytes_read", 0)) / per,
    }


def mix_metrics(raw):
    """Query-mix metrics from the fastest of the window's passes.

    A query's latency is its fastest execution in the window, and a
    latency percentile is taken over the queries (each weighs the same);
    freshness is the same over the Gold recomputes; throughput is queries
    per second of the fastest complete pass. Best-of-passes, because one
    thread's speed on the benchmark host varies by a quarter from second
    to second, and a window of a few passes cannot average that out."""
    ok = [x for x in raw["execs"] if x["ok"]]
    best = {}
    for x in ok:
        best[x["query"]] = min(best.get(x["query"], x["ms"]), x["ms"])
    gold = {x["query"] for x in ok if x["gold"]}
    passes = {}
    for x in raw["execs"]:
        passes.setdefault(x["pass"], []).append(x)
    whole = [sum(x["ms"] for x in p) for p in passes.values()
             if all(x["ok"] for x in p) and len(p) == len(raw["families"])]
    return {
        "latency_p50_ms": percentile([(m, 1) for m in best.values()], 0.5),
        "latency_p90_ms": percentile([(m, 1) for m in best.values()], 0.9),
        "freshness_p50_ms": percentile([(m, 1) for q, m in best.items() if q in gold], 0.5),
        "freshness_p90_ms": percentile([(m, 1) for q, m in best.items() if q in gold], 0.9),
        "throughput_per_s": len(raw["families"]) / (min(whole) / 1000.0) if whole else 0.0,
    }, len(raw["execs"]), len(raw["execs"]) - len(ok)


def mix_layers(raw):
    m = {}
    buckets = (raw.get("trace") or {}).get("buckets", {})
    ok = [x for x in raw["execs"] if x["ok"]]
    for fam in ("churn", "txtable"):
        xs = [x for x in ok if x["family"] == fam]
        n = max(1, len(xs))
        pre = f"query_mix.{fam}."
        m[pre + "entry.build_ms_p50"] = p50([x["build_ms"] for x in xs])
        m[pre + "entry.stage_s"] = float(sum(s for q, s in raw["stage_s"].items()
                                             if raw["families"][q] == fam))
        m[pre + "query_ms_p50"] = p50([x["ms"] for x in xs])
        m[pre + "driver.gap_ms_p50"] = p50([x["ms"] - x["job_union_ms"] for x in xs
                                           if x.get("job_union_ms") is not None])
        b = buckets.get(fam, {})
        m.update(spark_layers(pre, b, n))
        m.update(catalyst_layers(pre, b, n))
    return m
