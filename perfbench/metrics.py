"""Turns the harness's raw record into the benchmark's metrics.

Pure functions over plain data, so `test_metrics.py` can check them on
synthetic inputs: the percentile rule, the join from input file to the
trigger that committed it, span self time, and the per-workload summaries.
"""
import glob
import json
import math
import os
import statistics
from datetime import datetime, timezone

JOBS = ("j1", "j2", "j3", "j4")
JOB_DIRS = {"j1": "register", "j2": "qz", "j3": "page", "j4": "raw"}
LAYERS = ("Engine", "Artifacts", "sources", "streaming", "KeyedUpsertSink",
          "RegisterStream", "RawArchive", "analytics", "operators")
BATCH_QUERIES = (
    "q1_platform_agg", "q2_sliding_window", "q3_cumulative_daily",
    "q4_qz_mastery", "q5_props_extract", "q6_day_buckets",
    "q15_page_conversion", "x84_ann_ivfpq", "x97_ann_delta", "x92_lm_score",
    "x94_ppl_buckets", "x101_jaccard_delta")
# execution order of a micro-batch's phases (MicroBatchExecution): these
# run from the trigger's start ...
LEADING_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning")
# ... and these end it; time no part reports falls between the two groups
TRAILING_PARTS = ("addBatch", "commitOffsets")
PART_LAYER = {"latestOffset": "sources", "getBatch": "sources",
              "walCommit": "streaming", "queryPlanning": "streaming",
              "commitOffsets": "streaming"}
# the layer doing each job's addBatch work
ADD_BATCH_LAYER = {"j1": "RegisterStream", "j2": "streaming",
                   "j3": "streaming", "j4": "RawArchive"}
MIN_BEYOND = 10

# Every workload reports each of these. Latency percentiles stay in the
# record: on this benchmark's throughput-bound workloads they repeat less
# well than the completion time they track.
END_TO_END = (("completion_s", "s"), ("work_cpu_s", "s"), ("setup_s", "s"),
              ("peak_rss_mb", "MB"))


# ---- statistics -------------------------------------------------------------

def percentile(values, p):
    """Linear-interpolated percentile of `values` (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    if xs[lo] == xs[hi]:  # also keeps inf samples from producing nan
        return xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def highest_supported(n, min_beyond=MIN_BEYOND):
    """The highest whole percentile with at least `min_beyond` of `n`
    samples above it, or None when there are too few samples."""
    if n < 2 * min_beyond:
        return None
    return math.floor(100.0 * (1.0 - min_beyond / n))


def tail(values, wanted):
    """(value, percentile used): `wanted`, lowered to the highest
    percentile the sample count supports."""
    sup = highest_supported(len(values))
    if sup is None:
        return percentile(values, 50), 50
    p = min(wanted, sup)
    return percentile(values, p), p


# ---- streaming: input file -> committing trigger ----------------------------

def parse_ts(ts):
    """StreamingQueryProgress timestamp -> epoch ms."""
    d = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return d.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def source_log_batches(lines_by_file):
    """File name -> id of the batch that read it, from the entries of a
    file source's metadata log (one JSON object per line after the
    version line; compacted files repeat earlier entries)."""
    out = {}
    for lines in lines_by_file:
        for ln in lines:
            ln = ln.strip()
            if not ln.startswith("{"):
                continue
            e = json.loads(ln)
            name = e["path"].rsplit("/", 1)[-1]
            out[name] = min(out.get(name, e["batchId"]), e["batchId"])
    return out


def read_source_log(checkpoint):
    files = []
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        base = os.path.basename(p)
        if base.startswith(".") or base.endswith(".crc") or ".tmp" in base:
            continue
        with open(p) as f:
            files.append(f.read().splitlines())
    return source_log_batches(files)


def commit_times(progress, query_id):
    """Batch id -> epoch ms at which the trigger that ran it ended. Only
    triggers that ran a batch count: an idle trigger reports the id of the
    batch it would run next."""
    out = {}
    for p in progress:
        if p["id"] == query_id and "addBatch" in p["durationMs"]:
            out[p["batchId"]] = (parse_ts(p["timestamp"])
                                 + p["durationMs"]["triggerExecution"])
    return out


def record_latencies(files, batch_of, commit_ms, origin_ms=None):
    """Per-record latency (ms) for one job's generated files: from the
    file's due time (or `origin_ms`) to the end of the trigger that
    committed it. A record never committed is infinitely late.
    Returns (latencies, uncommitted record count)."""
    lat, missing = [], 0
    for f in files:
        b = batch_of.get(f["name"])
        end = commit_ms.get(b) if b is not None else None
        start = f["due_ms"] if origin_ms is None else origin_ms
        value = (end - start) if end is not None else math.inf
        if end is None:
            missing += f["lines"]
        lat.extend([value] * f["lines"])
    return lat, missing


def backlog_rows(files, batch_of, commit_ms, t_ms):
    """Records written by `t_ms` that no trigger had committed by then."""
    n = 0
    for f in files:
        if f["due_ms"] > t_ms:
            continue
        b = batch_of.get(f["name"])
        done = commit_ms.get(b) if b is not None else None
        if done is None or done > t_ms:
            n += f["lines"]
    return n


# ---- tracing ------------------------------------------------------------------

def trigger_spans(progress, query_id, job, next_id):
    """Spans for one job's triggers from its progress events: the trigger,
    and its `durationMs` parts as children, the leading ones laid out from
    the trigger's start and the trailing ones back from its end."""
    spans = []
    for p in progress:
        d = p["durationMs"]
        if p["id"] != query_id or "addBatch" not in d:
            continue
        t0 = parse_ts(p["timestamp"])
        t1 = t0 + d["triggerExecution"]
        tid = next_id()
        spans.append({"id": tid, "parent": 0, "name": f"{job}.trigger",
                      "layer": "streaming", "start_ms": t0, "end_ms": t1,
                      "job": job, "batch_id": p["batchId"]})
        placed = []
        for part in LEADING_PARTS:
            if part in d:
                placed.append((part, t0, t0 + d[part]))
                t0 += d[part]
        for part in reversed(TRAILING_PARTS):
            if part in d:
                placed.append((part, t1 - d[part], t1))
                t1 -= d[part]
        for part, start, end in placed:
            layer = (ADD_BATCH_LAYER[job] if part == "addBatch"
                     else PART_LAYER[part])
            spans.append({"id": next_id(), "parent": tid,
                          "name": f"{job}.{part}", "layer": layer,
                          "start_ms": start, "end_ms": end, "job": job,
                          "batch_id": p["batchId"]})
    return spans


def union_ms(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
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
    """Layer -> seconds of span time not covered by child spans."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        covered = union_ms(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + (dur - covered) / 1000.0
    return out


def link_upserts(spans, slack_ms=5.0):
    """Make each traced J2 upsert span a child of the addBatch span of the
    J2 trigger, with the same batch id, that contains it (progress times
    are whole ms)."""
    by_id = {s["id"]: s for s in spans}
    add_batch = {}
    for s in spans:
        if s["name"] == "j2.addBatch":
            add_batch.setdefault(s["batch_id"], []).append(s)
    for s in spans:
        if s["name"] != "KeyedUpsertSink.upsert":
            continue
        for a in add_batch.get(s.get("batch_id"), []):
            trig = by_id[a["parent"]]
            if (trig["start_ms"] - slack_ms <= s["start_ms"]
                    and s["end_ms"] <= trig["end_ms"] + slack_ms):
                s["parent"] = a["id"]


# ---- summaries ----------------------------------------------------------------

def finite(x):
    """A never-committed record has infinite latency; JSON gets a
    sentinel far above any limit instead."""
    return x if math.isfinite(x) else 1e9


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p50(xs):
    return percentile(xs, 50) if xs else 0.0


def since_restart(progress, restart_ms):
    """The triggers run from `restart_ms` on (all when None). A restarted
    query keeps its id, so the set-up's triggers are told apart by time."""
    if restart_ms is None:
        return progress
    return [p for p in progress if parse_ts(p["timestamp"]) >= restart_ms]


def streaming_view(rec, run_dir):
    """Per job: progress events, file->batch map and batch commit times."""
    progress = since_restart([json.loads(p) for p in rec["progress"]],
                             rec.get("restart_ms"))
    jobs = {}
    for j in JOBS:
        qid = rec["query_ids"][j]
        jobs[j] = {
            "qid": qid,
            "progress": [p for p in progress if p["id"] == qid],
            "batch_of": read_source_log(rec["checkpoints"][j]),
            "commit_ms": commit_times(progress, qid),
        }
    with open(os.path.join(run_dir, "gen.json")) as f:
        gen = json.load(f)
    return jobs, gen


def streaming_latencies(jobs, gen, origin_ms):
    lat, missing = [], 0
    for j, job_dir in JOB_DIRS.items():
        files = [f for f in gen if f["job"] == job_dir]
        ls, m = record_latencies(files, jobs[j]["batch_of"],
                                 jobs[j]["commit_ms"], origin_ms)
        lat += ls
        missing += m
    return lat, missing


def summarize(workload, rec, run_dir, traced):
    """Returns (result line, detail record)."""
    fails = dict(rec["failures"])
    attempted = rec["attempted"]
    detail = {"env": rec["env"], "failures": fails, "checks": rec["checks"]}
    e2e = {"setup_s": median(rec["setup_s"]),
           "peak_rss_mb": rec["peak_rss_mb"],
           "work_cpu_s": rec["work_cpu_s"]}
    jobs = gen = None
    if workload in ("live_ref", "catchup_restart"):
        jobs, gen = streaming_view(rec, run_dir)
        origin = rec["restart_ms"] if workload == "catchup_restart" else None
        lat, missing = streaming_latencies(jobs, gen, origin)
        attempted += len(lat)
        if missing:
            fails["records_uncommitted"] = missing
        done = [t for j in JOBS for t in jobs[j]["commit_ms"].values()]
        start = rec.get("restart_ms", rec.get("traffic_start_ms"))
        e2e["completion_s"] = (max(done) - start) / 1000.0
        triggers = [p["durationMs"]["triggerExecution"]
                    for j in JOBS for p in jobs[j]["progress"]
                    if p["numInputRows"] > 0]
        tr90, tr90p = tail(triggers, 90)
        detail["job_latency_p50_ms"] = {
            j: finite(p50(record_latencies(
                [f for f in gen if f["job"] == JOB_DIRS[j]],
                jobs[j]["batch_of"], jobs[j]["commit_ms"], origin)[0]))
            for j in JOBS}
        detail.update({
            "event_latency_tail_ms": tail(lat, 99),
            "event_latency_limit_ms": 6000,
            "event_latency_limit_met": tail(lat, 99)[0] <= 6000,
            "records": len(lat), "trigger_p50_ms": p50(triggers),
            "trigger_tail_ms": [tr90, tr90p], "triggers": len(triggers)})
        reads = [r["ms"] for r in rec.get("reads", [])]
        if reads:
            detail["view_read_p50_ms"] = p50(reads)
            detail["view_read_tail_ms"] = tail(reads, 99)
            detail["view_reads"] = len(reads)
        if workload == "live_ref":  # a backlog is written all at once
            lag = [f["written_ms"] - f["due_ms"] for f in gen]
            detail["generator_lag_ms_p99"] = tail(lag, 99)[0]
        else:
            detail["catchup_s"] = e2e["completion_s"]
    else:
        lat = [(q["build_s"] + q["exec_s"]) * 1000.0 for q in rec["queries"]]
        per_pass = {}
        for q in rec["queries"]:
            per_pass[q["pass"]] = per_pass.get(q["pass"], 0.0) + \
                q["build_s"] + q["exec_s"]
        full = [v for k, v in per_pass.items()
                if sum(1 for q in rec["queries"] if q["pass"] == k)
                == len(BATCH_QUERIES)]
        e2e["completion_s"] = median(full) if full else math.inf
        detail["batch_suite_s"] = e2e["completion_s"]
        detail["warmup_s"] = rec["warmup_s"]
        detail["passes"] = len(per_pass)
    detail["latency_p50_ms"] = p50(lat)
    detail["latency_p90_ms"] = finite(percentile(lat, 90))
    detail["latency_percentiles_ms"] = {
        str(q): finite(percentile(lat, q)) for q in (50, 75, 90, 95, 99)}
    detail["latency_mean_ms"] = finite(statistics.fmean(lat)) if lat else 0.0
    detail["latency_samples"] = len(lat)
    detail["latency_highest_supported_percentile"] = \
        highest_supported(len(lat))
    failed = sum(fails.values())
    detail["error_rate"] = failed / attempted if attempted else 0.0
    detail["error_rate_base"] = attempted
    correct = (fails.get("correctness_mismatch", 0) == 0
               and fails.get("check_threw", 0) == 0
               and fails.get("workload_aborted", 0) == 0
               and fails.get("query_threw", 0) == 0
               and all(c.get("ok") for c in rec["checks"])
               and (len(rec["checks"]) >= 5 or workload == "batch_mix")
               and "records_uncommitted" not in fails)
    if traced:
        values = layer_metrics(workload, rec, jobs, gen)
        metrics = {n: {"value": values.get(n, 0.0), "unit": u}
                   for n, u, _ in PER_LAYER}
    else:
        metrics = {n: {"value": finite(e2e[n]), "unit": u}
                   for n, u in END_TO_END}
    detail["end_to_end"] = e2e
    result = {"correct": bool(correct), "attempted": int(attempted),
              "failed": int(failed), "metrics": metrics}
    return result, detail


# ---- per-layer metrics ----------------------------------------------------------

def _per_layer():
    out = [("Engine.session_s", "s", "lower"),
           ("Artifacts.build_s", "s", "lower"),
           ("sources.latest_offset_ms.p50", "ms", "lower"),
           ("sources.get_batch_ms.p50", "ms", "lower")]
    out += [(f"sources.parse_rec_s.{f}", "1/s", "higher")
            for f in ("register", "qz", "page")]
    out += [(f"sources.input_rows.{j}", "count", "higher") for j in JOBS]
    out += [("sources.malformed_dropped", "count", "lower")]
    out += [(f"sources.backlog_rows_end.{j}", "count", "lower") for j in JOBS]
    for j in JOBS:
        out += [(f"streaming.{j}.{m}", u, b) for m, u, b in (
            ("trigger_ms.p50", "ms", "lower"),
            ("planning_ms.p50", "ms", "lower"),
            ("add_batch_ms.p50", "ms", "lower"),
            ("wal_commit_ms.p50", "ms", "lower"),
            ("commit_offsets_ms.p50", "ms", "lower"),
            ("rows_per_trigger.p50", "count", "higher"))]
    out += [("state.j2.rows_total", "count", "lower"),
            ("state.j2.memory_bytes", "bytes", "lower"),
            ("state.j2.commit_ms.p50", "ms", "lower"),
            ("state.j2.rows_updated", "count", "lower"),
            ("state.j3.rows_total", "count", "lower"),
            ("state.j3.commit_ms.p50", "ms", "lower")]
    out += [("state.j2.restore_ms", "ms", "lower"),
            ("KeyedUpsertSink.upsert_ms.p50", "ms", "lower"),
            ("KeyedUpsertSink.upsert_ms.p90", "ms", "lower"),
            ("KeyedUpsertSink.buckets_rewritten.p50", "count", "lower"),
            ("KeyedUpsertSink.table_bytes", "bytes", "lower"),
            ("KeyedUpsertSink.files_written", "count", "lower"),
            ("KeyedUpsertSink.read_ms.p50", "ms", "lower"),
            ("KeyedUpsertSink.upsert_share_of_j2_trigger", "ratio", "lower"),
            ("RegisterStream.partitions_visible", "count", "lower"),
            ("RegisterStream.view_ms.totals.p50", "ms", "lower"),
            ("RegisterStream.view_ms.windowed.p50", "ms", "lower"),
            ("RawArchive.files_written", "count", "lower"),
            ("RawArchive.bytes_written", "bytes", "lower"),
            ("analytics.build_s", "s", "lower"),
            ("Tables.scan_bytes", "bytes", "lower")]
    out += [(f"{'operators' if q.startswith('x') else 'analytics'}.{q}.exec_s",
             "s", "lower") for q in BATCH_QUERIES]
    out += [(f"operators.{q}.build_s", "s", "lower")
            for q in BATCH_QUERIES if q.startswith("x")]
    for scope in JOBS + ("analytics", "operators"):
        out += [(f"spark.{scope}.{m}", u, "lower") for m, u in (
            ("task_cpu_s", "s"), ("gc_s", "s"),
            ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"))]
    out += [(f"self_s.{layer}", "s", "lower") for layer in LAYERS]
    out += [("trace.overhead_ms", "ms", "lower")]
    return tuple(out)


PER_LAYER = _per_layer()


def layer_metrics(workload, rec, jobs, gen):
    v = {"Engine.session_s": rec["engine_session_s"],
         "trace.overhead_ms": rec["trace_overhead_ms"]}
    spans = list(rec.get("spans", []))
    ids = iter(range(10 ** 9, 2 * 10 ** 9))
    if jobs:
        progress = [p for j in JOBS for p in jobs[j]["progress"]]
        busy = [p for p in progress if p["numInputRows"] > 0]
        v["sources.latest_offset_ms.p50"] = p50(
            [p["durationMs"].get("latestOffset", 0) for p in busy])
        v["sources.get_batch_ms.p50"] = p50(
            [p["durationMs"].get("getBatch", 0) for p in busy])
        for j in JOBS:
            ps = [p for p in jobs[j]["progress"] if p["numInputRows"] > 0]
            v[f"sources.input_rows.{j}"] = sum(p["numInputRows"]
                                               for p in jobs[j]["progress"])
            # live traffic: at the generator's last file; catch-up: at the
            # end of the wait, i.e. what was never committed
            t_end = rec.get("generator_done_ms", math.inf)
            v[f"sources.backlog_rows_end.{j}"] = backlog_rows(
                [f for f in gen if f["job"] == JOB_DIRS[j]],
                jobs[j]["batch_of"], jobs[j]["commit_ms"], t_end)
            for m, key in (("trigger_ms", "triggerExecution"),
                           ("planning_ms", "queryPlanning"),
                           ("add_batch_ms", "addBatch"),
                           ("wal_commit_ms", "walCommit"),
                           ("commit_offsets_ms", "commitOffsets")):
                v[f"streaming.{j}.{m}.p50"] = p50(
                    [p["durationMs"].get(key, 0) for p in ps])
            v[f"streaming.{j}.rows_per_trigger.p50"] = p50(
                [p["numInputRows"] for p in ps])
            spans += trigger_spans(jobs[j]["progress"], jobs[j]["qid"], j,
                                   lambda: next(ids))
        for j in ("j2", "j3"):
            ops = [p["stateOperators"][0] for p in jobs[j]["progress"]
                   if p.get("stateOperators")]
            if ops:
                v[f"state.{j}.rows_total"] = ops[-1]["numRowsTotal"]
                v[f"state.{j}.memory_bytes"] = ops[-1]["memoryUsedBytes"]
                v[f"state.{j}.commit_ms.p50"] = p50(
                    [o["commitTimeMs"] for o in ops])
                v[f"state.{j}.rows_updated"] = sum(o["numRowsUpdated"]
                                                   for o in ops)
        if workload == "catchup_restart":
            # the first trigger after the restart loads the state store
            first = [p for p in jobs["j2"]["progress"]
                     if p.get("stateOperators")]
            if first:
                m = first[0]["stateOperators"][0].get("customMetrics", {})
                v["state.j2.restore_ms"] = m.get("rocksdbLoadLatencyMs", 0)
        j2_batches = {p["batchId"] for p in jobs["j2"]["progress"]}
        ups = [u for u in rec.get("upserts", []) if u["batch_id"] in j2_batches]
        v["KeyedUpsertSink.upsert_ms.p50"] = p50([u["ms"] for u in ups])
        v["KeyedUpsertSink.upsert_ms.p90"] = tail([u["ms"] for u in ups], 90)[0] \
            if ups else 0.0
        v["KeyedUpsertSink.buckets_rewritten.p50"] = p50(
            [u["buckets"] for u in ups])
        fp = rec["sink_footprint"]
        v["KeyedUpsertSink.table_bytes"] = fp["kus_table_bytes"]
        v["KeyedUpsertSink.files_written"] = fp["kus_files"]
        v["RegisterStream.partitions_visible"] = fp["register_partitions"]
        v["RawArchive.files_written"] = fp["raw_files"]
        v["RawArchive.bytes_written"] = fp["raw_bytes"]
        v["sources.malformed_dropped"] = rec.get("malformed_dropped", 0)
        for f, r in rec.get("parse_rec_s", {}).items():
            v[f"sources.parse_rec_s.{f}"] = r
        reads = rec.get("reads", [])
        for view, name in (("kus_read", "KeyedUpsertSink.read_ms.p50"),
                           ("totals", "RegisterStream.view_ms.totals.p50"),
                           ("windowed", "RegisterStream.view_ms.windowed.p50")):
            v[name] = p50([r["ms"] for r in reads if r["view"] == view])
        link_upserts(spans)
        j2_trig = sum(s["end_ms"] - s["start_ms"] for s in spans
                      if s["name"] == "j2.trigger")
        j2_ups = sum(s["end_ms"] - s["start_ms"] for s in spans
                     if s["name"] == "KeyedUpsertSink.upsert"
                     and s["parent"] != 0)
        v["KeyedUpsertSink.upsert_share_of_j2_trigger"] = \
            j2_ups / j2_trig if j2_trig else 0.0
    else:
        v["Artifacts.build_s"] = median(rec["artifacts_build_s"])
        for q in BATCH_QUERIES:
            runs = [r for r in rec["queries"] if r["query"] == q]
            fam = "operators" if q.startswith("x") else "analytics"
            v[f"{fam}.{q}.exec_s"] = median([r["exec_s"] for r in runs])
            if fam == "operators":
                v[f"operators.{q}.build_s"] = median(
                    [r["build_s"] for r in runs])
        v["analytics.build_s"] = sum(
            median([r["build_s"] for r in rec["queries"] if r["query"] == q])
            for q in BATCH_QUERIES if q.startswith("q"))
    scopes = rec.get("scopes", {})
    for scope in JOBS + ("analytics", "operators"):
        names = [scope] if scope in JOBS else \
            [q for q in BATCH_QUERIES
             if ("operators" if q.startswith("x") else "analytics") == scope]
        for m in ("task_cpu_s", "gc_s", "shuffle_read_bytes", "spill_bytes"):
            v[f"spark.{scope}.{m}"] = sum(scopes.get(n, {}).get(m, 0.0)
                                          for n in names)
    v["Tables.scan_bytes"] = sum(scopes.get(q, {}).get("input_bytes", 0.0)
                                 for q in BATCH_QUERIES)
    st = self_times(spans)
    for layer in LAYERS:
        v[f"self_s.{layer}"] = st.get(layer, 0.0)
    return v
