"""Pure helpers behind run.py: percentiles, span arithmetic and the metric
summaries. No I/O, so tests can drive them. Result digests are taken on the
JVM side (jvm/Digest.scala).
"""
import math
import statistics

# ---------------------------------------------------------------- statistics


def percentile(xs, p):
    """The p-th percentile with linear interpolation between ranks."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n, min_above=10):
    """Highest whole percentile that leaves at least `min_above` of `n`
    samples above it, or None when n is too small for any."""
    if n <= min_above:
        return None
    for p in range(99, 0, -1):
        if sum(1 for i in range(n) if i > (n - 1) * p / 100.0) >= min_above:
            return p
    return None


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


# ---------------------------------------------------------------- spans


def union_ms(intervals, lo=None, hi=None):
    """Total length covered by the intervals, optionally clipped to [lo, hi]."""
    iv = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            iv.append((a, b))
    iv.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover. Spans are dicts with id, parent, start_ms, end_ms."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - union_ms(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def base_kind(kind):
    return kind.split(":", 1)[0]


def build_spans(ops, trace):
    """One span per op with children for its build, the query phases, each
    job and stage and, on writes, the sink's driver-commit gap. Listener
    events are attributed to the op whose interval holds their start."""
    spans = []

    def owner(t):
        for i, o in enumerate(ops):
            if o["startMs"] <= t <= o["endMs"]:
                return i
        return None

    for i, o in enumerate(ops):
        spans.append({"trace": i, "id": f"op{i}", "parent": None, "name": "op",
                      "kind": base_kind(o["kind"]), "start_ms": o["startMs"],
                      "end_ms": o["startMs"] + o["ns"] / 1e6})
        if o["buildNs"] > 0:
            spans.append({"trace": i, "id": f"op{i}.build", "parent": f"op{i}", "name": "build",
                          "start_ms": o["startMs"], "end_ms": o["startMs"] + o["buildNs"] / 1e6})
    for qi, q in enumerate(trace["queries"]):
        for phase, (a, b) in _phases(q):
            i = owner(a)
            if i is not None:
                spans.append({"trace": i, "id": f"q{qi}.{phase}", "parent": f"op{i}",
                              "name": phase, "start_ms": a, "end_ms": b})
    job_op = {}
    for j in trace["jobs"]:
        i = owner(j["startMs"])
        if i is None:
            continue
        job_op[j["id"]] = i
        spans.append({"trace": i, "id": f"job{j['id']}", "parent": f"op{i}", "name": "job",
                      "start_ms": j["startMs"], "end_ms": j["endMs"]})
    tasks = {}
    for t in trace["tasks"]:
        tasks.setdefault((t["stage"], t["attempt"]), []).append(t)
    for s in trace["stages"]:
        i = job_op.get(s["job"])
        if i is None:
            continue
        ts = tasks.get((s["id"], s["attempt"]), [])
        spans.append({"trace": i, "id": f"stage{s['id']}.{s['attempt']}", "parent": f"job{s['job']}",
                      "name": "stage", "graft_scan": s["graftScan"],
                      "start_ms": s["startMs"], "end_ms": s["endMs"],
                      "tasks": len(ts),
                      "busy_ms": sum(t["runMs"] for t in ts),
                      "wait_ms": sum(max(0, t["launchMs"] - s["startMs"]) for t in ts),
                      "gc_ms": sum(t["gcMs"] for t in ts),
                      "bytes_read": sum(t["bytesRead"] for t in ts),
                      "shuffle_read": sum(t["shuffleRead"] for t in ts),
                      "shuffle_write": sum(t["shuffleWrite"] for t in ts),
                      "task_intervals": [(t["launchMs"], t["finishMs"]) for t in ts]})
    for bi, b in enumerate(trace["batches"]):
        i = owner(b["startMs"])
        if i is not None:
            spans.append({"trace": i, "id": f"batch{bi}", "parent": f"op{i}", "name": "stream_batch",
                          "start_ms": b["startMs"],
                          "end_ms": b["startMs"] + b["durations"].get("triggerExecution", 0),
                          "durations": b["durations"]})
    for i, o in enumerate(ops):
        if not o["write"]:
            continue
        ends = [s["end_ms"] for s in spans if s["name"] == "job" and s["trace"] == i]
        if ends:
            spans.append({"trace": i, "id": f"op{i}.commit", "parent": f"op{i}", "name": "driver_commit",
                          "start_ms": max(ends), "end_ms": o["startMs"] + o["ns"] / 1e6})
    return spans


def _phases(q):
    """(phase, (start_ms, end_ms)) pairs of one query, in time order."""
    return sorted(((k, (v["_1"], v["_2"])) for k, v in q["phases"].items()), key=lambda kv: kv[1][0])


# ---------------------------------------------------------------- summaries


def median_or0(xs):
    return statistics.median(xs) if xs else 0.0


def op_failed(o):
    return bool(o["error"]) or o["got"] != o["want"]


def end_to_end(res, tail_pct):
    """The end-to-end metrics of an untraced measurement."""
    ops = res["ops"]
    lat = [o["ns"] / 1e6 for o in ops]
    busy_s = sum(lat) / 1000.0
    return {
        "setup_s": statistics.median(res["setup_s"]) + res["fill_s"],
        "op_p50_ms": statistics.median(lat),
        "op_tail_ms": percentile(lat, tail_pct),
        "ops_per_s": len(ops) / busy_s,
        "input_mbps": sum(o["bytes"] for o in ops) / 1e6 / busy_s,
        "heap_live_peak_mb": res["heap_live_peak_bytes"] / 2**20,
    }


CORE_PROBES = ("core.json_full_mbps", "core.json_pruned_mbps", "core.json_filtered_mbps",
               "core.json_nested_mbps", "core.csv_mbps", "core.skipped_frac")


def per_layer(res):
    """The per-layer metrics of a traced run (see BENCHMARK.json)."""
    ops = res["traced_ops"]
    n = len(ops)
    spans = build_spans(ops, res["trace"])
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    per_op = {i: {} for i in range(n)}
    for s in spans:
        per_op[s["trace"]].setdefault(s["name"], []).append(s)
    op_ms = [o["ns"] / 1e6 for o in ops]
    stages = by.get("stage", [])
    scan = [s for s in stages if s["graft_scan"]]
    scan_q = [q["scan"] for q in res["trace"]["queries"]]
    m = dict.fromkeys(CORE_PROBES, 0.0)  # measured on jsonl-scan only
    m.update(res["probes"])
    m["spark.scan.tasks"] = sum(s["tasks"] for s in scan) / n
    m["spark.scan.task_busy_s"] = sum(s["busy_ms"] for s in scan) / 1000 / n
    m["spark.scan.task_wait_s"] = sum(s["wait_ms"] for s in scan) / 1000 / n
    m["spark.scan.gc_s"] = sum(s["gc_ms"] for s in scan) / 1000 / n
    m["spark.scan.bytes_read"] = sum(s["bytes_read"] for s in scan) / n
    m["spark.scan.skipped_bytes"] = sum(q["skippedBytes"] for q in scan_q) / n
    m["spark.scan.rows_out"] = sum(q["rowsOut"] for q in scan_q) / n
    seen = m["spark.scan.bytes_read"] + m["spark.scan.skipped_bytes"]
    m["spark.scan.skip_frac"] = m["spark.scan.skipped_bytes"] / seen if seen else 0.0

    m["operators.build_ms"] = median_or0([o["buildNs"] / 1e6 for o in ops if o["buildNs"] > 0])
    for phase in ("analysis", "optimization", "planning"):
        m[f"query.{phase}_ms"] = median_or0(
            [sum(s["end_ms"] - s["start_ms"] for s in d.get(phase, [])) for d in per_op.values()
             if d.get(phase)])
    m["query.exec_ms"] = median_or0(
        [union_ms([(s["start_ms"], s["end_ms"]) for s in d["job"]]) for d in per_op.values() if d.get("job")])
    m["query.jobs"] = len(by.get("job", [])) / n
    m["query.stages"] = len(stages) / n
    m["query.tasks"] = sum(s["tasks"] for s in stages) / n
    m["query.task_busy_s"] = sum(s["busy_ms"] for s in stages) / 1000 / n
    m["query.task_wait_s"] = sum(s["wait_ms"] for s in stages) / 1000 / n
    idle = []
    for i, o in enumerate(ops):
        a, b = o["startMs"], o["startMs"] + o["ns"] / 1e6
        busy = union_ms([iv for s in per_op[i].get("stage", []) for iv in s["task_intervals"]], a, b)
        idle.append(1 - busy / (b - a) if b > a else 0.0)
    m["query.idle_frac"] = statistics.mean(idle)
    m["query.shuffle_read_bytes"] = sum(s["shuffle_read"] for s in stages) / n
    m["query.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in stages) / n

    batches = by.get("stream_batch", [])
    stream_ops = sum(1 for d in per_op.values() if d.get("stream_batch"))
    dur = [b["durations"] for b in batches]
    m["spark.stream.batches"] = len(batches) / stream_ops if stream_ops else 0.0
    m["spark.stream.batch_ms"] = median_or0([d.get("triggerExecution", 0) for d in dur])
    m["spark.stream.addbatch_ms"] = median_or0([d.get("addBatch", 0) for d in dur])
    m["spark.stream.commit_ms"] = median_or0([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur])
    m["spark.stream.planning_ms"] = median_or0([d.get("queryPlanning", 0) for d in dur])

    appends = [o for o in ops if base_kind(o["kind"]) == "append"]
    m["spark.sink.bytes_written"] = median_or0([o["extra"].get("bytes_written", 0) for o in appends])
    m["spark.sink.files_written"] = median_or0([o["extra"].get("files_written", 0) for o in appends])
    m["spark.sink.driver_commit_ms"] = median_or0(
        [s["end_ms"] - s["start_ms"] for i, o in enumerate(ops) if base_kind(o["kind"]) == "append"
         for s in per_op[i].get("driver_commit", [])])
    kind_ms = {}
    for o in ops:
        kind_ms.setdefault(base_kind(o["kind"]), []).append(o["ns"] / 1e6)
    m["api.delete_dv_ms"] = median_or0(kind_ms.get("delete_dv", []))
    m["api.update_cow_ms"] = median_or0(kind_ms.get("update_cow", []))
    m["api.rewritten_bytes"] = median_or0(
        [o["extra"].get("bytes_removed", 0) for o in ops if base_kind(o["kind"]) == "update_cow"])
    facts = res.get("facts", {})
    m["table.files"] = facts.get("data_files", 0)
    m["table.stored_bytes"] = facts.get("stored_bytes", 0)
    m["table.log_entries"] = facts.get("log_entries", 0)

    # ingest-maintain's read/write split, from the untraced window
    ingest = "user_bytes" in facts
    untraced = res["ops"]
    m["ingest.read_p50_ms"] = median_or0(
        [o["ns"] / 1e6 for o in untraced if ingest and not o["write"]])
    m["ingest.write_p50_ms"] = median_or0([o["ns"] / 1e6 for o in untraced if ingest and o["write"]])
    m["ingest.stored_bytes_ratio"] = facts["stored_bytes"] / facts["user_bytes"] if ingest else 0.0

    total = sum(op_ms)
    m["split.scan_frac"] = sum(
        union_ms([(s["start_ms"], s["end_ms"]) for s in per_op[i].get("stage", []) if s["graft_scan"]],
                 o["startMs"], o["startMs"] + o["ns"] / 1e6)
        for i, o in enumerate(ops)) / total
    # a write op's Spark jobs plus its driver-side commit, as a share of it
    writes = [(i, o) for i, o in enumerate(ops) if o["write"]]
    m["split.write_api_frac"] = sum(
        union_ms([(s["start_ms"], s["end_ms"]) for name in ("job", "driver_commit")
                  for s in per_op[i].get(name, [])], o["startMs"], o["startMs"] + o["ns"] / 1e6)
        for i, o in writes) / sum(o["ns"] / 1e6 for _, o in writes) if writes else 0.0

    after = res["untraced_after_ops"]
    untraced_rate = len(after) / (sum(o["ns"] for o in after) / 1e9)
    traced_rate = n / (sum(op_ms) / 1000)
    m["trace.overhead_frac"] = 1 - traced_rate / untraced_rate
    return m, spans
