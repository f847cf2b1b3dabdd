"""Span tree and per-layer metrics of a traced run.

The listeners in `scala/perfbench/Trace.scala` log raw events; this module
nests them as process -> application -> day or micro-batch (or the read)
-> Spark job -> stage -> task, with parent ids, and derives the per-layer
metrics from the tree. A span's self time is its duration minus the part
of it that its children cover.
"""

import json
import statistics


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it
    (nearest-rank). Returns (value, percentile, sample count). With no
    more than `beyond` samples no percentile qualifies; the maximum is
    returned with percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    if n <= beyond:
        return xs[-1], 100, n
    pct = 100 * (n - beyond) // n
    rank = max(1, -(-pct * n // 100))
    return xs[rank - 1], pct, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
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
    """{span id: self time}, children clipped to their parent's interval."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(clipped)
    return out


def accounted(spans):
    """Self time summed over every span above the task level, plus the
    union of each stage's tasks: equals the root's duration when sibling
    jobs and stages do not overlap (tasks of one stage do, by design)."""
    kind = {s["id"]: s["kind"] for s in spans}
    total = sum(v for k, v in self_times(spans).items() if kind[k] != "task")
    by_stage = {}
    for s in spans:
        if s["kind"] == "task":
            by_stage.setdefault(s["parent"], []).append((s["start"], s["end"]))
    stage_iv = {s["id"]: (s["start"], s["end"]) for s in spans if s["kind"] == "stage"}
    for sid, tasks in by_stage.items():
        lo, hi = stage_iv.get(sid, (float("-inf"), float("inf")))
        total += union_length([(max(a, lo), min(b, hi)) for a, b in tasks])
    return total


class Ids:
    """Span id counter shared by the trees written to one span file."""

    def __init__(self):
        self.n = 0

    def __call__(self):
        self.n += 1
        return self.n


def build_spans(events, process, kind, ids=None):
    """Nest one JVM's events under a process span.

    events:  parsed event dicts from the listener (times in epoch ms)
    process: (name, start ms, end ms) of the JVM as seen from outside
    kind:    "days", "kafka", "read" or "layer"
    """
    new_id = ids or Ids()
    spans = []

    def add(kind_, name, start, end, parent, group=None, **attrs):
        s = dict(id=new_id(), parent=parent, kind=kind_, name=name, start=start, end=end, group=group, **attrs)
        spans.append(s)
        return s

    root = add("process", process[0], process[1], process[2], None)
    ev = lambda k: [e for e in events if e["kind"] == k]  # noqa: E731
    starts, ends = ev("app_start"), ev("app_end")
    app = root
    if starts and ends:
        app = add("app", "SparkContext", starts[0]["time"], ends[-1]["time"], root["id"])
    for e in ev("layer"):
        add("layer", e["name"], e["start"], e["end"], root["id"])

    job_starts = {e["job"]: e for e in ev("job_start")}
    job_ends = {e["job"]: e for e in ev("job_end")}
    jobs = sorted(
        (dict(job=j, start=s["time"], end=job_ends[j]["time"], stages=s["stages"], batch=s.get("batch"))
         for j, s in job_starts.items() if j in job_ends),
        key=lambda j: j["start"],
    )

    groups = []  # (span, predicate on a job)
    if kind == "days":
        commits = sorted(ev("commit"), key=lambda c: c["time"])
        prev = jobs[0]["start"] if jobs else app["start"]
        for c in commits:
            g = add("day", c["day"], prev, c["time"], app["id"], group=c["day"])
            groups.append((g, lambda j, g=g: g["start"] <= j["start"] < g["end"]))
            prev = c["time"]
    elif kind == "kafka":
        for b in sorted(ev("batch"), key=lambda b: b["start"]):
            d = b["duration_ms"]
            g = add("batch", f"batch {b['batch']}", b["start"], b["start"] + d.get("triggerExecution", 0),
                    app["id"], group=b["batch"], rows=b["rows"], duration_ms=d)
            groups.append((g, lambda j, g=g: j["batch"] == g["group"]))
    elif kind == "read":
        rs, re_ = ev("read_start"), ev("read_end")
        if rs and re_:
            g = add("read", "IngestReader.read", rs[0]["time"], re_[0]["time"], app["id"], group="read")
            groups.append((g, lambda j, g=g: g["start"] <= j["start"] <= g["end"]))

    stage_parent = {}
    for j in jobs:
        parent = next((g for g, pred in groups if pred(j)), app)
        js = add("job", f"job {j['job']}", j["start"], j["end"], parent["id"], group=parent["group"])
        for st in j["stages"]:
            stage_parent.setdefault(st, js)
    stage_span = {}
    for st in ev("stage"):
        js = stage_parent.get(st["stage"], app)
        stage_span[st["stage"]] = add("stage", f"stage {st['stage']}", st["start"], st["end"], js["id"],
                                      group=js["group"], tasks=st["tasks"])
    for t in ev("task"):
        ss = stage_span.get(t["stage"])
        if ss is None:
            continue
        delay = max(0, (t["end"] - t["start"]) - t["run_ms"] - t["deser_ms"] - t["ser_ms"] - t["get_ms"])
        add("task", f"task@{t['stage']}", t["start"], t["end"], ss["id"], group=ss["group"],
            run_ms=t["run_ms"], cpu_ns=t["cpu_ns"], sched_delay_ms=delay)
    return spans


def _kids(spans, parent_ids, kind):
    return [s for s in spans if s["parent"] in parent_ids and s["kind"] == kind]


def _tasks_under(spans, job_ids):
    stages = {s["id"] for s in _kids(spans, job_ids, "stage")}
    return _kids(spans, stages, "task")


def layer_metrics(spans, events, kind, cores):
    """Per-layer metrics of one traced drain (0 for layers the workload
    does not use)."""
    m = {}
    gc = [e["gc_s"] for e in events if e["kind"] == "jvm"]
    m["jvm.gc_s"] = gc[0] if gc else 0.0

    def window_stats(group_kind):
        groups = [s for s in spans if s["kind"] == group_kind]
        jobs = _kids(spans, {g["id"] for g in groups}, "job")
        tasks = _tasks_under(spans, {j["id"] for j in jobs})
        wall = sum(g["end"] - g["start"] for g in groups)
        run = sum(t["run_ms"] for t in tasks)
        return groups, jobs, tasks, wall, run

    days, jobs, tasks, wall, run = window_stats("day")
    if kind == "days" and days:
        durs = [(d["end"] - d["start"]) / 1000 for d in days]
        value, pct, n = tail(durs)
        gaps = [
            (d["end"] - d["start"])
            - union_length([(max(j["start"], d["start"]), min(j["end"], d["end"]))
                            for j in jobs if j["parent"] == d["id"]])
            for d in days
        ]
        m.update({
            "IngestJob.day_s.p50": statistics.median(durs),
            "IngestJob.day_s.tail": value,
            "IngestJob.day_s.tail_pct": pct,
            "IngestJob.day_s.count": n,
            "IngestJob.jobs_per_day": len(jobs) / len(days),
            "IngestJob.tasks_per_day": len(tasks) / len(days),
            "IngestJob.driver_gap_ms_per_day": statistics.mean(gaps),
            "IngestJob.executor_busy_share": run / (wall * cores) if wall else 0.0,
            "IngestJob.task_cpu_share": sum(t["cpu_ns"] for t in tasks) / 1e6 / run if run else 0.0,
            "IngestJob.scheduler_delay_ms.p50":
                statistics.median(t["sched_delay_ms"] for t in tasks) if tasks else 0.0,
        })

    batches, jobs, tasks, wall, run = window_stats("batch")
    if kind == "kafka" and batches:
        d = lambda k: sum(b["duration_ms"].get(k, 0) for b in batches)  # noqa: E731
        trig = d("triggerExecution")
        m.update({
            "IngestStream.trigger_s": trig / 1000,
            "IngestStream.addBatch_share": d("addBatch") / trig if trig else 0.0,
            "IngestStream.queryPlanning_ms": d("queryPlanning"),
            "IngestStream.walCommit_ms": d("walCommit"),
            "IngestStream.executor_busy_share": run / (wall * cores) if wall else 0.0,
            "KafkaLogSource.latestOffset_ms": d("latestOffset"),
            "KafkaLogSource.getBatch_ms": d("getBatch"),
        })

    reads, jobs, tasks, wall, run = window_stats("read")
    if kind == "read" and reads:
        r = reads[0]
        m.update({
            "IngestReader.driver_gap_ms": wall - union_length(
                [(max(j["start"], r["start"]), min(j["end"], r["end"])) for j in jobs]),
            "IngestReader.executor_busy_share": run / (wall * cores) if wall else 0.0,
            "IngestReader.tasks": len(tasks),
        })
    return m


def read_events(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def write_spans(path, spans):
    selfs = self_times(spans)
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")
