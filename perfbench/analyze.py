"""Turns one run's raw measurements (raw.json, written by the JVM
harness) into the benchmark's metrics.

End-to-end metrics come from the op and call records of the untraced
phase. Per-layer metrics come only from the Chrome trace-event file
that `build_trace` writes: spans of ops and layer calls, with the Spark
jobs and stages the run's listener saw attached as child spans.
"""
import json
import math
import statistics

# Percentiles tried for a tail, highest first; the tail is the highest
# one with at least TAIL_BEYOND samples above it.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def tail(xs):
    """(percentile, value, samples) at the highest ladder percentile with
    at least TAIL_BEYOND samples beyond it; the median when there are too
    few samples for any (percentile 50 then says so)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None
    for pct in TAIL_LADDER:
        # nearest rank; rounded first so 99.9% of 10000 is rank 9990
        rank = max(1, math.ceil(round(pct * n / 100.0, 6)))
        if n - rank >= TAIL_BEYOND:
            return pct, s[rank - 1], n
    return 50.0, statistics.median(s), n


def median(xs):
    return statistics.median(xs) if xs else 0.0


def gmean_of_medians(pairs):
    """Geometric mean, over op names, of each name's median latency: every
    kind of op weighs the same, whatever the mix, and a change of any one
    kind by a factor f moves it by f ** (1 / kinds)."""
    by = _group(pairs)
    if not by:
        return 0.0
    return math.exp(sum(math.log(statistics.median(v)) for v in by.values()) / len(by))


def ops_per_s(durations):
    """Ops per second of op time: the harness's own work between ops
    (making the next batch, checking a result) is not counted."""
    busy = sum(durations)
    return len(durations) / busy if busy > 0 else 0.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """Span duration minus the part of it its children cover."""
    clipped = [(max(c[0], span[0]), min(c[1], span[1])) for c in children]
    return (span[1] - span[0]) - union_length([c for c in clipped if c[1] > c[0]])


def attribute(spans, jobs, resolution=1000):
    """Map job id -> id of the innermost span whose interval holds the
    job's start (None outside every span). Spans nest, so the innermost
    holder is the one that started last. Job starts are known only to
    `resolution` microseconds (the listener's millisecond clock), so a
    span holds a job when it overlaps [start, start + resolution)."""
    out = {}
    order = sorted(spans, key=lambda s: s["start"])
    for j in jobs:
        best = None
        for s in order:
            if s["start"] >= j["start"] + resolution:
                break
            if s["end"] >= j["start"]:
                best = s["id"]
        out[j["id"]] = best
    return out


# ---------------------------------------------------------------- e2e

def e2e(raw):
    """End-to-end metrics of the untraced phase: {name: (value, unit, note)}."""
    ops = [o for o in raw["ops"] if o["phase"] == "untraced"]
    calls = [c for c in raw["calls"] if c["phase"] == "untraced"]
    lat = [(o["end"] - o["start"]) / 1e6 for o in ops]
    kinds = len({o["name"] for o in ops})
    m = {}
    m["setup_s"] = (setup_s(raw["marks"]), "s", "session start + set-up")
    m["ops_per_s"] = (ops_per_s(lat), "1/s", f"{len(ops)} ops in {sum(lat):.2f} s of op time")
    m["latency_gmean_s"] = (gmean_of_medians([(o["name"], d) for o, d in zip(ops, lat)]), "s",
                            f"{kinds} op kinds, n={len(lat)}")
    m["p50_s"] = (median(lat), "s", f"n={len(lat)}")
    t = tail(lat)
    m["tail_s"] = (t[1], "s", f"p{t[0]:g} of n={t[2]}") if t else (0.0, "s", "n=0")
    for cls in ("read", "write"):
        xs = [(c["end"] - c["start"]) / 1e6 for c in calls if c["cls"] == cls]
        if xs:
            m[f"{cls}_p50_s"] = (median(xs), "s", f"n={len(xs)}")
            t = tail(xs)
            m[f"{cls}_tail_s"] = (t[1], "s", f"p{t[0]:g} of n={t[2]}")
    failed = sum(1 for o in ops if not o["ok"])
    m["fail_frac"] = (failed / len(ops) if ops else 1.0, "ratio", f"{failed} of {len(ops)}")
    m["peak_rss_mb"] = (raw["peak_rss_mb"], "MB", "VmHWM of the JVM")
    return m


def marks_by_name(marks):
    out = {}
    for mk in marks:
        out.setdefault(mk["name"], []).append((mk["end"] - mk["start"]) / 1e6)
    return out


def setup_s(marks):
    by = marks_by_name(marks)
    return sum(by.get("session", [0.0])) + sum(by.get("prepare", [0.0]))


# -------------------------------------------------------------- trace

def build_trace(raw):
    """Chrome trace-event JSON for the run: set-up marks, untraced ops,
    and the traced phase's spans with Spark jobs and stages as children
    of the span their start falls in."""
    ev = []

    def x(name, cat, start, end, tid, args):
        ev.append({"name": name, "cat": cat, "ph": "X", "ts": start, "dur": max(0, end - start),
                   "pid": 1, "tid": tid, "args": args})

    for i, mk in enumerate(raw["marks"]):
        x(mk["name"], "setup", mk["start"], mk["end"], 0, {"id": f"m{i}"})
    for o in raw["ops"]:
        if o["phase"] == "untraced":
            x(o["name"], "untraced_op", o["start"], o["end"], 1,
              {"id": f"u{o['id']}", "cls": o["cls"], "ok": o["ok"]})
    spans = raw["spans"]
    done = [j for j in raw["jobs"] if j["end"] >= 0]
    owner = attribute(spans, done)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for j in done:
        kids.setdefault(owner[j["id"]], []).append((j["start"], j["end"]))
    for s in spans:
        # self time: the span minus what its child spans and jobs cover
        x(s["name"], s["layer"], s["start"], s["end"], 2,
          {"id": s["id"], "parent": s["parent"], "op": s["op"], "attrs": s["attrs"],
           "self_us": self_time((s["start"], s["end"]), kids.get(s["id"], []))})
    stage_job = {}
    for j in raw["jobs"]:
        if j["end"] < 0:
            continue
        x(f"job {j['id']}", "spark.job", j["start"], j["end"], 3,
          {"id": f"j{j['id']}", "parent": owner.get(j["id"]), "ok": j["ok"]})
        for sid in j["stages"]:
            stage_job[sid] = j["id"]
    for st in raw["stages"]:
        if st["submit"] < 0 or st["id"] not in stage_job:
            continue
        args = dict(st["metrics"])
        args.update({"id": f"s{st['id']}.{st['attempt']}", "parent": f"j{stage_job[st['id']]}",
                     "tasks": st["tasks"], "failed_tasks": st["failed_tasks"]})
        x(f"stage {st['id']}", "spark.stage", st["submit"], st["complete"], 4, args)
    other = {k: raw[k] for k in ("workload", "seed", "seconds", "env", "phases", "extra")}
    return {"traceEvents": ev, "displayTimeUnit": "ms", "otherData": other}


def _layer_calls(spans, prefix):
    return [s for s in spans if s["name"].startswith(prefix)]


def per_layer(trace, names):
    """Every per-layer metric, derived from the trace file alone.
    `names` fixes the set reported (layers a workload does not touch
    report 0)."""
    other = trace["otherData"]
    k = other["env"]["k"]
    spans, jobs, stages, untraced = {}, {}, {}, []
    marks = []
    for e in trace["traceEvents"]:
        a = e["args"]
        iv = (e["ts"], e["ts"] + e["dur"])
        if e["cat"] == "setup":
            marks.append({"name": e["name"], "start": iv[0], "end": iv[1]})
        elif e["cat"] == "untraced_op":
            untraced.append((e["name"], e["dur"] / 1e6))
        elif e["cat"] == "spark.job":
            jobs[a["id"]] = {"iv": iv, "parent": a["parent"], "stages": []}
        elif e["cat"] == "spark.stage":
            stages[a["id"]] = dict(a, iv=iv)
        else:
            spans[a["id"]] = {"id": a["id"], "name": e["name"], "layer": e["cat"], "iv": iv,
                              "parent": a["parent"], "op": a["op"], "attrs": a["attrs"],
                              "jobs": [], "kids": []}
    for sid, st in stages.items():
        if st["parent"] in jobs:
            jobs[st["parent"]]["stages"].append(st)
    for jid, j in jobs.items():
        if j["parent"] in spans:
            spans[j["parent"]]["jobs"].append(j)
    for s in spans.values():
        if s["parent"] in spans:
            spans[s["parent"]]["kids"].append(s)

    def subtree_jobs(s):
        out = list(s["jobs"])
        for c in s["kids"]:
            out += subtree_jobs(c)
        return out

    def jsum(js, key):
        return sum(st.get(key, 0) for j in js for st in j["stages"])

    def dur(s):
        return (s["iv"][1] - s["iv"][0]) / 1e6

    ops = [s for s in spans.values() if s["layer"] == "op"]
    nops = max(1, len(ops))
    m = {}
    per_op = [subtree_jobs(o) for o in ops]
    busy = [union_length([j["iv"] for j in js]) / 1e6 for js in per_op]
    m["spark.jobs"] = sum(len(js) for js in per_op) / nops
    m["spark.stages"] = sum(sum(len(j["stages"]) for j in js) for js in per_op) / nops
    m["spark.tasks"] = sum(jsum(js, "tasks") for js in per_op) / nops
    m["spark.job_busy_s"] = sum(busy) / nops
    m["spark.driver_gap_s"] = sum(
        self_time(o["iv"], [j["iv"] for j in js]) for o, js in zip(ops, per_op)) / 1e6 / nops
    run = sum(jsum(js, "run_s") for js in per_op)
    m["spark.executor_run_s"] = run / nops
    m["spark.executor_cpu_s"] = sum(jsum(js, "cpu_s") for js in per_op) / nops
    m["spark.core_fill"] = run / (sum(busy) * k) if sum(busy) > 0 else 0.0
    m["spark.jvm_gc_s"] = sum(jsum(js, "gc_s") for js in per_op) / nops
    for key in ("input_records", "input_bytes", "output_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
        m[f"spark.{key}"] = sum(jsum(js, key) for js in per_op) / nops
    traced = other["phases"].get("traced", {})
    m["process.cpu_s"] = traced.get("cpu_s", 0.0) / nops

    for name, d in _group(untraced).items():
        m[f"query.{name}_s"] = median(d)

    def med(prefix):
        return median([dur(s) for s in _layer_calls(spans.values(), prefix)])

    def jobs_per(prefix):
        ss = _layer_calls(spans.values(), prefix)
        return sum(len(subtree_jobs(s)) for s in ss) / len(ss) if ss else 0.0

    def attr_mean(key):
        xs = [o["attrs"][key] for o in ops if key in o["attrs"]]
        return sum(xs) / len(xs) if xs else 0.0

    m["mergetable.merge_s"] = med("mergetable.merge")
    m["mergetable.merge_jobs"] = jobs_per("mergetable.merge")
    m["mergetable.read_s"] = med("mergetable.read")
    m["mergetable.gc_s"] = med("mergetable.gc")
    m["mergetable.overlay_rows"] = attr_mean("overlay_rows")
    m["mergetable.files"] = attr_mean("files")
    for mode in ("cow", "delta", "fold"):
        m[f"mergetable.{mode}_commits"] = attr_mean(f"{mode}_commits")
    for fam in ("ivm", "joinivm", "ivmoverjoin"):
        m[f"{fam}.apply_s"] = med(f"{fam}.apply")
        m[f"{fam}.apply_jobs"] = jobs_per(f"{fam}.apply")
    ivm_read = [dur(s) for f in ("ivm", "joinivm", "ivmoverjoin")
                for s in _layer_calls(spans.values(), f"{f}.read_view")]
    m["ivm.read_view_s"] = median(ivm_read)
    m["ivm.gc_s"] = median([dur(s) for f in ("ivm", "joinivm", "ivmoverjoin")
                            for s in _layer_calls(spans.values(), f"{f}.gc")])
    applies = [s for f in ("ivm", "joinivm", "ivmoverjoin")
               for s in _layer_calls(spans.values(), f"{f}.apply")]
    rows = sum(s["attrs"].get("batch_rows", 0) for s in applies)
    m["ivm.read_amplification"] = (sum(jsum(subtree_jobs(s), "input_records") for s in applies)
                                   / rows if rows else 0.0)
    by = marks_by_name(marks)
    m["setup.session_s"] = sum(by.get("session", [0.0]))
    m["setup.view_build_s"] = median(by.get("view_build", []))
    m["setup.warmup_s"] = sum(by.get("warmup", [0.0]))
    m["bench.generate_s"] = sum(by.get("generate", [0.0]))
    ops_un = ops_per_s([d for _, d in untraced])
    ops_tr = ops_per_s([dur(o) for o in ops])
    m["bench.trace_overhead_frac"] = 1.0 - ops_tr / ops_un if ops_un else 0.0
    return {n: m.get(n, 0.0) for n in names}


def _group(pairs):
    out = {}
    for k, v in pairs:
        out.setdefault(k, []).append(v)
    return out


def load(path):
    with open(path, encoding="utf-8") as f:
        return json.load(f)
