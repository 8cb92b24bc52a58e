"""Span arithmetic and per-layer metrics from a traced run's records.

The JVM side (`Recorder.scala`) hands over raw records: the benchmark's own
spans (one per operation, plus `registry.build` / `registry.exec` children),
Spark jobs tagged with the span that submitted them, per-stage task-metric
sums, SQL executions, Catalyst phase times and timed file-system namespace
calls. Everything here is plain arithmetic on those records, in epoch ms.

A FHIR flow is one `runLocalFlow` call, so its inner layers are derived
from where the program's own work shows up: per resource, the landing glob
starts `ingest.read`, the SQL executions that follow are the quarantine
count and the transform write, and the gap to the next glob is the
promotion; the listing of the promoted directories starts the manifest.
"""
import math
import re
import statistics


def union_ms(intervals):
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_ms(clipped)


def percentiles(samples, p=0.9, beyond=10):
    """Median, and the p-quantile only when at least `beyond` samples lie above it.

    Returns (p50, p90-or-None). With n samples, n * (1 - p) must reach
    `beyond`, so a p90 needs 100 samples.
    """
    if not samples:
        return None, None
    xs = sorted(samples)
    p50 = statistics.median(xs)
    n = len(xs)
    if n * (1 - p) + 1e-9 < beyond:
        return p50, None
    return p50, xs[min(n - 1, math.ceil(p * n) - 1)]


def records_read_ratio(stages, landed_lines):
    """Records the scans read over the lines that landed; 1.0 is one scan."""
    if landed_lines <= 0:
        return 0.0
    return sum(s["records_read"] for s in stages) / landed_lines


_PROMOTED = re.compile(r"/promoted/[^/.][^/]*$")
FLOW_LAYERS = ("ingest.read", "ingest.quarantine", "transform.write", "pipeline.promote",
               "manifest.build")


def fhir_layers(flow, sql, fs):
    """Split one flow span into its layer intervals (ms).

    `sql` are SQL executions and `fs` file-system calls, all in epoch ms.
    Returns a dict of layer -> total ms and the derived child spans.
    """
    s, e = flow["start"], flow["end"]
    inside = lambda x: s <= x["start"] <= e
    globs, seen = [], set()
    for ev in sorted((f for f in fs if f["op"] == "glob" and "/landing/" in f["path"]
                      and inside(f)), key=lambda f: f["start"]):
        if ev["path"] not in seen:
            seen.add(ev["path"])
            globs.append(ev)
    execs = sorted((x for x in sql if inside(x) and x["end"] >= x["start"]),
                   key=lambda x: x["start"])
    last_glob = globs[-1]["start"] if globs else s
    listings = [f["start"] for f in fs if f["op"] == "list" and inside(f)
                and _PROMOTED.search(f["path"]) and f["start"] >= last_glob]
    manifest_start = min(listings, default=e)
    layers = dict.fromkeys(FLOW_LAYERS, 0.0)
    spans = []

    def add(name, a, b):
        if b > a:
            layers[name] += b - a
            spans.append({"name": name, "start": a, "end": b})

    for i, g in enumerate(globs):
        seg_end = globs[i + 1]["start"] if i + 1 < len(globs) else manifest_start
        seg = [x for x in execs if g["start"] <= x["start"] < seg_end]
        if not seg:
            add("ingest.read", g["start"], seg_end)
            continue
        add("ingest.read", g["start"], seg[0]["start"])
        cursor = seg[0]["start"]
        for x in seg:
            if x["desc"].startswith("count"):
                add("transform.write", cursor, x["start"])
                add("ingest.quarantine", x["start"], x["end"])
                cursor = x["end"]
        add("transform.write", cursor, seg[-1]["end"])
        add("pipeline.promote", max(cursor, seg[-1]["end"]), seg_end)
    add("manifest.build", manifest_start, e)
    return layers, spans


def _per_op(total, n):
    return total / n if n else 0.0


def layer_metrics(res, workload, expect=None):
    """The per-layer metrics of one traced run, averaged per timed operation
    (a flow, or one registry query). Layers a workload never enters read 0."""
    t = res["trace"]
    spans = {s["id"]: s for s in t["spans"]}
    first = res["window_first_req"]

    def root(sid):
        while sid in spans and spans[sid]["parent"] >= 0:
            sid = spans[sid]["parent"]
        return sid

    ops = [s for s in t["spans"] if s["parent"] < 0 and s["req"] >= first]
    op_ids = {s["id"] for s in ops}
    n = len(ops)

    def op_of_time(ms):
        for s in ops:
            if s["start"] <= ms <= s["end"]:
                return s["id"]
        return None

    jobs = []
    for j in t["jobs"]:
        tag = int(j["tag"]) if j["tag"] else None
        op = root(tag) if tag is not None and tag in spans else op_of_time(j["start"])
        if op in op_ids:
            j = dict(j, op=op, span=tag)
            jobs.append(j)
    job_ids = {j["id"] for j in jobs}
    stages = [s for s in t["stages"] if s["job"] in job_ids]
    phases = [p for p in t["phases"] if op_of_time(p["start"]) is not None]
    wall_ms = sum(s["end"] - s["start"] for s in ops)
    cores = res["cores"]

    m = {}
    m["exec.jobs"] = _per_op(len(jobs), n)
    m["exec.stages"] = _per_op(len(stages), n)
    m["exec.tasks"] = _per_op(sum(s["tasks"] for s in stages), n)
    m["exec.run_s"] = _per_op(sum(s["run_ms"] for s in stages) / 1e3, n)
    m["exec.cpu_s"] = _per_op(sum(s["cpu_ns"] for s in stages) / 1e9, n)
    m["exec.gc_s"] = _per_op(sum(s["gc_ms"] for s in stages) / 1e3, n)
    m["exec.busy_ratio"] = (sum(s["run_ms"] for s in stages) / (wall_ms * cores)
                            if wall_ms else 0.0)
    m["exec.shuffle_read_bytes"] = _per_op(sum(s["shuffle_read"] for s in stages), n)
    m["exec.shuffle_write_bytes"] = _per_op(sum(s["shuffle_write"] for s in stages), n)
    m["exec.spill_bytes"] = _per_op(sum(s["spill"] for s in stages), n)
    m["exec.peak_exec_mem_mb"] = max((s["peak_mem"] for s in stages), default=0) / 2 ** 20
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = _per_op(sum(p.get(f"{ph}_ms", 0) for p in phases), n)

    layers = dict.fromkeys(FLOW_LAYERS, 0.0)
    derived = []
    driver_ms = 0.0
    for op in ops:
        if workload.startswith("fhir"):
            lay, sp = fhir_layers(op, t["sql"], t["fs"])
            for k, v in lay.items():
                layers[k] += v
            derived += [dict(x, id=f"{op['id']}.{i}", parent=op["id"], req=op["req"])
                        for i, x in enumerate(sp)]
        driver_ms += self_ms((op["start"], op["end"]),
                             [(j["start"], j["end"]) for j in jobs if j["op"] == op["id"]])
    for k, v in layers.items():
        m[f"{k}_s"] = _per_op(v / 1e3, n)
    m["pipeline.driver_s"] = _per_op(driver_ms / 1e3, n)

    build = [s for s in t["spans"] if s["name"] == "registry.build" and root(s["id"]) in op_ids]
    execs = [s for s in t["spans"] if s["name"] == "registry.exec" and root(s["id"]) in op_ids]
    build_ids = {s["id"] for s in build}
    m["registry.build_s"] = _per_op(sum(s["end"] - s["start"] for s in build) / 1e3, n)
    m["registry.exec_s"] = _per_op(sum(s["end"] - s["start"] for s in execs) / 1e3, n)
    m["registry.build_jobs"] = _per_op(sum(j["span"] in build_ids for j in jobs), n)

    res_in = (expect or {}).get("resources", {})
    landed = sum(r["lines"] for r in res_in.values())
    good = sum(r["lines"] - r["corrupt"] for r in res_in.values())
    write_stages = [s for s in stages if s["records_written"] > 0]
    rows_out = _per_op(sum(s["records_written"] for s in write_stages), n)
    m["ingest.files"] = sum(r["files"] for r in res_in.values())
    m["ingest.lines"] = landed
    m["ingest.bytes"] = sum(r["bytes"] for r in res_in.values())
    m["ingest.corrupt_lines"] = sum(res["corrupt"][-1].values()) if res.get("corrupt") else 0
    m["ingest.records_read_ratio"] = _per_op(records_read_ratio(stages, landed), n)
    m["transform.rows_out"] = rows_out
    m["transform.bytes_out"] = _per_op(sum(s["bytes_written"] for s in write_stages), n)
    m["transform.files_out"] = res.get("files_out", 0)
    m["transform.kept_ratio"] = rows_out / good if good else 0.0
    m["manifest.entries"] = res.get("manifest_entries", 0)

    def parent_of(j):
        inner = [d for d in derived if d["parent"] == j["op"] and d["start"] <= j["start"] < d["end"]]
        return inner[0]["id"] if inner else (j["span"] if j["span"] is not None else j["op"])

    sql_desc = {str(x["id"]): x["desc"] for x in t["sql"]}
    all_spans = [dict(s) for s in t["spans"]] + derived + [
        {"id": f"job{j['id']}", "name": f"job: {sql_desc.get(j['sql']) or j['desc']}",
         "start": j["start"], "end": j["end"], "parent": parent_of(j),
         "req": spans[j["op"]]["req"]}
        for j in jobs]
    return m, with_self_times(all_spans)


def with_self_times(spans):
    """Each span with `self_ms`: its duration minus what its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [dict(s, self_ms=self_ms((s["start"], s["end"]), kids.get(s["id"], [])))
            for s in spans]
