"""Statistics over one run's raw measurements.

`end_to_end` turns the harness's raw records into the metrics the
benchmark gates on; `per_layer` turns a traced run's spans and counters
into per-layer numbers. Both are pure functions of the results record, so
they are tested without a JVM.

Per-layer figures are medians over the run's traced steady passes of the
per-pass sums, unless a docstring below says otherwise. A record (stage,
job, planning phase, micro-batch) belongs to the pass whose wall interval
contains its start.
"""
from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

#: Samples that must lie beyond a percentile before it is reported.
BEYOND = 10


def percentile(values, q: float):
    """Nearest-rank q-quantile (0 < q < 1), or None when fewer than
    BEYOND samples lie beyond it."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < BEYOND:
        return None
    return v[rank - 1]


def median(values, default=None):
    values = list(values)
    return statistics.median(values) if values else default


def _ok(execs, kind=None):
    return [e for e in execs if e["ok"] and (kind is None or e["kind"] == kind)]


def _secs(p):
    return (p["t1"] - p["t0"]) / 1e6


def passes(res) -> dict:
    """Wall time of every pass in seconds. Steady passes are all kept, in
    order, so drift within one JVM shows."""
    ps = res["sections"].get("passes", [])
    return {"cold": [_secs(p) for p in ps if p["kind"] == "cold"],
            "steady": [_secs(p) for p in ps if p["kind"] == "steady"]}


E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_geomean_ms": "ms",
             "stored_bytes_ratio": "B/B"}


def _steady_medians(res, ops):
    """Each op's median steady latency in ms, or None when an op has no
    successful steady execution."""
    out = {}
    for op in ops:
        ms = [e["ms"] for e in _ok(res["execs"], "steady") if e["op"] == op]
        if not ms:
            return None
        out[op] = median(ms)
    return out


def op_geomean(res, ops):
    """Geometric mean over `ops` of each op's median steady latency. Every
    op weighs the same, however long it runs."""
    meds = _steady_medians(res, ops)
    return math.exp(sum(math.log(m) for m in meds.values()) / len(meds)) if meds else None


def typical_pass_s(res, traced=None):
    """A typical steady pass in seconds: over every op, its median number
    of executions per steady pass times its median steady latency. With a
    run's few passes this is steadier than the median pass wall, and an op
    that runs only in some passes (a periodic compaction) counts only if it
    runs in most of them. With `traced` set, the latencies come only from
    the traced (True) or untraced (False) passes; the counts still come
    from all of them, so both sides price the same pass."""
    ps = [p for p in res["sections"].get("passes", []) if p["kind"] == "steady"]
    if not ps:
        return None
    steady = _ok(res["execs"], "steady")
    sampled = {p["pass"] for p in ps if traced is None or p["traced"] == traced}
    total = 0.0
    for op in sorted({e["op"] for e in steady}):
        per_pass = median(sum(1 for e in steady if e["op"] == op and e["pass"] == p["pass"])
                          for p in ps)
        ms = [e["ms"] for e in steady if e["op"] == op and e["pass"] in sampled]
        if per_pass and not ms:
            return None
        total += per_pass * median(ms, 0.0)
    return total / 1000.0


def end_to_end(res, ops, source_bytes: int) -> dict:
    """The gated metrics, common to every workload:

    setup_s             median of the run's set-ups; the first is timed
                        from the launch of the JVM, the others start a new
                        session
    cold_pass_s         the first pass, in a cold session over an empty
                        store
    pass_s              a typical steady pass (see `typical_pass_s`)
    op_geomean_ms       geometric mean over the workload's ops of each op's
                        median steady latency (a query: builder call,
                        planning and full-result action; lake_write: a
                        commit or a read)
    stored_bytes_ratio  bytes the workload stored, at a fixed point of the
                        run, per byte of source parquet it reads
    """
    p = passes(res)
    storage = res["sections"].get("storage")
    return {
        "setup_s": median(s["ms"] / 1000.0 for s in res["sections"]["setup"]),
        "cold_pass_s": p["cold"][0] if p["cold"] else None,
        "pass_s": typical_pass_s(res),
        "op_geomean_ms": op_geomean(res, ops),
        "stored_bytes_ratio": storage["bytes"] / source_bytes if storage else None,
    }


def workload_extras(workload: str, res) -> dict:
    """Workload-specific figures, printed and kept in the full map. A p90 is
    None unless at least BEYOND samples lie beyond it."""
    execs = res["execs"]
    steady = [e["ms"] for e in _ok(execs, "steady")]
    out = {"peak_rss_mb": res["sections"]["peak_rss_mb"], "op_samples": len(steady),
           "op_p50_ms": median(steady), "op_p90_ms": percentile(steady, 0.9)}
    if workload == "lake_write":
        etl = [e["ms"] / 1000.0 for e in _ok(execs) if e["op"] == "lake_write/etl"]
        commits = [e for e in _ok(execs, "steady") if e["op"] != "lake_write/read"]
        reads = [e["ms"] for e in _ok(execs, "steady") if e["op"] == "lake_write/read"]
        out.update({
            "etl_s": etl[0] if etl else None,
            "commit_p50_ms": median(e["ms"] for e in commits),
            "commit_p90_ms": percentile([e["ms"] for e in commits], 0.9),
            "commit_samples": len(commits),
            "read_after_write_p50_ms": median(reads),
        })
    bs = [b for b in res["batches"] if b["input_rows"] > 0]
    if bs:
        trig = [b["trigger_ms"] for b in bs]
        out.update({
            "batch_p50_ms": median(trig),
            "batch_p90_ms": percentile(trig, 0.9),
            "batch_samples": len(trig),
            "stream_rows_per_s": (sum(b["input_rows"] for b in bs) / (sum(trig) / 1000.0)
                                  if sum(trig) > 0 else None),
        })
    return out


# ------------------------------------------------------------------ spans

def _union_us(intervals) -> int:
    """Length of the union of [t0, t1] intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans) -> dict:
    """Self time per span name in ms: each span's duration minus the part of
    it that its child spans cover."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out: dict = {}
    for s in spans:
        cover = _union_us([(max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
                           for c in kids.get(s["id"], [])])
        out[s["name"]] = out.get(s["name"], 0.0) + (s["t1"] - s["t0"] - cover) / 1000.0
    return out


def attach_listener_spans(res) -> list:
    """The harness's spans plus spans made from listener events: planning
    phases, jobs, stages and micro-batches. A micro-batch's parent is the
    innermost harness span containing its start; a job's or planning
    phase's parent is the innermost harness span or micro-batch containing
    its start; a stage's parent is its job. Children share their parent's
    op-execution id."""
    spans = [dict(s) for s in res["spans"]]
    nid = max((s["id"] for s in spans), default=-1) + 1

    def innermost(t, among):
        best = None
        for s in among:
            if s["t0"] <= t <= s["t1"] and (best is None or s["t1"] - s["t0"] < best["t1"] - best["t0"]):
                best = s
        return best

    def add(name, t0, t1, par):
        nonlocal nid
        s = {"id": nid, "parent": par["id"] if par else -1, "exec": par["exec"] if par else -1,
             "name": name, "t0": t0, "t1": max(t0, t1)}
        nid += 1
        spans.append(s)
        return s

    harness = list(spans)
    batches = [add("micro_batch", b["t0"], b["t0"] + b["trigger_ms"] * 1000,
                   innermost(b["t0"], harness)) for b in res["batches"]]
    outer = harness + batches
    for q in res["queries"]:
        for phase in ("analysis", "optimization", "planning"):
            if phase in q["phases"]:
                t0, t1 = q["phases"][phase]
                add(f"plan.{phase}", t0, t1, innermost(t0, outer))
    jobs = {j["job"]: add("job", j["t0"], j["t1"], innermost(j["t0"], outer)) for j in res["jobs"]}
    for st in res["stages"]:
        add("stage", st["t0"], st["t1"], jobs.get(st["job"]) or innermost(st["t0"], outer))
    return spans


#: Span names grouped into the layers whose self time is reported.
SELF_GROUPS = {"pass": "pass", "build": "build", "action": "action",
               "plan.analysis": "plan", "plan.optimization": "plan", "plan.planning": "plan",
               "job": "job", "stage": "stage", "micro_batch": "micro_batch",
               "commit.merge": "commit", "commit.delete": "commit", "commit.compact": "commit",
               "commit.etl": "commit", "commit.publish": "commit", "commit.read": "commit_read"}


def _group(name: str) -> str:
    return "op" if name.startswith("op:") else SELF_GROUPS.get(name, "other")


def self_by_pass(spans, traced) -> list:
    """Per traced steady pass: its wall, the self time of each layer, and
    the sum of all self times. The `pass` layer's self time is the part of
    the pass no op covered (the harness's own loop)."""
    out = []
    for p in traced:
        inside = [s for s in spans if p["t0"] <= s["t0"] <= p["t1"]]
        groups: dict = {}
        for name, ms in self_times(inside).items():
            groups[_group(name)] = groups.get(_group(name), 0.0) + ms
        out.append({"pass": p["pass"], "wall_ms": (p["t1"] - p["t0"]) / 1000.0,
                    "self_ms": groups, "self_sum_ms": sum(groups.values())})
    return out


# ----------------------------------------------------------------- layers

def per_layer(res, spans=None) -> dict:
    """Per-layer numbers of a traced run (see the module docstring)."""
    sec = res["sections"]
    execs = res["execs"]
    traced = [p for p in sec.get("passes", []) if p["traced"] and p["kind"] == "steady"]
    ids = {p["pass"] for p in traced}

    def pass_of(t):
        for p in traced:
            if p["t0"] <= t <= p["t1"]:
                return p["pass"]
        return None

    def per_pass(records, value, when=lambda r: r["t0"], agg=sum):
        by = {i: [] for i in ids}
        for r in records:
            i = pass_of(when(r))
            if i is not None:
                by[i].append(value(r))
        return median((agg(v) if v else 0) for v in by.values()) if by else 0.0

    tex = [e for e in execs if e["pass"] in ids and e["ok"]]
    texs = {e["exec"] for e in tex}
    stages = [s for s in res["stages"] if s["exec"] in texs or pass_of(s["t0"]) is not None]
    phases = [{"t0": q["phases"][ph][0], "ms": (q["phases"][ph][1] - q["phases"][ph][0]) / 1000.0,
               "phase": ph} for q in res["queries"] for ph in ("analysis", "optimization", "planning")
              if ph in q["phases"]]
    batches = res["batches"]
    cg = lambda k: per_pass(tex, lambda e: e.get("codegen", {}).get(k, 0))  # noqa: E731
    run_ms = per_pass(stages, lambda s: s.get("task_run_ms", 0))
    op_ms = per_pass(tex, lambda e: e["t1"] - e["t0"]) / 1000.0

    # artifacts and memos, over the whole run
    all_ok = _ok(execs)
    memo_runs = [e for e in all_ok if e.get("memo")]
    built = [e for e in all_ok if e.get("artifact_versions", 0) > 0]
    cold = {e["op"]: e["ms"] for e in all_ok if e["kind"] == "cold"}
    steady_by_op: dict = {}
    for e in all_ok:
        if e["kind"] == "steady":
            steady_by_op.setdefault(e["op"], []).append(e["ms"])
    cold_extra = sum(max(0.0, cold[o] - median(v)) for o, v in steady_by_op.items()
                     if o in cold and any(e["memo"] for e in all_ok if e["op"] == o))

    commits = [e for e in tex if e["op"].startswith("lake_write/")]
    kind_ms = lambda k: median((e["ms"] for e in commits if e["op"] == f"lake_write/{k}"), 0.0)  # noqa: E731
    batch_bytes = {r["pass"]: r["batch_bytes"] for r in sec.get("rounds", [])}
    written = sum(e.get("bytes_written", 0) for e in commits)
    read_in = sum(batch_bytes.get(e["pass"], 0) for e in commits if e["op"] == "lake_write/merge")
    etl = [e["ms"] for e in all_ok if e["op"] == "lake_write/etl"]

    starts = {s["query"]: s["t"] for s in res["stream_starts"] if pass_of(s["t"]) is not None}
    first: dict = {}
    for b in batches:
        if b["query"] in starts:
            first[b["query"]] = min(first.get(b["query"], b["t0"]), b["t0"])
    bsum = lambda k: per_pass(batches, lambda b: b[k])  # noqa: E731

    on, off = typical_pass_s(res, traced=True), typical_pass_s(res, traced=False)
    overhead = on - off if on is not None and off is not None else 0.0
    probes = sec.get("probes", {})
    out = {
        "jvm.start_ms": (sec["jvm"]["main_us"] - sec["jvm"]["launched_us"]) / 1000.0,
        "session.create_ms": median(s["session_ms"] for s in sec["setup"]),
        "jvm.gc_ms": sec["jvm_end"]["gc_ms"],
        "jvm.peak_heap_mb": sec["jvm_end"]["peak_heap_mb"],
        "jvm.peak_rss_mb": sec["peak_rss_mb"],
        "host.anchor_s": median(probes.get("anchor_ms", []), 0.0) / 1000.0,
        "tables.resolve_ms": sum(probes.get("resolve_ms", [])),
        "tables.resolve_hit_ms": sum(probes.get("resolve_hit_ms", [])),
        "build.ms": per_pass(tex, lambda e: e.get("build_ms", 0.0)),
        "plan.analysis_ms": per_pass([x for x in phases if x["phase"] == "analysis"], lambda x: x["ms"]),
        "plan.optimization_ms": per_pass([x for x in phases if x["phase"] == "optimization"],
                                         lambda x: x["ms"]),
        "plan.planning_ms": per_pass([x for x in phases if x["phase"] == "planning"], lambda x: x["ms"]),
        "codegen.compiles": cg("compiles"),
        "codegen.compile_ms": cg("compile_ms"),
        "codegen.class_bytes": cg("class_bytes"),
        "exec.ms": per_pass(tex, lambda e: e.get("action_ms", e["ms"] + e.get("read_ms", 0.0))),
        "exec.jobs": per_pass(res["jobs"], lambda j: 1),
        "exec.stages": per_pass(stages, lambda s: 1),
        "exec.tasks": per_pass(stages, lambda s: s["tasks"]),
        "exec.task_run_ms": run_ms,
        "exec.task_cpu_ms": per_pass(stages, lambda s: s.get("task_cpu_ms", 0)),
        "exec.gc_ms": per_pass(stages, lambda s: s.get("gc_ms", 0)),
        "exec.scheduler_delay_ms": per_pass(stages, lambda s: s["scheduler_delay_ms"]),
        "exec.shuffle_read_bytes": per_pass(stages, lambda s: s.get("shuffle_read_bytes", 0)),
        "exec.shuffle_write_bytes": per_pass(stages, lambda s: s.get("shuffle_write_bytes", 0)),
        "exec.spill_bytes": per_pass(stages, lambda s: s.get("spill_bytes", 0)),
        "exec.input_bytes": per_pass(stages, lambda s: s.get("input_bytes", 0)),
        "exec.slot_busy_ratio": run_ms / (op_ms * sec.get("cores", 1)) if op_ms else 0.0,
        "artifact.builds": sum(e.get("artifact_versions", 0) for e in execs),
        "artifact.build_ms": sum(e["ms"] for e in built),
        "artifact.read_ms": per_pass([e for e in tex if e.get("memo")], lambda e: e["ms"]),
        "artifact.hit_ratio": (1.0 - sum(1 for e in memo_runs if e in built) / len(memo_runs)
                               if memo_runs else 0.0),
        "memo.cold_extra_ms": cold_extra,
        "commit.merge_ms": kind_ms("merge"),
        "commit.delete_ms": kind_ms("delete"),
        "commit.compact_ms": kind_ms("compact"),
        "commit.read_ms": kind_ms("read"),
        "commit.bytes_written": per_pass(commits, lambda e: e.get("bytes_written", 0)),
        "commit.files_written": per_pass(commits, lambda e: e.get("files_written", 0)),
        "commit.versions": sec.get("table_versions", 0),
        "commit.write_amplification": written / read_in if read_in else 0.0,
        "medallion.write_all_ms": etl[0] if etl else 0.0,
        "stream.batches": per_pass(batches, lambda b: 1),
        "stream.trigger_ms": bsum("trigger_ms"),
        "stream.add_batch_ms": bsum("add_batch_ms"),
        "stream.query_planning_ms": bsum("query_planning_ms"),
        "stream.wal_commit_ms": bsum("wal_commit_ms"),
        "stream.commit_offsets_ms": bsum("commit_offsets_ms"),
        "stream.latest_offset_ms": bsum("latest_offset_ms"),
        "stream.state_rows": per_pass(batches, lambda b: b["state_rows"], agg=max),
        "stream.state_commit_ms": bsum("state_commit_ms"),
        "stream.state_memory_bytes": per_pass(batches, lambda b: b["state_memory_bytes"], agg=max),
        "stream.start_to_first_batch_ms": median(((first[q] - t) / 1000.0 for q, t in starts.items()
                                                  if q in first), 0.0),
        "trace.overhead_ms": overhead * 1000.0,
    }
    by_pass = self_by_pass(spans if spans is not None else attach_listener_spans(res), traced)
    for g in sorted(set(SELF_GROUPS.values()) | {"op", "other"}):
        out[f"self.{g}_ms"] = median((b["self_ms"].get(g, 0.0) for b in by_pass), 0.0)
    return out
