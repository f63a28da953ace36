#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source with sbt (`perfbench/harness`, which depends on the
root project); later runs reuse the build while the sources are unchanged.
A run generates its inputs from the seed, starts one JVM (the harness)
with one `local[<nproc>]` Spark session, checks every output, writes the
full per-op map to `.perfbench/out/`, prints the workload's figures, and
prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` they are its per-layer metrics.
"""
from __future__ import annotations

import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
#: Every run must end within this many seconds, build excluded.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
SETUP_REPS = 5
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------- build

def source_stamp() -> str:
    """Digest of every file the build reads."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*",
            "perfbench/harness/build.sbt", "perfbench/harness/project/*.properties",
            "perfbench/harness/src/**/*"]
    h = hashlib.sha256()
    for p in sorted({f for pat in pats for f in glob.glob(os.path.join(ROOT, pat), recursive=True)}):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build() -> str:
    """Build when the sources changed; return the harness classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no sbt project with src/main/scala at {ROOT}; run from the repository root")
    if not os.path.isfile(os.path.join(HARNESS, "build.sbt")):
        die(f"harness build file missing under {HARNESS}")
    os.makedirs(STATE, exist_ok=True)
    stamp_path = os.path.join(STATE, "build.stamp")
    cp_path = os.path.join(STATE, "classpath.txt")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(stamp_path) and os.path.exists(cp_path):
            with open(stamp_path) as f, open(cp_path) as g:
                cp = g.read().strip()
                if f.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                    return cp
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/package",
               "export harness/Runtime/fullClasspath"]
        log_path = os.path.join(STATE, "build.log")
        with open(log_path, "w") as log:
            try:
                r = subprocess.run(cmd, cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                                   stderr=log, text=True, timeout=BUILD_LIMIT_S,
                                   stdin=subprocess.DEVNULL)
            except FileNotFoundError:
                die("sbt not found on PATH")
            except subprocess.TimeoutExpired:
                die(f"build exceeded {BUILD_LIMIT_S}s; see {log_path}")
            log.write(r.stdout)
        lines = [l for l in r.stdout.splitlines() if l.strip()]
        if r.returncode != 0 or not lines:
            die(f"build failed (exit {r.returncode}); see {log_path}")
        cp = lines[-1].strip()
        if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
            die(f"build printed no usable classpath; see {log_path}")
        with open(cp_path, "w") as f:
            f.write(cp)
        with open(stamp_path, "w") as f:
            f.write(stamp)
        return cp


# --------------------------------------------------------------------- run

def heap_size() -> str:
    """A quarter of physical memory, between 2 and 4 GiB."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        total = 8 << 30
    return f"{max(2, min(4, total // (4 << 30)))}g"


def graft_tmp_dirs(data_dir: str) -> list[str]:
    """Fixed `/tmp/graft_*` staging directories the program keys by the
    input directory (its streaming sources, checkpoints and merge-on-read
    demo tables). They are removed after the run, so no run sees another's
    state."""
    key = "".join(c if c.isalnum() else "_" for c in data_dir)
    return [p for p in glob.glob("/tmp/graft_*/*") if os.path.basename(p).startswith(key[:40])]


def run_harness(cp: str, plan_path: str, work: str, deadline: float):
    """Run the harness JVM; return (exit code, peak RSS in MB, log path)."""
    log_path = os.path.join(work, "harness.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.ui.enabled=false"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", plan_path])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        while True:
            pid, status, ru = os.wait4(proc.pid, os.WNOHANG)
            if pid == proc.pid:
                break
            if time.time() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                os.wait4(proc.pid, 0)
                return None, None, log_path
            time.sleep(0.05)
    proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, ru.ru_maxrss / 1024.0, log_path


def tail(path: str, n: int = 40) -> str:
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def main(argv=None) -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload not in workloads.WORKLOADS:
        die(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    spec = load_spec() if os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")) else None
    w = workloads.WORKLOADS[args.workload]

    cp = build()
    deadline = time.time() + RUN_LIMIT_S

    work = os.path.join(STATE, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "data")
    try:
        plan, source_bytes = workloads.make_plan(args.workload, args.seed, work)
        plan.update({"results": os.path.join(work, "results.json"),
                     "cores": os.cpu_count() or 1, "trace": bool(args.trace),
                     "seconds": args.seconds, "setup_reps": SETUP_REPS})
        plan_path = os.path.join(work, "plan.json")
        plan["launched_at_us"] = int(time.time() * 1e6)
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        code, rss_mb, log_path = run_harness(cp, plan_path, work, deadline)
        if code is None:
            print(tail(log_path), file=sys.stderr)
            die(f"harness exceeded the {RUN_LIMIT_S}s run limit", 3)
        if not os.path.exists(plan["results"]):
            print(tail(log_path), file=sys.stderr)
            die(f"harness exited {code} without results", 3)
        with open(plan["results"]) as f:
            res = json.load(f)
        res["sections"]["cores"] = plan["cores"]
        res["sections"]["peak_rss_mb"] = rss_mb
        report = evaluate(args, w, plan, res, code, source_bytes)
        if code != 0:
            print(tail(log_path), file=sys.stderr)
    finally:
        for p in graft_tmp_dirs(data_dir):
            shutil.rmtree(p, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    full_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    report["full"]["wall_s"] = time.time() - t_start
    with open(full_path, "w") as f:
        json.dump(report["full"], f, indent=1, default=str)
    for line in report["lines"]:
        print(line)
    print(f"full per-op map: {os.path.relpath(full_path, ROOT)}")

    wanted = (spec["per_layer"] if args.trace else spec["end_to_end"]) if spec else []
    values = report["per_layer"] if args.trace else report["end_to_end"]
    out_metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            die(f"metric {m['name']} was not measured", 4)
        out_metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": out_metrics}))
    return 0


def evaluate(args, w, plan, res, code, source_bytes) -> dict:
    """Checks, metrics and the full per-op map of one run."""
    problems = []
    for f in res["failures"]:
        problems.append(f"{f['op']} ({f['phase']}): {f['error']}")
    checked = {}
    if args.workload == "lake_write":
        checked = checks.lake_check(plan["data_dir"], os.path.join(plan["work_dir"], "check"),
                                    plan["batches"], res)
    else:
        oracle = res["sections"].get("oracle_sql", {})
        checked = checks.oracle_checks(w["ops"], oracle, plan["data_dir"],
                                       os.path.join(plan["work_dir"], "check"))
        retention = checks.plan_retention(res["sections"].get("plan_kinds", {}))
        for op, why in retention.items():
            if why:
                problems.append(f"{op}: plan retention: {why}")
        res["sections"]["plan_retention"] = retention
    for op, why in checked.items():
        if why:
            problems.append(f"{op}: output check: {why}")
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)

    setup_steps = len(res["sections"].get("setup", []))
    attempted = len(res["execs"]) + setup_steps + len(checked)
    failed_execs = sum(1 for e in res["execs"] if not e["ok"])
    failed_checks = sum(1 for v in checked.values() if v)
    failed_other = sum(1 for f in res["failures"] if f["phase"] not in ("cold", "steady"))
    retention_bad = sum(1 for v in res["sections"].get("plan_retention", {}).values() if v)
    failed = failed_execs + failed_checks + failed_other + retention_bad
    e2e = metrics.end_to_end(res, workloads.summary_ops(w), source_bytes)
    extras = metrics.workload_extras(args.workload, res)
    extras["failed_ratio"] = failed / attempted if attempted else 1.0
    spans = metrics.attach_listener_spans(res) if args.trace else []
    layers = metrics.per_layer(res, spans) if args.trace else {}
    traced = [p for p in res["sections"].get("passes", []) if p["traced"] and p["kind"] == "steady"]
    self_ms = metrics.self_by_pass(spans, traced) if args.trace else []
    lines = [f"{k} = {v} {metrics.E2E_UNITS[k]}" for k, v in e2e.items()]
    lines += [f"{k} = {v}" for k, v in extras.items()]
    if args.trace:
        lines += [f"{k} = {v}" for k, v in layers.items()]
    # a traced run's job and stage counters, per op execution
    layers_of: dict = {}
    for st in res["stages"]:
        agg = layers_of.setdefault(st["exec"], {"stages": 0, "tasks": 0})
        agg["stages"] += 1
        agg["tasks"] += st["tasks"]
        for k, v in st.items():
            if k.endswith(("_ms", "_bytes")):
                agg[k] = agg.get(k, 0) + v
    for j in res["jobs"]:
        layers_of.setdefault(j["exec"], {"stages": 0, "tasks": 0})
        layers_of[j["exec"]]["jobs"] = layers_of[j["exec"]].get("jobs", 0) + 1
    by_op = {}
    for e in res["execs"]:
        if e["exec"] in layers_of:
            e["exec_layers"] = layers_of[e["exec"]]
        d = by_op.setdefault(e["op"], {"memo_backed": e.get("memo", False), "cold_ms": None,
                                        "steady_ms": [], "execs": []})
        if e["kind"] == "cold":
            d["cold_ms"] = e["ms"] if e["ok"] else None
        elif e["ok"]:
            d["steady_ms"].append(e["ms"])
        d["execs"].append(e)
    full = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "sf": w["sf"], "cores": plan["cores"],
        "harness_exit": code, "end_to_end": e2e, "extras": extras,
        "per_layer": layers, "self_by_pass": self_ms, "passes": metrics.passes(res),
        "setup": res["sections"].get("setup"), "ops": by_op,
        "checks": checked, "plan_retention": res["sections"].get("plan_retention"),
        "problems": problems, "sections": {k: v for k, v in res["sections"].items()
                                           if k != "oracle_sql"},
    }
    if args.trace:
        full["spans"] = spans
    return {"correct": not problems and code == 0, "attempted": attempted, "failed": failed,
            "end_to_end": e2e, "per_layer": layers, "lines": lines, "full": full}


if __name__ == "__main__":
    sys.exit(main())
