#!/usr/bin/env python3
"""graft benchmark: four seeded workloads, end to end and layer by layer.

    python3 perfbench/run.py --workload olap_sf0.1 --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --regen sql_sf0.01      # rewrite expected digests

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt into `.bench_build/`; later runs reuse that build while
the sources are unchanged. Each run starts a fresh JVM on local[nproc],
sets the session up the way `graft.Bench` does, runs one cold pass over
the workload's ops, then ops untimed for WARM_S seconds while the JIT
settles, then measured ops (closed loop, one client) until `--seconds` are
up. Every op's result is checked. The last line of standard
output is one JSON object: end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`. See README.md in this directory.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["olap_sf0.1", "text_sf0.1", "sql_sf0.01", "dml_sf0.01"]
HEAP = "3g"
# untimed seconds of ops between the cold pass and the measured window
WARM_S = 10
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import oracle  # noqa: E402


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------- build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Build once per source state; return (classpath, jvm options)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no engine sources here ({need} missing): run from the root of a graft checkout")
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()
    launch = os.path.join(BUILD, "launch.txt")
    key_file = os.path.join(BUILD, "build.key")
    os.makedirs(BUILD, exist_ok=True)
    if not (os.path.exists(launch) and os.path.exists(key_file)
            and open(key_file).read() == key):
        log = os.path.join(BUILD, "build.log")
        t = time.time()
        with open(log, "w") as out:
            rc = _call(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLauncher"],
                       HERE, out, BUILD_TIMEOUT_S)
        if rc != 0 or not os.path.exists(launch):
            sys.stderr.write(_tail(log))
            die(f"build failed (exit {rc}); log in {log}")
        with open(key_file, "w") as fh:
            fh.write(key)
        print(f"[perfbench] built in {time.time() - t:.1f} s", file=sys.stderr)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def _tail(path, n=40):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


_child = None


def _stop(signum, _frame):
    """On SIGTERM or SIGINT, take the running sbt or JVM down first."""
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


def _call(cmd, cwd, out, timeout):
    """Run cmd in its own process group; kill the group on timeout."""
    global _child
    p = _child = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ---------------------------------------------------------------- one run

def steal_ticks():
    """CPU time the hypervisor gave to other guests, in clock ticks."""
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        return int(f[8]), sum(int(x) for x in f[1:9])
    except (OSError, IndexError, ValueError):
        return 0, 0


def launch_jvm(workload, seed, seconds, trace, mode="run"):
    cp, opts = build()
    steal0, total0 = steal_ticks()
    tag = f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    out_json = os.path.join(work, "result.json")
    log = os.path.join(BUILD, "logs", tag + ".log")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + opts + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--warm", str(WARM_S), "--mode", mode,
        "--cores", str(cores()),
        "--bench", HERE, "--work", work, "--out", out_json,
        "--t0-ms", str(int(time.time() * 1000))]
    try:
        with open(log, "w") as out:
            rc = _call(cmd, ROOT, out, RUN_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out_json):
            sys.stderr.write(_tail(log))
            die(f"{workload} run failed (exit {rc}); log in {log}")
        with open(out_json) as fh:
            res = json.load(fh)
        steal1, total1 = steal_ticks()
        res["env"]["steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------- metrics

def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def pctl(xs, p):
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(p * len(s)) - 1))]


def measured(res, traced):
    return [s for s in res["samples"] if s["phase"] == "measured" and s["traced"] == traced]


def rate(res, traced, first):
    """Ops per second over the whole passes of a traced run from `first` on."""
    passes = [p for p in res["passes"] if p.get("pass", -1) >= first and p["traced"] == traced]
    nums = {p["pass"] for p in passes}
    ops = sum(1 for s in measured(res, traced) if s["pass"] in nums)
    total = sum(p["wall_s"] for p in passes)
    return ops / total if total else 0.0


def end_to_end(res):
    """The end-to-end metrics: name -> (value, unit, n, iqr)."""
    samples = measured(res, False)
    by_op = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s["ms"])
    med = {op: statistics.median(v) for op, v in by_op.items()}
    # an op run once in the window has no latency to compare with its median
    ratios = [s["ms"] / med[s["op"]] for s in samples if len(by_op[s["op"]]) > 1] or [1.0]
    # the rate of a pass in which every op takes its median latency: the
    # medians keep a burst of load on the host from moving the whole run
    ops_s = 1000 * len(med) / sum(med.values())
    # the spreads between the passes, whole or cut, that the window holds
    per_pass, pass_geo = [], []
    for p in sorted({s["pass"] for s in samples}):
        xs = [s["ms"] for s in samples if s["pass"] == p]
        per_pass.append(1000 * len(xs) / sum(xs))
        pass_geo.append(math.exp(sum(math.log(x) for x in xs) / len(xs)))
    geo = math.exp(sum(math.log(m) for m in med.values()) / len(med))
    setups = res.get("setup_samples", [res["setup_s"]])
    return {
        "setup_s": (statistics.median(setups), "s", len(setups), iqr(setups)),
        "warmup_s": (res["warmup_s"], "s", 1, 0.0),
        "ops_per_s": (ops_s, "1/s", len(per_pass), iqr(per_pass)),
        "geomean_ms": (geo, "ms", len(samples), iqr(pass_geo)),
        "tail_ratio_p90": (pctl(ratios, 0.9), "ratio", len(ratios), iqr(ratios)),
        "retained_heap_mb": (res["retained_heap_mb"], "MB", 1, 0.0),
    }


def per_layer(res):
    """The per-layer metrics of a traced run: name -> (value, unit)."""
    traces = res["op_traces"]
    npass = max(1, len({t["pass"] for t in traces}))

    def per_pass(key):
        return sum(t.get(key, 0.0) for t in traces) / npass

    untraced = rate(res, False, first=2)
    traced = rate(res, True, first=2)
    chars_in = sum(t.get("chars_in", 0.0) for t in traces)
    wall_ms = sum(t["wall_ms"] for t in traces)
    m = {
        "sqlcompat.build_ms": (per_pass("build_ms"), "ms"),
        "sqlcompat.dialect_ms": (per_pass("dialect_ms"), "ms"),
        "sqlcompat.match_recognize_ms": (per_pass("match_recognize_ms"), "ms"),
        "sqlcompat.dispatch_ms": (per_pass("dispatch_ms"), "ms"),
        "sqlcompat.fired": (per_pass("fired"), "count"),
        "sqlcompat.growth": ((sum(t.get("chars_out", 0.0) for t in traces) / chars_in)
                             if chars_in else 1.0, "ratio"),
        "catalyst.parse_ms": (per_pass("parse_ms"), "ms"),
        "catalyst.analyze_ms": (per_pass("analyze_ms"), "ms"),
        "catalyst.optimize_ms": (per_pass("optimize_ms"), "ms"),
        "catalyst.plan_ms": (per_pass("plan_ms"), "ms"),
        "catalyst.plan_nodes": (per_pass("plan_nodes"), "count"),
        "catalyst.codegen_compiles": (res["codegen_cold_compiles"], "count"),
        "catalyst.codegen_ms": (res["codegen_cold_compiles"] * res["codegen_mean_ms"], "ms"),
        "exec.stages": (per_pass("stages"), "count"),
        "exec.tasks": (per_pass("tasks"), "count"),
        "exec.task_run_ms": (per_pass("task_run_ms"), "ms"),
        "exec.task_cpu_ms": (per_pass("task_cpu_ms"), "ms"),
        "exec.sched_delay_ms": (per_pass("sched_delay_ms"), "ms"),
        "exec.deser_ms": (per_pass("deser_ms"), "ms"),
        "exec.gc_ms": (per_pass("gc_ms"), "ms"),
        "exec.shuffle_write_bytes": (per_pass("shuffle_write_bytes"), "bytes"),
        "exec.shuffle_read_bytes": (per_pass("shuffle_read_bytes"), "bytes"),
        "exec.fetch_wait_ms": (per_pass("fetch_wait_ms"), "ms"),
        "exec.spill_bytes": (per_pass("spill_bytes"), "bytes"),
        "exec.task_skew": (max([t.get("task_skew", 1.0) for t in traces] or [1.0]), "ratio"),
        "exec.core_busy": ((sum(t.get("task_run_ms", 0) for t in traces) / (wall_ms * res["cores"]))
                           if wall_ms else 0.0, "ratio"),
        "exec.driver_ms": (per_pass("driver_ms"), "ms"),
    }
    for k, v in res["kernels"].items():
        m[k] = (v, "ns/byte" if k.endswith("_per_byte") else "ns/doc")
    # engine: set-up, cleanup, and the write path of dml_sf0.01
    per_row = {t: s["bytes"] / max(1, s["rows"]) for t, s in res["tables_at_setup"].items()}
    writes = [t for t in traces if "rows_changed" in t]
    stored = sum(t["rows_changed"] * per_row[t["table"]] for t in writes)
    out_bytes = sum(t.get("output_bytes", 0) for t in writes)
    m.update({
        "engine.session_ms": (res["session_ms"], "ms"),
        "engine.register_ms": (res["register_ms"], "ms"),
        "engine.cleanup_ms": (per_pass("cleanup_ms"), "ms"),
        "engine.rows_changed": (sum(t["rows_changed"] for t in writes) / npass, "count"),
        "engine.output_bytes": (out_bytes / npass, "bytes"),
        "engine.table_files": (sum(f["stats"]["files"] for f in res["final_state"]), "count"),
        "write_amp": (out_bytes / stored if stored else 0.0, "ratio"),
    })
    for kind in ("insert", "update", "delete", "merge"):
        xs = [t["wall_ms"] for t in writes if t["op"].startswith(kind)]
        m[f"engine.dml_ms.{kind}"] = (statistics.median(xs) if xs else 0.0, "ms")
    m["trace.overhead"] = (untraced / traced if traced else 0.0, "ratio")
    return m


# ---------------------------------------------------------------- checks

def check(res):
    """Fold the DuckDB replay of dml_sf0.01 into the run's failure count."""
    if res["workload"].startswith("dml"):
        data = os.path.join(HERE, "data", "sf0.01")
        bad = oracle.replay_dml(data, res["dml_setup"], res["dml_log"], res["final_state"])
        res["failures"] += bad
        res["failed"] += len(bad)
    for f in res["failures"][:10]:
        print("[perfbench] FAIL " + json.dumps(f)[:400])
    return res


def regen(workload, seed):
    """Rewrite expected/<workload>.json from one cold pass of this tree.

    Ops with an oracle in `SparkEntry.oracleSql` must match DuckDB; SQL
    ops named after an inventory entry must match that entry run by name.
    """
    res = launch_jvm(workload, seed, 1, 0, mode="expect")
    if res["failed"]:
        die("ops failed: " + json.dumps(res["failures"])[:2000])
    data = os.path.join(HERE, "data", "sf0.1" if workload.endswith("sf0.1") else "sf0.01")
    con = oracle.connect(data)
    bad = 0
    for op, d in res["digests"].items():
        if op in res["oracles"]:
            want = oracle.query_digest(con, res["oracles"][op])
            ok = want == d.split(";")[-1]
            print(f"{'ok  ' if ok else 'BAD '} duckdb  {op}")
            bad += not ok
        if op in res["named_digests"]:
            ok = res["named_digests"][op] == d.split(";")[-1]
            print(f"{'ok  ' if ok else 'BAD '} by-name {op}")
            bad += not ok
    if bad:
        die(f"{bad} digests disagree; expected/{workload}.json left unchanged")
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    with open(os.path.join(HERE, "expected", workload + ".json"), "w") as fh:
        json.dump(res["digests"], fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote expected/{workload}.json ({len(res['digests'])} ops)")


# ---------------------------------------------------------------- report

def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def report(res, trace):
    env = res["env"]
    print(f"[perfbench] workload={res['workload']} seed={res['seed']} trace={trace} "
          f"nproc={res['cores']} heap_mb={env['max_heap_mb']} jvm={env['jvm']!r} "
          f"spark={env['spark']} commit={git_commit()} "
          f"loadavg_before={env['load_before']} loadavg_after={env['load_after']} "
          f"cpu_steal_pct={env['steal_pct']:.1f}")
    print(f"[perfbench] attempted={res['attempted']} failed={res['failed']} "
          f"fail_ratio={res['failed'] / max(1, res['attempted']):.4f} "
          f"measured_s={res['measured_s']:.2f} "
          f"session_ms={res['session_ms']:.0f} register_ms={res['register_ms']:.0f} "
          f"ctas_ms={res['ctas_ms']:.0f} walls_s="
          f"{[(p['phase'], round(p['wall_s'], 2)) for p in res['passes']]}")
    if trace:
        metrics = per_layer(res)
        first = min((t["pass"] for t in res["op_traces"]), default=None)
        print("[perfbench] stages of the first traced pass:")
        print(f"  {'op':28} {'stage':>5} {'tasks':>5} {'wall_ms':>8} {'run_ms':>8} {'cpu_ms':>7} "
              f"{'shuf_rd':>9} {'shuf_wr':>9} {'spill':>7} {'skew':>5}  name")
        for s in res["stages"]:
            if s["pass"] == first:
                print(f"  {s['op'][:28]:28} {s['stage']:>5} {s['tasks']:>5} {s['wall_ms']:>8} "
                      f"{s['run_ms']:>8} {s['cpu_ms']:>7} {s['shuffle_read']:>9} "
                      f"{s['shuffle_write']:>9} {s['spill']:>7} {s['skew']:>5.2f}  {s['name']}")
        for k, (v, unit) in metrics.items():
            print(f"  {k:40} {v:14.4f} {unit}")
        return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    metrics = end_to_end(res)
    cold = {s["op"]: s["ms"] for s in res["samples"] if s["pass"] == 0}
    by_op = {}
    for s in measured(res, False):
        by_op.setdefault(s["op"], []).append(s["ms"])
    print(f"  {'op':32} {'cold_ms':>9} {'n':>3} {'median_ms':>10} {'min_ms':>9} {'max_ms':>9}")
    for op in sorted(by_op):
        xs = by_op[op]
        print(f"  {op[:32]:32} {cold.get(op, 0):9.1f} {len(xs):>3} {statistics.median(xs):10.1f} "
              f"{min(xs):9.1f} {max(xs):9.1f}")
    print(f"  {'metric':18} {'value':>12} {'unit':6} {'n':>5} {'iqr':>10}")
    for k, (v, unit, n, q) in metrics.items():
        print(f"  {k:18} {v:12.4f} {unit:6} {n:>5} {q:10.4f}")
    return {k: {"value": v, "unit": u} for k, (v, u, _, _) in metrics.items()}


def run_one(workload, seed, seconds, trace):
    res = check(launch_jvm(workload, seed, seconds, trace))
    return res, report(res, trace)


def main():
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--regen", choices=WORKLOADS[:3])
    a = ap.parse_args()
    if a.regen:
        return regen(a.regen, a.seed)
    if not a.workload:
        die("--workload is required")
    names = WORKLOADS if a.workload == "all" else [a.workload]
    correct, attempted, failed, metrics = True, 0, 0, {}
    for w in names:
        res, m = run_one(w, a.seed, a.seconds, a.trace)
        attempted += res["attempted"]
        failed += res["failed"]
        correct = correct and res["failed"] == 0
        metrics.update(m if len(names) == 1 else {f"{w}.{k}": v for k, v in m.items()})
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
