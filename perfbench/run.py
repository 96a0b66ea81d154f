#!/usr/bin/env python3
"""Lake benchmark: runs one workload's ops through graft.SparkEntry.queries
and prints its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run compiles the engine and
the harness (perfbench/build.py) into .bench_build/; inputs are generated
from the seed (perfbench/gen.py) and cached under .bench_build/data.
Each run works in its own scratch directory
(tmpdir, Spark local dirs, warehouse, Derby home) and removes it at exit.

With --trace 0 the last line carries the end-to-end metrics, with
--trace 1 the per-layer metrics; the spans of every run are kept in
.bench_build/traces. The exit code is non-zero when an op throws or
fails its oracle check.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

CPUS = 4
JVM_TIMEOUT_S = 170
KEEP_DATASETS = 4
# The JVM the engine runs with (build.sbt, tools/run_main.sh): default
# tiered JIT and G1, 8 GB heap. Two flags neutralise side effects of the
# harness itself. MaxHeapFreeRatio=100: the full GCs the harness forces
# between ops would otherwise shrink the heap to about three times the
# live data, and G1 then ran concurrent marking through the next op (12.5
# of 111 CPU-s in one curate run; 2.1 with the flag, pass CPU 15-16 s ->
# 11 s). -XX:-UsePerfData keeps the JVM from writing its hsperfdata file
# outside the checkout.
JVM_FLAGS = ["-Xmx8g", "-XX:MaxHeapFreeRatio=100", "-XX:-UsePerfData"]
# scale: multiple of the sf0.1 cardinalities. ops: op -> the package its
# operator lives in, for <module>.busy_s and <module>.ops. pass_s: the
# nominal length of one pass; a run makes round(seconds / pass_s) timed
# passes (at least MIN_PASSES), a number that does not depend on how fast
# the passes actually are.
#
# The ops and scales were chosen from traced runs (perfbench/README.md has
# the figures): on ingest, executor tasks take at most a quarter of each
# op's process CPU and a third to two thirds of its wall falls between
# jobs; on curate, executor tasks take about half of the CPU and the
# k-core loop shuffles about 12 MB a pass.
WORKLOADS = {
    "ingest": {"scale": 0.1, "pass_s": 6, "ops": {
        "etl_promote_e2e": "etl", "t1_stream_ingest": "streaming",
        "s3_csv_tab_filelist": "sources", "cat_databases_assemble": "catalog"}},
    "curate": {"scale": 0.5, "pass_s": 6, "ops": {
        "dedup_embedding": "dedup", "graph_kcore": "graph"}},
}


MIN_PASSES = 2
# Untimed passes in set-up: the first is cold and its results are checked;
# the second lets the JIT settle, since a pass right after the cold one
# still ran 1.1-1.3x as long as a settled one.
WARM_PASSES = 2


def pass_counts(wl, seconds, trace):
    """(untraced, traced) pass counts of a run. A traced run alternates
    untraced and traced passes, about as many passes in all as an
    untraced run, so that the two costs about the same."""
    n = max(MIN_PASSES, round(seconds / wl["pass_s"]))
    if trace:
        return (n + 1) // 2, (n + 1) // 2
    return n, 0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def java(root, main, args, cwd, env_extra, jvm_props, timeout):
    """Run a class from the benchmark classpath; kill it on timeout."""
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd = (["java"] + opens + JVM_FLAGS +
           [f"-D{k}={v}" for k, v in jvm_props.items()] +
           ["-cp", build.classpath(root), main] + args)
    env = dict(os.environ, **env_extra)
    with open(os.path.join(cwd, "jvm.log"), "ab") as logf:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf, stderr=logf)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM: never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        tail = open(os.path.join(cwd, "jvm.log"), errors="replace").read()[-3000:]
        raise RuntimeError(f"{main} exited with {code}:\n{tail}")


def dataset(root, scale, seed):
    """Generated inputs for (scale, seed), built once and cached."""
    base = os.path.join(root, ".bench_build", "data")
    path = os.path.join(base, f"x{scale}-seed{seed}")
    if os.path.isfile(os.path.join(path, "_READY")):
        os.utime(path)
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    gen.build(tmp, scale, seed)
    open(os.path.join(tmp, "_READY"), "w").close()
    os.rename(tmp, path)
    log(f"generated inputs x{scale} seed {seed} in {time.time() - t0:.1f}s")
    kept = sorted((d for d in os.listdir(base) if not d.endswith(".tmp")),
                  key=lambda d: os.path.getmtime(os.path.join(base, d)))
    for old in kept[:-KEEP_DATASETS]:
        shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    return path


def spread_note(values):
    s = sorted(values)
    return f"median {statistics.median(s):.4g} max {s[-1]:.4g} n={len(s)}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # turn SIGTERM into an exit, so the JVM is stopped and the scratch removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    wl = WORKLOADS[a.workload]

    try:
        build.build(root)
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        sys.exit(f"[perfbench] build failed: {e}")
    deadline = time.time() + JVM_TIMEOUT_S

    scratch = os.path.join(root, ".bench_build", f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("tmp", "local", "derby"):
        os.makedirs(os.path.join(scratch, d))
    try:
        data = dataset(root, wl["scale"], a.seed)
        t0 = time.time()
        out = os.path.join(scratch, "out")
        os.makedirs(out)
        passes, traced = pass_counts(wl, a.seconds, a.trace)
        java(root, "perfbench.LakeBench",
             ["--data", data, "--out", out, "--ops", ",".join(wl["ops"]),
              "--warm-passes", str(WARM_PASSES), "--passes", str(passes),
              "--traced-passes", str(traced),
              "--cpus", str(CPUS), "--launch-ms", str(int(time.time() * 1000))],
             scratch, {"SPARK_LOCAL_DIRS": os.path.join(scratch, "local")},
             {"java.io.tmpdir": os.path.join(scratch, "tmp"),
              "derby.system.home": os.path.join(scratch, "derby"),
              "derby.stream.error.file": os.path.join(scratch, "derby", "derby.log")},
             deadline - time.time())
        log(f"benchmark JVM ran {time.time() - t0:.1f}s")
        with open(os.path.join(out, "result.json")) as f:
            result = json.load(f)
        with open(os.path.join(out, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f if line.strip()]
        t0 = time.time()
        verdict = oracle.check(data, os.path.join(out, "results"), result["oracles"],
                               list(wl["ops"]))
        log(f"oracle check of {len(verdict)} ops in {time.time() - t0:.1f}s")
        traces = os.path.join(root, ".bench_build", "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(
            traces, f"{a.workload}-seed{a.seed}-trace{a.trace}.spans.jsonl"))
    except (RuntimeError, OSError, ValueError, KeyError) as e:
        sys.exit(f"[perfbench] run failed: {e}")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    report(a, wl, result, spans, verdict)


def report(a, wl, result, spans, verdict):
    failed = {}
    for op, err in verdict.items():
        if err:
            failed[op] = f"oracle check: {err}"
    calls = [o for p in result["warm"] + result["passes"] for o in p["ops"]]
    for o in calls:
        if o["error"]:
            failed.setdefault(o["op"], f"threw: {o['error']}")
    timed = [p for p in result["passes"] if not p["traced"]]
    attempted = len(calls) + len(verdict)
    n_failed = sum(1 for o in calls if o["error"]) + \
        sum(1 for e in verdict.values() if e)

    rows = [layers.pass_e2e(p, result["input_bytes"]) for p in timed]
    e2e = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    e2e["setup_s"] = result["setup_s"]
    print(f"workload {a.workload} seed {a.seed} scale x{wl['scale']} "
          f"ops {len(wl['ops'])} passes {len(timed)} trace {a.trace}")
    for k, unit in layers.END_TO_END.items():
        note = (f"n=1, session start {result['session_s']:.2f} s" if k == "setup_s"
                else spread_note([r[k] for r in rows]))
        print(f"  {k:<16} {e2e[k]:>12.4f} {unit:<6} {note}")
    print("  pass walls (s): " + " ".join(f"{r['wall_s']:.2f}" for r in rows))
    print("  pass cpu (s):   " + " ".join(f"{r['cpu_s']:.2f}" for r in rows))
    print("  pass jit (s):   " + " ".join(
        f"{sum(o['jit_s'] for o in p['ops']):.2f}" for p in timed))
    print("  warm pass walls (s): " + " ".join(
        f"{sum(o['wall_s'] for o in p['ops']):.2f}" for p in result["warm"]))
    print("  host steal, CPU-s per warm and timed pass: " + " ".join(
        f"{p['steal_s']:.2f}" for p in result["warm"] + timed))
    print(f"  {'failed_op_ratio':<16} {n_failed / attempted:>12.4f} {'ratio':<6} "
          f"{n_failed}/{attempted} op calls and oracle checks")
    cold = {o["op"]: o["wall_s"] for o in result["warm"][0]["ops"]}
    for op in wl["ops"]:
        walls = [o["wall_s"] for p in timed for o in p["ops"] if o["op"] == op]
        cpus = [o["cpu_s"] for p in timed for o in p["ops"] if o["op"] == op]
        print(f"    {op:<28} {statistics.median(walls):8.3f} s  "
              f"cpu {statistics.median(cpus):7.3f} s  cold pass {cold[op]:7.3f} s  "
              f"{'FAIL ' + failed[op] if op in failed else 'ok'}")

    if a.trace:
        values = layers.per_layer(result, spans, wl["ops"])
        metrics = {k: {"value": v, "unit": layers.unit_of(k)} for k, v in values.items()}
        print("  traced, per op (median over traced passes):")
        for op, r in layers.per_op(result, spans).items():
            print(f"    {op:<28} wall {r['wall_s']:7.3f} s  cpu {r['cpu_s']:7.3f} s  "
                  f"executor share of cpu {r['exec_cpu_share']:5.2f}  "
                  f"driver gap share of wall {r['gap_share']:5.2f}  "
                  f"jobs {r['jobs']:4.0f}  shuffle {r['shuffle_bytes'] / 1e6:8.2f} MB  "
                  f"scan {r['scan_bytes'] / 1e6:8.2f} MB")
        print(f"  tracing overhead: traced wall / untraced median wall = "
              f"{values['trace.overhead_ratio']:.4f}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in layers.END_TO_END.items()}

    for op, why in failed.items():
        print(f"FAILED {op}: {why}", file=sys.stderr)
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": n_failed, "metrics": metrics}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
