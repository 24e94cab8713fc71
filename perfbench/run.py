#!/usr/bin/env python3
"""Benchmark entry point for graft: runs one workload and prints one JSON line.

    python3 perfbench/run.py --workload app_ops --seed 1 --seconds 24 --trace 0

Run from the repository root. It builds the program with `build.py`,
generates the workload's inputs from the seed (`gen.py`), runs the JVM
side (`perfbench.Main`) closed-loop for `--seconds`, checks the outputs
(an in-memory model of the app state, the DuckDB oracle) and prints
as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its
per-layer metrics (`--trace 1`). See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

sys.dont_write_bytecode = True
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
DEADLINE_S = 170

# Both workloads read the relational tables, events, documents and
# embeddings at sf 0.01.
SF = 0.01
GEN_REPEATS = 3
# The initial heap is at or above what the workload uses, so peak RSS does
# not follow the collector's heap-growth decisions from run to run.
HEAP = {"app_ops": "1g", "analytics_mix": "2g"}
# The session is the program's own `Graft.localSession`; the listener kit
# reaches it as static `spark.*` confs set as system properties.
JVM_OPTS = ["-Xmx3g", "-Xss8m",
            "-Dspark.extraListeners=perfbench.JobListener",
            "-Dspark.sql.queryExecutionListeners=perfbench.SqlListener",
            "-Dspark.sql.streaming.streamingQueryListeners=perfbench.StreamListener"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """The q-quantile (0..1) of xs by linear interpolation; 0 if empty."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def generate(seed, data_dir):
    """Generate the inputs GEN_REPEATS times; returns the median wall."""
    walls = []
    for _ in range(GEN_REPEATS):
        shutil.rmtree(data_dir, ignore_errors=True)
        t0 = time.perf_counter()
        gen.generate(data_dir, seed, sf=SF)
        walls.append(time.perf_counter() - t0)
    return median(walls)


def run_jvm(cp, args, work_dir, budget_s):
    """Run perfbench.Main in its own process group; returns its result dict."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    dirs = [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={work_dir}/spark-local",
            f"-Dspark.sql.warehouse.dir={work_dir}/spark-warehouse"]
    cmd = (["java", f"-Xms{HEAP[args[0]]}"] + JVM_OPTS + dirs
           + ["-cp", cp, "perfbench.Main"] + [str(a) for a in args])
    log = open(os.path.join(work_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=budget_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"workload timed out after {budget_s:.0f} s")
    finally:
        log.close()
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        tail = open(os.path.join(work_dir, "jvm.log")).read()[-3000:]
        raise SystemExit(f"JVM exited {p.returncode} without a result\n{tail}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def by_kind(samples, cls):
    """Samples of class `cls` ("read_ms"/"write_ms"), keyed by op kind."""
    return {k.split("/", 1)[1]: v for k, v in samples.items() if k.startswith(cls + "/")}


def mix_latency(samples, cls, per_kind):
    """Latency of an op drawn from the workload's fixed mix: `per_kind` of
    each op kind's samples, weighted by how often the kind ran. Robust where
    a plain median of the pooled samples would sit between two kinds' modes."""
    kinds = by_kind(samples, cls)
    n = sum(len(v) for v in kinds.values())
    return sum(len(v) * per_kind(v) for v in kinds.values()) / n if n else 0.0


def pooled(samples, cls):
    return [x for v in by_kind(samples, cls).values() for x in v]


def end_to_end(r, setup_s):
    s, v = r["samples"], r["values"]
    # app_ops has 5-10 calls of each kind per run: their median. analytics_mix
    # has one sample per pass: the best pass, as graft.Bench's min-of-2, so a
    # host slowdown that hits one pass does not move the figure.
    best = r["workload"] == "analytics_mix"
    return {
        "setup_s": setup_s,
        "read_ms": mix_latency(s, "read_ms", min if best else median),
        "write_ms": mix_latency(s, "write_ms", min if best else median),
        "throughput_per_s": (max if best else median)(s.get("ops_per_s", [0.0])),
        "write_amp": v["write_amp"],
        "peak_rss_mb": v["peak_rss_mb"],
    }


def per_layer(r, attempted, failed):
    s = r["samples"]
    layers = dict(r["layers"])
    layers["read_p90_ms"] = percentile(pooled(s, "read_ms"), 0.9)
    layers["write_p90_ms"] = percentile(pooled(s, "write_ms"), 0.9)
    layers["failed_frac"] = failed / attempted
    return {m["name"]: layers.get(m["name"], 0.0) for m in SPEC["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    cp = build.build()
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        gen_s = generate(a.seed, data)
        budget = DEADLINE_S - (time.monotonic() - t_start)
        r = run_jvm(cp, [a.workload, data, work, a.seed, a.seconds, a.trace], work, budget)
        attempted, failed = r["attempted"], r["failed"]
        errors = list(r["errors"])
        t_oracle = time.monotonic()
        sql_file = os.path.join(work, "oracle_sql.json")
        if os.path.exists(sql_file):
            checked, mismatches = oracle.check(data, work, json.load(open(sql_file)))
            attempted += checked
            failed += len(mismatches)
            errors += mismatches
        setup_s = gen_s + sum(r["setup_phases"].values())
        metrics = end_to_end(r, setup_s) if a.trace == 0 else per_layer(r, attempted, failed)
        units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
        for e in errors[:10]:
            print("check failed:", e, file=sys.stderr)
        print(f"phases: setup {setup_s:.1f} s ({r['setup_phases']}), oracle "
              f"{time.monotonic() - t_oracle:.1f} s, total {time.monotonic() - t_start:.1f} s",
              file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
