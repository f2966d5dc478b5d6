#!/usr/bin/env python3
"""The graft benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {glue,curation} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. It builds the library and the benchmark
runner (perfbench/build.sbt) when their sources changed, generates the
workload's inputs from the seed, runs the benchmark in one JVM on
local[nproc], checks every operation's output, prints one line per metric
and, as the last line, one JSON object with the contract metrics: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See perfbench/README.md.
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

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
JVM_TIMEOUT_S = 150
# A fixed heap (-Xms = -Xmx), touched in full at start (AlwaysPreTouch),
# keeps peak RSS from depending on how much of the heap G1 happened to use:
# without the pre-touch, some runs peaked 1 GiB below the others.
HEAP = "2g"

# Input sizes per workload: rows per GLUE split, and documents.
SIZES = {
    "glue": {"train": 1500, "dev": 500},
    "curation": {"docs": 1200},
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group.
    Returns the exit code, or "timeout"."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                            start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return "timeout"


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath stamp matches the sources."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    print("[perfbench] building (sbt compile)", file=sys.stderr, flush=True)
    os.makedirs(TARGET, exist_ok=True)
    out_path = os.path.join(TARGET, "build.log")
    with open(out_path, "w") as out:
        code = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false", "compile",
                          "export Runtime/fullClasspath"], 840, cwd=HERE,
                         env=env, stdout=out, stderr=subprocess.STDOUT)
    with open(out_path) as f:
        output = f.read()
    # `export` prints the classpath, which starts with our own classes dir
    cps = [ln.strip() for ln in output.splitlines() if ln.startswith(HERE)]
    if code != 0 or not cps:
        sys.stderr.write(output[-6000:])
        sys.exit("perfbench: build failed")
    cp = cps[-1]
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def make_inputs(workload, seed, data):
    size = SIZES[workload]
    if workload == "glue":
        return gen.glue(data, seed, size["train"], size["dev"])
    return gen.documents(data, seed, size["docs"])


def run_jvm(cp, args, work):
    cpus = len(os.sched_getaffinity(0))
    props = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
             "spark.local.dir": os.path.join(work, "local"),
             "java.io.tmpdir": os.path.join(work, "tmp")}
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData"]
           + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + [f"-D{k}={v}" for k, v in props.items()]
           + ["-cp", cp, "perfbench.Main", "--cpus", str(cpus)] + args)
    with open(os.path.join(work, "jvm.log"), "w") as errf:
        code = run_group(cmd, JVM_TIMEOUT_S, cwd=work, stdout=errf,
                         stderr=errf)
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: benchmark JVM failed ({code})")
    return cpus


# ------------------------------------------------------------ the oracle

def oracle_check(data, work, oracle):
    """Compare each first-pass query output with DuckDB running the query's
    oracle SQL over the same generated tables; returns mismatching names."""
    if not oracle:
        return {}
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from compare_oracle import canon
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, f)}')")
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            want = canon(con.execute(sql))
            got = canon(con.execute(
                "SELECT * FROM read_parquet('"
                f"{os.path.join(work, name)}/*.parquet')"))
        except Exception as e:  # an oracle that cannot run is a failure
            bad[name] = f"error: {e}"
            continue
        if got != want:
            bad[name] = (f"spark {len(got[1])} rows {got[0]} vs "
                         f"oracle {len(want[1])} rows {want[0]}")
    return bad


# -------------------------------------------------------------- metrics

def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for aa in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def betainc(a, b, x):
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1) / (a + b + 2):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(values, q):
    """The Harrell-Davis estimate of the q-quantile: a weighted mean of all
    order statistics, weighted by the Beta((n+1)q, (n+1)(1-q)) mass on
    each rank. Operation times form clusters (a task's fit, its metrics),
    and a plain order statistic jumps between them from run to run; this
    estimate moves smoothly, and so repeats much more closely."""
    s = sorted(values)
    n = len(s)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * s[i] for i in range(n))


def tail(values):
    """The highest percentile with at least ten samples beyond it (the
    maximum when there are fewer than twenty samples), and its level."""
    n = len(values)
    if n < 20:
        return 100.0, max(values)
    level = 100.0 * (1 - 10 / n)
    return level, quantile(values, level / 100)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: run from a graft checkout (src/main/scala/graft "
                 "not found next to perfbench/)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()

    t_setup = time.time()
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    sizes = make_inputs(a.workload, a.seed, data)
    out = os.path.join(work, "record.json")
    rows = {k: v for k, v in sizes.items() if isinstance(v, int)}
    cpus = run_jvm(cp, ["--workload", a.workload, "--data", data,
                        "--rows", ",".join(f"{k}={v}" for k, v in rows.items()),
                        "--work", work, "--seconds", str(a.seconds),
                        "--trace", str(a.trace), "--out", out], work)
    with open(out) as f:
        rec = json.load(f)
    bad = oracle_check(data, work, rec["oracle"])

    passes = [p for p in rec["passes"] if not p["traced"]]
    traced = [p for p in rec["passes"] if p["traced"]]
    pass_s = [p["seconds"] for p in passes]
    op_s = [o["seconds"] for p in passes for o in p["ops"]]
    attempted = rec["attempted"]
    # an oracle mismatch fails the query on every pass, the untimed one too
    failed = len(rec["failures"]) + len(bad) * (1 + len(rec["passes"]))
    level, tail_v = tail(op_s)
    e2e = {
        "setup_s": (rec["setup_end_ms"] / 1e3 - t_setup, "s", 1),
        "pass_s": (quantile(pass_s, 0.5), "s", len(pass_s)),
        "op_s.p50": (quantile(op_s, 0.5), "s", len(op_s)),
        "op_s.tail": (tail_v, "s", len(op_s)),
        "rows_per_s": (rec["input_rows"] / quantile(pass_s, 0.5), "1/s",
                       len(pass_s)),
        "peak_rss_mb": (rec["peak_rss_mb"], "MiB", 1),
        "failed_ratio": (failed / max(attempted, 1), "ratio", attempted),
    }
    if a.workload == "glue":
        acc = rec["info"]["accuracy"]
        e2e["accuracy"] = (sum(acc.values()) / len(acc), "ratio", len(acc))

    q = statistics.quantiles(pass_s, n=4) if len(pass_s) > 1 else pass_s * 3
    print(f"workload {a.workload} seed {a.seed} cpus {cpus} inputs "
          f"{json.dumps(sizes)} ops/pass {len(passes[0]['ops'])}")
    if rec["info"]:
        print(f"info {json.dumps(rec['info'], sort_keys=True)}")
    print(f"pass_s quartiles {q[0]:.4f} {q[1]:.4f} {q[2]:.4f}; op_s.tail is "
          f"p{level:.1f}; vacuum: {rec['vacuum']}")
    for name, (v, unit, n) in e2e.items():
        print(f"{name:<16} {v:>14.6g} {unit:<6} n={n}")
    for f in rec["findings"]:
        print(f"FINDING check changed between passes: {json.dumps(f)}")
    for f in rec["failures"]:
        print(f"FAILED {json.dumps(f)}")
    for name, why in bad.items():
        print(f"FAILED oracle mismatch {name}: {why}")

    if a.trace:
        layers = {}
        for p in traced:
            for k, v in p["layers"].items():
                layers.setdefault(k, []).append(v)
        med = {k: statistics.median(v) for k, v in layers.items()}
        tp = quantile([p["seconds"] for p in traced], 0.5)
        med["trace.pass_s"] = tp
        med["trace.overhead_s"] = tp - quantile(pass_s, 0.5)
        for k in sorted(med):
            if k.startswith("site:"):
                print(f"job call site {med[k]:>6g}  {k[5:]}")
            else:
                spread = (f" (min {min(layers[k]):.6g} max "
                          f"{max(layers[k]):.6g})" if k in layers else "")
                print(f"layer {k:<34} {med[k]:>14.6g}{spread}")
        metrics = {m["name"]: {"value": med.get(m["name"], 0.0),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = failed == 0 and not rec["findings"]
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
