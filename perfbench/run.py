"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the library and the harness from source (cached under
.bench_build/ by a hash of the sources), generates the workload's inputs
from the seed, computes the DuckDB oracle digests, runs the harness JVM
(one closed-loop client on local[N], N = min(4, cpus)), checks every
output, and prints one JSON object as its last stdout line. A summary
with every metric, its unit and sample count goes to stderr.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import spec  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# a run must end within 180 s, or 900 s when it builds first
DEADLINE_S = 175
BUILD_DEADLINE_S = 880

# digests checked by the declared SQL over a variant of the inputs
VARIANTS = {"trade_graph": ["q_trade_ranks@region"]}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_key():
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties", "perfbench/build.sbt"]
    for d in ["src/main", "perfbench/src"]:
        files += sorted(os.path.relpath(p, ROOT) for p in
                        glob.glob(os.path.join(ROOT, d, "**", "*"), recursive=True)
                        if os.path.isfile(p))
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile library + harness once per source state; return the
    runtime classpath, the dumped oracle SQL and the source key."""
    key = source_key()
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    sql_file = os.path.join(BUILD, f"oracle_sql-{key}.json")
    if not os.path.exists(cp_file):
        os.makedirs(BUILD, exist_ok=True)
        log("building library and harness (sbt)")
        env = dict(os.environ)
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspathAsJars"],
                           cwd=os.path.join(ROOT, "perfbench"), env=env,
                           stdin=subprocess.DEVNULL, capture_output=True, text=True,
                           timeout=840)
        lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
        if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
            die("build failed", 3)
        with open(cp_file + ".tmp", "w") as f:
            f.write(lines[-1].strip())
        os.replace(cp_file + ".tmp", cp_file)
    with open(cp_file) as f:
        cp = f.read().strip()
    if not os.path.exists(sql_file):
        subprocess.run(java_cmd(cp, os.path.join(BUILD, "tmp"))
                       + ["--dump-sql", sql_file + ".tmp"],
                       check=True, stdin=subprocess.DEVNULL, timeout=120)
        os.replace(sql_file + ".tmp", sql_file)
    with open(sql_file) as f:
        return cp, json.load(f), key


def java_cmd(cp, tmp):
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-Xss4m",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "perfbench.Main"])


def inputs(workload, seed, scale):
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(BUILD, "inputs", f"{workload}-s{seed}-x{scale}-{version}")
    if not os.path.exists(os.path.join(d, "manifest.json")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d + ".tmp", scale)
        os.replace(d + ".tmp", d)
    with open(os.path.join(d, "manifest.json")) as f:
        return d, json.load(f)


def oracle_for(workload, data, sqls, key):
    f = os.path.join(BUILD, "oracle", f"{os.path.basename(data)}-{key}.json")
    if not os.path.exists(f):
        os.makedirs(os.path.dirname(f), exist_ok=True)
        keys = list(sqls[workload]) + VARIANTS.get(workload, [])
        d = oracle.oracle_digests(data, sqls[workload], keys, cores(),
                                  os.path.join(BUILD, "tmp", "duckdb"))
        with open(f + ".tmp", "w") as fh:
            json.dump(d, fh)
        os.replace(f + ".tmp", f)
    with open(f) as fh:
        return json.load(fh)


def cores():
    return max(1, min(4, os.cpu_count() or 1))


def check(result, oracle_digests):
    """Per timed pass: ok iff it raised nothing and every digest equals
    the oracle's (keys with declared SQL) or the warm-up pass's."""
    ref = result["reference"]
    problems = [f"warm-up {k}: {ref.get(k)} != oracle {v}"
                for k, v in oracle_digests.items() if ref.get(k) != v]
    failed = 0
    for i, p in enumerate(result["passes"]):
        if p.get("kind") == "probe":
            failed += 1
            problems.append(p["error"])
            continue
        bad = [k for k in ref if p["digests"].get(k) != oracle_digests.get(k, ref[k])]
        if p["error"] or bad or not p["digests"]:
            failed += 1
            problems.append(f"pass {i}: {p['error'] or 'mismatch ' + ','.join(bad)}")
    return failed, problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w for w, _ in spec.WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests)")
    ap.add_argument("--corrupt-pass", type=int, default=-1)
    ap.add_argument("--result", help="also write the harness record here")
    a = ap.parse_args()
    start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("run from the root of a checkout of the library (build.sbt and src/ not found)")

    built = not os.path.exists(os.path.join(BUILD, f"classpath-{source_key()}.txt"))
    cp, sqls, key = build()
    data, manifest = inputs(a.workload, a.seed, a.scale)
    oracle_digests = oracle_for(a.workload, data, sqls, key)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    cmd = java_cmd(cp, os.path.join(run_dir, "tmp")) + [
        "--workload", a.workload, "--data", data, "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", out, "--local-dir", os.path.join(run_dir, "spark"),
        "--cores", str(cores()), "--corrupt-pass", str(a.corrupt_pass)]
    budget = (BUILD_DEADLINE_S if built else DEADLINE_S) - (time.time() - start)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        try:
            p = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=logf, stderr=logf,
                               timeout=max(30, budget))
        except subprocess.TimeoutExpired:
            die(f"harness timed out; log in {run_dir}/jvm.log", 4)
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        die(f"harness failed (exit {p.returncode})", 5)
    with open(out) as f:
        result = json.load(f)
    shutil.rmtree(os.path.join(run_dir, "spark"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    if a.result:
        with open(a.result, "w") as f:
            json.dump({"result": result, "manifest": manifest, "oracle": oracle_digests}, f)

    failed, problems = check(result, oracle_digests)
    for msg in problems:
        log(f"CHECK {msg}")
    attempted = len(result["passes"])
    ok_s = [p["s"] for p in result["passes"] if not p["error"]]
    rows = result["input_rows"]
    if a.trace == 0:
        values = {
            "rows_per_s": statistics.median(rows / s for s in ok_s) if ok_s else 0.0,
            "peak_mem_mb": result["peak_mem_mb"],
            "setup_s": result["setup_s"],
        }
        samples = {"rows_per_s": len(ok_s), "peak_mem_mb": 1, "setup_s": 1}
        declared = [(n, u) for n, u, _, _ in spec.END_TO_END]
    else:
        layer = result["layer"]
        values = {n: float(layer.get(n, 0.0)) for n, _, _ in spec.PER_LAYER}
        samples = {n: 1 for n in values}
        declared = [(n, u) for n, u, _ in spec.PER_LAYER]
    metrics = {n: {"value": values[n], "unit": u} for n, u in declared}

    log(f"workload={a.workload} seed={a.seed} input_rows={rows} trace={a.trace} "
        f"passes={attempted} failed={failed} failed_frac={failed / max(1, attempted):.4f} "
        f"correct={failed == 0 and not problems} host.calib_s={result['calib_s']} "
        f"inputs/storage_memory={manifest['input_mb'] / result['storage_memory_mb']:.4f}")
    for n, m in metrics.items():
        log(f"  {n} = {m['value']:.6g} {m['unit']} (n={samples[n]})")
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
