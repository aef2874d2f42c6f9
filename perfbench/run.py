#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one fresh JVM.

    python3 perfbench/run.py --workload household --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source (once per source
state), generates the workload's inputs from the seed (once per seed),
runs the DuckDB oracle (once per seed), then launches one JVM on
local[<cores>] that sets up, runs one cold pass and a fixed number of
warm passes (about --seconds of them) of the workload's query keys as
Runner parquet targets, one after another (a single-client closed
loop). Every output of every pass is checked against the oracle
digest outside the timed section. The last stdout line is the JSON
result; --trace 1 reports the per-layer metrics of a separate traced
run instead of the end-to-end ones, and writes the spans next to the
run's outputs. See perfbench/WORKLOADS.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(ROOT, ".bench_build", "harness", "scala-2.13", "classes")
# the benchmark JVM's heap: smaller than the engine build's default
# (SPARK_DRIVER_MEM, 24g) so a run fits a small machine; -Xms = -Xmx
# as in the engine build
HEAP = "4g"
JVM_TIMEOUT_S = 160
KEEP_SEEDS = 3

# name -> generator sizes, query keys, the nominal seconds of a warm
# pass (sets the warm pass count, see warm_passes), and the tables
# whose rows count as the workload's input
WORKLOADS = {
    "household": {
        "gen": {"sf": 0.1, "lines_sf": 0.001, "docs": 500, "vecs": 500},
        "keys": ["q_reach_multi", "q_frequency", "q_qa_multigroup"],
        "pass_s": 4.0,
        "input": ["events"],
    },
    "corpus_graph": {
        "gen": {"sf": 0.005, "docs": 4000, "vecs": 2000},
        "keys": ["q_simhash_pairs", "q_k_core"],
        "pass_s": 7.0,
        "input": ["documents", "lineitem"],
    },
}


def declared_metrics(trace):
    """(name, unit) of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def engine_build():
    """The Spark jars directory and the JVM options of the engine's own
    build (build.sbt at the repository root), so the benchmark JVM runs
    on the same jars and flags as `sbt run`, heap size aside (HEAP)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        sbt = f.read()
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    jars = base and base.group(1)
    opens = re.findall(r'"(java\.base/[\w./]+)"', sbt)
    props = re.findall(r'"(-Dspark\.[\w.]+=[^"$]+)"', sbt)
    codecache = re.findall(r'"(-XX:ReservedCodeCacheSize=\w+)"', sbt)
    if not jars or not os.path.isdir(jars) or not opens:
        raise SystemExit("perfbench: no Spark jars or JVM options found in build.sbt")
    return jars, [a for p in opens for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + props + codecache


def warm_passes(workload, seconds):
    """Warm passes that fill about `seconds` at the workload's nominal
    pass time, at least three. The count depends on --seconds only, not
    on measured time: warm passes keep getting faster for many passes,
    so a timed loop would let the machine's speed choose which part of
    that curve pass_s is the median of."""
    return max(3, round(seconds / WORKLOADS[workload]["pass_s"]))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def jvm_cmd(main_args, heap=HEAP):
    jars, options = engine_build()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + options +
            [f"-Xmx{heap}", f"-Xms{heap}",
             f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
             "-cp", f"{CLASSES}:{jars}/*", "graftbench.Main"] + main_args)


def jvm_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores())
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "tmp")
    return env


def source_stamp():
    h = hashlib.sha1(json.dumps(sorted(k for w in WORKLOADS.values()
                                       for k in w["keys"])).encode())
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(HERE, "harness", "src", "**", "*.scala"),
                             recursive=True) +
                   [os.path.join(ROOT, "build.sbt"),
                    os.path.join(HERE, "harness", "build.sbt"),
                    os.path.join(HERE, "harness", "project", "build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt (once per source state) and dump
    every workload key's oracle SQL."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft, build.sbt) not found")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    sql_file = os.path.join(WORK, "oracle_sql.json")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.exists(sql_file):
        return json.load(open(sql_file))
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env["GRAFT_SPARK_JARS"] = engine_build()[0]
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "compile"], cwd=os.path.join(HERE, "harness"),
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.1f} s")
    keys = sorted({k for w in WORKLOADS.values() for k in w["keys"]})
    subprocess.run(jvm_cmd(["oracles", sql_file] + keys, heap="1g"), check=True,
                   env=jvm_env(), stdout=subprocess.DEVNULL, timeout=120)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return json.load(open(sql_file))


def prune(parent, keep):
    """Keep only the `keep` most recently used entries of `parent`."""
    entries = sorted(glob.glob(os.path.join(parent, "*")), key=os.path.getmtime)
    for e in entries[:-keep]:
        shutil.rmtree(e, ignore_errors=True)


def inputs(workload, seed, oracle_sql):
    """Generated tables and cached oracle for (workload, seed), keyed also
    by everything that shapes them: sizes, keys, oracle SQL, generator
    and normalisation code."""
    w = WORKLOADS[workload]
    tag = hashlib.sha1(json.dumps([w, [oracle_sql[k] for k in w["keys"]]]).encode())
    for f in ("gen.py", "check.py"):
        with open(os.path.join(HERE, f), "rb") as fh:
            tag.update(fh.read())
    base = os.path.join(WORK, "seeds", f"{workload}-{seed}-{tag.hexdigest()[:10]}")
    data, oracle = os.path.join(base, "data"), os.path.join(base, "oracle")
    done = os.path.join(base, "ready")
    if not os.path.exists(done):
        shutil.rmtree(base, ignore_errors=True)
        t0 = time.time()
        gen.generate(data, seed, **w["gen"])
        check.build_oracle(data, oracle_sql, w["keys"], oracle)
        open(done, "w").close()
        log(f"inputs + oracle for {workload} seed {seed} in {time.time() - t0:.1f} s")
    os.utime(base)
    prune(os.path.dirname(base), KEEP_SEEDS)
    return data, oracle


def input_rows(data, tables):
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(os.path.join(data, f"{t}.parquet")).metadata.num_rows
               for t in tables)


def cpu_ticks():
    """(steal, total) jiffies of the machine, from /proc/stat."""
    t = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return t[7], sum(t)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]

    oracle_sql = build()
    data, oracle = inputs(a.workload, a.seed, oracle_sql)
    out = os.path.join(WORK, "out", a.workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    result = os.path.join(out, "result.json")

    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    cmd = jvm_cmd(["run", data, out, result, str(warm_passes(a.workload, a.seconds)),
                   str(a.trace)] + w["keys"])
    steal0, total0 = cpu_ticks()
    launched = time.time()
    with open(os.path.join(out, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, env=jvm_env(), stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: benchmark JVM timed out")
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(os.path.join(out, "jvm.log")).read()[-4000:])
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {rc})")
    steal1, total1 = cpu_ticks()
    r = json.load(open(result))

    # oracle gate, outside every timed section: each output of each pass
    gate = check.Gate(oracle)
    execs = r["execs"]
    failed = 0
    for e in execs:
        ok = "error" not in e and gate.check(
            e["key"], os.path.join(out, f"p{int(e['pass'])}", e["key"]))
        if not ok:
            failed += 1
            log(f"FAILED {e['key']} pass {int(e['pass'])}: {e.get('error', 'oracle mismatch')}")

    untraced = [p for p in r["passes"] if p["pass"] > 0 and not p["traced"]]
    warm_ids = {p["pass"] for p in untraced}
    warm = [e for e in execs if e["pass"] in warm_ids]
    pass_s = statistics.median(p["seconds"] for p in untraced)
    rows = input_rows(data, w["input"])
    log(f"{a.workload} seed {a.seed}: {len(untraced)} warm passes, {rows} input rows, "
        f"{r['cores']:.0f} cores, {(steal1 - steal0) / max(1, total1 - total0):.0%} of "
        f"machine CPU time stolen by the hypervisor during the run")
    log("pass seconds: " + ", ".join(
        f"{p['seconds']:.2f}{'t' if p['traced'] else ''}" for p in r["passes"]))
    log("median warm seconds per query: " + ", ".join(
        f"{k} {statistics.median(e['seconds'] for e in warm if e['key'] == k):.3f}"
        for k in w["keys"]))
    if a.trace:
        metrics = r["layers"]
        log("kernel microbench input rows: " +
            ", ".join(f"{k} {v:.0f}" for k, v in r["kernel_rows"].items()))
        log(f"spans: {result.replace('.json', '.spans.json')}")
    else:
        metrics = {
            "setup_s": r["setup"]["ready_epoch_s"] - launched,
            "first_pass_s": r["first_pass_s"],
            "pass_s": pass_s,
            "rows_per_s": rows / pass_s,
            "heap_retained_mb": r["heap_retained_mb"],
            "ok_frac": 1.0 - failed / len(execs),
        }
    declared = declared_metrics(a.trace)
    missing = [k for k, _ in declared if metrics.get(k) is None]
    if missing:
        raise SystemExit(f"perfbench: run reported no value for {missing}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(execs),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared},
    }))


if __name__ == "__main__":
    main()
