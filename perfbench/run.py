#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload star|loops|etl \\
        [--seed N] [--seconds S] [--trace 0|1]

Builds the engine and the benchmark main with sbt when their sources
changed, takes the workload's inputs (the fixed catalog tables in
fixtures/, or JIRA batches generated from the seed), runs the
workload in one JVM on local[nproc], checks every output, and prints
the metrics: first one `name value unit` line per metric, then, as the
last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with --trace 0, per-layer ones with
--trace 1). Everything it writes stays under perfbench/target/.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402

DEFAULT_SEED = 1
JVM_TIMEOUT_S = 150
# A fixed 3 GB heap (default G1). A heap that grows from a smaller
# start made rss_peak_mb and the pass walls spread too widely from run
# to run to gate on (README.md).
JVM_HEAP = ["-Xms3g", "-Xmx3g"]

# The ops of each catalog workload. Each set is the part of its family
# that fits the run budget (a pass of ~3-8 s on 4 cores; see README.md
# for the queries left out and why).
STAR = ["q03_topk", "q05_nation_revenue", "q07_delta", "q08_quality_gate", "q11_window",
        "q13_semi_anti", "q38_range_join"]
LOOPS = ["q51_conncomp", "q120_kmeans"]

# The catalog workloads read the engine's sf0.01 test fixtures (the
# tables the DuckDB parity check runs on), copied unchanged into
# fixtures/ so a run reads nothing outside its checkout. The tables are
# fixed, so on these workloads the seed sets the op order.
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")

# Per workload: catalog ops (None for etl) or the etl input size, the
# untimed warm-up passes, and the timed passes every run makes at least.
# After one warm-up pass, the first timed pass of `loops` was still
# 10-20% slower than the next, so it warms up twice. `loops` is not in
# BENCHMARK.json (README.md says why) but runs the same way.
WORKLOADS = {
    "star": {"ops": STAR, "warmup": 1, "passes": 4},
    "loops": {"ops": LOOPS, "warmup": 2, "passes": 3},
    "etl": {"ops": None, "batches": 2, "issues": 200, "warmup": 1, "passes": 4},
}

END_TO_END_UNITS = {"wall_s": "s", "op_p50_s": "s", "op_tail_s": "s", "setup_s": "s",
                    "rss_peak_mb": "MB"}


def layer_unit(name):
    if name.endswith("ns_per_rec"):
        return "ns"
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("share", "utilization", "per_input_byte")):
        return "ratio"
    return "count"


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def tail_percentile(workload):
    """The highest percentile with at least ten ops beyond it at the
    run's minimum op count, but never below the median: a run with
    fewer than 20 ops reports its median as the tail."""
    w = WORKLOADS[workload]
    n = (len(w["ops"]) if w["ops"] else w["batches"]) * w["passes"]
    return max(50, math.floor(100.0 * (1.0 - 10.0 / n)))


def nearest_rank(values, pct):
    v = sorted(values)
    return v[max(0, math.ceil(pct / 100.0 * len(v)) - 1)]


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """sbt-compiles the engine and the benchmark main when a source
    changed; returns the runtime classpath."""
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building with sbt ...")
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        raise SystemExit("sbt build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(cp, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += JVM_HEAP
    cmd += ["-Djava.awt.headless=true", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dderby.system.home={work}", f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        launched = time.time()
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"benchmark JVM exited with {rc}")
    with open(args["out"]) as f:
        return launched, json.load(f)


# ---------------------------------------------------------------- checks

def check_queries(res, data_dir, work):
    """Each op's result must match its query's pass-0 result, and each
    pass-0 result must match the DuckDB oracle on the same inputs.
    Returns whether pass 0 checked out, and (pass, op, reason) for every
    later op that failed."""
    verified = oracle.verify(data_dir, os.path.join(work, "reference"), res["oracle_sql"],
                             os.path.join(TARGET, "oracle_cache"))
    for name, msg in sorted(verified.items()):
        if msg:
            log(f"CHECK FAIL {name}: {msg}")
    ref = res["reference"]
    bad = []
    for op in res["ops"]:
        if op["pass"] == 0:
            continue
        if op["error"]:
            bad.append((op["pass"], op["op"], op["error"]))
        elif verified.get(op["op"]) or op["fingerprint"] != ref.get(op["op"]):
            bad.append((op["pass"], op["op"], "result differs from the checked reference"))
    return all(not m for m in verified.values()), bad


def check_etl(res, expected):
    """Every pass's load must read back from both sinks with the
    generator's row count, key set and delta checksum, and leave the
    dimensions with the users and projects of the loaded issues."""
    deltas = expected["deltas"]
    keys = sorted(deltas)
    want = {"rows": len(keys),
            "key_sha256": hashlib.sha256("\n".join(keys).encode()).hexdigest(),
            "delta_sum": sum(d for d in deltas.values() if d is not None),
            "delta_nulls": sum(1 for d in deltas.values() if d is None)}
    failed_passes = set()
    for p in res["passes"]:
        got = {f"{sink}.{k}": p[sink][k] for sink in ("parquet", "derby") for k in want}
        got.update(dim_users=p["dim_users"], dim_projects=p["dim_projects"])
        need = {f"{sink}.{k}": v for sink in ("parquet", "derby") for k, v in want.items()}
        need.update(dim_users=expected["users"], dim_projects=expected["projects"])
        for k, v in need.items():
            ok = math.isclose(got[k], v, rel_tol=1e-9) if k.endswith("delta_sum") else got[k] == v
            if not ok:
                log(f"CHECK FAIL pass {p['pass']} {k}: got {got[k]!r}, want {v!r}")
                failed_passes.add(p["pass"])
    bad = [(op["pass"], op["op"], op["error"] or "sink read-back differs from the generator")
           for op in res["ops"] if op["pass"] > 0 and (op["error"] or op["pass"] in failed_passes)]
    return 0 not in failed_passes, bad


SINK_STATS = ["sinks.load_rows_per_s", "sinks.bytes_stored_per_input_byte",
              "sinks.rows_written", "sinks.bytes_written"]


def etl_stats(res, wall_s, input_bytes):
    """What the sinks hold after a pass, as rates over the untraced
    passes' median and, for the traced pass, as totals."""
    untraced = {p["pass"] for p in res["pass_walls"]}
    stored = [p for p in res["passes"] if p["pass"] in untraced]
    traced = [p for p in res["passes"] if p["pass"] == res["traced_pass"]]

    def size(p):
        return p["parquet_bytes"] + p["derby_bytes"]

    return {
        "sinks.load_rows_per_s": statistics.median(p["parquet"]["rows"] for p in stored) / wall_s,
        "sinks.bytes_stored_per_input_byte": statistics.median(size(p) / input_bytes for p in stored),
        "sinks.rows_written": sum(p["parquet"]["rows"] + p["derby"]["rows"] for p in traced),
        "sinks.bytes_written": sum(size(p) for p in traced),
    }


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no engine sources next to the benchmark; run from a full checkout")
    w = WORKLOADS[a.workload]
    cores = os.cpu_count() or 1
    cp = classpath()

    t_start = time.time()
    work = os.path.join(TARGET, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = {"workload": a.workload, "work": work, "out": os.path.join(work, "result.json"),
                "cores": cores, "seconds": a.seconds, "warmup-passes": w["warmup"],
                "min-passes": w["passes"],
                "trace": a.trace, "texts": os.path.join(work, "texts.txt")}
        if w["ops"]:
            data = FIXTURES
            texts = pq.read_table(os.path.join(data, "documents.parquet"), columns=["text"])["text"].to_pylist()
            ops = list(w["ops"])
            random.Random(a.seed).shuffle(ops)
            args["ops"] = ",".join(ops)
            args["data"] = data
        else:
            data = os.path.join(work, "data")
            dirs, expected, counts, texts = gen.jira_batches(data, a.seed, w["batches"], w["issues"])
            args["batches"] = ",".join(dirs)
            input_bytes = sum(os.path.getsize(os.path.join(d, f)) for d in dirs for f in os.listdir(d))
        with open(args["texts"], "w") as f:
            f.writelines(t + "\n" for t in texts)
        t_gen = time.time()
        launched, res = run_jvm(cp, work, args)
        t_jvm = time.time()

        if w["ops"]:
            correct, bad = check_queries(res, data, work)
        else:
            correct, bad = check_etl(res, expected)
        t_check = time.time()
        warm = [o["seconds"] for o in res["ops"] if o["pass"] == 0]
        log(f"time: inputs {t_gen - t_start:.1f} s, jvm {t_jvm - launched:.1f} s "
            f"(session {res['session_start_s']:.1f} s, warm-up ops {sum(warm):.1f} s: "
            f"{', '.join(f'{x:.2f}' for x in warm)}), checks {t_check - t_jvm:.1f} s, "
            f"pass walls {[round(p['wall_s'], 2) for p in res['pass_walls']]}")
        timed = [o for o in res["ops"] if o["pass"] >= res["first_timed_pass"]]
        for k, op, msg in bad:
            log(f"FAILED pass {k} {op}: {msg}")
        for name in dict.fromkeys(o["op"] for o in timed):
            lat = [o["seconds"] for o in timed if o["op"] == name]
            log(f"op {name}: median {statistics.median(lat):.3f} s over {len(lat)} runs")
        correct = correct and not bad
        failed = sum(1 for k, _, _ in bad if k >= res["first_timed_pass"])

        untraced = [o["seconds"] for o in timed if o["pass"] in {p["pass"] for p in res["pass_walls"]}]
        walls = [p["wall_s"] for p in res["pass_walls"]]
        pct = tail_percentile(a.workload)
        e2e = {
            "wall_s": statistics.median(walls),
            "op_p50_s": statistics.median(untraced),
            "op_tail_s": nearest_rank(untraced, pct),
            "setup_s": res["warmup_done_epoch_ms"] / 1000.0 - launched,
            "rss_peak_mb": res["rss_peak_mb"],
        }
        report = [(k, v, END_TO_END_UNITS[k]) for k, v in e2e.items()]
        report.append(("failed_frac", failed / len(timed), "ratio"))
        sinks = {}
        if not w["ops"]:
            sinks = etl_stats(res, e2e["wall_s"], input_bytes)
            report += [("load_rows_per_s", sinks["sinks.load_rows_per_s"], "rows/s"),
                       ("bytes_stored_per_input_byte", sinks["sinks.bytes_stored_per_input_byte"], "ratio")]
            log(f"etl input: {counts}")
        print(f"# workload={a.workload} seed={a.seed} ops/pass={len(res['reference']) or w['batches']} "
              f"timed ops={len(untraced)} op_tail_s=p{pct}")
        if a.trace:
            layers = dict(res["layers"], **{k: sinks.get(k, 0) for k in SINK_STATS})
            kept = os.path.join(TARGET, "traces", f"{a.workload}-seed{a.seed}-spans.json")
            os.makedirs(os.path.dirname(kept), exist_ok=True)
            shutil.move(os.path.join(work, "trace_spans.json"), kept)
            log(f"spans: {kept}")
            for k in sorted(layers):
                print(f"{k} {layers[k]}")
            metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())}
        else:
            for k, v, u in report:
                print(f"{k} {v:.6g} {u}")
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        print(json.dumps({"correct": bool(correct), "attempted": len(timed), "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
