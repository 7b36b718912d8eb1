#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload ivm_refresh --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds graft and the
benchmark harness with sbt (offline) into .bench_build/; later runs reuse
the build while the sources are unchanged. Inputs are generated from the
seed into .bench_work/, the JVM runs the workload, the correctness checks
run, and the last line of stdout is the result JSON. Nothing is left
behind outside .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CORES = max(1, min(4, os.cpu_count() or 1))
SETUPS = 3
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170

# The frozen query-mix op list of lake_query: read-only SparkEntry queries
# (relational, one format reader, a lake time-travel read, and the four
# pipeline operator families) and one stream replay. Never delta_*,
# catalog_* or any DML/maintenance query. The deletion-vector read path
# is covered by the lake part's own reads (its DELETEs write deletion
# vectors on both formats); deltalake_dv_scan and iceberg_mor_scan are
# left out because staging their fixtures takes 1.5-2.5 s per setup.
QUERY_MIX = ["join_inner", "events_csv", "deltalake_time_travel", "dedup_minhash",
             "ann_ivf", "text_stats", "multimodal_frames", "stream_deltalake"]

# Stream lengths are far above what a 60 s run uses: a warm pass takes at
# least one write and one query from each stream.
WORKLOADS = {
    "ivm_refresh": {"sf": 0.01, "batches": 80, "batch_orders": 30},
    "lake_query": {"sf": 0.01, "writes": 200, "query_cycles": 20, "queries": QUERY_MIX},
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads from the tree (not its outputs)."""
    files = [os.path.join(d, f)
             for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"))
             for d, _, fs in os.walk(base) for f in fs]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The installed Spark's jars: $SPARK_HOME/jars, else next to the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build():
    """Compile graft + the harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: graft sources (src/main/scala/graft) not found; "
                 "run from the repository root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            f"-Dgraftbench.sparkJars={spark_jars()}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft + benchmark harness (sbt, offline)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = p.stdout.splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit("perfbench: build failed")
    log(f"built in {time.time() - t0:.1f}s")
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, fh)
    return cp[-1]


def make_inputs(workload, seed, in_dir):
    """Everything the JVM reads, generated from the seed."""
    cfg = WORKLOADS[workload]
    spec = {"workload": workload, "seed": seed}
    if workload == "ivm_refresh":
        spec.update(gen.ivm_inputs(in_dir, cfg["sf"], seed, cfg["batches"],
                                   cfg["batch_orders"]))
    else:
        t = gen.make_tables(cfg["sf"], seed)
        gen.write_tables(os.path.join(in_dir, "data"), t)
        n = t["orders"].num_rows
        spec.update(orders=n,
                    ops=gen.lake_ops(seed, cfg["writes"], n, t["customer"].num_rows),
                    queries=gen.query_orders(seed, cfg["queries"], cfg["query_cycles"]))
    gen.write_json(os.path.join(in_dir, "spec.json"), spec)
    return spec


def run_jvm(cp, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dderby.system.home=" + tmp, "-cp", cp, "graftbench.Main"] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        raise RuntimeError(f"benchmark JVM exited with {rc}")


def evaluate(workload, spec, res, in_dir, jvm_work):
    """Correctness checks; returns (failed op count, check failures,
    lake stats)."""
    bad_ops = {o["id"] for o in res["ops"] if not o["ok"]}
    fails = dict(res["check_failures"])
    if workload == "ivm_refresh":
        bad_ops |= {o["id"] for o in res["ops"] if o["name"] in fails}
        return len(bad_ops), fails, None
    data = os.path.join(in_dir, "data")
    qf = checks.query_mix(data, os.path.join(jvm_work, "results"), res["info"]["oracle"])
    fails.update(qf)
    bad_ops |= {o["id"] for o in res["ops"] if o["name"] in qf}
    info = res["info"]
    executed = info["executed"]
    orders = os.path.join(data, "orders.parquet")
    op_fails, table_fails = checks.lake_dml(orders, spec["ops"], executed,
                                            info["reads"], os.path.join(jvm_work, "final"))
    fails.update({f"op{i}": v for i, v in op_fails.items()})
    fails.update({f"table_{k}": v for k, v in table_fails.items()})
    # the lake read after write i is the i-th op named read_<format>
    reads = [o for o in res["ops"] if o["name"].startswith("read_")]
    bad_ops |= {reads[i]["id"] for i in op_fails if i < len(reads)}
    if table_fails:
        bad_ops |= {o["id"] for o in res["ops"] if o["kind"] == "write"}
    lake = None
    if res["spans"]:
        paths = info["paths"]
        lake = checks.lake_stats(paths, spec["ops"], executed, spec["orders"],
                                 os.path.getsize(orders))
        live = sum(res["traced"].get("live_bytes", {}).values())
        table = sum(checks.dir_bytes(p) for p in paths.values()) - lake["log_bytes"]
        lake["space_amp"] = table / live if live else 0.0
    return len(bad_ops), fails, lake


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_TIMEOUT_S
    cp = build()
    deadline = max(deadline, time.time() + RUN_TIMEOUT_S - 20)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir, jvm_work = os.path.join(work, "in"), os.path.join(work, "jvm")
    os.makedirs(in_dir)
    os.makedirs(jvm_work)
    try:
        spec = make_inputs(a.workload, a.seed, in_dir)
        out = os.path.join(work, "result.json")
        run_jvm(cp, ["--workload", a.workload, "--in", in_dir, "--work", jvm_work,
                     "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--cores", str(CORES), "--setups", str(SETUPS)], work, deadline)
        with open(out) as fh:
            res = json.load(fh)
        failed, fails, lake = evaluate(a.workload, spec, res, in_dir,
                                       os.path.join(jvm_work, f"setup{SETUPS - 1}"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass
    for k, v in sorted(fails.items()):
        log(f"check failed: {k}: {v}")
    if a.trace:
        ms = metrics.per_layer(res, lake)
        meta = {}
    else:
        ms, meta = metrics.end_to_end(res, failed)
    log(json.dumps({"workload": a.workload, "cores": CORES, "passes": len(res["passes"]),
                    "wall_s": round(time.time() - t_start, 1),
                    "setup_s": res["setup_s"], "info": {k: v for k, v in res["info"].items()
                                                        if k in ("rungs", "executed")},
                    "traced": res.get("traced", {}), **meta}))
    print(json.dumps({
        "correct": failed == 0 and not fails,
        "attempted": len(res["ops"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in ms.items()},
    }))


if __name__ == "__main__":
    main()
