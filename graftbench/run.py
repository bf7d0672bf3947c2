#!/usr/bin/env python3
"""graft benchmark: one entry point, two workloads, one JVM per run.

    python3 graftbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The first run builds graft and the
harness with sbt (offline) into graftbench/.build; later runs reuse it.
Each run generates its inputs from --seed into a fresh work directory
under graftbench/.work, runs the harness (graftbench/harness) for
--seconds, checks the outputs with DuckDB, deletes the work directory and
prints one JSON line: the end-to-end metrics, or with --trace 1 the
per-layer metrics (spans and per-operation rows go to graftbench/out/).
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

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402

import gendata  # noqa: E402
import genproject  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("pipeline", "query_suite")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 160  # the whole run must end within 180 s
QUERY_DATA_SEED = 42


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_stamp():
    """Digest of everything the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles graft (the repository's own sbt build) and the harness."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("graft's sources are not here: run from the root of a full checkout")
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    # offline, with the repository settings the environment's SBT_OPTS gives
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, env=env, timeout=840).returncode
    lines = open(log_path).read().splitlines()
    cps = [l for l in lines if l.startswith("/") and "scala-library" in l]
    if rc != 0 or not cps:
        die(f"build failed (exit {rc}); see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def generate(workload, seed, work, plant_failure):
    """Writes the run's inputs; returns the pipeline project (or None)."""
    data = os.path.join(work, "data")
    if workload == "query_suite":
        # fixed tables, like a TPC-H scale factor: query cost depends on the
        # data (join fan-out, duplicate structure), so other tables would be
        # other work, not another sample of the same work
        gendata.write(data, 0.1, QUERY_DATA_SEED)
        drawn = json.load(open(os.path.join(HERE, "queries.json")))["names"]
        with open(os.path.join(work, "queries.txt"), "w") as f:
            f.write("\n".join(drawn + (["planted_failure"] if plant_failure else [])) + "\n")
        return None
    sf_dir = os.path.join(data, "sf0.01")
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    tables = gendata.tables(0.01, seed, extensions=False)
    for name in ("lineitem", "part", "customer"):
        gendata.write_table(tables[name], sf_dir, name)
    # the rerun's second input change: a generated 1% slice appended to orders
    orders = tables["orders"]
    n = orders.num_rows
    slice_ = gendata.orders_table(np.random.default_rng(seed + 1), n // 100,
                                  tables["customer"].num_rows, first_key=n)
    gendata.write_table(orders, src_dir, "orders.base")
    gendata.write_table(pa.concat_tables([orders, slice_]), src_dir, "orders.next")
    project = genproject.pipeline(seed, sf_dir, src_dir)
    if plant_failure:
        plant(project)
    genproject.write(project, os.path.join(work, "project"))
    return project


def plant(p):
    """Adds a table whose SQL cannot run, for the benchmark's own tests."""
    sql = "SELECT no_such_column FROM w0001"
    p.add("planted_failure", 1, ["w0001"], "table", sql, sql)
    p.files["models/planted_failure.sql"] = sql + "\n"
    p.files["config.yaml"] = p.config_yaml()
    p.rendered_after["planted_failure"] = sql


def steal_s():
    """CPU time the hypervisor took from this machine's vCPUs so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_jvm(classpath, workload, work, seconds, trace):
    """One harness JVM: Spark local[k] over all k cores, stdout to a file."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", workload, work, str(seconds),
            "1" if trace else "0", str(os.cpu_count())]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        tail = open(log_path, errors="replace").read().splitlines()[-40:]
        die(f"harness failed ({rc}):\n" + "\n".join(tail))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-failure", action="store_true",
                    help="add one failing model or query (the benchmark's own tests)")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    classpath = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        meta = generate(a.workload, a.seed, work, a.plant_failure)
        with open(os.path.join(work, "setup.json"), "w") as f:
            json.dump({"generate_s": time.perf_counter() - t0}, f)
        steal0 = steal_s()
        run_jvm(classpath, a.workload, work, a.seconds, a.trace)
        steal = steal_s() - steal0
        res = json.load(open(os.path.join(work, "result.json")))
        if meta is not None:
            checked, failures = oracle.check_pipeline(
                meta.meta(), os.path.join(work, "warehouse"))
        else:
            checked, failures = oracle.check_queries(
                os.path.join(work, "data"),
                json.load(open(os.path.join(work, "rows.json"))),
                json.load(open(os.path.join(work, "oracle.json"))))
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        tag = f"{a.workload}-{a.seed}-trace{a.trace}"
        shutil.copy(os.path.join(work, "jvm.log"), os.path.join(out, f"{tag}.log"))
        if a.trace:
            shutil.copy(os.path.join(work, "trace.jsonl"), os.path.join(out, f"{tag}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted = res["attempted"] + checked
    failed = res["failed"] + len(failures)
    for e in (res["errors"] + failures)[:20]:
        print(f"graftbench: failed: {e}", file=sys.stderr)
    got = res["metrics"]
    got["failed_frac"] = failed / attempted
    got["env.steal_s"] = steal
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    # the layer a workload never enters did no work in it
    idle = "pipeline." if a.workload == "query_suite" else "queries."
    got.update({m["name"]: 0 for m in wanted
                if m["name"].startswith(idle) and m["name"] not in got})
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        die(f"the harness did not report {missing}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
