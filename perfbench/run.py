#!/usr/bin/env python3
"""Session benchmark for graft.

    python3 perfbench/run.py --workload crud_point --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. It builds the program and the harness
from source (once per checkout, into .bench_build/), starts one fresh JVM
at local[<cores>], and drives one closed-loop client through a first pass
and then steady passes over the workload's query mix, in an order fixed by
--seed. Every query's output is checked against expected.json. The last
line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"} with the end-to-end metrics (--trace 0) or the per-layer ones
(--trace 1). The exit code is non-zero when any query failed or the run
could not be made. See README.md for the workloads and metrics.

    python3 perfbench/run.py --selftest        # the harness's own tests
    python3 perfbench/run.py --workload W --seed 1 --seconds 6 --trace 0 --record
                                               # rewrite W's expected results
"""
import argparse
import glob
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# The input tables: a copy of the repository's sf0.01 test tables.
DATA_SET = "sf0.01"
DATA = os.path.join(HERE, "data", DATA_SET)
EXPECTED = os.path.join(HERE, "expected.json")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
STEADY_ORDERS = 400
# A traced run makes at least a warm-up pass plus one traced, untraced,
# untraced, traced block of steady passes, whatever --seconds says.
MIN_STEADY_TRACED = 5

# Each workload: its queries (crud_point: by op class, whose
# steady walls are summarised separately), and the steady passes an
# untraced run makes at least, whatever --seconds says. graph_iterative's
# second steady pass is still ~25 % faster than its first (JIT of the
# driver-side round code), so it gets a third.
WORKLOADS = {
    "crud_point": {
        "min_steady": 2,
        "classes": {
            "read": ["g_get_node", "g_get_nodes", "g_get_edge_by_id",
                     "g_egress"],
            "write": ["g_add_node", "g_update_node", "g_remove_nodes"],
            "path": ["g_paths_to", "g_neighbors_2hop"],
        },
    },
    "graph_iterative": {
        "min_steady": 3,
        "queries": ["g_kcore", "g_topo_levels"],
    },
    "ingest_pipeline": {
        "min_steady": 2,
        "queries": ["src_json_roundtrip", "d_dedup_exact", "d_dedup_simhash",
                    "s_ann_ivf", "t_tfidf", "m_chunk", "q_percentile"],
    },
}


def queries_of(w):
    spec = WORKLOADS[w]
    if "queries" in spec:
        return list(spec["queries"])
    return [q for qs in spec["classes"].values() for q in qs]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


# --- build ------------------------------------------------------------------

def scala_files(top):
    for d, _, fs in os.walk(top):
        for f in fs:
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(list(scala_files(PROGRAM_SRC)) + list(scala_files(HARNESS_SRC)) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark install to build against: SPARK_HOME, else the first
    spark-submit on the PATH that belongs to a full install (one with a
    jars/ directory; pip's pyspark launcher does not)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.exists(submit) and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    return None


def build():
    """Compile program + harness with the harness's own sbt build, once per
    source state. Returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    home = spark_home()
    if home is None:
        fail("no Spark install found: set SPARK_HOME")
    env["SPARK_HOME"] = home
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           "-Dsbt.repository.config=%s -Xmx2g" % repos)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "scala-2.13" + os.sep + "classes" in l
           and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        fail("build failed, see %s" % log)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cpu_jiffies():
    """(steal, total) CPU jiffies of the machine so far, or None where the
    kernel does not report them. Steal is time the hypervisor gave this
    machine's CPUs to someone else: host contention."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:9]]
        return vals[7], sum(vals)
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(classpath, workload, seed, seconds, trace, cpus):
    """Run one session; returns the raw record the JVM wrote, with the
    share of CPU time stolen by the host while it ran."""
    rundir = os.path.join(BUILD, "runs", "%s-%s-t%d" % (workload, seed, trace))
    tmp = os.path.join(rundir, "tmp")
    for d in (tmp, os.path.join(rundir, "spark-local")):
        os.makedirs(d, exist_ok=True)
    orders = metrics.pass_orders(workload, seed, queries_of(workload),
                                 STEADY_ORDERS)
    passes = os.path.join(rundir, "passes.txt")
    with open(passes, "w") as f:
        f.write("\n".join(",".join(o) for o in orders) + "\n")
    out = os.path.join(rundir, "raw.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData"] +
           [a for p in JDK_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)] +
           ["-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + os.path.join(rundir, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(rundir, "warehouse"),
            "-cp", classpath, "graft.perfbench.Runner",
            "--data", DATA,
            "--passes", passes, "--seconds", str(seconds),
            "--min-steady", str(MIN_STEADY_TRACED if trace
                                else WORKLOADS[workload]["min_steady"]),
            "--trace", str(trace), "--cpus", str(cpus), "--out", out])
    # the program reads no SPARK_GRAFT_* knob: the session is the default one
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    before = cpu_jiffies()
    with open(os.path.join(rundir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=rundir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("session did not finish in %d s, see %s/jvm.log" % (JVM_TIMEOUT_S, rundir))
    if code != 0 or not os.path.exists(out):
        fail("session exited with %d, see %s/jvm.log" % (code, rundir))
    after = cpu_jiffies()
    with open(out) as f:
        raw = json.load(f)
    raw["steal_frac"] = ((after[0] - before[0]) / max(1, after[1] - before[1])
                         if before and after else 0.0)
    return raw, rundir


def load_expected():
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f)


def record(raw):
    """Write the run's first-pass results into expected.json, if every
    steady pass reproduced them."""
    attempted, failed, problems = metrics.check_results(
        raw["passes"], {q["name"]: q for q in raw["passes"][0]["queries"]})
    if failed:
        fail("not recording, the run is not self-consistent:\n  " + "\n  ".join(problems))
    exp = load_expected()
    table = exp.setdefault(DATA_SET, {})
    for q in raw["passes"][0]["queries"]:
        table[q["name"]] = {"rows": q["rows"], "checksum": q["checksum"]}
    exp[DATA_SET] = dict(sorted(table.items()))
    with open(EXPECTED, "w") as f:
        json.dump(dict(sorted(exp.items())), f, indent=1)
        f.write("\n")


def selftest():
    import unittest
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--record", action="store_true",
                    help="write this run's first-pass results to expected.json")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        selftest()
    if a.workload is None or a.seed is None or a.seconds is None or a.trace is None:
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not os.path.isdir(PROGRAM_SRC):
        fail("no program sources at %s: run from the root of a graft checkout" % PROGRAM_SRC)
    if not os.path.isdir(DATA):
        fail("missing input data at %s" % DATA)

    classpath = build()
    cpus = len(os.sched_getaffinity(0))
    raw, rundir = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace, cpus)
    if a.record:
        record(raw)
    expected = load_expected().get(DATA_SET, {})
    attempted, failed, problems = metrics.check_results(raw["passes"], expected)
    for p in problems:
        print("perfbench: FAILED " + p, file=sys.stderr)
    if a.trace:
        with open(os.path.join(rundir, "trace.json"), "w") as f:
            json.dump({"spans": metrics.trace_spans(raw)}, f)
        values = metrics.per_layer(raw, WORKLOADS[a.workload].get("classes", {}))
        values["error_rate"] = failed / attempted
        units = metrics.PER_LAYER_UNITS
    else:
        values = metrics.end_to_end(raw)
        units = metrics.END_TO_END_UNITS
    s = metrics.summary([metrics.wall_s(q) for p in metrics.steady(raw)
                         for q in p["queries"]])
    print("perfbench: %s seed=%d trace=%d steady_passes=%d query_p50_s=%.4f "
          "(n=%d, tail p%s=%s) steal=%.3f failed=%d/%d record=%s" % (
              a.workload, a.seed, a.trace, len(metrics.steady(raw)), s["p50"],
              s["n"], s["tail_pct"], s["tail"], raw["steal_frac"], failed, attempted,
              os.path.relpath(rundir, ROOT)))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
