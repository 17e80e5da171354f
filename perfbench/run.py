#!/usr/bin/env python3
"""graft benchmark: one seeded, single-client, closed-loop run of a workload.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds the
library and the harness with sbt (offline); later runs reuse the build while
the sources are unchanged. Inputs are generated from the seed by gen.py.
With --trace 0 the run reports the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer ones. Every run checks the engine's outputs. The last
line of stdout is one JSON object: correct, attempted, failed, metrics.
Everything else goes to stderr; the last run's JVM log (and, traced, its
spans) stay in .perfbench-work/last-<workload>/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench-work")
# a run must end within 180 s; leave room for the output checks and exit
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """The Spark jars the library is built against: $SPARK_HOME/jars, else
    the `unmanagedBase` directory the root build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark installation")
    return m.group(1)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_files():
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build():
    """Compile the library and the harness unless the sources are unchanged
    since the last build in this checkout."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(WORK, "build.stamp")
    classes = [os.path.join(ROOT, "target/scala-2.13/classes"),
               os.path.join(HERE, "target/scala-2.13/classes")]
    if (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()
            and all(os.path.isdir(c) for c in classes)):
        return classes
    log("building library and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g",
        "-XX:-UsePerfData"]))
    run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], HERE, env,
              BUILD_TIMEOUT_S, sys.stderr)
    if not all(os.path.isdir(c) for c in classes):
        raise SystemExit("perfbench: build produced no classes")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def run_child(cmd, cwd, env, timeout, out):
    """Run a child in its own process group; on timeout or interruption kill
    the whole group and wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    if rc != 0:
        raise SystemExit(f"perfbench: {cmd[0]} exited with {rc}")


def inputs(workload, seed):
    """Generated inputs of (workload, seed); other seeds' inputs are dropped
    so the work directory stays small."""
    base = os.path.join(WORK, "inputs")
    name = f"{workload}-{seed}"
    for d in glob.glob(os.path.join(base, f"{workload}-*")):
        if os.path.basename(d) != name:
            shutil.rmtree(d, ignore_errors=True)
    return gen.generate(workload, seed, os.path.join(base, name))


def dedup_oracle(inp, out):
    """Each dedup stage's first output must equal its QueryDef oracle run in
    DuckDB over the same documents.parquet: columns compared by name, rows as
    a multiset, floats bit-exact."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(inp, 'documents.parquet')}')")
    with open(os.path.join(out, "oracle.json")) as f:
        oracle = json.load(f)

    def canon(t):
        cols = sorted(t.column_names)
        data = [t.column(c).to_pylist() for c in cols]
        return cols, sorted(repr(r) for r in zip(*data))

    bad = []
    for name, sql in oracle.items():
        got = pq.read_table(os.path.join(out, "dedup", name))
        exp = con.sql(sql).arrow()
        if canon(got) != canon(exp):
            bad.append(f"{name}: {got.num_rows} rows differ from the oracle's {exp.num_rows}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no graft sources under {ROOT}: run from a checkout of the repository")
        return 2
    bench = spec()
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        log(f"unknown workload {a.workload}")
        return 2
    os.makedirs(WORK, exist_ok=True)
    classes = build()
    t0 = time.time()
    inp = inputs(a.workload, a.seed)
    log(f"inputs ready in {time.time() - t0:.1f} s")

    out = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    try:
        # a fixed-size heap under the throughput collector: the young
        # generation is fully touched after its first collections, so the
        # peak resident set follows what the program retains; the metaspace
        # threshold spares start-up its class-loading full collections; no
        # perf-data file, and temporary files stay in the run directory
        cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
                "-XX:MetaspaceSize=256m", "-Xss4m", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={out}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Duser.timezone=UTC"] + ADD_OPENS +
               ["-cp", ":".join(classes + [spark_jars() + "/*"]), "graft.perfbench.Main",
                "--workload", a.workload, "--input", inp, "--out", out,
                "--seconds", str(a.seconds), "--trace", str(a.trace)])
        with open(os.path.join(out, "jvm.log"), "w") as jl:
            run_child(cmd, ROOT, dict(os.environ), JVM_TIMEOUT_S, jl)
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        msgs = res.pop("messages")
        if a.workload == "dedup":
            bad = dedup_oracle(inp, out)
            msgs += bad
            res["failed"] += len(bad)
        for m in msgs:
            log(m)
        res["correct"] = bool(res["correct"]) and not msgs and res["failed"] == 0
        kind = "per_layer" if a.trace else "end_to_end"
        metrics = {}
        for m in bench[kind]:
            if m["name"] not in res["metrics"]:
                raise SystemExit(f"perfbench: the run reported no {m['name']}")
            metrics[m["name"]] = {"value": res["metrics"][m["name"]], "unit": m["unit"]}
        print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        # keep the last run's log and spans for inspection, drop the rest
        last = os.path.join(WORK, f"last-{a.workload}")
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        for f in ("jvm.log", "spans.jsonl", "jobs.jsonl"):
            if os.path.exists(os.path.join(out, f)):
                shutil.move(os.path.join(out, f), last)
        shutil.rmtree(out, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
