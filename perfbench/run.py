#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark driver (perfbench/build.sbt, offline) into .bench_build/; later
runs reuse the build while the sources are unchanged. Each run then
starts one JVM on local[k] (k = min(4, cores)) in a fresh private
directory under .bench_build/runs/, checks the program's outputs, prints a
table of every metric with its unit, and, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. Workloads, sizes and the metric-to-layer mapping are in
perfbench/README.md.

--titles, --days, --warm and --passes override a workload's sizes
(smoke_test.py runs tiny ones).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
LIMIT_S = 170  # a run must end within 180 s of its start, build excluded

# Sizes per workload. Timed days (or passes) follow from --seconds at a
# nominal rate fixed here, so both sides of a comparison do the same work.
WORKLOADS = {
    "psn_daily_small": dict(mode="psn", titles=2_000, jit=0, warm=8,
                            nominal_op_s=1.25, min_ops=12),
    "psn_daily_large": dict(mode="psn", titles=100_000, jit=4, warm=1,
                            nominal_op_s=2.5, min_ops=6),
    "registry_mix": dict(mode="mix", nominal_op_s=9.0, min_ops=2),
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Spark 4 on JDK 17 outside spark-submit: the root build.sbt's list.
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and perfbench's Scala code once per source
    state; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the repository root: build.sbt and src/ are missing")
    digest = sources_digest()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM the sbt script starts keeps its temporary files in .bench_build
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp, JAVA_TOOL_OPTIONS=(
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"))
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
            f"-Dsbt.ivy.home={os.path.join(BUILD, 'ivy')}", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log).read().splitlines()
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (see {log})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


def permuted_data(seed, out):
    """The mix's inputs: the committed tables, each with its rows in a
    seeded order. Query answers do not depend on row order; file layout
    and split contents do."""
    import numpy as np
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    os.makedirs(out)
    for t in TABLES:
        tab = pq.read_table(os.path.join(BENCH, "data", f"{t}.parquet"))
        pq.write_table(tab.take(rng.permutation(tab.num_rows)),
                       os.path.join(out, f"{t}.parquet"))


def oracle_mismatches(data, results):
    """Hashes each query result against its DuckDB oracle with
    tools/check_oracle.py's canonicalisation; returns the failing names."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True
    from check_oracle import canon
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracle = json.load(open(os.path.join(results, "oracle_sql.json")))
    bad = []
    for name, sql in sorted(oracle.items()):
        path = os.path.join(results, name)
        try:
            got = con.sql(f"SELECT * FROM '{path}/*.parquet'")
            want = con.sql(sql)
            types = lambda rel: dict(zip(rel.columns, map(str, rel.types)))
            ok = types(got) == types(want) and canon(got) == canon(want)
        except Exception as e:  # a crashed query leaves no output
            print(f"[perfbench] {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"[perfbench] {name}: result differs from its oracle",
                  file=sys.stderr)
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    for k in ("titles", "days", "warm", "passes"):
        ap.add_argument(f"--{k}", type=int)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found: run from the repository root")
    spec = json.load(open(spec_path))
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    w = WORKLOADS[a.workload]
    ops = max(w["min_ops"], round(a.seconds / w["nominal_op_s"]))
    if a.trace:  # traced runs interleave untraced twins: keep pairs whole
        ops += ops % 2

    cp = build()
    deadline = time.time() + LIMIT_S  # the first run also builds, before this
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        res = run_jvm(a, w, ops, cp, run_dir, deadline)
    finally:
        logs = os.path.join(BUILD, "logs")
        os.makedirs(logs, exist_ok=True)
        log = os.path.join(run_dir, "jvm.log")
        if os.path.exists(log):
            shutil.copy(log, os.path.join(
                logs, f"{a.workload}-{a.seed}-trace{a.trace}.log"))
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None or not math.isfinite(got["value"]):
            fail(f"metric {m['name']} was not measured")
        if got["unit"] != m["unit"]:
            fail(f"metric {m['name']} is in {got['unit']}, not {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    for k, v in res["info"].items():
        print(f"# {k} = {v}")
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


def run_jvm(a, w, ops, cp, run_dir, deadline):
    """One benchmark JVM in `run_dir`; returns its result with the checks
    that run here (the mix's oracle) folded in."""
    args = ["--seed", str(a.seed), "--trace", str(a.trace),
            "--cores", str(min(4, os.cpu_count() or 1)), "--dir", run_dir]
    if w["mode"] == "psn":
        args += ["--mode", "psn", "--titles", str(a.titles or w["titles"]),
                 "--jit", str(w["jit"]),
                 "--warm", str(a.warm if a.warm is not None else w["warm"]),
                 # a traced day runs twice: untraced, then replayed in spans
                 "--days", str(a.days or (ops // 2 if a.trace else ops))]
    else:
        data = os.path.join(run_dir, "data")
        permuted_data(a.seed, data)
        args += ["--mode", "mix", "--data", data, "--passes", str(a.passes or ops)]
    jvm = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", "-cp", cp]
    jvm[1:1] = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    launch_ms = int(time.time() * 1000)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            jvm + ["perfbench.Main"] + args + ["--launch-ms", str(launch_ms)],
            stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {LIMIT_S} s")
    result_path = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"JVM exited with {proc.returncode}")
    res = json.load(open(result_path))
    if w["mode"] == "mix":
        bad = oracle_mismatches(data, os.path.join(run_dir, "results"))
        res["failed"] += len(bad)
        res["correct"] = res["correct"] and not bad
    if a.trace:
        res["metrics"]["error_rate"] = {
            "value": res["failed"] / res["attempted"], "unit": "ratio"}
        os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
        shutil.copy(os.path.join(run_dir, "spans.jsonl"), os.path.join(
            BUILD, "spans", f"{a.workload}-{a.seed}.jsonl"))
    return res


if __name__ == "__main__":
    main()
