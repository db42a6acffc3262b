#!/usr/bin/env python3
"""Benchmark entry point: runs one workload of the graft engine in one JVM
and prints one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine and
the benchmark with sbt (offline), writes the JVM's class-data archive, and
caches both under perfbench/target; later runs reuse them while the sources
are unchanged.
Everything a run writes goes to perfbench/.work/run-<pid>/ and is removed
when it ends. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("medallion_etl", "corpus_dedup", "catalog_upserts", "sql_queries")
# corpus_dedup: base documents and replicas; sql_queries: table scale
# (1.0 = 600k lineitems); see README.md for how these were sized
DOCS, K = 600, 3
SQL_SCALE = 0.01
JVM_HEAP = "3g"
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 700
END_TO_END = ("setup_s", "pass_s", "cpu_s")
CDS_ARCHIVE = os.path.join(HERE, "target", "cds", "app.jsa")


def per_layer():
    """Every per-layer metric as (name, unit, better); BENCHMARK.json lists
    the same (test_checks.py keeps the two equal)."""
    s, n, b = "s", "count", "bytes"
    engine = [("wall_s", s), ("driver_s", s), ("jobs", n), ("stages", n), ("tasks", n),
              ("executor_cpu_s", s), ("gc_s", s), ("input_bytes", b),
              ("shuffle_write_bytes", b), ("spill_bytes", b), ("bytes_written", b),
              ("files_written", n)]
    out = [(f"medallion.{op}.{k}", u, "lower") for op in ("bronze", "silver", "gold")
           for k, u in engine]
    out += [(f"medallion.{x}_gb_per_min", "GB/min", "higher") for x in ("etl", "bronze", "silver")]
    out += [(f"api.dedup.{k}", u, "lower") for k, u in (
        ("wall_s", s), ("driver_s", s), ("stages", n), ("tasks", n), ("executor_cpu_s", s),
        ("gc_s", s), ("shuffle_write_bytes", b), ("spill_bytes", b))]
    out += [("api.dedup.docs_per_s", "docs/s", "higher"),
            ("api.signatures.wall_s", s, "lower"), ("api.candidates.wall_s", s, "lower"),
            ("api.candidates.pairs", n, "lower"), ("api.verify.wall_s", s, "lower"),
            ("api.verify.edges", n, "higher"), ("api.verify.yield", "ratio", "higher"),
            ("api.components.wall_s", s, "lower"), ("api.components.components", n, "lower")]
    out += [(f"catalog.{op}.{k}", u, "lower")
            for op in ("append", "merge", "delete", "mor_merge", "mor_delete")
            for k, u in (("wall_s", s), ("driver_s", s), ("executor_cpu_s", s),
                         ("bytes_written", b), ("files_written", n), ("metadata_files", n))]
    out += [(f"catalog.{op}.{k}", u, "lower") for op in ("read", "mor_read")
            for k, u in (("wall_s", s), ("input_files", n), ("input_bytes", b),
                         ("rows_read", n))]
    out += [("catalog.storage.live_bytes", b, "lower"),
            ("catalog.storage.total_bytes", b, "lower")]
    out += [(f"ops.{k}", u, "lower") for k, u in (
        ("wall_s", s), ("planning_s", s), ("driver_s", s), ("executor_cpu_s", s),
        ("stages", n), ("tasks", n), ("shuffle_bytes", b), ("exchanges", n),
        ("reused_exchanges", n), ("broadcast_joins", n), ("sort_merge_joins", n),
        ("codegen_stages", n))]
    out += [("spark.peak_rss_mb", "MB", "lower"), ("spark.jit_cpu_s", s, "lower"),
            ("host.steal_s", s, "lower"), ("host.loadavg_start", "load", "lower"),
            ("host.loadavg_end", "load", "lower"), ("host.nproc", n, "higher"),
            ("host.parallelism", n, "higher")]
    return out


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every file the build reads, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")] + \
           [os.path.join(HERE, p) for p in ("build.sbt", "project", "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, n) for d, dirs, names in os.walk(top)
            if "/target" not in d for n in names)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of the benchmark and the engine, and the JVM's class-data
    archive; (classpath, build seconds)."""
    target = os.path.join(HERE, "target")
    cp_file, digest_file = os.path.join(target, "classpath.txt"), os.path.join(target, "digest")
    digest = source_digest()
    if all(os.path.exists(p) for p in (cp_file, digest_file, CDS_ARCHIVE)):
        with open(digest_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == digest and all(os.path.exists(p) for p in cp.split(":")):
                return cp, 0.0
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx4g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    log("building engine and benchmark with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       text=True, timeout=BUILD_BUDGET_S, stdin=subprocess.DEVNULL)
    lines = [x for x in r.stdout.splitlines() if x.strip()]
    if r.returncode != 0 or not lines or "/" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    cp = jar_directories(lines[-1].strip(), os.path.dirname(CDS_ARCHIVE))
    dump_archive(cp, t0 + BUILD_BUDGET_S)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(digest_file, "w") as f:
        f.write(digest)
    return cp, time.time() - t0


def jar_directories(cp, out_dir):
    """The classpath with each class directory packed into a jar: a class-data
    archive accepts jars only."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    entries = []
    for i, p in enumerate(cp.split(":")):
        if os.path.isdir(p):
            p = shutil.make_archive(os.path.join(out_dir, f"classes{i}"), "zip", p)
            os.replace(p, p[:-4] + ".jar")
            p = p[:-4] + ".jar"
        entries.append(p)
    return ":".join(entries)


def dump_archive(cp, deadline):
    """Write the class-data archive every run maps at start: the classes one
    untimed pass of every workload loads. Part of the build, not of a run;
    without it a run spends about 7 s more loading classes before its first
    pass."""
    work = os.path.join(HERE, ".work", f"dump-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        for w in WORKLOADS:
            make_inputs(w, 1, data)
        log("writing the class-data archive")
        code, _ = run_jvm(cp, ["--workload", ",".join(WORKLOADS), "--dump", "1", "--work", work,
                               "--data", data, "--seed", "1", "--seconds", "0", "--trace", "0"],
                          work, deadline,
                          # the classes of signed jars and of Spark's generated code are left
                          # out of the archive; the JVM logs each one, thousands of lines
                          [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}", "-Xlog:cds=error"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(CDS_ARCHIVE):
        raise SystemExit(f"build failed: the class-data archive run exited {code}")


def host_sample():
    """(steal seconds since boot, 1-minute load average)."""
    steal = 0.0
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        steal = int(cpu[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
    except (OSError, ValueError):
        load1 = -1.0
    return steal, load1


def make_inputs(workload, seed, data):
    if workload == "corpus_dedup":
        gen.write_documents(data, seed, DOCS)
        gen.write_replicas(data, K)
    elif workload == "sql_queries":
        gen.write_star_schema(data, seed, SQL_SCALE)


def run_jvm(cp, args, work, deadline, archive=None):
    """Run perfbench.Main; returns (exit code, peak RSS in MB). The JVM maps
    the class-data archive, or with `archive` given as flags, writes it."""
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UseDynamicNumberOfCompilerThreads",
           *(archive or [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"]),
           f"-Dperfbench.clk_tck={os.sysconf('SC_CLK_TCK')}",
           *ADD_OPENS, f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", *args]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its scratch
    # files inside the run directory too
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, stdout=sys.stderr, stdin=subprocess.DEVNULL, cwd=work, env=env)
    try:
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                raise SystemExit("the run exceeded its time budget")
            time.sleep(0.05)
    except BaseException:
        p.kill()
        os.wait4(p.pid, 0)
        raise
    p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, ru.ru_maxrss / 1024.0


def verify(workload, res, seed, data):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    c = res.get("checks")
    if c is None:
        return ["the run wrote no outputs to check"]
    if workload == "medallion_etl":
        return checks.medallion(con, c)
    if workload == "corpus_dedup":
        return checks.dedup(con, c, os.path.join(data, "corpus.parquet"), seed=seed)
    if workload == "catalog_upserts":
        return checks.catalog(con, c, seed)
    return checks.sql(con, c, data)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"{need} not found: run from the root of a graft source checkout")
    # the program sees the seed reduced to a range its integer arithmetic
    # cannot overflow; the same --seed always gives the same inputs
    seed = a.seed % 1_000_003

    cp, build_s = build()
    steal0, load0 = host_sample()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(data)
    try:
        make_inputs(a.workload, seed, data)
        deadline = T_START + build_s + RUN_BUDGET_S
        code, rss_mb = run_jvm(cp, ["--workload", a.workload, "--work", work, "--data", data,
                                    "--seed", str(seed), "--seconds", str(a.seconds),
                                    "--trace", str(a.trace)], work, deadline)
        res_path = os.path.join(work, "jvm.json")
        if code != 0 or not os.path.exists(res_path):
            raise SystemExit(f"the benchmark JVM failed (exit {code})")
        with open(res_path) as f:
            res = json.load(f)
        log("warm-up passes " + " ".join(f"{x:.2f}" for x in res["warmup_pass_s"]) +
            "; timed passes " + " ".join(f"{x:.2f}" for x in res["pass_s"]) +
            "; cpu " + " ".join(f"{x:.2f}" for x in res["cpu_s"]) +
            "; jit " + " ".join(f"{x:.2f}" for x in res["jit_cpu_s"]))
        log("median seconds per op: " + ", ".join(
            f"{k} {statistics.median(v):.3f}" for k, v in res["ops"].items()))
        bad = verify(a.workload, res, seed, data)
        steal1, load1 = host_sample()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for msg in bad:
        log(f"CHECK FAILED: {msg}")
    host = {"host.steal_s": round(steal1 - steal0, 3), "host.loadavg_start": load0,
            "host.loadavg_end": load1, "host.nproc": os.cpu_count(),
            "host.parallelism": res["parallelism"]}
    if a.trace:
        for msg in checks.same_stages(res["stages_per_pass"]):
            bad.append(msg)
            log(f"CHECK FAILED: {msg}")
        # a layer the workload does not exercise did no work: it reads 0
        layers = dict(res.get("layers", {}), **host)
        layers["spark.peak_rss_mb"] = rss_mb
        layers["spark.jit_cpu_s"] = statistics.median(res["jit_cpu_s"])
        metrics = {name: {"value": layers.get(name, 0.0), "unit": unit}
                   for name, unit, _ in per_layer()}
    else:
        first = res["first_timed_epoch_s"]
        metrics = {
            "setup_s": {"value": first - T_START - build_s, "unit": "s"},
            "pass_s": {"value": statistics.median(res["pass_s"]), "unit": "s"},
            "cpu_s": {"value": statistics.median(res["cpu_s"]), "unit": "s"},
        }
    print(json.dumps({"host": host, "passes": len(res["pass_s"]),
                      "warmup_passes": len(res["warmup_pass_s"])}))
    print(json.dumps({"correct": not bad, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
