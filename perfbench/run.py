#!/usr/bin/env python3
"""graft benchmark: run one workload for one seed and print one JSON result.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--save DIR]

Run it from the root of a graft checkout. It builds graft and the
benchmark program with sbt (offline) when their sources changed, runs the
program (perfbench.Main) in one JVM at local[nproc], replays every query
result of the cold pass against its DuckDB oracle with dev/compare.py,
and prints two lines: the full record (environment, set-up repeats, pass
walls, per-query medians), then the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). --save DIR also writes the full record there, for
perfbench/compare.py, and for a traced run its spans with their self
time. Everything else a run writes lives under .bench_run/ in the
checkout and is removed at the end.

The numbers are this benchmark's own: sf0.01 tables, local[nproc]. They
are not comparable with graft.Bench's BENCH_FULL_r*.json (sf0.1, 32 cores).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("sql_star", "text_dedup", "ann_search", "ingest")
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, relative to the checkout root."""
    out = [p for p in ("build.sbt", "project/build.properties",
                       "perfbench/build.sbt", "perfbench/project/build.properties")
           if os.path.isfile(os.path.join(ROOT, p))]
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode() + b"\0")
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile with sbt when the sources changed; return the classpath."""
    state = os.path.join(ROOT, ".bench_build", "perfbench")
    cp_file = os.path.join(state, "classpath")
    stamp_file = os.path.join(state, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(3, f"build did not finish: {e}")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(3, f"build failed (sbt exit {proc.returncode})")
    os.makedirs(state, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(digest)
    return lines[-1]


def oracle_replay(result_dir):
    """Queries whose cold-pass result matches its DuckDB oracle."""
    with open(os.path.join(result_dir, "oracle_sql.json")) as f:
        expected = set(json.load(f))
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "dev", "compare.py"), DATA, result_dir],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    passed = {l.split()[1] for l in proc.stdout.splitlines() if l.startswith("PASS ")}
    for l in proc.stdout.splitlines():
        if l.startswith("FAIL "):
            print(f"perfbench: oracle {l}", file=sys.stderr)
    return expected, passed & expected


def ingest_traffic(path):
    """Write the shape of the ingest traffic (perfbench.Traffic), derived
    from the committed tables, as one `name value ...` line per field."""
    import duckdb
    con = duckdb.connect()

    def table(name):
        return f"read_parquet('{os.path.join(DATA, name + '.parquet')}') AS {name}"

    def column(sql):
        return [r[0] for r in con.sql(sql).fetchall()]

    per_brand = column(f"SELECT count(*) FROM {table('part')} GROUP BY p_brand ORDER BY 1")
    per_part = column(f"SELECT count(DISTINCT l_suppkey) FROM {table('part')} LEFT JOIN "
                      f"{table('lineitem')} ON p_partkey = l_partkey GROUP BY p_partkey ORDER BY 1")
    suppliers = column(f"SELECT s_suppkey FROM {table('supplier')} ORDER BY 1")
    docs = [t.split(" ") for t in column(f"SELECT text FROM {table('documents')}")]
    # the committed corpus plants a near-duplicate as an earlier document
    # plus this token
    dup = "dup"
    originals = [d for d in docs if d[-1] != dup]
    fields = {
        "brands": [len(per_brand)],
        "entities_per_brand": per_brand,
        "partners_per_part": per_part,
        "suppliers": suppliers,
        "doc_lengths": sorted(len(d) for d in originals),
        "tokens": sorted(w for d in originals for w in d if w != dup),
        "near_dup_share": [(len(docs) - len(originals)) / len(docs)],
    }
    with open(path, "w") as f:
        for k, v in fields.items():
            f.write(" ".join([k, *map(str, v)]) + "\n")


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        return out.stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--save", help="directory for the full record and the spans")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in ("build.sbt", "src/main/scala/graft", "dev/compare.py", DATA)
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(2, f"run from the root of a graft checkout; missing: {', '.join(missing)}")
    digest = source_hash()
    classpath = build(digest)

    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    dirs = {k: os.path.join(scratch, k) for k in ("work", "stage", "local", "tmp", "repo")}
    for d in dirs.values():
        os.makedirs(d)
    if a.workload == "ingest":
        ingest_traffic(os.path.join(dirs["work"], "traffic.txt"))
    env = dict(os.environ, SPARK_GRAFT_STAGING_DIR=dirs["stage"], SPARK_LOCAL_DIRS=dirs["local"],
               GRAFT_REPO_ROOT=dirs["repo"], SPARK_GRAFT_CPUS=str(cores))
    cmd = ["java", *[f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS], "-Xms2g", "-Xmx2g",
           f"-Djava.io.tmpdir={dirs['tmp']}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--cores", str(cores), "--scratch", scratch, "--data", DATA]
    log_path = os.path.join(scratch, "jvm.log")
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=dirs["work"], env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
        result_file = os.path.join(scratch, "result.json")
        if rc != 0 or not os.path.isfile(result_file):
            with open(log_path, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            fail(4, f"benchmark program failed ({rc})")
        with open(result_file) as f:
            res = json.load(f)

        failed = res["failed"]
        checks = {}
        cold_dir = os.path.join(scratch, "results")
        if a.workload != "ingest":
            expected, passed = oracle_replay(cold_dir)
            threw = set(res["cold_failed"])
            failed += len(expected - passed - threw)
            checks = {"oracle_queries": len(expected), "oracle_pass": len(passed)}
        correct = failed == 0

        metrics_src = res["per_layer"] if a.trace == "1" else res["end_to_end"]
        units = unit_map()
        metrics = {k: {"value": v, "unit": units.get(k, "")} for k, v in sorted(metrics_src.items())}
        try:
            with open("/proc/loadavg") as f:
                load = f.read().split()[:3]
        except OSError:
            load = None
        record = dict(res, workload=a.workload, seed=a.seed, seconds=a.seconds,
                      trace=int(a.trace), correct=correct, failed=failed,
                      fail_ratio=failed / max(1, res["attempted"]), checks=checks,
                      env=dict(res["env"], nproc=cores, commit=commit(), source_hash=digest,
                               loadavg=load, data="sf0.01",
                               note="perfbench results only; not comparable with the 32-core "
                                    "sf0.1 BENCH_FULL_r*.json files of graft.Bench"),
                      time=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
        if a.save:
            os.makedirs(a.save, exist_ok=True)
            stem = os.path.join(a.save, f"{a.workload}-seed{a.seed}-trace{a.trace}")
            with open(stem + ".json", "w") as f:
                json.dump(record, f, indent=1, sort_keys=True)
            spans = os.path.join(scratch, "spans.jsonl")
            if os.path.isfile(spans):
                shutil.copyfile(spans, stem + ".spans.jsonl")
        print(json.dumps(record, sort_keys=True))
        print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                          "metrics": metrics}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_run"))
        except OSError:
            pass


def unit_map():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    main()
