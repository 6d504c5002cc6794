#!/usr/bin/env python3
"""graft benchmark: one command, two seeded workloads, optional layer trace.

Usage (from the repository root):
    python3 perfbench/run.py --workload {serve,ops} --seed N \
        --seconds S --trace {0,1}

Builds the engine plus the benchmark sources with sbt on first use (the
build is reused while no source changes), runs one JVM at local[N] with
N = min(4, nproc), and prints as its last stdout line one JSON object with
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1). The line before it carries the
run's diagnostics: seed, heap, local[N], shuffle partitions, scratch root,
host record and every figure the run measured. Exits non-zero on any failed
operation or output mismatch. See perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JAR = os.path.join(HERE, "target", "scala-2.13", "perfbench_2.13-0.1.0-SNAPSHOT.jar")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
# The ops workload's tables: the documents, embeddings and events tables of
# the repository's sf0.1 test data, kept here so a run reads only its
# checkout. They are read in place and never written.
OPS_DATA = os.path.join(HERE, "data", "sf0.1")
ORACLE_CACHE = os.path.join(HERE, "target", "oracle_cache.json")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("serve", "ops")
RUN_LIMIT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit normally adds (the root build passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

child = None


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("cannot find the Spark install (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(env):
    stamp = source_stamp()
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "package"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"benchmark build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    os.sync()  # write back the build's files now, not during the first runs


def jvm(env, mem, cores, args, log_path, limit_s):
    """Runs perfbench.Main in one JVM with the run's scratch tree; returns
    its exit code. The scratch tree is cleared first."""
    global child
    clear_work()
    for d in ("tmp", "export"):
        os.makedirs(os.path.join(WORK, d))
    cp = JAR + os.pathsep + os.path.join(env["SPARK_HOME"], "jars", "*")
    cmd = (["java", f"-Xmx{mem}", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={WORK}/tmp", f"-Dperfbench.export.root={WORK}/export",
              "-cp", cp, "perfbench.Main", "--scratch", WORK, "--cores", str(cores),
              "--data", OPS_DATA]
           + args)
    with open(log_path, "w") as log:
        child = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            return child.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            child.kill()
            child.wait()
            die(f"run exceeded {limit_s} s", 4)


def host_cores():
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return max(1, min(4, nproc))


def driver_mem():
    """SPARK_DRIVER_MEM if set, else MemTotal/2 clamped to 2..8 GiB."""
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if mem:
        return mem
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def fs_type(path):
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                    best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


def clear_work():
    shutil.rmtree(WORK, ignore_errors=True)


def stop_child(*_):
    if child is not None and child.poll() is None:
        child.terminate()
        try:
            child.wait(timeout=20)
        except subprocess.TimeoutExpired:
            child.kill()
            child.wait()
    clear_work()
    sys.exit(3)


def digest_rows(rows_key, rows):
    """md5 of the repository's canonical row multiset (oracle_check.rows_key)."""
    return hashlib.md5(repr(rows_key(rows)).encode()).hexdigest()


def oracle_compare(result, work):
    """DuckDB oracle compare of the ops cold-pass dumps: each operator's
    rows against its `oracleSql` twin over the same tables, with the
    repository's own compare (tools/oracle_check.py): same column names,
    and equal row multisets with doubles matched bit for bit (compared as
    md5s of `rows_key`). A missing DuckDB fails every compare.

    An oracle's rows depend only on its SQL, the DuckDB version and the
    fixed tables, so its (columns, digest) is cached in ORACLE_CACHE under
    a hash of the three: DuckDB runs each oracle once per checkout, not
    once per run."""
    out = os.path.join(work, "ops_out")
    hashes, bad = {}, []
    try:
        with open(os.path.join(out, "oracle_sql.json")) as fh:
            oracle = json.load(fh)
    except OSError as e:
        oracle = {}
        result["attempted"] += 1
        bad.append(f"the cold pass wrote no oracle_sql.json ({e})")
    try:
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        sys.dont_write_bytecode = True  # leave tools/ as the checkout has it
        import duckdb
        from oracle_check import rows_key
    except ImportError as e:
        result["attempted"] += len(oracle)
        bad += [f"{name}: no oracle compare ({e})" for name in sorted(oracle)]
    else:
        try:
            with open(ORACLE_CACHE) as fh:
                cache = json.load(fh)
        except (OSError, ValueError):
            cache = {}
        tables = hashlib.sha256(duckdb.__version__.encode())
        for t in ("documents", "embeddings", "events"):
            with open(os.path.join(OPS_DATA, f"{t}.parquet"), "rb") as fh:
                tables.update(fh.read())
        con = duckdb.connect()
        for t in ("documents", "embeddings", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{OPS_DATA}/{t}.parquet')")
        for name in sorted(oracle):
            result["attempted"] += 1
            files = glob.glob(os.path.join(out, name, "*.parquet"))
            try:
                if not files:
                    raise RuntimeError("no dump")
                key = hashlib.sha256(tables.hexdigest().encode() + oracle[name].encode()).hexdigest()
                if key not in cache:
                    o = con.execute(oracle[name])
                    cache[key] = [[d[0].lower() for d in o.description],
                                  digest_rows(rows_key, o.fetchall())]
                ocols, odigest = cache[key]
                sp = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
                scols = [d[0].lower() for d in sp.description]
                hashes[name] = digest_rows(rows_key, sp.fetchall())
                if scols != ocols:
                    bad.append(f"{name}: columns {scols} vs oracle {ocols}")
                elif hashes[name] != odigest:
                    bad.append(f"{name}: rows differ from the oracle's")
            except Exception as e:  # recorded as a failed operation, with its message
                bad.append(f"{name}: {type(e).__name__}: {e}")
        con.close()
        with open(ORACLE_CACHE, "w") as fh:
            json.dump(cache, fh)
    result["checks"]["ops_row_md5"] = hashes
    for b in bad:
        result["failed"] += 1
        result["errors"].append(f"ops_oracle: {b}")
        print(f"[perfbench] FAILED ops_oracle: {b}", file=sys.stderr)
    if bad:
        result["correct"] = False


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/")
    if shutil.which("java") is None:
        die("java is not on PATH")
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    # runs share the scratch tree and the build: one at a time per checkout
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    lock = open(os.path.join(HERE, "target", "run.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)

    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    env.pop("SPARK_LOCAL_DIRS", None)  # Spark would prefer it to the run's scratch
    build(env)

    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cores = host_cores()
    mem = driver_mem()
    # start from a clean page cache state: dirty data of earlier runs is
    # written back before the JVM starts, not while it is measured
    os.sync()
    load_before = os.getloadavg()
    log_path = os.path.join(HERE, "target", "last_run.log")
    t0 = time.time()
    try:
        rc = jvm(env, mem, cores,
                 ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace)], log_path, RUN_LIMIT_S)
        res_path = os.path.join(WORK, "result.json")
        if not os.path.exists(res_path):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            die(f"JVM exited {rc} without a result", 5)
        with open(res_path) as fh:
            result = json.load(fh)
        if a.workload == "ops":
            oracle_compare(result, WORK)
    finally:
        clear_work()
    load_after = os.getloadavg()

    diagnostics = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "local": f"local[{cores}]", "nproc": nproc, "heap": mem,
        "heap_max_mb": result.get("heap_max_mb"),
        "scratch_root": os.path.relpath(WORK, ROOT), "scratch_fs": fs_type(WORK),
        "loadavg_before": load_before, "loadavg_after": load_after,
        "wall_s": time.time() - t0, "jvm_exit": rc,
        "attempted_by_kind": result["attempted_by_kind"],
        "failed_by_kind": result["failed_by_kind"], "errors": result["errors"],
        "checks": result["checks"], "end_to_end": result["end_to_end"],
        "diagnostics": result["diagnostics"],
    }
    print(json.dumps({"perfbench_diagnostics": diagnostics}))
    metrics = result["per_layer"] if a.trace else result["end_to_end"]
    ok = bool(result["correct"]) and result["failed"] == 0 and rc == 0
    print(json.dumps({"correct": ok, "attempted": max(1, int(result["attempted"])),
                      "failed": int(result["failed"]), "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
