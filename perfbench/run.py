#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_queries --seed 42 --seconds 24 --trace 0

Run from the root of a checkout. The first run builds graft from the
checkout's sources together with the benchmark driver (perfbench/build.sbt);
later runs reuse the build while the sources are unchanged. Each run:

1. generates the seed's inputs from the base tables (gen.py, cached per
   seed, outside any timed window);
2. starts one driver JVM (perfbench.Main) on local[2], which times the
   set-up, checks every operation once in an untimed verification pass,
   then runs whole passes back to back for --seconds (at least three);
3. checks the verified batch outputs here against their DuckDB oracle SQL
   (the rule of tools/compare.py); stream outputs are checked in the JVM;
4. prints every metric by name with its unit; the last line is one JSON
   object with keys correct, attempted, failed and metrics.

--trace 0 reports the end-to-end metrics; --trace 1 alternates untraced and
traced passes and reports the per-layer metrics and the tracing overhead,
and writes the spans to .perfbench/runs/.
"""
import argparse
import hashlib
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, HERE)
import gen  # noqa: E402

MODULES = ["operators", "dedup", "similarity", "text", "pipeline", "streaming"]
MODULE_COUNTS = ["jobs", "stages", "tasks", "single_task_stages", "single_task_stage_s",
                 "task_s", "driver_idle_s", "shuffle_read_mb", "shuffle_write_mb",
                 "spill_mb", "task_gc_s", "task_failures"]
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170  # a run ends within 180 s, build excluded
# Spark task threads: two, not one per CPU. On a shared 4-vCPU host a CPU
# kernel timed on all four vCPUs at once spread 2.6 times as much from run
# to run as the same kernel on one thread (host probes of 129 runs), so a
# benchmark that fills every vCPU measures its neighbours' load. The JVM's
# garbage-collector threads are capped the same way; its JIT-compiler
# threads are not, since the timed passes still run on a warm-up curve
# (pass times kept falling over six passes of a 60-second run) that fewer
# compiler threads only stretch.
SPARK_THREADS = 2
# The heap is fixed and touched when the JVM starts. A guest that reports
# freed pages to its host gets each newly touched page from the host again,
# at a cost that depends on the host's memory pressure. In one run of each,
# the timed passes took some 50,000 minor page faults with a growing heap
# and some 11,000 with a pre-touched one.
JVM_FLAGS = ["-Xms1536m", "-Xmx1536m", "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages",
             "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build():
    """Compile graft and the driver; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("no graft sources under src/main/scala: run from a checkout's root")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    target = os.path.join(HERE, "target")
    stamp_file, cp_file = os.path.join(target, "sources.sha256"), os.path.join(target, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(STATE, exist_ok=True)
    log("building graft and the benchmark driver (sbt)")
    with open(os.path.join(STATE, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0 or not os.path.exists(cp_file):
        raise BenchError(f"build failed (exit {rc}); see .perfbench/build.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


# ---------------------------------------------------------------- driver JVM

def cpus():
    return len(os.sched_getaffinity(0))


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def run_jvm(cp, spec, workload, data, out, seconds, trace, corrupt, deadline):
    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    args = {"workload": workload, "kind": spec["kind"], "data": data, "out": out,
            "seconds": str(seconds), "trace": str(trace), "cpus": str(cpus()),
            "threads": str(min(SPARK_THREADS, cpus())),
            "ops": ",".join(f"{k}:{m}" for k, m in spec["ops"].items()),
            "tables": ",".join(spec["tables"])}
    if corrupt:
        args["corrupt"] = corrupt
    cmd = [java] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS]
    cmd += ["-cp", cp, "perfbench.Main"] + [x for k, v in args.items() for x in (f"--{k}", v)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    result = os.path.join(out, "result.json")
    if os.path.exists(result):
        os.remove(result)
    with open(os.path.join(out, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=out, env=env, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError("driver JVM ran past the run's time limit")
        finally:  # also when run.py itself is interrupted or terminated
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result):
        raise BenchError(f"driver JVM exited {rc}; see {os.path.relpath(out, ROOT)}/jvm.log")
    with open(result) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- output checks

def duckdb_views(con, data):
    for t in gen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")


def same_result(sdf, odf):
    """tools/compare.py's rule: columns sorted by name, equal names,
    dtypes and row count, then equal values after sorting all rows."""
    sdf = sdf[sorted(sdf.columns)]
    odf = odf[sorted(odf.columns)]
    if list(sdf.columns) != list(odf.columns):
        return f"columns {list(sdf.columns)} vs {list(odf.columns)}"
    if [str(t) for t in sdf.dtypes] != [str(t) for t in odf.dtypes]:
        return f"dtypes {[str(t) for t in sdf.dtypes]} vs {[str(t) for t in odf.dtypes]}"
    if len(sdf) != len(odf):
        return f"{len(sdf)} rows vs {len(odf)}"
    s = sdf.sort_values(by=list(sdf.columns)).reset_index(drop=True)
    o = odf.sort_values(by=list(odf.columns)).reset_index(drop=True)
    if not s.equals(o):
        return "values differ"
    return None


def check_outputs(res, data, seed, kind):
    """Return {op: error} for every verified output that is wrong. Stream
    outputs are checked inside the JVM against their batch counterparts;
    every batch operation is checked against its DuckDB oracle SQL."""
    errors = {}
    oracle_dir = os.path.join(STATE, "oracle", f"seed-{seed}")
    con = None
    for op, v in res["verify"].items():
        if "error" in v:
            errors[op] = v["error"]
            continue
        if kind == "stream":
            continue
        sql = res["oracle_sql"].get(op)
        if sql is None:
            errors[op] = "no oracle SQL registered in SparkEntry.oracleSql"
            continue
        if con is None:
            import duckdb
            import pandas as pd
            con = duckdb.connect()
            duckdb_views(con, data)
        cached = os.path.join(oracle_dir, f"{op}-{hashlib.sha256(sql.encode()).hexdigest()[:12]}.pkl")
        try:
            if os.path.exists(cached):
                odf = pd.read_pickle(cached)
            else:
                odf = con.sql(sql).df()
                os.makedirs(oracle_dir, exist_ok=True)
                odf.to_pickle(cached)
            sdf = con.sql(f"SELECT * FROM '{v['path']}/*.parquet'").df()
            err = same_result(sdf, odf)
        except Exception as e:  # an oracle or read error is a failed check
            err = f"check error: {str(e)[:200]}"
        if err:
            errors[op] = "oracle mismatch: " + err
    return errors


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, q):
    """Nearest-rank percentile and the number of samples beyond it."""
    s = sorted(xs)
    k = max(0, math.ceil(q * len(s)) - 1)
    return s[k], len(s) - k - 1


def end_to_end(res, spec):
    untraced = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    if spec["kind"] == "stream":
        untraced = res["stream"]["feed_s"]
    lat = [x for xs in res["latencies"].values() for x in xs]
    return {
        "setup_s": (median(res["setup_s"]), "s"),
        "pass_s": (median(untraced), "s"),
        "op_p50_s": (median(lat), "s"),
    }


def per_layer(res):
    tr = res["trace"]
    traced = [p for p in res["passes"] if p["traced"]]
    n = len(traced)
    samples = tr["samples"]

    def total(key, module=None):
        return sum(s["counts"][key] for s in samples if module is None or s["module"] == module)

    m = {}
    for mod in MODULES:
        m[f"{mod}.wall_s"] = (sum(s["wall_s"] for s in samples if s["module"] == mod) / n, "s")
        for k in MODULE_COUNTS:
            unit = "s" if k.endswith("_s") else "MB" if k.endswith("_mb") else "count"
            m[f"{mod}.{k}"] = (total(k, mod) / n, unit)
    m["sources.input_mb"] = (total("scan_mb") / n, "MB")
    m["sources.rows_read"] = (total("scan_rows") / n, "count")
    m["sources.files_read"] = (total("scan_files") / n, "count")
    m["sources.scan_time_s"] = (total("scan_time_s") / n, "s")
    for mod in ["dedup", "similarity"]:
        pairs = total("join_rows", mod)
        m[f"{mod}.candidate_pairs"] = (pairs / n, "count")
        m[f"{mod}.useful_ratio"] = (total("result_rows", mod) / pairs if pairs else 0.0, "ratio")
    m["session.checkpoint_jobs"] = (total("checkpoint_jobs") / n, "count")
    m["streaming.batches"] = (total("batches") / n, "count")
    m["streaming.add_batch_s"] = (total("add_batch_s") / n, "s")
    m["streaming.planning_s"] = (total("planning_s") / n, "s")
    m["streaming.wal_commit_s"] = (total("wal_commit_s") / n, "s")
    state = tr["stream_state"].values()
    m["streaming.state_rows"] = (float(sum(v["state_rows"] for v in state)), "count")
    m["streaming.state_mem_mb"] = (float(sum(v["state_mem_mb"] for v in state)), "MB")
    m["jvm.gc_s"] = (statistics.mean(p["gc_s"] for p in traced), "s")
    m["jvm.heap_peak_mb"] = (max(p["heap_peak_mb"] for p in traced), "MB")
    m["jvm.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    plain = [p["wall_s"] for p in res["passes"][1:] if not p["traced"]]
    m["trace.overhead_ratio"] = (median([p["wall_s"] for p in traced]) / median(plain), "ratio")
    m["host.steal_share"] = (res["probes"]["steal_share"], "ratio")
    for when in ["start", "end"]:
        for k in ["single_thread_ms", "all_threads_ms"]:
            m[f"host.probe_{when}_{k}"] = (res["probes"][when][k], "ms")
    return m


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description="graft benchmark: one workload, one seed, one run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--base", default=None, help="base table scale under perfbench/data (self-test)")
    ap.add_argument("--corrupt", default=None, help="corrupt this operation's output (self-test)")
    a = ap.parse_args(argv)

    with open(os.path.join(HERE, "workloads.json")) as fh:
        conf = json.load(fh)
    if a.workload not in conf["workloads"]:
        raise BenchError(f"unknown workload {a.workload}; known: {', '.join(conf['workloads'])}")
    spec = conf["workloads"][a.workload]
    cp = build()
    t0 = time.time()
    deadline = t0 + RUN_LIMIT_S
    base = a.base or conf["base"]
    data = gen.generate(os.path.join(HERE, "data", base),
                        os.path.join(STATE, "inputs", base, f"seed-{a.seed}"), a.seed)
    out = os.path.join(STATE, "runs", f"{a.workload}-{base}-seed-{a.seed}-trace-{a.trace}")
    t1 = time.time()
    steal0, total0 = cpu_times()
    res = run_jvm(cp, spec, a.workload, data, out, a.seconds, a.trace, a.corrupt, deadline)
    steal1, total1 = cpu_times()
    # CPU time the hypervisor gave to other guests during the run
    res["probes"]["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    t2 = time.time()
    bad = check_outputs(res, data, f"{base}-{a.seed}", spec["kind"])
    log(f"inputs {t1 - t0:.1f} s, driver JVM {t2 - t1:.1f} s (set-up {sum(res['setup_s']):.1f} s, "
        f"verification {res['verify_s']:.1f} s, {len(res['passes'])} passes "
        f"{sum(p['wall_s'] for p in res['passes']):.1f} s), output checks {time.time() - t2:.1f} s")
    attempted, failed = res["attempted"], res["failed"]
    for op in bad:  # every timed sample of an op with a wrong output is a failure
        failed += len(res["latencies"].pop(op, []))
    errors = [f"{op}: {e}" for op, e in bad.items()] + res["errors"]
    for e in errors[:20]:
        log(f"FAILED {e}")

    lat = [x for xs in res["latencies"].values() for x in xs]
    if not lat:
        raise BenchError("no operation succeeded")
    e2e = end_to_end(res, spec)
    passes = len(res["passes"])
    summary = [f"{k}={v:.4f} {u}" for k, (v, u) in e2e.items()]
    p90, beyond = percentile(lat, 0.9)
    summary.append(f"op_p90_s={p90:.4f} s ({len(lat)} samples, {beyond} beyond"
                   f"{'' if beyond >= 10 else '; fewer than 10, so not a reliable tail'})")
    summary.append(f"fail_ratio={failed / attempted:.4f} ({failed}/{attempted})")
    summary.append(f"peak_rss_mb={res['peak_rss_mb']:.1f} MB")
    summary.append(f"cold_setup_s={res['setup_s'][0]:.4f} s")
    if spec["kind"] == "stream":
        s = res["stream"]
        rates = [s["rows_per_replay"] / f for f in s["feed_s"]]
        summary.append(f"events_per_s={median(rates):.1f} 1/s")
        summary.append(f"batch_p50_s={median(lat):.4f} s batch_p90_s={p90:.4f} s")
    print(f"{a.workload} seed={a.seed} cpus={res['cpus']} threads={res['threads']} passes={passes}: " + ", ".join(summary))
    print("host probes: " + json.dumps(res["probes"], sort_keys=True))

    if a.trace:
        metrics = per_layer(res)
        artifact = {"workload": a.workload, "seed": a.seed, "per_layer": {k: v for k, (v, _) in metrics.items()},
                    "passes": res["passes"], "spans": res["trace"]["spans"],
                    "samples": res["trace"]["samples"]}
        path = os.path.join(STATE, "runs", f"trace-{a.workload}-seed-{a.seed}.json")
        with open(path, "w") as fh:
            json.dump(artifact, fh)
        print(f"trace: {len(res['trace']['spans'])} spans, overhead x"
              f"{metrics['trace.overhead_ratio'][0]:.3f}, written to {os.path.relpath(path, ROOT)}")
    else:
        metrics = e2e
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    # a terminated run unwinds like an interrupted one, so the JVM is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
