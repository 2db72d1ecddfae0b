#!/usr/bin/env python3
"""graft end-to-end benchmark.

Usage (from the repository root):
  python3 perfbench/run.py --workload feed_live|cdc_batch \
      --seed N --seconds S --trace 0|1

Builds the program from source on first use (sbt, output under
.bench_build/perfbench), generates the workload's corpus from the seed, runs
the program's public entry points in fresh JVMs, checks every output against
its reference, and prints one JSON object as the last line of stdout:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (BENCHMARK.json
"end_to_end"); with --trace 1 the per-layer ones ("per_layer"), from a traced
run next to an untraced one, plus a report and span file under
.bench_build/perfbench/trace/. Engine settings and workload sizes are pinned
in perfbench/settings.json.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

import corpus
import layers
from oracle import Oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SETTINGS = json.load(open(os.path.join(HERE, "settings.json")))
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


# ---- build ------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark entry points once per source
    state; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = base_env()
    log("building the program and the benchmark entry points (sbt compile)")
    t0 = time.time()
    out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                    "compile", "export Runtime/fullClasspath"],
                   cwd=HERE, env=env, timeout=850, log_path=os.path.join(BUILD, "build.log"))
    lines = [l.strip() for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        raise RuntimeError("build failed; see .bench_build/perfbench/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return lines[-1]


def spark_home():
    """SPARK_HOME, or else the first Spark install (a bin/spark-submit next
    to a jars/ directory) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    raise RuntimeError("no Spark install found: set SPARK_HOME or put its bin/ on PATH")


def base_env():
    """Environment for sbt and the JVMs: what the caller sets wins; the
    defaults keep both offline and Spark on the loopback interface, so a
    bare environment builds and runs the same as a configured one."""
    env = dict(os.environ, SPARK_HOME=spark_home())
    for k, v in (("COURSIER_MODE", "offline"), ("SBT_OPTS", "-Dsbt.offline=true -Xmx2g"),
                 ("SPARK_LOCAL_IP", "127.0.0.1"), ("SPARK_LOCAL_HOSTNAME", "localhost")):
        env.setdefault(k, v)
    return env


def log_tail(path, n=40):
    with open(path, errors="replace") as f:
        lines = [l.rstrip() for l in f if l.strip()]
    return "\n".join(lines[-n:])


def run_proc(cmd, cwd, env, timeout, log_path):
    """Run to completion in its own process group; the group is killed on
    timeout. Returns stdout; stderr goes to log_path."""
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        out = ""
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            raise RuntimeError(f"{cmd[0]} timed out after {timeout} s; {log_path} ends:\n"
                               f"{log_tail(log_path)}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            err.write(out)
    if p.returncode != 0:
        raise RuntimeError(f"{cmd[0]} exited {p.returncode}; {log_path} ends:\n{log_tail(log_path)}")
    return out


def engine_setting(name):
    """settings.json "engine" value, with "nproc" standing for the cores
    this process may run on."""
    return str(SETTINGS["engine"][name]).replace("nproc", str(cores()))


def run_jvm(cp, main, args, work, timeout):
    """One fresh JVM with the pinned engine settings. The launch time is
    passed in so the JVM can report set-up time from process start."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(base_env(), GRAFT_BUILD_CACHE=engine_setting("GRAFT_BUILD_CACHE"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java", f"-Xmx{engine_setting('driver_memory')}", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-Dspark.ui.enabled=false", "-cp", cp, main,
           "--master", engine_setting("master"),
           "--shuffle-partitions", engine_setting("shuffle_partitions"),
           "--launch-ms", repr(time.time() * 1000.0), "--cores", str(cores()),
           "--work", work, *args]
    run_proc(cmd, cwd=work, env=env, timeout=timeout, log_path=os.path.join(work, "jvm.log"))
    return json.load(open(os.path.join(work, "result.json")))


# ---- workloads --------------------------------------------------------------

def weighted_quantile(samples, q):
    """Nearest-rank quantile of (value, weight) samples."""
    s = sorted((v, w) for v, w in samples if w > 0)
    rank, acc = max(1, math.ceil(q * sum(w for _, w in s))), 0
    for v, w in s:
        acc += w
        if acc >= rank:
            return v
    return float("nan")


def result_rows(path):
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


def settings_key(name):
    """Program build and the workload's pinned settings (which fix the
    corpus's row counts): what a cached per-workload file depends on."""
    settings = json.dumps([SETTINGS["engine"], SETTINGS[name]], sort_keys=True)
    return (open(os.path.join(BUILD, "stamp")).read()[:12] + "-" +
            hashlib.sha256(settings.encode()).hexdigest()[:12])


def oracle_sql_path(name):
    return os.path.join(BUILD, "oracle", f"{name}-{settings_key(name)}.json")


def batch_job(cp, name, corpus_dir, run_dir, i, trace):
    cfg = SETTINGS[name]
    work = os.path.join(run_dir, f"job{i}")
    out = os.path.join(work, "out")
    res = run_jvm(cp, "perfbench.BatchJob",
                  ["--corpus", corpus_dir, "--out", out, "--keys", ",".join(cfg["keys"]),
                   "--probe-keys", ",".join(cfg.get("probe_keys", [])),
                   "--trace", "1" if trace else "0", "--oracle", oracle_sql_path(name),
                   "--result", os.path.join(work, "result.json")],
                  work, SETTINGS["engine"]["jvm_timeout_s"])
    res["out"], res["work"] = out, work
    return res


def check_batch(oracle, jobs):
    attempted = failed = 0
    for job in jobs:
        for q in job["queries"]:
            attempted += 1
            why = q["error"] or oracle.check(q["key"], os.path.join(job["out"], q["key"]))
            if why:
                failed += 1
                log(f"FAIL {q['key']}: {why}")
    return attempted, failed


def run_batch(cp, name, seed, seconds, trace, run_dir):
    cfg = SETTINGS[name]
    corpus_dir = os.path.join(run_dir, "corpus")
    sizes = corpus.generate(cfg["corpus"], seed, corpus_dir)
    log(f"{name}: corpus {sizes}")
    jobs = []
    t0 = time.time()
    while not jobs or (not trace and time.time() - t0 < seconds):
        jobs.append(batch_job(cp, name, corpus_dir, run_dir, len(jobs), trace))
    sql = json.load(open(oracle_sql_path(name)))
    attempted, failed = check_batch(Oracle(corpus_dir, sql), jobs)
    # The job is one batch submitted at once; a result row is delivered when
    # its result is fully written. Each row's sample is the time from the
    # job's first query submission to its result's last file written.
    rows = [(q["done_ms"], result_rows(os.path.join(j["out"], q["key"])))
            for j in jobs for q in j["queries"] if not q["probe"]]
    e2e = {
        "deliver_p50_ms": weighted_quantile(rows, 0.5),
        "deliver_p99_ms": weighted_quantile(rows, 0.99),
        "job_s": statistics.median(j["job_s"] for j in jobs),
        "setup_s": statistics.median(j["setup_s"] for j in jobs),
    }
    log(f"{name}: {len(jobs)} cold jobs, job_s {[round(j['job_s'], 3) for j in jobs]}, "
        f"{sum(n for _, n in rows)} result rows in {len(rows)} results")
    per_layer = layers.batch_layers(name, cfg, jobs[0], untraced(name, e2e, trace)) \
        if trace else untraced(name, e2e, trace)
    return attempted, failed, e2e, per_layer, jobs[-1]["work"]


def feed_job(cp, corpus_dir, run_dir, seed, seconds, trace):
    cfg = SETTINGS["feed_live"]
    work = os.path.join(run_dir, "feed")
    return run_jvm(cp, "perfbench.FeedJob", [
        "--corpus", corpus_dir, "--trace", "1" if trace else "0",
        "--result", os.path.join(work, "result.json"), "--seed", str(seed),
        "--rate", str(cfg["rate_docs_per_s"]), "--trigger-ms", str(cfg["trigger_ms"]),
        "--max-per-trigger", str(cfg["max_lsn_per_trigger"]),
        "--partitions", str(cfg["partitions"]), "--warmup-docs", str(cfg["warmup_docs"]),
        "--warmup-s", str(cfg["warmup_s"]), "--window-s", str(seconds),
        "--malformed-share", str(cfg["malformed_doc_share"]), "--poll-ms", str(cfg["poll_ms"])],
        work, SETTINGS["engine"]["jvm_timeout_s"]) | {"work": work}


def run_feed(cp, seed, seconds, trace, run_dir):
    cfg = SETTINGS["feed_live"]
    corpus_dir = os.path.join(run_dir, "corpus")
    sizes = corpus.generate(cfg["corpus"], seed, corpus_dir)
    log(f"feed_live: corpus {sizes}")
    r = feed_job(cp, corpus_dir, run_dir, seed, seconds, trace)
    attempted = r["expected_deliveries"] + 1
    failed = r["wrong_deliveries"] + (0 if r["snapshot_ok"] else 1)
    if r["wrong_deliveries"]:
        log(f"FAIL feed: {r['wrong_deliveries']} deliveries not exactly once")
    if not r["snapshot_ok"]:
        log(f"FAIL feed: snapshot rows {r['state_rows']} != entities {r['entities']}")
    log(f"feed_live: {r['samples']} latency samples ({r['unsampled']} unsampled, "
        f"{r['pending_changes_at_stop']} pending in the batch cancelled at stop), "
        f"{r['batches']} batches, p50 {r['deliver_p50_ms']:.1f} ms, "
        f"p99 {r['deliver_p99_ms']:.1f} ms, setup {r['setup_s']:.2f} s")
    e2e = {k: r[k] for k in ("deliver_p50_ms", "deliver_p99_ms", "job_s", "setup_s")}
    per_layer = layers.feed_layers(r, untraced("feed_live", e2e, trace)) \
        if trace else untraced("feed_live", e2e, trace)
    return attempted, failed, e2e, per_layer, r["work"]


def untraced(name, e2e, trace):
    """End-to-end figures of this checkout's untraced runs of the workload:
    an untraced run appends its own, a traced run reads them to price the
    tracing overhead (traced minus untraced median)."""
    path = os.path.join(BUILD, "untraced", f"{name}-{settings_key(name)}.jsonl")
    if not trace:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "a") as f:
            f.write(json.dumps(e2e) + "\n")
        return None
    if not os.path.exists(path):
        return []
    return [json.loads(l) for l in open(path) if l.strip()]


# ---- main -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w for w in SETTINGS if w != "engine"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still unwinds, so run_proc stops the JVM it waits on
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # numpy and the JVM's Long both take any seed in [0, 2^63)
    a.seed %= 1 << 63

    if not os.path.exists(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        log(f"program sources not found under {PROGRAM_SRC}; run from a full checkout")
        sys.exit(2)
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp = build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.workload == "feed_live":
            attempted, failed, e2e, per_layer, traced_work = run_feed(
                cp, a.seed, a.seconds, a.trace, run_dir)
        else:
            attempted, failed, e2e, per_layer, traced_work = run_batch(
                cp, a.workload, a.seed, a.seconds, a.trace, run_dir)
        print(f"error_rate {failed / max(1, attempted):.6f} fraction "
              f"({failed} failed of {attempted} attempted)")
        if a.trace:
            out_dir = os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}")
            wanted = bench["per_layer"]
            layers.write_report(a.workload, per_layer, [m["name"] for m in wanted],
                                traced_work, out_dir)
        else:
            wanted = bench["end_to_end"]
        bad = {k: v for k, v in e2e.items() if not (math.isfinite(v) and v > 0)}
        if bad:
            raise RuntimeError(f"measurement produced no valid value for {bad}")
        values = per_layer if a.trace else e2e
        metrics = {}
        for m in wanted:
            v = float(values.get(m["name"], 0.0))
            metrics[m["name"]] = {"value": v if math.isfinite(v) else 0.0, "unit": m["unit"]}
            print(f"{m['name']} {metrics[m['name']]['value']:.6g} {m['unit']}")
    except BaseException:
        log(f"run failed; its files are kept in {run_dir}")
        raise
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
