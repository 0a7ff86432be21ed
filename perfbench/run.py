#!/usr/bin/env python3
"""Benchmark of the CPC pipeline and of the gated-operator register entries.

Usage, from the root of a checkout:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (perfbench/README.md explains each):
  cpc_publish           one CpcPipeline.run over clean CPC bulk zips; publishes
  register_dedup_graph  one pass over nine register entries at sf0.1

The first run in a checkout, and any run after a source file changed, builds
the program and the harness with sbt (`perfbench/build.sbt` compiles the
checkout's `src/main`) and writes the JVM launch line to
`.bench_build/perfbench/`. Every run then generates its inputs from the seed,
starts one JVM for the measured part, checks every operation's output (CPC:
against a model that does not call the program; register: against recorded
row hashes), and prints one JSON object as its last line of standard output:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(WORK, "launch.txt")
RUN_LIMIT_S = 170  # a run that also builds may take 900 s
BUILD_RUN_LIMIT_S = 890

sys.path.insert(0, HERE)
import cpcgen  # noqa: E402

CPC_SPANS = ["ingest", "parse", "dim.symbol_list", "dim.validity", "dim.scheme", "validate", "pipeline"]
REGISTER_SPANS = ["q71_dup_clusters", "q465_incremental_components", "q456_kcore", "q276_betweenness",
                  "q470_pagerank_convergence", "q264_textrank", "q22_dedup_shingle",
                  "q474_suffix_array_dupes", "x_bpe_train30"]
SPAN_COUNTERS = [("wall_s", "s"), ("driver_only_s", "s"), ("executor_run_s", "s"),
                 ("jobs", "count"), ("tasks", "count"), ("shuffle_bytes", "bytes")]
WORK_COUNTS = [("ingest.lines", "count"), ("parse.rows", "count"), ("parse.dropped", "count"),
               ("dim.symbol_list.rows", "count"), ("dim.validity.rows", "count"),
               ("dim.scheme.edges", "count"), ("validate.invalid", "count"),
               ("publish.bytes", "bytes"), ("publish.files", "count"), ("publish.write_s", "s")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, log, timeout, env=None):
    """Runs cmd in its own process group; kills the whole group on timeout
    and always waits for it."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{cmd[0]} exceeded {timeout:.0f} s; see {log}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def fingerprint():
    """Hash of every file the build reads, so a changed tree is rebuilt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Builds when the sources changed; returns whether it built."""
    stamp = os.path.join(WORK, "launch.fp")
    fp = fingerprint()
    if os.path.exists(LAUNCH) and os.path.exists(stamp) and open(stamp).read() == fp:
        return False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}" if os.path.exists(repos) else "")
    log = os.path.join(WORK, "build.log")
    code = run_group(["sbt", "-batch", f"-Dperfbench.launch={LAUNCH}", "writeLaunch"], HERE, log, 840, env)
    if code != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (exit {code}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(fp)
    return True


def reset(*dirs):
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)


def check_cpc(check, expected):
    return all(check[k] == expected[k] for k in ("total", "invalid", "first_invalid", "published"))


def check_register(check, expected):
    return sorted(check) == sorted(expected) and all(check[n] == expected[n] for n in expected)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["cpc_publish", "register_dedup_graph"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_begin = time.time()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(
            os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"{ROOT} is not a checkout of the program (no build.sbt / src/main/scala/graft)")
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        fail(f"another run is using {WORK}")
    limit = BUILD_RUN_LIMIT_S if build() else RUN_LIMIT_S

    # set-up starts here: building the program is not part of a run
    t_setup = time.time()
    scratch = [os.path.join(WORK, d) for d in ("inputs", "out", "tmp", "spark-local")]
    inputs, out, tmp, local = scratch
    reset(*scratch)
    cpc = a.workload == "cpc_publish"
    if cpc:
        expected = cpcgen.build(inputs, a.seed)
    else:
        with open(os.path.join(HERE, "register_expected.json")) as fh:
            expected = json.load(fh)
        inputs = os.path.join(HERE, "data", "sf0.1")

    with open(LAUNCH) as fh:
        launch = fh.read().split("\n")
    cpus = len(os.sched_getaffinity(0))
    result_file = os.path.join(WORK, "result.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS")}
    cmd = ["java"] + [x for x in launch if x] + [
        "-Xms4g", "-Xmx4g", f"-Djava.io.tmpdir={tmp}", "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(cpus), "--inputs", inputs,
        "--work", WORK, "--out", result_file]
    log = os.path.join(WORK, "jvm.log")
    code = run_group(cmd, ROOT, log, max(10.0, limit - (time.time() - t_begin)), env)
    for d in scratch:
        shutil.rmtree(d, ignore_errors=True)
    if code != 0 or not os.path.exists(result_file):
        fail(f"JVM exited {code}; see {log}")
    with open(result_file) as fh:
        res = json.load(fh)

    ops = res["ops"]
    failed = 0
    for o in ops:
        good = o["ok"] and (check_cpc if cpc else check_register)(o["check"], expected)
        if not good:
            failed += 1
            print(f"perfbench: operation {o['k']} failed: {o.get('error') or json.dumps(o['check'])[:2000]}",
                  file=sys.stderr)
    secs = [o["secs"] for o in ops]
    rows = expected["total"] if cpc else 0

    if a.trace == 0:
        metrics = {
            "setup_s": (res["first_timed_ms"] / 1000.0 - t_setup, "s"),
            "run_s": (statistics.median(secs), "s"),
            "heap_peak_mb": (res["heap_peak_mb"], "MB"),
        }
    else:
        metrics = layer_metrics(res, cpc, rows, failed)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def layer_metrics(res, cpc, rows, failed):
    """Per-layer metrics: the median over the operations of each span's
    counters; spans of the other workloads read 0."""
    spans = res["spans"]
    m = {}
    for name in CPC_SPANS + REGISTER_SPANS:
        mine = [s for s in spans if s["name"] == name]
        for counter, unit in SPAN_COUNTERS:
            m[f"{name}.{counter}"] = (statistics.median(s[counter] for s in mine) if mine else 0, unit)
    layers = [o["check"]["layers"] for o in res["ops"] if o["ok"] and cpc]
    pipeline = [s for s in spans if s["name"] == "pipeline"]
    for name, unit in WORK_COUNTS:
        if name == "publish.write_s":
            m[name] = (statistics.median(s["write_s"] for s in pipeline) if pipeline else 0, unit)
        else:
            m[name] = (statistics.median(x[name] for x in layers) if layers else 0, unit)
    m["box.calib_st_s"] = (res["box"]["calib_st_s"], "s")
    m["box.calib_mt_s"] = (res["box"]["calib_mt_s"], "s")
    wall = m["pipeline.wall_s"][0]
    m["rows_per_s"] = (rows / wall if wall else 0, "1/s")
    published = m["publish.bytes"][0]
    m["publish_bytes_per_row"] = (published / rows if published else 0, "bytes")
    m["fail_ratio"] = (failed / len(res["ops"]), "ratio")
    return m


if __name__ == "__main__":
    main()
