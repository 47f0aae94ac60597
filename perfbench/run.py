#!/usr/bin/env python3
"""Benchmark of graft: two closed-loop user flows, each in a fresh JVM.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload deker_session --seed 1 --seconds 8 --trace 0

The first run compiles graft and the harness (perfbench/build.sbt, sbt in
offline mode) and caches the classpath in .bench_build/; later runs of
the same sources start the JVM directly. Inputs are prepared before the
JVM starts: pinned source tables are verified, and for curation_pass the
seeded corpus is made (cached per seed). The oracle's expected result
hashes (cached per corpus checksum) are computed on other CPUs while the
JVM warms up; the JVM waits for them before it times anything. It runs
the workload for --seconds after its set-up and warm-up, checks every
answer, and reports.

stdout ends with a stamp line and then the result line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones. The
full record goes to .bench_build/results/, trace spans to
.bench_build/traces/. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

WORKLOADS = ("deker_session", "curation_pass")
# untimed warm-up units (request blocks of 20, passes); longer warm-ups
# settle latencies further but do not fit the time budget of a run
WARMUP = {"deker_session": 2, "curation_pass": 1}
# CPUs the JVM runs on. A Deker request or a curation operator runs one
# or two tasks at a time (AQE coalesces the small shuffles), so more task
# slots buy little, while on a shared host every busy CPU is exposed to
# time the hypervisor steals, which makes runs less steady
JVM_CPUS = 2
RUN_BUDGET_S = 170         # a run must end within 180 s once built
BUILD_BUDGET_S = 850       # the first run in a checkout may build

# the run flags of the root build.sbt: JDK 17 module opens for Spark, no
# UI, UTC sessions
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to ROOT."""
    out = ["build.sbt", "perfbench/build.sbt", "perfbench/project/build.properties"]
    proj = os.path.join(ROOT, "project")
    out += [os.path.join("project", f) for f in sorted(os.listdir(proj))
            if f.endswith((".sbt", ".scala", ".properties"))] if os.path.isdir(proj) else []
    for top in ("src/main", "perfbench/src"):
        for d, dirs, fs in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(fs)]
    return out


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(f.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(fp):
    """Classpath of the compiled harness, building it if sources changed."""
    cache = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c["fingerprint"] == fp and all(os.path.exists(p) for p in c["classpath"]):
            return c["classpath"], 0.0
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env["SBT_OPTS"] = " ".join(filter(None, [
        os.environ.get("SBT_OPTS", "-Xmx2g"), "-Dsbt.offline=true",
        f"-Djava.io.tmpdir={sbt_tmp} -XX:+PerfDisableSharedMem",
        f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""]))
    t0 = time.time()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_BUDGET_S)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = [os.path.normpath(e) for e in lines[-1].split(os.pathsep)]
    if not all(os.path.exists(e) for e in cp):
        fail(f"build printed no classpath, see {log}")
    with open(cache, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp, time.time() - t0


def driver_mem():
    """-Xmx: SPARK_DRIVER_MEM, else half the host memory within [2g, 8g]."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def git_stamp():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None, None
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=30).stdout.strip() or None
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               cwd=ROOT, capture_output=True, text=True, timeout=30).stdout
        return sha, bool(dirty.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def cpu_ticks(cpus):
    """(steal, total) jiffies of the given CPUs, from /proc/stat."""
    steal = total = 0
    with open("/proc/stat") as f:
        for line in f:
            name, *v = line.split()
            if name.startswith("cpu") and name[3:].isdigit() and int(name[3:]) in cpus:
                steal += int(v[7])
                total += sum(int(x) for x in v)
    return steal, total


def run_jvm(cmd, cwd, log, timeout, cpus=None, ready=None, on_ready=None):
    """Exit code of the JVM, or None when it overran `timeout`. With
    `ready`, calls on_ready() while the JVM runs, once it made that file.
    """
    end = time.time() + timeout
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL,
                             preexec_fn=(lambda: os.sched_setaffinity(0, cpus)) if cpus else None)
        try:
            if ready:
                while not os.path.exists(ready):
                    if p.poll() is not None:
                        return p.returncode
                    if time.time() > end:
                        return None
                    time.sleep(0.05)
                on_ready()
            return p.wait(timeout=max(0.0, end - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def log_tail(log, n=40):
    try:
        with open(log, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    for need in ("build.sbt", "src/main/scala", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{os.path.join(ROOT, need)} missing: run from a graft checkout", 2)
    with open(bench_json) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    load1_start = os.getloadavg()[0]
    os.makedirs(BUILD, exist_ok=True)
    fp = fingerprint()
    classpath, build_s = build(fp)
    t_prep = time.time()
    deadline = t_prep + RUN_BUDGET_S

    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import inputs
    work = None
    try:
        inputs.check_sources()
        cache = os.path.join(BUILD, "inputs")
        os.makedirs(cache, exist_ok=True)
        run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}-{time.time_ns()}"
        work = os.path.join(BUILD, "runs", run_id)
        os.makedirs(os.path.join(work, "tmp"))
        allowed = sorted(os.sched_getaffinity(0))
        cpus = allowed[:JVM_CPUS]
        java = ["java", f"-Xmx{driver_mem()}", "-XX:+PerfDisableSharedMem"]
        for m in ADD_OPENS:
            java += ["--add-opens", f"{m}=ALL-UNNAMED"]
        java += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                 "-cp", os.pathsep.join(classpath), "graftbench.Main"]
        stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                 "trace": a.trace, "source_fingerprint": fp, "build_s": round(build_s, 1)}
        conf = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "cores": len(cpus), "work": work,
                "sf": inputs.SF_DIR, "warmup": WARMUP[a.workload],
                "result": os.path.join(work, "result.json"),
                "spans": os.path.join(work, "spans.json")}
        if a.workload == "curation_pass":
            corpus, manifest = inputs.prepare_corpus(cache, a.seed)
            sql_path = os.path.join(cache, f"oracle-sql-{fp[:16]}.json")
            if not os.path.exists(sql_path):
                code = run_jvm(java + ["oracle-sql", sql_path + ".tmp"], work,
                               os.path.join(work, "oracle-sql.log"), deadline - time.time())
                if code != 0:
                    fail("oracle-sql failed:\n" + log_tail(os.path.join(work, "oracle-sql.log")))
                os.replace(sql_path + ".tmp", sql_path)
            with open(sql_path) as f:
                oracle_sql = json.load(f)
            conf["corpus"] = corpus
            conf["expected"] = inputs.expected_path(cache, manifest, oracle_sql)
            conf["ready"] = os.path.join(work, "ready")
            stamp["corpus"] = manifest
        stamp["input_prep_s"] = round(time.time() - t_prep, 2)

        def oracle():
            t = time.time()
            inputs.write_expected(conf["expected"], cache, corpus, oracle_sql,
                                  [c for c in allowed if c not in cpus] or allowed)
            stamp["oracle_s"] = round(time.time() - t, 2)

        log = os.path.join(work, "jvm.log")
        ticks0 = cpu_ticks(cpus)
        code = run_jvm(java + ["run"] + [f"{k}={v}" for k, v in conf.items()], work, log,
                       deadline - time.time(), cpus, conf.get("ready"), oracle)
        if code != 0:
            fail(("timed out" if code is None else f"JVM exited {code}") + ":\n" + log_tail(log))
        ticks1 = cpu_ticks(cpus)
        # share of the JVM's CPUs' time the hypervisor gave to others while it ran
        stamp["steal_pct"] = round(100 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]), 2)
        with open(conf["result"]) as f:
            res = json.load(f)
        if os.path.exists(conf["spans"]):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.move(conf["spans"], os.path.join(BUILD, "traces", run_id + ".json"))
    except inputs.InputError as e:
        fail(f"input check failed: {e}")
    finally:
        if work:
            shutil.rmtree(work, ignore_errors=True)

    got = res["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} missing or not finite: {v!r}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    sha, dirty = git_stamp()
    stamp.update({"git_sha": sha, "git_dirty": dirty, "nproc": os.cpu_count(),
                  "cores": conf["cores"], "xmx": driver_mem(),
                  "load1_start": load1_start, "load1_end": os.getloadavg()[0],
                  "errors": res["errors"], "info": res["info"]})
    result = {"correct": res["failed"] == 0 and res["attempted"] > 0,
              "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", run_id + ".json"), "w") as f:
        json.dump({"stamp": stamp, "result": result, "all": res}, f, indent=1)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
