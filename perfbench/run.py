"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload registry-light --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload store-mixed --seed 1 --seconds 15 --trace 1
    python3 perfbench/run.py --pin        # record the output hashes (pinned.json)
    python3 perfbench/run.py --selftest   # the benchmark's own arithmetic

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end with --trace 0, per-layer with --trace 1). Lines above
it list every metric with its unit and sample count, and the run's
environment. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

BUILD = build.BUILD
WORKLOADS = ("registry-light", "operators-heavy", "store-mixed")
# The corpus: graft's own deterministic generator at scale factor 0.01
# (lineitem ~60k rows). The fixed generator seed makes it the same corpus
# in every checkout; --seed orders and draws the operations.
SCALE = "0.01"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def nproc():
    return len(os.sched_getaffinity(0))


def java(classpath, main, args, cwd, timeout=JVM_TIMEOUT_S, log=None):
    tmp = os.path.join(cwd, "tmp")
    local = os.path.join(cwd, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        # A fixed, pre-touched heap: peak RSS then moves with native and
        # off-heap memory, not with how far the collector chose to grow.
        "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-Dspark.local.dir=" + local,
        "-Dspark.sql.warehouse.dir=" + os.path.join(cwd, "spark-warehouse"),
        "-cp", classpath, main] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, SPARK_GRAFT_CPUS=str(nproc()))
    with open(log or os.devnull, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=err, stderr=err,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def corpus(classpath):
    """Generate the corpus once per checkout and generator version."""
    gen = os.path.join(ROOT, "src", "main", "scala", "graft", "DataGen.scala")
    key = build._digest([gen])
    out = os.path.join(BUILD, "corpus-sf%s-%s" % (SCALE, key))
    if os.path.isdir(out):
        return out
    work = out + ".work-%d" % os.getpid()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rc = java(classpath, "graft.DataGen", [SCALE, os.path.join(work, "data")], work,
              timeout=600, log=os.path.join(work, "datagen.log"))
    if rc != 0:
        raise SystemExit("corpus generation failed (%s)" % rc)
    os.rename(os.path.join(work, "data"), out)
    shutil.rmtree(work, ignore_errors=True)
    return out


def git_revision():
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        lines = top.stdout.split()
        if top.returncode == 0 and os.path.realpath(lines[0]) == os.path.realpath(ROOT):
            return lines[1]
    except (OSError, subprocess.SubprocessError, IndexError):
        pass
    return "unknown"


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mem_available_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return -1


def run_jvm(classpath, data, workload, seed, seconds, trace, rundir, timeout=JVM_TIMEOUT_S):
    """One harness JVM in a fresh directory; returns (dump, launch time)."""
    out = os.path.join(rundir, "dump.json")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--corpus", data, "--out", out,
            "--nproc", str(nproc()), "--store", os.path.join(rundir, "store", "t")]
    launch = time.time()
    rc = java(classpath, "perfbench.Harness", args, rundir, timeout=timeout,
              log=os.path.join(rundir, "jvm.log"))
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(rundir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError("harness exited with %s\n%s" % (rc, tail))
    with open(out) as f:
        return json.load(f), launch


def hash_matches(name, got, pinned):
    """A row's output hash `count:lo:hi` against the pinned one; rows listed
    under count_only compare the row count alone."""
    want = pinned["hashes"].get(name)
    if want is None or got is None:
        return False
    if name in pinned["count_only"]:
        return got.split(":")[0] == want.split(":")[0]
    return got == want


def check(dump, workload, pinned):
    """(attempted, failed, problems) for the run's operations."""
    bad = []
    ops = dump["ops"]
    for o in ops:
        if not o["ok"]:
            bad.append("%s: %s" % (o["name"], o.get("err")))
        elif o["kind"] == "row" and not hash_matches(o["name"], o["hash"], pinned):
            bad.append("%s: hash %s, pinned %s" % (o["name"], o["hash"],
                                                   pinned["hashes"].get(o["name"])))
    attempted, failed = len(ops), len(bad)
    if workload == "store-mixed":
        sc = dump["store_check"]
        attempted += sc["attempted"]
        failed += sc["failed"]
        bad += sc["errors"]
    return attempted, failed, bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if not a.pin and not a.workload:
        ap.error("--workload is required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    env = {"nproc": nproc(), "loadavg_start": loadavg(), "mem_available_mb": mem_available_mb(),
           "disk_free_gb": round(shutil.disk_usage(ROOT).free / 2**30, 2),
           "git_revision": git_revision(), "workload": a.workload or "pin",
           "seed": a.seed, "traced": bool(a.trace), "seconds": a.seconds}
    classpath = build.build()
    data = corpus(classpath)
    rundir = os.path.join(BUILD, "runs", "%s-%d-%d" % (env["workload"], a.seed, os.getpid()))
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, "%s-seed%d-trace%d" % (env["workload"], a.seed, a.trace))
    try:
        if a.pin:
            return pin(classpath, data, rundir)
        dump, launch = run_jvm(classpath, data, a.workload, a.seed, a.seconds, a.trace, rundir)
    finally:
        log = os.path.join(rundir, "jvm.log")
        if os.path.exists(log):
            shutil.copyfile(log, stem + ".log")
        shutil.rmtree(rundir, ignore_errors=True)
    env.update(dump["env"])
    env["loadavg_end"] = loadavg()
    pinned = {"hashes": {}, "count_only": {}}
    if a.workload != "store-mixed":
        with open(os.path.join(HERE, "pinned.json")) as f:
            pinned = json.load(f)
    attempted, failed, problems = check(dump, a.workload, pinned)
    computed = metrics.compute(dump, a.workload, env["nproc"], launch)
    listed = spec["per_layer"] if a.trace else spec["end_to_end"]
    out = {}
    for x in listed:
        value, n = computed.get(x["name"], (0.0, 0))
        out[x["name"]] = {"value": value, "unit": x["unit"]}
        print("%-40s %14.6g %-6s n=%d" % (x["name"], value, x["unit"], n))
    named = {x["name"] for x in spec["end_to_end"] + spec["per_layer"]}
    for k in sorted(set(computed) - named):
        if not k.startswith(("row.", "family.")):
            print("%-40s %14.6g (extra) n=%d" % (k, computed[k][0], computed[k][1]))
    for p in problems[:20]:
        print("FAILED", p)
    print(json.dumps({"env": env}))
    # The run's record, and the raw dump (spans, ops, jobs) it came from.
    with open(stem + ".json", "w") as f:
        json.dump({"env": env, "metrics": computed, "problems": problems}, f)
    with open(stem + ".dump.json", "w") as f:
        json.dump(dump, f)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


def pin(classpath, data, rundir):
    """Run every registry row under two orders and pin the hashes that
    agree; a row whose hash differs between the runs is reported."""
    hashes = []
    for seed in (1, 2):
        dump, _ = run_jvm(classpath, data, "pin", seed, 1, 0, rundir, timeout=900)
        hashes.append({o["name"]: o["hash"] for o in dump["ops"]})
        bad = [o["name"] + ": " + str(o["err"]) for o in dump["ops"] if not o["ok"]]
        if bad:
            raise SystemExit("rows failed:\n" + "\n".join(bad))
    unstable = sorted(k for k in hashes[0] if hashes[0][k] != hashes[1].get(k))
    if unstable:
        raise SystemExit("hash differs between runs: %s" % unstable)
    path = os.path.join(HERE, "pinned.json")
    with open(path) as f:
        count_only = json.load(f)["count_only"]
    with open(path, "w") as f:
        json.dump({"hashes": hashes[0], "count_only": count_only}, f, indent=1, sort_keys=True)
        f.write("\n")
    print("pinned %d rows" % len(hashes[0]))
    return 0


def selftest():
    import unittest
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    classpath = build.build()
    rundir = os.path.join(BUILD, "runs", "selftest-%d" % os.getpid())
    os.makedirs(rundir, exist_ok=True)
    try:
        rc = java(classpath, "perfbench.SelfTest", [], rundir, log=os.path.join(rundir, "jvm.log"))
        with open(os.path.join(rundir, "jvm.log")) as f:
            print("\n".join(l for l in f.read().splitlines() if l.startswith("selftest")))
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    return 0 if ok and rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
