#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the harness from this checkout on first use (sbt,
offline), generates the workload's inputs from the seed, runs the
engine process (one closed-loop client, Spark local[N], N <= 4 and
<= nproc), checks every output against computations made outside the
engine, and prints as its last line one JSON object: correct, attempted,
failed and metrics (end-to-end metrics with --trace 0, per-layer
metrics with --trace 1). Everything a run writes lives under
perfbench/.runs/<run>/ and is deleted at exit; traced runs keep their
spans under perfbench/out/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("sql_read", "sql_write", "pipeline", "serving")
DEADLINE_S = 175  # every run ends within 180 s (a first build aside)
JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, timeout, cwd, env=None, out=None):
    """Run a child in its own process group; on timeout kill the whole
    group and wait for it, so no process outlives the run."""
    with open(out or os.devnull, "w") as f:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=f,
                             stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"{cmd[0]} timed out after {timeout:.0f} s")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def sources_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"),
                os.path.join(HERE, "build.sbt")):
        for d, _, files in sorted(os.walk(top)) if os.path.isdir(top) \
                else [(os.path.dirname(top), [], [os.path.basename(top)])]:
            for name in sorted(files):
                p = os.path.join(d, name)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath(deadline):
    """Compile engine + harness (cached by a source stamp) and return the
    harness's runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise RuntimeError("engine sources not found next to perfbench/")
    build = os.path.join(HERE, ".build")
    cp_file, stamp_file = f"{build}/classpath.txt", f"{build}/stamp.txt"
    stamp = sources_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(build, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building engine and harness (sbt)")
    rc = run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                   "export perfbench/Runtime/fullClasspath"],
                  deadline - time.time(), HERE, env, f"{build}/sbt.log")
    lines = [ln.strip() for ln in open(f"{build}/sbt.log")]
    cps = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if rc != 0 or not cps:
        raise RuntimeError(f"sbt build failed (rc={rc}); see {build}/sbt.log")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def java(cp, main, args, rundir, deadline, out, cpus):
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{rundir}/local",
               SPARK_GRAFT_CPUS=str(cpus))
    cmd = ["java", *JDK_OPENS, "-Xms2g", "-Xmx2g",
           f"-Djava.io.tmpdir={rundir}/tmp", "-Dspark.ui.enabled=false",
           "-cp", cp, main, *args]
    rc = run_proc(cmd, deadline - time.time(), rundir, env, out)
    if rc != 0:
        tail = open(out, errors="replace").read()[-3000:]
        raise RuntimeError(f"{main} exited {rc}:\n{tail}")


def median(xs):
    return statistics.median(xs)


def percentile(xs, p):
    s = sorted(xs)
    return s[min(len(s) - 1, int(round(p / 100 * (len(s) - 1))))]


# Which operation classes are reads, per workload: SQL read statements,
# the basket's queries (each a read into a noop sink), serving probes.
READ_CLASSES = {
    "sql_read": {"small", "medium", "large", "tpch"},
    "sql_write": {"read", "as_of", "changes"},
    "pipeline": {"query"},
    "serving": {"probe_bm25", "probe_ann"},
}
WRITE_CLASSES = {"update", "insert", "insert_select", "delete"}


def end_to_end(workload, run):
    """The end-to-end metrics (same four on every workload) plus the
    per-class breakdown printed above the result line. Read latency and
    throughput are taken per round and the run reports the median
    round, so one round caught in a slow spell of the host does not
    move the run's figure."""
    samples = run["samples"]
    reads = [ms for c, ms, _ in samples if c in READ_CLASSES[workload]]
    per_round = {}
    for c, ms, r in samples:
        per_round.setdefault(r, []).append((c, ms))
    read_means = [statistics.fmean(ms for c, ms in xs
                                   if c in READ_CLASSES[workload])
                  for xs in per_round.values()]
    metrics = {
        "setup_s": (median(run["setup_s"]), "s"),
        "read_mean_ms": (median(read_means), "ms"),
        "ops_per_s": (median(len(per_round[r]) / s for r, s in
                             enumerate(run["rounds_s"])), "1/s"),
        "heap_retained_mb": (run["heap_retained_mb"], "MB"),
    }
    # round_s is the round's fixed operation count over ops_per_s: printed,
    # not gated, so one figure is not gated twice
    detail = {"round_s": (median(run["rounds_s"]), "s"),
              "reads": (len(reads), "count"),
              "rounds": (len(run["rounds_s"]), "count"),
              "read_p50_ms": (median(reads), "ms")}
    if len(reads) >= 200:
        detail["read_p95_ms"] = (percentile(reads, 95), "ms")
    by_class = {}
    for c, ms, _ in samples:
        by_class.setdefault(c, []).append(ms)
    if workload == "sql_read":
        detail["small_read_p50_ms"] = (median(by_class["small"]), "ms")
    if workload == "sql_write":
        writes = [ms for c, ms, _ in samples if c in WRITE_CLASSES]
        detail["write_p50_ms"] = (median(writes), "ms")
        if len(writes) >= 200:
            detail["write_p95_ms"] = (percentile(writes, 95), "ms")
    if workload == "pipeline":
        detail["batch_s"] = (median(run["rounds_s"]), "s")
        detail["snapshot_build_s"] = (median(run["setup_s"]), "s")
    if workload == "serving":
        detail["probe_p50_ms"] = (median(reads), "ms")
        if len(reads) >= 200:
            detail["probe_p95_ms"] = (percentile(reads, 95), "ms")
        detail["refresh_p50_ms"] = (median(by_class["refresh"]), "ms")
    for c in sorted(by_class):
        detail[f"class.{c}.p50_ms"] = (median(by_class[c]), "ms")
        detail[f"class.{c}.n"] = (len(by_class[c]), "count")
    return metrics, detail


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.time()
    cp = classpath(t_start + 880)
    # the build may take long once; the run itself keeps the 180 s limit
    deadline = time.time() + DEADLINE_S
    import gen
    import layers
    import verify

    cpus = min(4, os.cpu_count() or 1)
    rundir = os.path.join(HERE, ".runs",
                          f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    for d in ("in", "out", "tmp", "local", "warehouse"):
        os.makedirs(f"{rundir}/{d}")
    try:
        gen.generate(a.workload, a.seed, f"{rundir}/in")
        java(cp, "graftbench.Main",
             ["--workload", a.workload, "--in", f"{rundir}/in",
              "--out", f"{rundir}/out", "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cpus", str(cpus),
              "--local", f"{rundir}/local",
              "--warehouse", f"{rundir}/warehouse"],
             rundir, deadline, f"{rundir}/engine.log", cpus)
        run = json.load(open(f"{rundir}/out/run.json"))
        problems, checked = verify.check(a.workload, f"{rundir}/in",
                                         f"{rundir}/out")
        for p in problems[:20]:
            print(f"CHECK FAILED: {p}")
        if problems:
            log("engine log tail:\n" + open(f"{rundir}/engine.log",
                                            errors="replace").read()[-3000:])
        for e in run["errors"]:
            print(f"OPERATION FAILED: {e}")
        metrics, detail = end_to_end(a.workload, run)
        detail["checked_outputs"] = (checked, "count")
        for k, v in run["notes"].items():
            if isinstance(v, (int, float)):
                detail[k] = (v, "s" if k.endswith("_s") else "")
        if a.trace:
            keep = os.path.join(HERE, "out", f"trace-{a.workload}-{a.seed}")
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            for f in ("spans.jsonl", "jobs.jsonl", "run.json"):
                shutil.copy(f"{rundir}/out/{f}", keep)
            per_layer, module = layers.compute(a.workload, f"{rundir}/out")
            with open(f"{keep}/layers.json", "w") as f:
                json.dump({"per_layer": per_layer, "module": module,
                           "end_to_end": metrics, "detail": detail}, f,
                          indent=1)
            shown = {**{k: v for k, v in metrics.items()}, **module}
            result_metrics = per_layer
        else:
            shown, result_metrics = detail, metrics
        for k, (v, unit) in {**metrics, **shown}.items():
            print(f"{a.workload:10s} {k:34s} {v:12.4f} {unit}")
        print(json.dumps({
            "correct": not problems,
            "attempted": run["attempted"],
            "failed": run["failed"],
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in result_metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    # a terminated run still stops its engine process and removes its
    # run directory (run_proc and main clean up on the way out)
    signal.signal(signal.SIGTERM, _terminate)
    try:
        sys.exit(main())
    except Exception as e:  # no result line on any failure
        log(f"error: {e}")
        sys.exit(1)
