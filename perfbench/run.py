#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds the repository and the harness
under perfbench/harness (sbt, offline; skipped when nothing changed),
generates the seed's inputs (perfbench/gen.py), runs one JVM (one
closed-loop client, local[nproc]) through a cold set-up, warm-up, a first
pass, warm passes for S seconds and untimed checks, checks the outputs
(catalog ops with tools/compare.py, the DuckDB oracle comparison) and
prints every metric by name and unit. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}, holding the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
Everything it writes goes under .bench_build/ in the repository root.
See perfbench/README.md for the workloads and metrics.
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
WORK = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
GEN = os.path.join(HERE, "gen.py")
COMPARE = os.path.join(ROOT, "tools", "compare.py")
# Limits of one run: the build (first run in a checkout) and, after it,
# everything else together.
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
deadline = None

WORKLOADS = ("curation_pipeline", "stream_microbatch")
CATALOG = {"stream_microbatch"}

# Spark 4 on JDK 17 outside spark-submit (the root build's javaOptions)
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout=None, **kw):
    """Runs cmd in its own process group and waits for it; on timeout (by
    default, the run's deadline) the whole group is killed. Returns the
    exit code, or None on timeout."""
    if timeout is None:
        timeout = max(1.0, deadline - time.monotonic())
    p = subprocess.Popen(cmd, start_new_session=True,
                         stdin=subprocess.DEVNULL, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def box():
    """Box context: cores, 1-minute load average, a fixed CPU timing."""
    def control():
        buf = bytes(range(256)) * (1 << 16)  # 16 MiB, fixed
        t = time.perf_counter()
        for _ in range(4):
            hashlib.sha256(buf).digest()
        return time.perf_counter() - t
    return {"nproc": os.cpu_count(), "load1": os.getloadavg()[0],
            "cpu_control_s": statistics.median(control() for _ in range(3))}


def heap():
    """Driver heap by the repository's tier-1 rule: half of RAM, 2-8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def sources_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            HARNESS]
    files = [os.path.join(ROOT, "build.sbt")]
    for top in tops:
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target" and not (
                x == "project" and os.path.basename(d) == "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """The repository and the harness, compiled once per source state."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as lf:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                       cwd=HARNESS, env=env, stdout=lf,
                       stderr=subprocess.STDOUT)
    lines = [l for l in open(log).read().splitlines()
             if l.startswith("/") and ".jar" in l]
    if rc != 0 or not lines:
        fail(f"build failed (see {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def inputs(seed):
    """The seed's generated inputs, made once per seed and generator."""
    gen = hashlib.sha256(open(GEN, "rb").read()).hexdigest()[:12]
    d = os.path.join(WORK, "inputs", f"seed{seed}-{gen}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        if run_group([sys.executable, GEN, d, "--seed", str(seed)],
                     stdout=subprocess.DEVNULL) != 0:
            fail("input generation failed")
        open(os.path.join(d, "DONE"), "w").close()
    return d


def run_jvm(cp, a, data, out):
    tmp = os.path.join(out, "tmp")
    for sub in ("ckpt", "local"):
        os.makedirs(os.path.join(tmp, sub))
    env = dict(os.environ, SPARK_GRAFT_STREAM_CKPT_DIR=os.path.join(tmp, "ckpt"),
               SPARK_LOCAL_DIRS=os.path.join(tmp, "local"))
    cmd = ["java", f"-Xmx{heap()}", "-XX:-UsePerfData", *ADD_OPENS,
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "graftbench.Main", "--workload", a.workload,
           "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", data, "--out", out]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        rc = run_group(cmd, cwd=out, env=env, stdout=log,
                       stderr=subprocess.STDOUT)
    res = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res):
        tail = open(os.path.join(out, "jvm.log")).read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"JVM run ended with {rc}")
    return json.load(open(res))


def quantile(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def compare(data, check):
    """Failures of the catalog ops' outputs against their DuckDB oracles,
    as tools/compare.py reports them, and the number of ops it checked."""
    ops = len(json.load(open(os.path.join(check, "oracle_sql.json"))))
    log = os.path.join(check, "compare.log")
    with open(log, "w") as lf:
        rc = run_group([sys.executable, COMPARE, data, check], stdout=lf,
                       stderr=subprocess.STDOUT)
    lines = open(log).read().splitlines()
    failures = [f"oracle {l}" for l in lines
                if l.startswith(("FAIL", "MISSING", "ORACLE FAIL"))]
    ok = sum(l.startswith("OK ") for l in lines)
    if not failures and (rc != 0 or ok != ops):
        failures.append(f"oracle compare ended with {rc} after {ok} of {ops} "
                        "ops: " + " | ".join(lines[-3:]))
    return failures, ops


def end_to_end(r, failed, attempted):
    """Every end-to-end figure this run has, by name: (value, unit)."""
    m = {
        "setup_s": (r["setup_s"], "s"),
        "first_pass_s": (r["first_pass_s"], "s"),
        "warm_pass_s": (statistics.median(r["warm_pass_s"]), "s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MiB"),
        "failed_share": (failed / attempted, "1"),
    }
    if r["resume_s"]:
        m["resume_s"] = (statistics.median(r["resume_s"]), "s")
    b = r["batch_ms"]
    if b:
        m["batch_p50_ms"] = (statistics.median(b), "ms")
        # a p90 needs at least ten batches above it
        if len(b) >= 100:
            m["batch_p90_ms"] = (quantile(b, 0.9), "ms")
    return m


def main():
    ap = argparse.ArgumentParser(description="graft benchmark: one run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt / src/main)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    os.makedirs(WORK, exist_ok=True)
    box_start = box()
    cp = build()
    global deadline
    deadline = time.monotonic() + RUN_TIMEOUT_S
    data = inputs(a.seed)
    out = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        r = run_jvm(cp, a, data, out)
        failures = list(r["failures"])
        if a.workload in CATALOG:
            bad, check_ops = compare(data, os.path.join(out, "check"))
            failures += bad
        else:
            # `clean` applies exact rules, so its survivors must match the
            # generator's count. `kept` may keep more: MinHash LSH finds a
            # near-duplicate pair only with high probability, and the
            # pipeline checks (verified pairs only) allow a miss; misses
            # are reported as kept_over_expected. Keeping fewer would mean a
            # document was dropped with no near-duplicate: a failure.
            expect = json.load(open(os.path.join(data, "corpus_expect.json")))
            rows = r["rows_out"]
            check_ops = 2
            if rows.get("clean") != expect["clean"]:
                failures.append(f"survivors clean: {rows.get('clean')} rows, "
                                f"generator expects {expect['clean']}")
            if rows.get("kept", -1) < expect["kept"]:
                failures.append(f"survivors kept: {rows.get('kept')} rows, "
                                f"below the generator's {expect['kept']}")
        attempted = r["attempted"] + check_ops
        failed = len(failures)
        e2e = end_to_end(r, failed, attempted)
        box_end = box()
        print(f"# workload {a.workload} seed {a.seed} trace {a.trace}: "
              f"{len(r['warm_pass_s'])} untraced warm passes, "
              f"{len(r['batch_ms'])} micro-batches, checks {r['check_s']:.2f} s")
        print(f"# box: nproc {box_start['nproc']}, load1 {box_start['load1']:.2f} -> "
              f"{box_end['load1']:.2f}, cpu_control_s {box_start['cpu_control_s']:.4f}")
        # end-to-end figures come from untraced runs only
        for k, (v, u) in e2e.items():
            if not a.trace or k == "failed_share":
                print(f"{k} {v:.6g} {u}")
        if a.workload == "curation_pipeline":
            over = r["rows_out"]["kept"] - expect["kept"]
            print(f"kept_over_expected {over} count")
        for f in failures:
            print(f"# FAILED {f}")
        if a.trace:
            layers = r["layers"]
            tw, uw = r["traced_warm_pass_s"], r["warm_pass_s"]
            layers["trace.overhead_share"] = statistics.median(tw) / statistics.median(uw) - 1
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            for k, v in layers.items():
                print(f"{k} {v:.6g} {units.get(k, _unit(k))}")
            metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        capture = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "seconds": a.seconds, "box_start": box_start,
                   "box_end": box_end, "jvm": r, "failures": failures,
                   "end_to_end": {k: v for k, (v, _) in e2e.items()},
                   "rows_out": r["rows_out"]}
        caps = os.path.join(WORK, "captures")
        os.makedirs(caps, exist_ok=True)
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        with open(os.path.join(caps, name + ".json"), "w") as f:
            json.dump(capture, f, indent=1)
        if a.trace:
            shutil.copy(os.path.join(out, "spans.json"),
                        os.path.join(caps, name + "-spans.json"))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def _unit(name):
    """Unit of a per-layer figure from its name's suffix."""
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MiB"),
                         ("_share", "1")):
        if name.endswith(suffix) or f"{suffix}." in name:
            return unit
    return "count"


if __name__ == "__main__":
    main()
