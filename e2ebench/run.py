#!/usr/bin/env python3
"""End-to-end benchmark of the graft product paths.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
program (`sbt compile` at the root) and the harness (`e2ebench/`, its own
sbt build); later runs reuse the build while the sources are unchanged.
Inputs are generated from the seed by gen.py. Each run starts one fresh
JVM: set-up is timed from process start until the session is ready and
one trivial action is done. Then the JVM runs a warm-up pass of the
workload and the measured passes (see src/main/scala/graft/e2ebench/E2E.scala),
and checks their outputs.

The last line of standard output is one JSON object:
    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
with the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its
per-layer metrics (`--trace 1`). Everything a run writes stays under
`.bench_build/` in the checkout; every run appends one line to
`.bench_build/records.jsonl`, and a traced run writes its spans as
JSON lines next to its result under `.bench_build/runs/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170      # a run must end within 180 s
BUILD_LIMIT_S = 880    # ... or 900 s when it builds

WORKLOADS = ("gates", "drop_stream", "gates_all", "curate_release", "fic_monthly")
# generator parameters per workload (see gen.py)
DROPS, DROP_DOCS = 2, 50
FIC_DOCS_PER_MONTH = 200

# A fixed-size heap under Serial GC: the live set (under 250 MB) never
# fills the old generation, so no full collection lands in a timed step,
# and the peak RSS of a run repeats from run to run. The metaspace
# threshold keeps class loading from triggering full collections too.
JVM_HEAP = ["-XX:+UseSerialGC", "-Xms1536m", "-Xmx1536m", "-XX:MetaspaceSize=256m"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"e2ebench: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt(cwd, args, deadline, logf):
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "SBT_OPTS" not in os.environ:
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", *args], cwd=cwd,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=max(1, deadline - time.time()))
    logf.write(p.stdout)
    if p.returncode != 0:
        fail(f"sbt {' '.join(args)} failed in {cwd}; see {logf.name}")
    return p.stdout


def build(deadline):
    """Compile the program and the harness; return the JVM classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    log("building the program and the harness")
    def exported(out):
        return [l for l in out.splitlines() if l.startswith("/")][-1].strip()
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        program = exported(sbt(ROOT, ["compile", "export Runtime/fullClasspath"], deadline, logf))
        with open(os.path.join(BUILD, "program-classpath.txt"), "w") as f:
            f.write(program)
        cp = exported(sbt(HERE, ["compile", "export Compile/fullClasspath"], deadline, logf))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


# ----------------------------------------------------------------- inputs

def inputs(workload, seed):
    """Generate the workload's inputs (once per seed); return the JVM's
    --input and --expected arguments."""
    if workload.startswith("gates"):
        return (os.path.join(HERE, "data", "sf0.01"),
                os.path.join(HERE, "expected", workload + ".txt"))
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_hash = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "inputs", f"{workload}-{seed}-{gen_hash}")
    if not os.path.exists(os.path.join(d, "done")):
        import gen
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        if workload == "drop_stream":
            gen.drops(seed, d, DROPS, DROP_DOCS)
        elif workload == "curate_release":
            gen.curate(seed, d)
        else:
            gen.fic(seed, d, FIC_DOCS_PER_MONTH)
        open(os.path.join(d, "done"), "w").close()
    return d, os.path.join(HERE, "expected", "curate.txt")


# -------------------------------------------------------------------- run

class LoadSampler(threading.Thread):
    """Samples the 1-minute load average while the run lasts."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self.stop = threading.Event()

    def run(self):
        while not self.stop.is_set():
            try:
                with open("/proc/loadavg") as f:
                    self.peak = max(self.peak, float(f.read().split()[0]))
            except OSError:
                pass
            self.stop.wait(0.5)


def run_jvm(cp, workload, seed, seconds, trace, inp, expected, deadline, ref_wall=None):
    """One JVM; returns (set-up seconds, the JVM's result object)."""
    run_id = f"{workload}-s{seed}-t{trace}-{time.time_ns()}"
    runs = os.path.join(BUILD, "runs")
    tmp = os.path.join(BUILD, "tmp", run_id)
    work = os.path.join(tmp, "work")
    os.makedirs(runs, exist_ok=True)
    os.makedirs(work)
    out = os.path.join(runs, run_id + ".json")
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=tmp,
               SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    env.pop("SPARK_GRAFT_MASTER", None)
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           *JVM_HEAP, f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dderby.system.home={tmp}", f"-Dderby.stream.error.file={tmp}/derby.log",
           "-cp", cp, "graft.e2ebench.E2E", "--workload", workload,
           "--input", inp, "--expected", expected, "--work", work, "--out", out,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           *(["--ref-wall", repr(ref_wall)] if ref_wall is not None else [])]
    ready = []
    with open(os.path.join(runs, run_id + ".log"), "w") as logf:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                             stderr=logf, text=True)

        def pump():
            for line in p.stdout:
                if line.strip() == "E2E_READY" and not ready:
                    ready.append(time.perf_counter() - t0)
                logf.write(line)
        reader = threading.Thread(target=pump, daemon=True)
        reader.start()
        try:
            code = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            reader.join()
            fail(f"{workload} did not finish in time; see {logf.name}")
        reader.join()
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not ready or not os.path.exists(out):
        fail(f"{workload} JVM exited with {code}; see {os.path.join(runs, run_id)}.log")
    with open(out) as f:
        res = json.load(f)
    res["spans_file"] = out + ".spans.jsonl" if trace else None
    return ready[0], res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program to benchmark: {need} is missing under {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(BUILD, exist_ok=True)

    cp, built = build(start + BUILD_LIMIT_S)
    deadline = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)
    sys.path.insert(0, HERE)
    inp, expected = inputs(a.workload, a.seed)

    load = LoadSampler()
    load.start()
    # the tracing overhead compares with the untraced passes this checkout
    # has recorded; without any, the traced JVM makes an untraced pass
    plain = [r["pass_wall_s"] for r in records()
             if r["workload"] == a.workload and not r["trace"] and r["failed"] == 0
             and r["pass_wall_s"] is not None]
    ref_wall = statistics.median(plain) if a.trace and plain else None
    setup, res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, inp, expected,
                         deadline, ref_wall)
    load.stop.set()
    load.join()
    record(a, setup, res, load.peak, trace=a.trace)

    if a.trace:
        layer = res["layer"]
        log(f"traced wall {layer['trace.wall_s']:.3f} s = span self times "
            f"{layer['trace.self_sum_s'] - layer['trace.unspanned_s']:.3f} s + unspanned "
            f"{layer['trace.unspanned_s']:.3f} s; tracing overhead {layer['trace.overhead_s']:.3f} s")
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        if a.workload not in {w["name"] for w in spec["workloads"]}:
            # a workload outside BENCHMARK.json reports its own layers too
            names += sorted(k for k in layer if k not in units)
        metrics = {n: {"value": layer.get(n, 0.0), "unit": units.get(n, unit_of(n))}
                   for n in names}
        log(f"spans: {res['spans_file']}")
    else:
        values = {"setup_s": setup, "peak_rss_mb": res["peak_rss_mb"],
                  "cold_s": res["cold_s"], "warm_s": res["warm_s"]}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    attempted, failed = res["attempted"], res["failed"]
    wall = res["pass_wall_s"] or res["layer"]["trace.wall_s"]
    log(f"{a.workload} seed {a.seed}: set-up {setup:.3f} s, pass {wall:.3f} s, "
        f"{failed}/{attempted} operations failed (error rate {failed / attempted:.3f}), "
        f"peak load average {load.peak:.2f}")
    for k, v in sorted(res["counts"].items()):
        log(f"  {k} = {v}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def records():
    path = os.path.join(BUILD, "records.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def unit_of(name):
    return "s" if name.endswith("_s") else "MB" if name.endswith("_mb") else "count"


def record(a, setup, res, peak_load, trace):
    rec = {"workload": a.workload, "seed": a.seed, "trace": trace, "time": time.time(),
           "setup_s": setup, "pass_wall_s": res["pass_wall_s"], "cold_s": res["cold_s"],
           "warm_s": res["warm_s"], "peak_rss_mb": res["peak_rss_mb"],
           "attempted": res["attempted"], "failed": res["failed"],
           "loadavg1_max": peak_load, "counts": res["counts"]}
    with open(os.path.join(BUILD, "records.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


if __name__ == "__main__":
    main()
