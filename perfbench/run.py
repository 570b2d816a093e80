"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload edgar-ingest --seed 1 --seconds 60 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt (later runs reuse the build while the sources are
unchanged). Each run generates its inputs and references from the seed,
starts one fresh JVM at local[<cores>], makes the workload's fixed number
of passes, and prints, as the last line of standard output, one JSON
object: correct, attempted, failed and the end-to-end metrics (--trace 0)
or the per-layer metrics (--trace 1). --seconds caps the timed passes: a
run that reaches it fails instead of measuring less work.
Everything the run writes lives under perfbench/.runs/ and is deleted at
the end; the spans of a traced run are kept under perfbench/.out/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("edgar-ingest", "minhash-stream")
RUN_LIMIT_S = 170

# input sizes and the fixed run shape per workload: warm-up passes (part
# of set-up) and timed passes; "tiny" is the self-test size
SIZES = {
    "edgar-ingest": {
        "full": {"n_filings": 5000, "n_companies": 200, "warmup_passes": 1, "passes": 1},
        "tiny": {"n_filings": 1500, "n_companies": 40, "warmup_passes": 1, "passes": 1},
    },
    "minhash-stream": {
        "full": {"bootstrap_docs": 1000, "batch_docs": 50, "max_segments": 4,
                 "threshold": 0.4, "warmup_passes": 3, "passes": 12},
        "tiny": {"bootstrap_docs": 200, "batch_docs": 20, "max_segments": 3,
                 "threshold": 0.4, "warmup_passes": 1, "passes": 2},
    },
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build reads, to decide whether to rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, subdirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources at {ROOT} (build.sbt, src/main/scala)")
    target = os.path.join(BENCH, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "perfbench.stamp")
    digest = source_digest()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    os.makedirs(target, exist_ok=True)
    log = os.path.join(target, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "writeClasspath"],
                       BENCH, env, out, 850)
    if rc != 0 or not os.path.isfile(cp_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (exit {rc}), see {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(digest)
    with open(cp_file) as g:
        return g.read().strip()


def run_child(cmd, cwd, env, out, timeout):
    """Run ``cmd`` in its own process group; kill the group on timeout and
    wait until it has ended."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def make_inputs(workload, seed, cfg, run_dir):
    d = os.path.join(run_dir, "inputs")
    if workload == "edgar-ingest":
        inputs.edgar_mirror(seed, cfg["n_filings"], cfg["n_companies"], d)
    else:
        # one micro-batch per pass; a traced run rounds its passes up to
        # an even number (half traced, half untraced)
        batches = cfg["warmup_passes"] + 2 * ((cfg["passes"] + 1) // 2)
        n = cfg["bootstrap_docs"] + cfg["batch_docs"] * batches
        inputs.minhash_inputs(seed, n, d, cfg["threshold"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build()
    t_start = time.time()  # a build may take longer; the run itself may not
    cfg = SIZES[a.workload][a.size]
    run_dir = os.path.join(BENCH, ".runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        make_inputs(a.workload, a.seed, cfg, run_dir)
        with open(os.path.join(run_dir, "config.json"), "w") as f:
            json.dump(cfg, f)
        # a fixed heap: the JVM's resident size then depends on the work,
        # not on when the collector chose to grow the heap. Lower JIT
        # thresholds: hot code is compiled within the warm-up passes, so a
        # timed pass does not depend on how far compilation had got
        cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:CompileThresholdScaling=0.1",
                f"-Djava.io.tmpdir={run_dir}/tmp"]
               + [x for o in JVM_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
               + ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
                  "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--dir", run_dir])
        log = os.path.join(run_dir, "jvm.log")
        budget = RUN_LIMIT_S - (time.time() - t_start)
        with open(log, "w") as out:
            rc = run_child(cmd, run_dir, dict(os.environ), out, max(budget, 10))
        result_file = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.isfile(result_file):
            with open(log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"{a.workload} run failed (exit {rc})", 4)
        with open(result_file) as f:
            res = json.load(f)
        if a.trace:
            os.makedirs(os.path.join(BENCH, ".out"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"), os.path.join(
                BENCH, ".out", f"{a.workload}-s{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for note in res["notes"]:
        print(f"# {note}")
    if a.trace:
        got = res["per_layer"]
        names = metrics.PER_LAYER
        # a layer the workload does not call did no work: 0
        out = {k: {"value": float(got.get(k, 0.0)), "unit": u}
               for k, u in names.items()}
    else:
        got = res["end_to_end"]
        out = {k: {"value": float(got[k]), "unit": u}
               for k, u in metrics.END_TO_END.items()}
    correct = res["failed"] == 0 and not any(n.startswith("FAILED") for n in res["notes"])
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
