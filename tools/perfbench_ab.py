#!/usr/bin/env python3
"""Alternating A/B runs of one perfbench workload on two checkouts.

    python3 tools/perfbench_ab.py --parent ../parent --change . \\
        --workload edgar-ingest --seeds 31 32 33 34 [--trace 0|1] [--seconds 60]

Each checkout's source tree is first copied into a fresh work directory
WITHOUT its build output (every ``target/`` directory, ``.git``, sbt and
IDE state, perfbench's run directories), so each side builds from its own
sources. Two trees that share a copied ``target/`` also share sbt's sync
state: building one can delete the other's compiled classes, and its runs
then fail with ``NoClassDefFoundError``.

For every seed the script runs ``perfbench/run.py`` once per side, the
order flipping from seed to seed (parent first on the 1st, 3rd, ... seed,
change first on the others) so that slow drift of the host does not favour
one side. It prints every run's ``correct``/``failed`` and metrics, then
for each metric of BENCHMARK.json (end-to-end with --trace 0, per-layer
with --trace 1) the median and interquartile range per side, how many
pairs each side won, and the change/parent ratio of medians. The exit
status is 1 if any run failed or was not correct.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

SIDES = ("parent", "change")
# build output and local state that must not travel with a copied checkout
SKIP = {"target", ".git", ".bsp", ".metals", ".bloop", ".idea", ".runs", ".out",
        "spark-warehouse", "metastore_db", "__pycache__"}


def copy_checkout(src, dst):
    if not os.path.isfile(os.path.join(src, "perfbench", "run.py")):
        sys.exit(f"perfbench_ab: {src} has no perfbench/run.py")
    shutil.copytree(src, dst, symlinks=True,
                    ignore=lambda _d, names: [n for n in names if n in SKIP])


def run_once(tree, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, stdin=subprocess.DEVNULL)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        tail = "\n".join(p.stderr.splitlines()[-15:])
        return {"correct": False, "failed": None, "metrics": {},
                "error": f"exit {p.returncode}: {tail}"}
    res = json.loads(lines[-1])
    res["metrics"] = {k: v["value"] for k, v in res["metrics"].items()}
    return res


def spread(xs):
    """(first quartile, median, third quartile)."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def summarize(runs, catalogue):
    print("| metric | parent median (IQR) | change median (IQR) "
          "| pairs won parent/change | change/parent |")
    print("|---|---|---|---|---|")
    for m in catalogue:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(r["parent"]["metrics"][name], r["change"]["metrics"][name])
                 for r in runs
                 if name in r["parent"]["metrics"] and name in r["change"]["metrics"]]
        if not any(a or b for a, b in pairs):
            continue  # a layer the workload does not call
        stats = [spread([p[i] for p in pairs]) for i in (0, 1)]
        cells = [f"{med:.4g} ({q1:.4g}-{q3:.4g})" for q1, med, q3 in stats]
        won_c = sum(1 for a, b in pairs if (b < a if lower else b > a))
        won_p = sum(1 for a, b in pairs if (a < b if lower else a > b))
        pm, cm = stats[0][1], stats[1][1]
        ratio = f"{cm / pm:.3f}" if pm else "-"
        print(f"| {name} | {cells[0]} | {cells[1]} | {won_p}/{won_c} | {ratio} |")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="changed checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=60)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", help="directory for the copies (default: a new "
                    "temporary directory, removed at the end)")
    a = ap.parse_args()

    work = a.work or tempfile.mkdtemp(prefix="perfbench_ab-")
    trees = {s: os.path.join(work, s) for s in SIDES}
    try:
        for side, src in zip(SIDES, (a.parent, a.change)):
            shutil.rmtree(trees[side], ignore_errors=True)
            copy_checkout(os.path.abspath(src), trees[side])
        with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
            bench = json.load(f)
        catalogue = bench["per_layer" if a.trace else "end_to_end"]

        runs, ok = [], True
        for i, seed in enumerate(a.seeds):
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            pair = {}
            for side in order:
                res = run_once(trees[side], a.workload, seed, a.seconds, a.trace)
                pair[side] = res
                ok = ok and bool(res["correct"]) and res["failed"] == 0
                shown = {k: round(v, 4) for k, v in res["metrics"].items()}
                print(f"seed {seed} {side}: correct={res['correct']} "
                      f"failed={res['failed']} {json.dumps(shown)}"
                      + (f" ERROR {res['error']}" if "error" in res else ""),
                      flush=True)
            runs.append(pair)
        print()
        print(f"{a.workload}, {len(runs)} pairs, trace {a.trace}:")
        summarize(runs, catalogue)
    finally:
        if not a.work:
            shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
