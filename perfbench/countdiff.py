"""Compare the per-layer counts of two traced runs.

    python3 perfbench/countdiff.py <workload>          # the two latest traced runs
    python3 perfbench/countdiff.py <a.json> <b.json>   # two saved count files

Every traced run (run.py --trace 1) saves its counts (jobs, tasks, files,
bytes, FS calls) under .bench_build/perfbench/counts/. With one client
thread and the same seed, a count should repeat exactly; this lists every
count that does not, and exits 1 if there is one.
"""
import glob
import json
import os
import sys

COUNTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      ".bench_build", "perfbench", "counts")


def latest(workload):
    files = sorted(glob.glob(os.path.join(COUNTS, f"{workload}-seed*.json")),
                   key=lambda p: int(p.rsplit("-", 1)[1].split(".")[0]))
    if len(files) < 2:
        sys.exit(f"need two traced runs of {workload} under {COUNTS}, found {len(files)}")
    return files[-2:]


def main(args):
    if len(args) == 1:
        a, b = latest(args[0])
    elif len(args) == 2:
        a, b = args
    else:
        sys.exit(__doc__)
    with open(a) as f:
        ca = json.load(f)
    with open(b) as f:
        cb = json.load(f)
    print(f"A: {a} (seed {ca['seed']})\nB: {b} (seed {cb['seed']})")
    if ca["seed"] != cb["seed"]:
        print("note: different seeds, so different inputs; counts may differ for that reason")
    names = sorted(set(ca["counts"]) | set(cb["counts"]))
    changed = [(n, ca["counts"].get(n), cb["counts"].get(n)) for n in names
               if ca["counts"].get(n) != cb["counts"].get(n)]
    for n, x, y in changed:
        print(f"CHANGED {n}: {x} -> {y}")
    print(f"{len(names) - len(changed)} of {len(names)} counts repeat exactly")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
