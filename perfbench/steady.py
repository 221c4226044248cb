"""Steadiness check: runs one workload in two separate sets of runs and
prints, for every end-to-end metric, each set's median and quartiles,
its spread (interquartile distance as a share of the median), and the
gap between the two sets' medians, against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --workload fixpoint

Set A uses seeds 1-10 and set B seeds 11-20, so the two sets share no
input. Run from the repository root.
"""
import argparse
import json
import statistics
import subprocess
import sys

SETS = [range(1, 11), range(11, 21)]


def run_set(workload, seeds, seconds):
    results = []
    for seed in seeds:
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if p.returncode != 0:
            sys.exit(f"steady: run with seed {seed} exited with {p.returncode}")
        r = json.loads(p.stdout.strip().split("\n")[-1])
        print(f"steady: {workload} seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} " + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              file=sys.stderr, flush=True)
        results.append(r)
    return results


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    seconds = bench["run_seconds"]
    sets = [run_set(a.workload, seeds, seconds) for seeds in SETS]
    print(f"### {a.workload}: {len(SETS[0])} runs per set, seeds {SETS[0][0]}-{SETS[-1][-1]}, "
          f"{seconds} s per run\n")
    print("| metric | bound | A median | A q1-q3 | A spread | B median | B q1-q3 | B spread | B vs A |")
    print("|---|---|---|---|---|---|---|---|---|")
    ok = True
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        (ma, qa1, qa3, sa), (mb, qb1, qb3, sb) = (
            summary([r["metrics"][name]["value"] for r in s]) for s in sets)
        gap = (mb - ma) / ma
        worse = gap if m["better"] == "lower" else -gap
        steady = max(sa, sb) <= bound and worse <= bound
        ok &= steady
        print(f"| {name} ({m['unit']}) | {bound} | {ma:.4g} | {qa1:.4g}-{qa3:.4g} | {sa:.3f} | "
              f"{mb:.4g} | {qb1:.4g}-{qb3:.4g} | {sb:.3f} | {gap:+.3f}{'' if steady else ' OUT'} |")
    shares = {round(r["failed"] / r["attempted"], 12) for s in sets for r in s}
    correct = all(r["correct"] for s in sets for r in s)
    print(f"\ncorrect in every run: {correct}; failed share per run: {sorted(shares)}")
    sys.exit(0 if ok and correct and len(shares) == 1 else 1)


if __name__ == "__main__":
    main()
