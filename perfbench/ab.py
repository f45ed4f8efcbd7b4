"""Paired A/B of two commits on the benchmark.

    python3 perfbench/ab.py --base HEAD~1 --change HEAD \
        [--workloads medallion_etl,embedding_dedup] [--claim records_per_s]

Checks both commits out as git worktrees under .bench_build/ab/, copies
this checkout's perfbench/ and BENCHMARK.json into both (the two sides
run identical benchmark code and settings), and runs PAIRS alternating
pairs per workload: pair i uses seed SEED0 + i on both sides, and the
side that runs first alternates. Then, per workload:

  * claim (optional): the change must win at least 9 of every 10 pairs
    (ties count for neither) and its median must differ from the base
    median by more than the base runs' interquartile range;
  * no regression: for every end-to-end metric, the change's median may
    be worse than the base median by at most the metric's bound in
    BENCHMARK.json. Where the base runs spread wider than the bound the
    metric is "unresolved" unless every change run beats every base run;
  * quality: for each QUALITY figure a workload reports (the IVF
    recall@10 of embedding_dedup), the median over pairs of the change's
    loss against the base on the same seed may be at most its bound. An
    approximate operator that gets faster by getting less accurate fails
    here even when every end-to-end metric improves.

One row per workload is printed; each run's metrics are written to
.bench_build/ab/results.json.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PAIRS = 10  # the win rule needs at least 10 pairs
SEED0 = 1000
# quality figures from each run's report (not end-to-end metrics: they
# have no value on every workload): name -> (better, bound)
QUALITY = {"ann.recall_at_10": ("higher", 0.02)}


def worse(better, a, b):
    """How much worse b is than a, as a share of a (positive = worse)."""
    if a == 0:
        return 0.0
    d = (b - a) / abs(a)
    return d if better == "lower" else -d


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def checkout(rev, where):
    if where.exists():
        subprocess.run(["git", "-C", str(ROOT), "worktree", "remove", "--force", str(where)],
                       check=False)
        shutil.rmtree(where, ignore_errors=True)
    subprocess.run(["git", "-C", str(ROOT), "worktree", "add", "--detach", str(where), rev],
                   check=True, stdout=subprocess.DEVNULL)
    shutil.rmtree(where / "perfbench", ignore_errors=True)
    shutil.copytree(ROOT / "perfbench", where / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", where / "BENCHMARK.json")


def run(where, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=where, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        return {"correct": False, "metrics": {}, "error": p.stderr[-2000:]}
    r = json.loads(lines[-1])
    report = where / ".bench_build" / "results" / f"{workload}-seed{seed}-trace0.json"
    counts = json.loads(report.read_text()).get("rep_counts", {})
    r["quality"] = {k: counts[k] for k in QUALITY if k in counts}
    return r


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--claim", help="end-to-end metric the change claims to improve")
    a = ap.parse_args()

    ab = ROOT / ".bench_build" / "ab"
    sides = {"base": ab / "base", "change": ab / "change"}
    checkout(a.base, sides["base"])
    checkout(a.change, sides["change"])
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    results = {}
    try:
        for w in a.workloads.split(","):
            runs = {"base": [], "change": []}
            for i in range(PAIRS):
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                for side in order:
                    runs[side].append(run(sides[side], w, SEED0 + i, bench["run_seconds"]))
            results[w] = runs
    finally:
        for where in sides.values():
            subprocess.run(["git", "-C", str(ROOT), "worktree", "remove", "--force", str(where)],
                           check=False)
    (ab / "results.json").write_text(json.dumps(results, indent=1))

    failed = False
    for w, runs in results.items():
        row = [w]
        bad = [s for s, rs in runs.items() if not all(r["correct"] for r in rs)]
        if bad:
            print(f"{w}: incorrect runs on {', '.join(bad)}; no comparison")
            failed = True
            continue
        for name, m in metrics.items():
            b = [r["metrics"][name]["value"] for r in runs["base"]]
            c = [r["metrics"][name]["value"] for r in runs["change"]]
            mb, mc = statistics.median(b), statistics.median(c)
            q = worse(m["better"], mb, mc)
            spread = iqr(b) / abs(mb) if mb else 0.0
            if name == a.claim:
                wins = sum(worse(m["better"], bb, cc) < 0 for bb, cc in zip(b, c))
                ok = wins >= 0.9 * len(b) and abs(mc - mb) > iqr(b)
                verdict = f"claim {'MET' if ok else 'NOT MET'} ({wins}/{len(b)} wins)"
                failed |= not ok
            elif spread > m["bound"]:
                best = min(b) if m["better"] == "lower" else max(b)
                all_better = all(worse(m["better"], best, x) < 0 for x in c)
                verdict = "better in every run" if all_better else "unresolved"
            elif q > m["bound"]:
                verdict = f"REGRESSION (bound {m['bound']:.0%})"
                failed = True
            else:
                verdict = "no regression"
            row.append(f"{name} {mb:.4g}->{mc:.4g} ({-q:+.1%}, base IQR {spread:.1%}) {verdict}")
        for name, (better, bound) in QUALITY.items():
            pairs = [(b["quality"][name], c["quality"][name])
                     for b, c in zip(runs["base"], runs["change"])
                     if name in b["quality"] and name in c["quality"]]
            if not pairs:
                continue
            q = statistics.median(worse(better, b, c) for b, c in pairs)
            verdict = "no regression" if q <= bound else f"REGRESSION (bound {bound:.0%})"
            failed |= q > bound
            row.append(f"{name} {-q:+.2%} paired median {verdict}")
        print(" | ".join(row))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
