#!/usr/bin/env python3
"""Alternating A/B pairs of servebench runs between two revisions.

    python3 scripts/ab_pairs.py --base HEAD~1 --head HEAD --workload agent_explore --seeds 2-7

Clones each revision of this repository fresh into its own directory under
--work (a new temporary directory by default), then runs
`python3 servebench/run.py --workload W --seed S --seconds N --trace 0` in
the two clones, one pair per seed, alternating which side runs first. Each
side builds in its own clone; a copied build tree is not reused.

Per end-to-end metric of BENCHMARK.json it prints the base and head medians,
their ratio, in how many pairs the head was better, whether the medians
differ by more than the base runs' interquartile range (q3 - q1), and that
range relative to the base median next to the metric's bound: a spread above
the bound means the host is too noisy to tell a change of that size. Runs
that are not correct, or that fail calls, are listed; every run's result
line is kept in <work>/results.jsonl. Standard library only; nothing is
fetched.

With --per-query it then prints, per statement (agent_explore: `ms`) or per
query (pipeline_batch: `meta_ms` and `query_ms`), the base and head medians
over the runs of each run's own median, read from every run's
.bench_work/out/<workload>-*.json in the two clones, sorted by the head's
change, largest gain first: which statements a change of a metric comes from.
"""
import argparse
import glob
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    """'2-7' or '2,4,9' to a list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def clone(rev, path):
    sha = subprocess.check_output(["git", "-C", ROOT, "rev-parse", "--verify", rev + "^{commit}"],
                                  text=True).strip()
    subprocess.check_call(["git", "clone", "--quiet", "--no-checkout", ROOT, path])
    subprocess.check_call(["git", "-C", path, "checkout", "--quiet", sha])
    return sha


def run(path, workload, seed, seconds):
    """The result line of one servebench run, or None when it printed none."""
    p = subprocess.run([sys.executable, "servebench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def value(result, name):
    m = result["metrics"].get(name)
    return m["value"] if isinstance(m, dict) else m


def iqr(xs):
    if len(xs) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def report(results, metrics):
    """Per-metric comparison of the paired base and head result lines."""
    n = len(results["base"])
    print(f"\n{n} complete pairs")
    print(f"{'metric':<14}{'base':>10}{'head':>10}{'ratio':>8}{'wins':>8}{'>iqr':>6}"
          "  base iqr/median / bound")
    for m in metrics:
        name = m["name"]
        pairs = [(value(b, name), value(h, name)) for b, h in zip(results["base"], results["head"])]
        pairs = [(b, h) for b, h in pairs if b is not None and h is not None]
        xs, ys = [b for b, _ in pairs], [h for _, h in pairs]
        if not pairs:
            print(f"{name:<14}{'n/a':>10}")
            continue
        lower = m["better"] == "lower"
        wins = sum(1 for b, h in pairs if (h < b if lower else h > b))
        mb, mh = statistics.median(xs), statistics.median(ys)
        spread = iqr(xs)
        rel = spread / abs(mb) if mb else float("inf")
        flag = "  too noisy" if rel > m["bound"] else ""
        print(f"{name:<14}{mb:>10.4g}{mh:>10.4g}{(mh / mb if mb else float('nan')):>8.3f}"
              f"{wins:>5}/{len(pairs):<2}{'yes' if abs(mh - mb) > spread else 'no':>6}"
              f"  {rel:.3f} / {m['bound']}{flag}")


def p50(xs):
    """Nearest-rank median, as servebench/run.py takes its percentiles."""
    return sorted(xs)[math.ceil(len(xs) / 2) - 1]


def per_query(clones, workload):
    """Per statement id and key: the median over a side's runs of each run's
    own median, both sides, largest head gain first."""
    keys = ("meta_ms", "query_ms") if workload == "pipeline_batch" else ("ms",)
    medians = {}  # (key, id) -> side -> [one median per run]
    for side, path in clones.items():
        for f in sorted(glob.glob(os.path.join(path, ".bench_work", "out", workload + "-*.json"))):
            with open(f) as fh:
                calls = json.load(fh)["calls"]
            by_id = {}
            for c in calls:
                by_id.setdefault(c["id"], []).append(c)
            for sid, cs in by_id.items():
                for k in keys:
                    medians.setdefault((k, sid), {}).setdefault(side, []).append(
                        p50([c[k] for c in cs]))
    rows = [(k, sid, statistics.median(v["base"]), statistics.median(v["head"]))
            for (k, sid), v in medians.items() if "base" in v and "head" in v]
    print(f"\nper {'query' if workload == 'pipeline_batch' else 'statement'}: "
          "median over runs of each run's median")
    print(f"{'key':<10}{'id':<40}{'base':>10}{'head':>10}{'delta':>10}{'ratio':>8}")
    for k, sid, b, h in sorted(rows, key=lambda r: r[3] - r[2]):
        print(f"{k:<10}{sid:<40}{b:>10.1f}{h:>10.1f}{h - b:>10.1f}"
              f"{(h / b if b else float('nan')):>8.3f}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="base revision")
    ap.add_argument("--head", default="HEAD", help="head revision (default HEAD)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="2-7", help="e.g. 2-7 or 1,3,5")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--work", help="directory for the two clones (default: a new temp dir)")
    ap.add_argument("--per-query", action="store_true",
                    help="also print the medians per statement or query, sorted by delta")
    a = ap.parse_args(argv)

    work = a.work or tempfile.mkdtemp(prefix="ab_pairs-")
    sides = {"base": os.path.join(work, "base"), "head": os.path.join(work, "head")}
    if any(os.path.exists(p) for p in sides.values()):
        ap.error(f"{work} already holds a base/ or head/ clone; pass a fresh --work")
    shas = {side: clone(rev, sides[side]) for side, rev in (("base", a.base), ("head", a.head))}
    print(f"base {shas['base'][:10]}  head {shas['head'][:10]}  workload {a.workload}  work {work}")
    with open(os.path.join(sides["head"], "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]

    results = {"base": [], "head": []}
    bad = []
    for i, seed in enumerate(seeds(a.seeds)):
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        pair = {}
        for side in order:
            r = run(sides[side], a.workload, seed, a.seconds)
            if r is None or not r.get("correct") or r.get("failed"):
                bad.append((side, seed, None if r is None else
                            {k: r.get(k) for k in ("correct", "attempted", "failed")}))
            pair[side] = r
        with open(os.path.join(work, "results.jsonl"), "a") as fh:
            fh.write(json.dumps({"seed": seed, "order": order, **pair}) + "\n")
        if all(pair[s] is not None for s in pair):
            for side in pair:
                results[side].append(pair[side])
        print(f"seed {seed}: " + "  ".join(
            f"{s} {'ok' if pair[s] else 'no result'}" for s in order), flush=True)

    report(results, metrics)
    if a.per_query:
        per_query(sides, a.workload)
    for side, seed, r in bad:
        print(f"NOT CORRECT: {side} seed {seed}: {r}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
