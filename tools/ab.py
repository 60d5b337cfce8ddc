"""Interleaved parent/change benchmark runs with per-metric medians.

Usage, from the root of a checkout::

    python3 tools/ab.py --parent HEAD~1 --seeds 11,12,13 \\
        [--workload lakehouse_cdc] [--seconds 5] [--trace 0]

Checks ``--parent`` out as a detached ``git worktree`` under
``.perfbench/ab/`` (removed again at exit), then, for every workload
and seed, runs ``perfbench/run.py`` once on the parent and once on this
checkout — alternating which of the two goes first, so slow drift of
the host (CPU steal, cache warmth) does not land on one side. Each
run's last JSON line is parsed; the summary prints, for every metric,
the parent and change medians, their ratio (change / parent), the
parent's inter-quartile range, and for the end-to-end metrics whether
the ratio is within the bound ``BENCHMARK.json`` gives it. The last
line is one JSON object with the same rows plus each run's
``correct`` flag.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def last_json(stdout: str) -> dict | None:
    """The last line of a run's output that parses as a result object
    (a dict with ``metrics``), or None when the run printed none."""
    for line in reversed(stdout.strip().splitlines()):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            return obj
    return None


def iqr(xs: list[float]) -> float:
    """Inter-quartile range (inclusive quartiles; 0 below two values)."""
    if len(xs) < 2:
        return 0.0
    q1, _q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def _values(results: list[dict], name: str) -> list[float]:
    out = []
    for r in results:
        v = (r.get("metrics") or {}).get(name, {}).get("value")
        if v is not None:
            out.append(float(v))
    return out


def summarize(
    parent: list[dict], change: list[dict], bench: dict
) -> list[dict]:
    """One row per metric seen in any run: ``{name, parent, change,
    ratio, parent_iqr, bound, within}``. ``parent``/``change`` are
    medians (None without samples), ``ratio`` is change / parent (None
    when either median is missing or the parent's is 0). ``within`` is
    None for metrics without a ``BENCHMARK.json`` bound, else whether
    the change is no worse than the parent by more than the bound —
    ``ratio <= 1 + bound`` when lower is better, ``ratio >= 1 - bound``
    when higher is better (equal medians always pass)."""
    spec = {m["name"]: m for m in bench.get("end_to_end", [])}
    better = {m["name"]: m["better"] for m in bench.get("per_layer", [])}
    better.update({n: m["better"] for n, m in spec.items()})
    names: list[str] = []
    for r in parent + change:
        for n in r.get("metrics") or {}:
            if n not in names:
                names.append(n)
    rows = []
    for n in names:
        pv, cv = _values(parent, n), _values(change, n)
        pm = statistics.median(pv) if pv else None
        cm = statistics.median(cv) if cv else None
        ratio = cm / pm if pm not in (None, 0) and cm is not None else None
        bound = spec[n]["bound"] if n in spec else None
        within = None
        if bound is not None and pm is not None and cm is not None:
            if cm == pm:
                within = True
            elif ratio is None:
                within = False
            elif better.get(n) == "higher":
                within = ratio >= 1 - bound
            else:
                within = ratio <= 1 + bound
        rows.append({
            "name": n,
            "parent": pm,
            "change": cm,
            "ratio": ratio,
            "parent_iqr": iqr(pv),
            "bound": bound,
            "within": within,
        })
    return rows


def _fmt(v) -> str:
    return "-" if v is None else format(v, ".4g")


def render(workload: str, rows: list[dict]) -> str:
    out = [f"== {workload}",
           f"{'metric':46s} {'parent':>11} {'change':>11} {'ratio':>8} "
           f"{'p_iqr':>10} {'bound':>6}  ok"]
    for r in rows:
        ok = {None: "", True: "yes", False: "NO"}[r["within"]]
        out.append(
            f"{r['name']:46s} {_fmt(r['parent']):>11} {_fmt(r['change']):>11} "
            f"{_fmt(r['ratio']):>8} {_fmt(r['parent_iqr']):>10} "
            f"{_fmt(r['bound']):>6}  {ok}")
    return "\n".join(out)


def _git(*args: str) -> str:
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def _run(checkout: str, workload: str, seed: int, seconds: float,
         trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True)
    res = last_json(proc.stdout)
    if res is None:
        print(f"ab: no result line from {checkout} {workload} seed {seed} "
              f"(exit {proc.returncode}):\n{proc.stderr[-2000:]}",
              file=sys.stderr)
        return {"correct": False, "metrics": {}}
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True,
                    help="git revision to compare this checkout against")
    ap.add_argument("--seeds", required=True,
                    help="comma-separated seeds, each run on both sides")
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every BENCHMARK.json workload")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seeds = [int(s) for s in args.seeds.split(",") if s.strip()]
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = (
        args.seconds if args.seconds is not None else bench["run_seconds"]
    )

    sha = _git("rev-parse", "--verify", args.parent + "^{commit}")
    tree = os.path.join(ROOT, ".perfbench", "ab", sha[:12])
    if not os.path.isdir(tree):
        _git("worktree", "add", "--detach", tree, sha)
    summary = {}
    try:
        for w in workloads:
            parent, change = [], []
            for i, seed in enumerate(seeds):
                sides = [(tree, parent), (ROOT, change)]
                for checkout, into in sides if i % 2 == 0 else sides[::-1]:
                    into.append(_run(checkout, w, seed, seconds, args.trace))
            rows = summarize(parent, change, bench)
            print(render(w, rows), flush=True)
            summary[w] = {
                "rows": rows,
                "parent_correct": [r.get("correct") for r in parent],
                "change_correct": [r.get("correct") for r in change],
            }
    finally:
        _git("worktree", "remove", "--force", tree)
        _git("worktree", "prune")
    print(json.dumps({"parent": sha, "seeds": seeds, "workloads": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
