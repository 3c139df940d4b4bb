"""Repeat-run helpers over two checkouts (or one).

Paired A/B of a parent and a change, alternating which side runs first:

    python3 perfbench/compare.py ab --parent ../parent --change . \\
        --workload ingest_mixed --pairs 10

Each pair uses its own seed, and both sides run the same seed.  Every
end-to-end metric of BENCHMARK.json gets a verdict from
perfbench.stats.decide: "gain" only when the change wins at least 9 of 10
pairs and the medians differ by more than the parent's interquartile
spread; "unresolved" when the parent's spread exceeds the metric's bound.

Run-to-run spread of one checkout, one seed per run:

    python3 perfbench/compare.py spread --dir . --workload catalog_band --runs 10

prints each end-to-end metric's median and IQR/median beside its bound.
It gives no verdict: perfbench.stats.decide is the only decision rule.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench.stats import decide, median, spread  # noqa: E402  (after the path insert)


def load_spec(checkout: Path) -> dict:
    return json.loads((checkout / "BENCHMARK.json").read_text())


def run_once(checkout: Path, spec: dict, workload: str, seed: int, trace: int = 0) -> dict:
    """One benchmark run in ``checkout``; returns its parsed result line."""
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def pair_order(i: int) -> tuple[str, str]:
    """Which side runs first in pair i: alternate, parent first on even pairs."""
    return ("parent", "change") if i % 2 == 0 else ("change", "parent")


def ab(args) -> int:
    dirs = {"parent": Path(args.parent).resolve(), "change": Path(args.change).resolve()}
    spec = load_spec(dirs["parent"])
    if load_spec(dirs["change"]) != spec:
        sys.exit("BENCHMARK.json differs between the checkouts: measure both with the same benchmark")
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i in range(args.pairs):
        for side in pair_order(i):
            res = run_once(dirs[side], spec, args.workload, args.seed + i)
            runs[side].append(res)
            print(f"pair {i} {side}: {json.dumps(res['metrics'])}", file=sys.stderr)
    failed = {side: sum(r["failed"] for r in rs) for side, rs in runs.items()}
    report = {"workload": args.workload, "pairs": args.pairs, "failed": failed, "metrics": {}}
    for m in spec["end_to_end"]:
        p = [r["metrics"][m["name"]]["value"] for r in runs["parent"]]
        c = [r["metrics"][m["name"]]["value"] for r in runs["change"]]
        report["metrics"][m["name"]] = {
            "parent_quartiles": statistics.quantiles(p, n=4),
            "change_quartiles": statistics.quantiles(c, n=4),
            "parent_spread": spread(p), "bound": m["bound"], "better": m["better"],
            "verdict": decide(p, c, m["better"], m["bound"], failed["parent"], failed["change"]),
        }
    print(json.dumps(report, indent=1))
    return 0


def spread_cmd(args) -> int:
    checkout = Path(args.dir).resolve()
    spec = load_spec(checkout)
    results = [run_once(checkout, spec, args.workload, args.seed + i) for i in range(args.runs)]
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        print(f"{m['name']:>16} median {median(vals):.6g} {m['unit']:<6} "
              f"spread {spread(vals):.4f} bound {m['bound']}")
    print(f"failed ops: {sum(r['failed'] for r in results)}/{sum(r['attempted'] for r in results)}")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    a = sub.add_parser("ab", help="paired parent/change runs")
    a.add_argument("--parent", required=True)
    a.add_argument("--change", required=True)
    a.add_argument("--workload", required=True)
    a.add_argument("--pairs", type=int, default=10)
    a.add_argument("--seed", type=int, default=1000)
    s = sub.add_parser("spread", help="run-to-run spread of one checkout")
    s.add_argument("--dir", default=".")
    s.add_argument("--workload", required=True)
    s.add_argument("--runs", type=int, default=10)
    s.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    if args.cmd == "ab" and args.pairs < 10:
        p.error("--pairs must be at least 10")
    return ab(args) if args.cmd == "ab" else spread_cmd(args)


if __name__ == "__main__":
    sys.exit(main())
