"""Interleaved parent/change pairs of perfbench runs, and their summary.

Runs ``perfbench/run.py`` once per seed and workload on two sides: a
parent revision, extracted with ``git archive`` into a temporary
directory, and the working tree.  Consecutive pairs alternate which side
runs first, so slow drift of the host falls on both sides alike.  Every
run's result line is appended to a JSONL file as soon as it finishes;
afterwards the file is summarized per workload and metric: each side's
median and quartiles, and how many pairs the change won (ties count for
neither).  A metric is marked ``gain`` when at least ten pairs ran, the
change won at least nine tenths of them, and the medians differ by more
than the distance between the parent's quartiles.

    python3 tools/perfbench_pairs.py --parent HEAD~1 --seeds 41 42 43 \\
        --workloads request_ingest response_drain --out pairs.jsonl
    python3 tools/perfbench_pairs.py --summarize pairs.jsonl

Run it from the root of a source checkout.  Each metric's better
direction comes from ``BENCHMARK.json``; metrics it does not list are
taken as lower-is-better.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

#: Fewest pairs a gain may rest on.
MIN_PAIRS = 10


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile), inclusive method."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(records: list[dict], better: dict[str, str]) -> list[dict]:
    """One row per (workload, trace, metric) over ``records`` (the JSONL
    lines this tool writes).  A pair is the two sides' runs of one
    workload, seed and trace setting."""
    runs: dict[tuple, dict[str, dict]] = {}
    for rec in records:
        if rec.get("result") is not None:
            key = (rec["workload"], rec["trace"], rec["seed"])
            runs.setdefault(key, {})[rec["side"]] = rec["result"]
    rows = []
    groups = sorted({(w, t) for w, t, _ in runs})
    for workload, trace in groups:
        pairs = [p for (w, t, _), p in sorted(runs.items()) if (w, t) == (workload, trace)]
        names = sorted({m for p in pairs for r in p.values() for m in r["metrics"]})
        for name in names:
            lower = better.get(name, "lower") == "lower"
            side_values: dict[str, list[float]] = {"parent": [], "change": []}
            wins = n_pairs = 0
            for pair in pairs:
                vals = {
                    side: r["metrics"][name]["value"]
                    for side, r in pair.items()
                    if name in r["metrics"] and r["metrics"][name]["value"] is not None
                }
                for side, v in vals.items():
                    side_values[side].append(v)
                if len(vals) == 2:
                    n_pairs += 1
                    p, c = vals["parent"], vals["change"]
                    wins += (c < p) if lower else (c > p)
            if not side_values["parent"] or not side_values["change"]:
                continue
            pq1, pmed, pq3 = quartiles(side_values["parent"])
            cq1, cmed, cq3 = quartiles(side_values["change"])
            improved = cmed < pmed if lower else cmed > pmed
            rows.append({
                "workload": workload, "trace": trace, "metric": name,
                "better": "lower" if lower else "higher",
                "parent_median": pmed, "parent_q1": pq1, "parent_q3": pq3,
                "change_median": cmed, "change_q1": cq1, "change_q3": cq3,
                "pairs": n_pairs, "wins": wins,
                "gain": (n_pairs >= MIN_PAIRS and wins >= 0.9 * n_pairs
                         and improved and abs(cmed - pmed) > pq3 - pq1),
            })
    return rows


def correctness(records: list[dict]) -> dict[tuple, dict[str, int]]:
    """Per (workload, trace, side): runs, incorrect runs, failed ops and
    runs that produced no result."""
    out: dict[tuple, dict[str, int]] = {}
    for rec in records:
        c = out.setdefault((rec["workload"], rec["trace"], rec["side"]),
                           {"runs": 0, "incorrect": 0, "failed_ops": 0, "no_result": 0})
        c["runs"] += 1
        res = rec.get("result")
        if res is None:
            c["no_result"] += 1
        else:
            c["incorrect"] += not res["correct"]
            c["failed_ops"] += res["failed"]
    return out


def print_summary(records: list[dict], better: dict[str, str]) -> None:
    for (workload, trace, side), c in sorted(correctness(records).items()):
        print(f"{workload} trace={trace} {side}: {c}")
    print(f"{'workload':<16} {'t':<2} {'metric':<48} {'parent median [q1, q3]':<32} "
          f"{'change median [q1, q3]':<32} wins  gain")
    for r in summarize(records, better):
        parent = f"{r['parent_median']:.4g} [{r['parent_q1']:.4g}, {r['parent_q3']:.4g}]"
        change = f"{r['change_median']:.4g} [{r['change_q1']:.4g}, {r['change_q3']:.4g}]"
        print(f"{r['workload']:<16} {r['trace']:<2} {r['metric']:<48} {parent:<32} "
              f"{change:<32} {r['wins']}/{r['pairs']:<3} {'yes' if r['gain'] else 'no'}")


def benchmark_directions(root: str) -> dict[str, str]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"]
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def extract_rev(root: str, rev: str, dest: str) -> None:
    """The committed files of ``rev`` under ``dest``."""
    tar = subprocess.run(["git", "-C", root, "archive", "--format=tar", rev],
                         check=True, capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest, filter="data")


def run_perfbench(checkout: str, workload: str, seed: int, seconds: float,
                  trace: int, timeout_s: float) -> tuple[dict | None, str]:
    """One perfbench run in ``checkout``: (result, stderr tail)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    try:
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                              timeout=timeout_s)
    except subprocess.TimeoutExpired:
        return None, f"timed out after {timeout_s} s"
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]), proc.stderr[-2000:]
    except (IndexError, json.JSONDecodeError):
        return None, proc.stderr[-2000:]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="parent revision to extract and run")
    ap.add_argument("--seeds", type=int, nargs="+", default=[])
    ap.add_argument("--workloads", nargs="+",
                    default=["request_ingest", "response_drain"])
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--timeout", type=float, default=900,
                    help="seconds after which one run is abandoned")
    ap.add_argument("--workdir", help="where to extract the parent (default: a temp dir)")
    ap.add_argument("--out", help="JSONL file the runs are appended to")
    ap.add_argument("--summarize", metavar="JSONL",
                    help="only print the summary of an existing JSONL file")
    args = ap.parse_args(argv)
    root = os.getcwd()
    better = benchmark_directions(root)

    if args.summarize:
        with open(args.summarize) as f:
            print_summary([json.loads(line) for line in f if line.strip()], better)
        return 0
    if not (args.parent and args.seeds and args.out):
        ap.error("--parent, --seeds and --out are required to run pairs")

    parent_dir = tempfile.mkdtemp(prefix="perfbench-parent-", dir=args.workdir)
    try:
        extract_rev(root, args.parent, parent_dir)
        sides = {"parent": parent_dir, "change": root}
        records = []
        for i, seed in enumerate(args.seeds):
            for j, workload in enumerate(args.workloads):
                # each workload's order flips from one seed to the next
                order = ["parent", "change"] if (i + j) % 2 == 0 else ["change", "parent"]
                for position, side in enumerate(order):
                    result, err = run_perfbench(sides[side], workload, seed,
                                                args.seconds, args.trace, args.timeout)
                    rec = {"workload": workload, "seed": seed, "trace": args.trace,
                           "side": side, "position": position,
                           "rev": args.parent if side == "parent" else "working tree",
                           "result": result}
                    if result is None:
                        rec["error"] = err
                    records.append(rec)
                    with open(args.out, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                    print(f"{workload} seed={seed} {side}: "
                          f"{json.dumps(result) if result else err[-300:]}",
                          file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(parent_dir, ignore_errors=True)
    print_summary(records, better)
    return 0


if __name__ == "__main__":
    sys.exit(main())
