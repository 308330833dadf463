#!/usr/bin/env python3
"""Paired A/B of two checkouts on one perfbench workload.

    python3 tools/ab.py --parent ../parent --change . \\
        --workload read_while_write --pairs 10 --seconds 10

Runs `perfbench/run.py` in the parent checkout and in the change checkout
once per seed (seeds first-seed .. first-seed+pairs-1), alternating which
side runs first from pair to pair so slow drift of the host falls on
both. Each run builds its own checkout. Prints, per metric, the median
of each side, the change's wins out of the pairs (the better side of
each pair, per the metric's direction in BENCHMARK.json), and the
parent's interquartile range and median. A claimed gain should win on
most pairs and move the median by more than the parent's IQR.

Each metric with a bound in BENCHMARK.json also shows the bound and the
change/parent ratio of the medians, with a verdict: CLEARS when the
median moved in the metric's better direction by more than the bound
(what a claimed gain needs), REGRESSES when it moved the other way by
more than the bound (what gets a change refused). The move is the
ratio's distance from 1, so a bound of 0.25 asks a higher-is-better
metric for a ratio of at least 1.25 and a lower-is-better one for at
most 0.75.

A pair is MIXED when its two sides measured a different number of
windows (`detail.rounds` on read_while_write, `detail.passes` on
replay_wide): a per-window median over one window against one over two
measures the window count, not the change. The count of mixed pairs and
their pair numbers are printed under the table.

--out appends every run's result line (with side, seed and pair) to a
JSON-lines file. The exit code is 1 when any run failed its checks,
else 2 when any metric's verdict is REGRESSES, else 0.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True


def metric_specs(checkout):
    """metric name -> (better: "lower" | "higher", bound or None), from
    BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: (m["better"], m.get("bound"))
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def verdict(ratio, better, bound):
    """CLEARS, REGRESSES or "" for a change/parent median `ratio` of a
    metric whose `better` direction is "lower" or "higher"."""
    if bound is None or ratio is None or ratio != ratio:
        return ""
    gain = ratio - 1 if better == "higher" else 1 - ratio
    if gain > bound:
        return "CLEARS"
    if gain < -bound:
        return "REGRESSES"
    return ""


def exit_code(failed, verdicts):
    """1 when any run failed, else 2 when any verdict is REGRESSES,
    else 0."""
    if failed:
        return 1
    return 2 if "REGRESSES" in verdicts else 0


def run_once(checkout, workload, seed, seconds, trace):
    """One perfbench run; returns (result dict or None, exit code)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    try:
        # the result line comes last, the line with the run's detail
        # before it
        res = json.loads(lines[-1])
        res["detail"] = json.loads(lines[-2]).get("detail", {})
        return res, p.returncode
    except (IndexError, ValueError):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        return None, p.returncode


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(pairs, better):
    """Rows of (metric, parent median, change median, wins, n, IQR);
    `better` maps a metric to "lower" | "higher"."""
    names = sorted({k for p, c in pairs for k in p} &
                   {k for p, c in pairs for k in c})
    rows = []
    for name in names:
        both = [(p[name], c[name]) for p, c in pairs
                if name in p and name in c]
        ps = [x for x, _ in both]
        cs = [y for _, y in both]
        lower = better.get(name, "lower") == "lower"
        wins = sum(1 for x, y in both if (y < x if lower else y > x))
        q1, q3 = quartiles(ps)
        rows.append((name, statistics.median(ps), statistics.median(cs),
                     wins, len(both), q3 - q1))
    return rows


def windows(res):
    """The number of measured windows a run reports, or None."""
    detail = (res or {}).get("detail", {})
    for key in ("rounds", "passes"):
        if key in detail:
            return detail[key]
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout dir")
    ap.add_argument("--change", required=True, help="change checkout dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append each run's result to this JSONL")
    a = ap.parse_args()

    sides = {"parent": os.path.abspath(a.parent),
             "change": os.path.abspath(a.change)}
    specs = metric_specs(sides["change"])
    better = {k: v[0] for k, v in specs.items()}
    pairs, failed, mixed = [], 0, []
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got, nwin = {}, {}
        for side in order:
            res, code = run_once(sides[side], a.workload, seed, a.seconds,
                                 a.trace)
            ok = (res is not None and code == 0 and res.get("correct")
                  and not res.get("failed"))
            failed += 0 if ok else 1
            got[side] = {k: v["value"] for k, v in
                         (res or {}).get("metrics", {}).items()}
            nwin[side] = windows(res)
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps({"side": side, "pair": i + 1,
                                         "seed": seed, "ok": bool(ok),
                                         "result": res}) + "\n")
            print(f"pair {i + 1}/{a.pairs} seed {seed} {side}: "
                  f"{'ok' if ok else 'FAILED'}", file=sys.stderr, flush=True)
        if got["parent"] and got["change"]:
            pairs.append((got["parent"], got["change"]))
            if nwin["parent"] != nwin["change"]:
                mixed.append((i + 1, seed, nwin["parent"], nwin["change"]))

    print(f"{a.workload}: {len(pairs)} pairs, --seconds {a.seconds:g}, "
          f"--trace {a.trace}, {failed} failed run(s)")
    print(f"{'metric':34} {'parent':>12} {'change':>12} {'delta':>8} "
          f"{'wins':>6} {'IQR':>10} {'IQR/med':>8} {'bound':>6} "
          f"{'ratio':>7} verdict")
    verdicts = []
    for name, pm, cm, wins, n, iqr in summarize(pairs, better):
        delta = (cm - pm) / pm * 100 if pm else float("nan")
        rel = iqr / pm if pm else float("nan")
        ratio = cm / pm if pm else None
        way, bound = specs.get(name, ("lower", None))
        verdicts.append(verdict(ratio, way, bound))
        print(f"{name:34} {pm:12.4g} {cm:12.4g} {delta:+7.1f}% "
              f"{wins:>3}/{n:<2} {iqr:10.4g} {rel:8.3f} "
              f"{'' if bound is None else f'{bound:g}':>6} "
              f"{'' if ratio is None else f'{ratio:.3f}':>7} "
              f"{verdicts[-1]}")
    print(f"mixed pairs (the sides measured different window counts): "
          f"{len(mixed)}/{len(pairs)}")
    for pair, seed, p, c in mixed:
        print(f"  pair {pair} seed {seed}: parent {p}, change {c}")
    return exit_code(failed, verdicts)


if __name__ == "__main__":
    sys.exit(main())
