"""Record and compare result sets of the graft benchmark.

    # run two checkouts (say parent and change) side by side: every
    # workload on seeds 1..10 untraced and on seed 1 twice traced, one run
    # of each side in turn, alternating which side goes first, so a slow
    # period of the host falls on both sides alike
    python3 perfbench/compare.py record PARENT_DIR parent.jsonl CHANGE_DIR change.jsonl

    # diff two result sets: counters first, then end-to-end medians,
    # quartiles and the pair win rate, one row per workload and metric
    python3 perfbench/compare.py diff parent.jsonl change.jsonl

    # one result set as a markdown table (medians, quartiles, spreads)
    python3 perfbench/compare.py summary results.jsonl

A result set is JSON lines, one run each:
{"workload", "seed", "trace", "result": <the run's last output line>}.
Bounds, units and directions come from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SEEDS = range(1, 11)   # untraced runs, per workload and side
TRACED_SEEDS = (1, 1)  # traced runs: one seed twice, so its counters can be compared

# per-layer counters that must repeat exactly between runs of one seed
EXACT_COUNTERS = ("spark.jobs.", "spark.tasks.", "spark.stages.", "sql.plan_jobs.",
                  "table.meta_list_calls.")


def spec(root=ROOT):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def record(a):
    workloads = [w["name"] for w in spec()["workloads"]]
    sides = [(a.dir_a, a.out_a), (a.dir_b, a.out_b)]
    plan = [(w, s, t, k % 2) for t, seeds in ((0, SEEDS), (1, TRACED_SEEDS))
            for k, s in enumerate(seeds) for w in workloads]
    for w, s, t, flip in plan:
        for d, out in sides[::-1] if flip else sides:
            b = spec(d)
            cmd = b["command"] + ["--workload", w, "--seed", str(s),
                                  "--seconds", str(b["run_seconds"]), "--trace", str(t)]
            p = subprocess.run(cmd, cwd=d, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"record: {d}: {w} seed {s} trace {t} failed (exit {p.returncode})")
            with open(out, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": s, "trace": t,
                                     "result": json.loads(lines[-1])}) + "\n")
            print(f"record: {d}: {w} seed {s} trace {t} ok", file=sys.stderr, flush=True)


def load(path):
    runs = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def quart(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def fmt(x):
    return f"{x:.4g}"


def diff_counters(A, B, workloads):
    print("== counters (traced runs; must repeat exactly for one seed)")
    bad = 0
    for w in workloads:
        for side, runs in (("A", A), ("B", B)):
            by_seed = {}
            for r in runs.get((w, 1), []):
                by_seed.setdefault(r["seed"], []).append(r["result"]["metrics"])
            for seed, ms in by_seed.items():
                for k in ms[0]:
                    if k.startswith(EXACT_COUNTERS) and len({m[k]["value"] for m in ms}) > 1:
                        bad += 1
                        print(f"  {w} {side} seed {seed}: {k} does not repeat: "
                              f"{sorted({m[k]['value'] for m in ms})}")
                for m in ms:
                    for k, v in m.items():
                        if k.startswith("spark.driver_gap_ms") and v["value"] < 0:
                            bad += 1
                            print(f"  {w} {side} seed {seed}: {k} is negative ({v['value']})")
        a = {r["seed"]: r["result"]["metrics"] for r in A.get((w, 1), [])}
        b = {r["seed"]: r["result"]["metrics"] for r in B.get((w, 1), [])}
        for seed in sorted(set(a) & set(b)):
            moved = [(k, a[seed][k]["value"], b[seed][k]["value"]) for k in a[seed]
                     if k.startswith(EXACT_COUNTERS) and k in b[seed]
                     and a[seed][k]["value"] != b[seed][k]["value"]]
            for k, x, y in moved:
                print(f"  {w} seed {seed}: {k} {fmt(x)} -> {fmt(y)}")
            if not moved:
                print(f"  {w} seed {seed}: all exact counters equal")
    return bad


def diff_metrics(A, B, workloads, metrics):
    print("== end-to-end (untraced runs): median [q1, q3] per side, change, pair win rate")
    print(f"  {'workload':8s} {'metric':20s} {'A median [q1,q3]':>30s} {'B median [q1,q3]':>30s}"
          f" {'change':>8s} {'bound':>6s} {'wins':>7s}  verdict")
    regressions = 0
    for w in workloads:
        a = {r["seed"]: r["result"]["metrics"] for r in A.get((w, 0), [])}
        b = {r["seed"]: r["result"]["metrics"] for r in B.get((w, 0), [])}
        if not a or not b:
            print(f"  {w}: no untraced runs on {'A' if not a else 'B'}")
            continue
        for m in metrics:
            name, bound, lower = m["name"], m.get("bound"), m["better"] == "lower"
            va = [x[name]["value"] for x in a.values()]
            vb = [x[name]["value"] for x in b.values()]
            qa, qb = quart(va), quart(vb)
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            worse = change if lower else -change
            pairs = sorted(set(a) & set(b))
            wins = sum(1 for s in pairs
                       if (b[s][name]["value"] < a[s][name]["value"]) == lower
                       and b[s][name]["value"] != a[s][name]["value"])
            spread_a = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
            if bound is not None and worse > bound:
                verdict = "REGRESSION"
                regressions += 1
            elif pairs and wins >= 0.9 * len(pairs) and abs(qb[1] - qa[1]) > qa[2] - qa[0]:
                verdict = "gain"
            elif bound is not None and spread_a > bound:
                verdict = "unresolved (spread > bound)"
            else:
                verdict = "no change beyond bound"
            print(f"  {w:8s} {name:20s} {fmt(qa[1]):>10s} [{fmt(qa[0])}, {fmt(qa[2])}]".ljust(62)
                  + f" {fmt(qb[1]):>10s} [{fmt(qb[0])}, {fmt(qb[2])}]".ljust(31)
                  + f" {change:+8.1%} {bound if bound is not None else '-':>6} "
                  + f"{wins:>3d}/{len(pairs):<3d}  {verdict}")
    return regressions


def tracing_overhead(runs, workloads, label):
    print(f"== tracing overhead on {label}: read-pass wall, traced vs untraced (medians over runs)")
    for w in workloads:
        t = [r["result"]["metrics"]["bench.flow_ms"]["value"] for r in runs.get((w, 1), [])]
        u = [r["result"]["metrics"]["flow_p50_ms"]["value"] for r in runs.get((w, 0), [])]
        if t and u:
            tw, uw = statistics.median(t), statistics.median(u)
            print(f"  {w:8s} traced {tw:9.1f} ms  untraced {uw:9.1f} ms  overhead {(tw - uw) / uw:+.1%}")


def diff(a):
    b = spec()
    A, B = load(a.a), load(a.b)
    workloads = [w["name"] for w in b["workloads"]]
    bad = diff_counters(A, B, workloads)
    regressions = diff_metrics(A, B, workloads, b["end_to_end"])
    tracing_overhead(A, workloads, "A")
    tracing_overhead(B, workloads, "B")
    print(f"== {bad} counter problems, {regressions} regressions beyond bound")
    sys.exit(1 if bad or regressions else 0)


def summary(a):
    b = spec()
    runs = load(a.results)
    print("| workload | metric | unit | median | q1 | q3 | (q3-q1)/median | bound | runs |")
    print("|---|---|---|---|---|---|---|---|---|")
    for w in [w["name"] for w in b["workloads"]]:
        ms = [r["result"]["metrics"] for r in runs.get((w, 0), [])]
        for m in b["end_to_end"]:
            v = [x[m["name"]]["value"] for x in ms]
            if v:
                q1, med, q3 = quart(v)
                print(f"| {w} | {m['name']} | {m['unit']} | {fmt(med)} | {fmt(q1)} | {fmt(q3)} | "
                      f"{(q3 - q1) / med if med else 0:.3f} | {m['bound']} | {len(v)} |")
    print()
    print("| workload | per-layer metric | unit | traced runs (seed: values) |")
    print("|---|---|---|---|")
    for w in [w["name"] for w in b["workloads"]]:
        traced = runs.get((w, 1), [])
        for m in b["per_layer"]:
            vals = [(r["seed"], r["result"]["metrics"][m["name"]]["value"]) for r in traced]
            if any(v for _, v in vals):
                print(f"| {w} | {m['name']} | {m['unit']} | "
                      + ", ".join(f"{s}: {fmt(v)}" for s, v in vals) + " |")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    for side in ("a", "b"):
        r.add_argument(f"dir_{side}")
        r.add_argument(f"out_{side}")
    r.set_defaults(fn=record)
    d = sub.add_parser("diff")
    d.add_argument("a")
    d.add_argument("b")
    d.set_defaults(fn=diff)
    s = sub.add_parser("summary")
    s.add_argument("results")
    s.set_defaults(fn=summary)
    a = ap.parse_args()
    a.fn(a)


if __name__ == "__main__":
    main()
