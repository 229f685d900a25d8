#!/usr/bin/env python3
"""Alternating parent/change pairs of perfbench runs, with the gain rule.

Runs `perfbench/run.py` in two source checkouts, one pair per seed, and
alternates which side runs first (pair 0: parent first). Each run's stdout
is saved under --out (overwriting a file of the same name), with the
checkout directory, the exit code and the 1-minute load average before the
run, and beside it the run's `.bench_build/runs/<workload>/jvm_result.json`;
a run that exits non-zero counts as failed. For `batch_sf0.1` the header
and the printed line name the query that set the run's `latency_tail_s`
(the query whose fastest pass is nearest the reported tail), so a tail
move can be attributed from the saved files alone. Each run lasts the
`run_seconds` of BENCHMARK.json. Then, for every end-to-end metric, it
prints each side's median and quartiles, the change's wins (ties count for
neither side), the parent's IQR, and whether the gain rule holds: the
change wins at least 9/10 of the pairs and the medians differ by more
than the parent's IQR, in the better direction.

    python3 tools/perf_pairs.py PARENT_DIR CHANGE_DIR --workload batch_sf0.1 \
        --seeds 1-10 --out /tmp/pairs

It changes nothing under perfbench/; each checkout builds into its own
`.bench_build/`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b) + 1)) if b else [int(a)]
    return out


def run(checkout, workload, seed, seconds, path):
    load1 = os.getloadavg()[0]
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
                        str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if p.returncode == 0 else {}
    except (ValueError, IndexError):
        res = {}
    metrics = {k: v["value"] for k, v in res.get("metrics", {}).items()}
    jvm = os.path.join(checkout, ".bench_build", "runs", workload, "jvm_result.json")
    saved = os.path.splitext(path)[0] + ".jvm_result.json"
    if os.path.exists(saved):
        os.remove(saved)
    header = f"load1_before={load1:.2f} exit={p.returncode} checkout={checkout}"
    if p.returncode == 0 and os.path.exists(jvm):
        shutil.copyfile(jvm, saved)
        if workload.startswith("batch") and "latency_tail_s" in metrics:
            name, t = tail_query(saved, metrics["latency_tail_s"])
            header += f" tail_query={name} ({t:.3f})"
    with open(path, "w") as f:
        f.write(f"# {header}\n{p.stdout}")
    print(f"{os.path.basename(path)}: {header} correct={res.get('correct')} "
          f"failed={res.get('failed')} " + " ".join(f"{k}={v:.3f}" for k, v in metrics.items()),
          flush=True)
    return dict(res, metrics=metrics)


def tail_query(jvm_result, tail_s):
    """The query whose fastest timed pass is nearest the run's tail."""
    with open(jvm_result) as f:
        r = json.load(f, parse_constant=lambda c: None)
    fastest = {}
    for q in (q for p in r["passes"] for q in p["queries"]):
        if not (q["error"] or q["timed_out"]):
            fastest[q["name"]] = min(fastest.get(q["name"], q["total_s"]), q["total_s"])
    return min(fastest.items(), key=lambda kv: abs(kv[1] - tail_s))


def quartiles(xs):
    return statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    pairs = []
    for i, s in enumerate(seeds(a.seeds)):
        sides = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {side: run(getattr(a, side), a.workload, s, bench["run_seconds"],
                         os.path.join(a.out, f"{a.workload}_pair{i:02d}_seed{s}_{side}.txt"))
               for side in sides}
        pairs.append(got)
    ok = [p for p in pairs if all(r.get("correct") and r.get("failed") == 0 for r in p.values())]
    print(f"\n{a.workload}: {len(pairs)} pairs, {len(ok)} with both runs correct and 0 failed")
    for m, way in better.items():
        pv = [p["parent"]["metrics"][m] for p in ok]
        cv = [p["change"]["metrics"][m] for p in ok]
        if not pv:
            continue
        sign = 1 if way == "lower" else -1
        wins = sum(sign * (x - y) > 0 for x, y in zip(pv, cv))
        pq, cq = quartiles(pv), quartiles(cv)
        iqr = pq[2] - pq[0]
        holds = wins >= 0.9 * len(pairs) and sign * (pq[1] - cq[1]) > iqr
        print(f"  {m:<15} parent {pq[1]:.3f} [{pq[0]:.3f}, {pq[2]:.3f}]  "
              f"change {cq[1]:.3f} [{cq[0]:.3f}, {cq[2]:.3f}]  wins {wins}/{len(pairs)}  "
              f"parent IQR {iqr:.3f}  gain rule {'holds' if holds else 'does not hold'}")


if __name__ == "__main__":
    main()
