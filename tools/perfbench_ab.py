#!/usr/bin/env python3
"""Alternating A/B pairs of one perfbench workload from two checkouts.

    python3 tools/perfbench_ab.py --parent <dir> --change <dir> \\
        --workload refresh_stream --seeds 11-20 --seconds 20 \\
        [--trace 0|1] [--detail key,key,...] [--log runs.jsonl]
    python3 tools/perfbench_ab.py --summarize runs.jsonl [more.jsonl ...] \\
        [--workload ...] [--trace 0|1] [--detail ...]

Each seed is one pair: both checkouts run `perfbench/run.py` with the
same arguments, the parent first on even pairs and the change first on
odd ones. Each run's PERFBENCH_DETAIL line and result line are appended
to the log (one JSON object per run), so a summary can be re-read later
with --summarize.

The summary prints, per end-to-end metric named in the change's
BENCHMARK.json (per-layer metric with --trace 1): each side's median and
quartiles, the pairs the change won (ties count for neither side), and
whether the gain rule holds: the change wins at least nine tenths of the
pairs and the medians differ by more than the parent's quartile spread. `--detail` adds the named
PERFBENCH_DETAIL metrics (e.g. `ml.als_fit_s`) as medians and ranges,
without a verdict. The tool only reads perfbench's output.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(checkout, a, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds),
           "--trace", a.trace]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    detail, result = {}, None
    for l in lines:
        if l.startswith("PERFBENCH_DETAIL "):
            detail = json.loads(l[len("PERFBENCH_DETAIL "):])
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-2000:])
    return {"exit": p.returncode, "result": result, "detail": detail}


def metric(run, name):
    v = ((run["result"] or {}).get("metrics") or {}).get(name)
    return v.get("value") if isinstance(v, dict) else v


def quartiles(xs):
    return (xs[0],) * 3 if len(xs) == 1 else statistics.quantiles(xs, n=4)


def summarize(runs, metrics, detail_keys):
    pairs = {}
    for r in runs:
        pairs.setdefault(r["seed"], {})[r["side"]] = r
    both = [p for _, p in sorted(pairs.items()) if len(p) == 2]
    print(f"pairs: {len(both)}  seeds: "
          f"{','.join(str(p['parent']['seed']) for p in both)}")
    for side in ("parent", "change"):
        bad = [p[side]["seed"] for p in both
               if p[side]["exit"] != 0 or not p[side]["result"]
               or p[side]["result"].get("failed", 1) != 0
               or p[side]["result"].get("correct") is not True]
        print(f"{side}: runs with failed>0, a failed check or a nonzero "
              f"exit: {bad or 'none'}")
    ok = [p for p in both if p["parent"]["result"] and p["change"]["result"]]
    fmt = "{:<16} {:>28} {:>28} {:>6} {:>6}"
    print(fmt.format("metric", "parent median [q1, q3]",
                     "change median [q1, q3]", "wins", "gain"))
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        a = [metric(p["parent"], name) for p in ok]
        b = [metric(p["change"], name) for p in ok]
        ab = [(x, y) for x, y in zip(a, b) if x is not None and y is not None]
        if not ab:
            continue
        a, b = [x for x, _ in ab], [y for _, y in ab]
        wins = sum((y < x) if lower else (y > x) for x, y in ab)
        pq1, pmed, pq3 = quartiles(a)
        cq1, cmed, cq3 = quartiles(b)
        better = (cmed < pmed) if lower else (cmed > pmed)
        gain = (wins * 10 >= 9 * len(ab) and better
                and abs(pmed - cmed) > pq3 - pq1)
        print(fmt.format(
            name, f"{pmed:.4g} [{pq1:.4g}, {pq3:.4g}]",
            f"{cmed:.4g} [{cq1:.4g}, {cq3:.4g}]", f"{wins}/{len(ab)}",
            "yes" if gain else "no"))
        print(f"{'':<16} change/parent median {cmed / pmed:.3f}; "
              f"parent quartile spread {(pq3 - pq1) / pmed:.3f} of median")
    for key in detail_keys:
        a = [p["parent"]["detail"].get("metrics", {}).get(key) for p in ok]
        b = [p["change"]["detail"].get("metrics", {}).get(key) for p in ok]
        a = [x for x in a if isinstance(x, (int, float))]
        b = [x for x in b if isinstance(x, (int, float))]
        if a and b:
            print(f"detail {key}: parent median {statistics.median(a):.4g} "
                  f"(range {min(a):.4g}-{max(a):.4g}), change median "
                  f"{statistics.median(b):.4g} "
                  f"(range {min(b):.4g}-{max(b):.4g})")
        else:
            print(f"detail {key}: not in the detail line")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload", default="refresh_stream")
    ap.add_argument("--seeds", default="11-20")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--detail", default="")
    ap.add_argument("--log", help="append each run here as JSON")
    ap.add_argument("--summarize", nargs="+", metavar="LOG",
                    help="only summarize these logs")
    a = ap.parse_args()
    detail_keys = [k for k in a.detail.split(",") if k]

    if a.summarize:
        runs = []
        for log in a.summarize:
            with open(log) as f:
                runs += [json.loads(l) for l in f if l.strip()]
        runs = [r for r in runs
                if r["workload"] == a.workload and r["trace"] == a.trace]
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    else:
        if not (a.parent and a.change):
            ap.error("--parent and --change are required unless --summarize")
        root = a.change
        runs = []
        for i, seed in enumerate(seeds(a.seeds)):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                r = run_one(getattr(a, side), a, seed)
                r.update(side=side, seed=seed, workload=a.workload,
                         trace=a.trace, seconds=a.seconds)
                runs.append(r)
                m = (r["result"] or {}).get("metrics", {})
                print(f"seed {seed} {side}: exit {r['exit']} " + " ".join(
                    f"{k}={metric(r, k):.4g}" for k in sorted(m)), flush=True)
                if a.log:
                    with open(a.log, "a") as f:
                        f.write(json.dumps(r) + "\n")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    summarize(runs, spec["end_to_end" if a.trace == "0" else "per_layer"],
              detail_keys)


if __name__ == "__main__":
    main()
