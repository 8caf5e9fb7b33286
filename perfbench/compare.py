#!/usr/bin/env python3
"""Compare two sets of benchmark results, layer by layer.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the records run.py writes to perfbench/results/
(`<workload>-s<seed>-t<trace>.json`); copy that directory aside after
running the parent commit, then run the change. Per workload it prints
each end-to-end metric's median and quartiles on both sides and a
verdict against the bound in BENCHMARK.json:

  regressed   the new median is worse by more than the bound
  unresolved  the run-to-run spread (quartile distance / median) on
              either side is wider than the bound, so no call is made
              (unless every new run beats every base run: improved)
  improved    better by more than the bound, with the spread inside it
  unchanged   otherwise

When both sides also have traced runs (--trace 1), every latency or
throughput change is checked against the work counters (scheduler,
executor, shuffle, io). A wall-time change with flat work counters is
reported as load, not as a change in the program.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORK_COUNTERS = ("sched.jobs", "sched.stages", "sched.tasks", "exec.task_s",
                 "shuffle.write_mb", "shuffle.read_mb", "io.input_mb",
                 "io.input_rows", "io.output_mb", "io.output_rows")
COUNTER_MOVE = 0.10  # a work counter "moved" past this relative change


def load(d):
    """{(workload, trace): {metric: [values over seeds]}}"""
    out = {}
    for f in sorted(os.listdir(d)):
        if not f.endswith(".json"):
            continue
        with open(os.path.join(d, f)) as fh:
            r = json.load(fh)
        key = (r["workload"], 1 if r["trace"] else 0)
        for m, v in r["metrics"].items():
            out.setdefault(key, {}).setdefault(m, []).append(v["value"])
    return out


def stats(xs):
    m = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (m, m, m)
    return m, q1, q3


def worse(delta, better):
    """Relative change, positive when the new side is worse."""
    return delta if better == "lower" else -delta


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    regressed = False
    for wl in sorted({k[0] for k in base} & {k[0] for k in new}):
        a, b = base.get((wl, 0), {}), new.get((wl, 0), {})
        ta, tb = base.get((wl, 1), {}), new.get((wl, 1), {})
        print(f"== {wl}  (runs: base {len(next(iter(a.values()), []))}, new {len(next(iter(b.values()), []))})")
        print(f"   {'metric':<14} {'base median [q1, q3]':>30} {'new median [q1, q3]':>30} {'change':>8}  verdict")
        moved = []
        for m in spec["end_to_end"]:
            n, bound, better = m["name"], m.get("bound", 0.25), m["better"]
            if n not in a or n not in b:
                continue
            (ma, a1, a3), (mb, b1, b3) = stats(a[n]), stats(b[n])
            delta = (mb - ma) / ma if ma else 0.0
            w = worse(delta, better)
            spread = max((a3 - a1) / ma if ma else 0, (b3 - b1) / mb if mb else 0)
            all_better = (max(b[n]) < min(a[n])) if better == "lower" else (min(b[n]) > max(a[n]))
            if w > bound and spread <= bound:
                verdict = "regressed"
            elif spread > bound:
                verdict = "improved" if all_better else "unresolved"
            elif -w > bound:
                verdict = "improved"
            else:
                verdict = "unchanged"
            regressed |= verdict == "regressed"
            if verdict != "unchanged":
                moved.append(n)
            print(f"   {n:<14} {ma:>12.4g} [{a1:.4g}, {a3:.4g}]".ljust(48) +
                  f" {mb:>12.4g} [{b1:.4g}, {b3:.4g}]".ljust(31) +
                  f" {100 * delta:+7.1f}%  {verdict} (bound {bound:.0%}, spread {spread:.0%})")
        if ta and tb:
            print("   work counters (traced runs, per op):")
            flat = True
            for c in WORK_COUNTERS:
                if c in ta and c in tb:
                    ca, cb = statistics.median(ta[c]), statistics.median(tb[c])
                    d = (cb - ca) / ca if ca else (0.0 if cb == 0 else 1.0)
                    flat &= abs(d) <= COUNTER_MOVE
                    mark = "moved" if abs(d) > COUNTER_MOVE else "flat"
                    print(f"     {c:<22} {ca:>12.4g} -> {cb:<12.4g} {100 * d:+7.1f}%  {mark}")
            for n in moved:
                if n == "setup_s" or n == "storage_mb":
                    continue
                print(f"   {n}: " + ("wall-only change with flat work counters -> load, not the program"
                                     if flat else "work counters moved with it -> a change in the work done"))
        elif moved:
            print("   (no traced runs on both sides: cannot tell load from work)")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
