#!/usr/bin/env python3
"""Diff two bench records and flag per-query movers.

    python3 tools/bench_diff.py OLD NEW [--threshold 1.5]

Accepts either bench format:
  - the record graft.Bench appends to SPARK_GRAFT_BENCH_OUT (default
    bench_records/bench_full.jsonl): one JSON line per run with a
    "queries" map; the LAST parseable line wins, so a file of appended
    runs reads as its newest run;
  - an old driver BENCH_rN.json whose "tail" field carries a (possibly
    truncated) stdout capture: per-query times are recovered with a regex,
    so a record that lost its head still contributes every surviving time.

Machine-drift normalization: graft.Bench times two pinned workloads that no
code change touches, "calibration" (a scalar hash loop) and
"calibration_shuffle" (a shuffle + hash-aggregate job, the regime the suite
runs in). The drift ratio is new/old of calibration_shuffle when BOTH
records carry it, else of calibration; the report names the one it used.
The ratio is divided out of every mover and of the shared-query total, and
movers whose drift-adjusted ratio falls back inside the threshold are
labeled "explained by machine drift": same-code totals have swung ~1.9x on
environment alone, so a raw ratio without this control is not evidence of
a code regression. The two calibrations can disagree by ~2x between the
same pair of records. Compare records with equal "cpus": both calibrations
split over that many partitions.

Movers are queries whose new/old ratio is >= threshold or <= 1/threshold.
Sub-second queries swing up to 3.5x between identical-code runs on this
workload (see Bench.scala), so the report marks movers whose BOTH times
are < 1s as inside the noise band — adjudicate those with a quiet re-run
before touching code: re-time just the suspects with
    SPARK_GRAFT_ONLY=<name,name,...> sbt "runMain graft.Bench"
and diff the new record. Exit code is always 0: this is a triage report,
not a gate.
"""
import json
import re
import sys

TIME_RE = re.compile(r'"(q\w+)":([0-9][0-9.eE+-]*)')
# preferred first: the drift ratio uses the first one both records carry
CALIBRATIONS = ("calibration_shuffle", "calibration")
CAL_RES = {k: re.compile(f'"{k}":([0-9][0-9.eE+-]*)') for k in CALIBRATIONS}


def load_record(path):
    """Return (times: dict, calibrations: dict name -> seconds)."""
    with open(path) as f:
        text = f.read()
    # durable format: last parseable JSON line with a "queries" map
    for line in reversed(text.strip().splitlines()):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if not isinstance(obj, dict):  # a bare 'null'/number line
            continue
        qs = obj.get("queries")
        if isinstance(qs, dict):
            return ({k: v for k, v in qs.items()
                     if isinstance(v, (int, float))},
                    {k: obj[k] for k in CALIBRATIONS
                     if isinstance(obj.get(k), (int, float)) and obj[k] > 0})
    # driver format: whole file is one JSON object with a "tail" capture
    try:
        obj = json.loads(text)
        blob = obj.get("tail", "") if isinstance(obj, dict) else text
    except ValueError:
        blob = text
    times = {name: float(sec) for name, sec in TIME_RE.findall(blob)}
    cals = {k: float(m.group(1)) for k, r in CAL_RES.items()
            for m in [r.search(blob)] if m and float(m.group(1)) > 0}
    return times, cals


def main():
    argv = sys.argv[1:]
    args, thr, i = [], 1.5, 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--threshold"):
            if "=" in a:
                thr = float(a.split("=", 1)[1])
            else:
                i += 1  # flag value is the ADJACENT token, wherever the
                if i >= len(argv):  # flag sits relative to the paths
                    sys.exit("--threshold needs a value\n" + __doc__)
                thr = float(argv[i])
        else:
            args.append(a)
        i += 1
    if len(args) != 2:
        sys.exit(__doc__)
    (old, cals_old), (new, cals_new) = load_record(args[0]), load_record(args[1])
    shared = sorted(set(old) & set(new))
    only_old = sorted(set(old) - set(new))
    only_new = sorted(set(new) - set(old))

    cal = next((k for k in CALIBRATIONS if k in cals_old and k in cals_new),
               None)
    drift = cals_new[cal] / cals_old[cal] if cal else None

    movers = []
    for q in shared:
        ratio = new[q] / old[q] if old[q] > 0 else float("inf")
        if ratio >= thr or ratio <= 1 / thr:
            notes = []
            if old[q] < 1.0 and new[q] < 1.0:
                notes.append("sub-second both sides: noise band")
            if drift:
                adj = ratio / drift
                if 1 / thr < adj < thr:
                    notes.append(f"drift-adjusted {adj:.2f}x: "
                                 "explained by machine drift")
                else:
                    notes.append(f"drift-adjusted {adj:.2f}x: real mover")
            movers.append((ratio, q, "; ".join(notes)))
    movers.sort(reverse=True)

    t_old = sum(old[q] for q in shared)
    t_new = sum(new[q] for q in shared)
    print(f"shared queries: {len(shared)}  "
          f"(old-only: {len(only_old)}, new-only: {len(only_new)})")
    print(f"shared-query total: {t_old:.2f}s -> {t_new:.2f}s "
          f"({t_new / t_old:.3f}x)" if t_old else "no shared queries")
    if drift:
        print(f"{cal}: {cals_old[cal]:.3f}s -> {cals_new[cal]:.3f}s "
              f"(machine drift {drift:.2f}x)")
        if t_old:
            print(f"drift-normalized total: {t_old:.2f}s -> "
                  f"{t_new / drift:.2f}s ({t_new / t_old / drift:.3f}x)")
    else:
        print(f"calibration: no common calibration in {args[0]} "
              f"({', '.join(cals_old) or 'none'}) and {args[1]} "
              f"({', '.join(cals_new) or 'none'}) — raw ratios include any "
              "machine drift")
    if only_new:
        print(f"new queries: {', '.join(only_new)}")
    if only_old:
        print(f"dropped queries: {', '.join(only_old)}")
    print(f"\nmovers (ratio >= {thr}x either way): {len(movers)}")
    for ratio, q, notes in movers:
        suffix = f"  ({notes})" if notes else ""
        print(f"  {q}: {old[q]:.3f}s -> {new[q]:.3f}s  {ratio:.2f}x{suffix}")


if __name__ == "__main__":
    main()
