"""Per-query regression diff between two bench result files.

Usage:
    python scripts/bench_diff.py history/BENCH_r01.json current.json [--ratio 1.3]

Accepts either the driver's wrapped format ({"parsed": {...}}) or the
raw one-line JSON bench.py prints.  Exits 1 if any query regresses by
more than --ratio (default 1.3x, the round-over-round budget from the
round-1 review), so CI / the per-round loop can gate on it.
"""

import argparse
import json
import os
import sys


def _extras_for(d: dict, base_dir: str) -> dict | None:
    """Find the extras record belonging to THIS bench run.

    bench.py moved the non-headline tier out of the final line into a
    BENCH_EXTRA.json sidecar (the single line outgrew the driver's
    tail capture), but the sidecar is one MUTABLE file overwritten by
    every run — folding it into an arbitrary side would either compare
    it against itself (1.00x false PASS for every extra-tier query) or
    misattribute another run's numbers.  Attribution key (r5): bench.py
    stamps headline AND extras records with a run-unique ``run_id``; a
    record is used only when the ids match.  Pre-r5 records carry only
    ``headline_value`` — kept as the fallback key for those (two rounds
    with float-identical totals could in principle collide on it, which
    is exactly why the id replaced it; with the id present the value
    fallback is never consulted).  Lookup order: append-only
    BENCH_EXTRA_HISTORY.jsonl beside the bench file or in its
    ``history/`` dir, where bench.py appends it (newest match last —
    survives sidecar overwrites, so old baselines stay gateable), then
    the live sidecar."""
    run_id, value = d.get("run_id"), d.get("value")
    if run_id is None and value is None:
        return None

    def _matches(rec: dict) -> bool:
        # the single-pass coverage sweep shares its run's id but is
        # not a gateable tier (1 sample, storm-exposed) — never let it
        # shadow the extras record for the same run
        if rec.get("metric") == "sweep_queries":
            return False
        if run_id is not None or rec.get("run_id") is not None:
            return rec.get("run_id") == run_id and run_id is not None
        return rec.get("headline_value") == value

    found = None
    for hist in (os.path.join(base_dir, "BENCH_EXTRA_HISTORY.jsonl"),
                 os.path.join(base_dir, "history", "BENCH_EXTRA_HISTORY.jsonl")):
        try:
            with open(hist) as f:
                for line in f:
                    try:
                        rec = json.loads(line)
                    except ValueError:
                        continue
                    if _matches(rec):
                        found = rec.get("queries")
        except OSError:
            pass
    if found is not None:
        return found
    if d.get("extras_file"):
        try:
            with open(os.path.join(base_dir, d["extras_file"])) as f:
                rec = json.load(f)
            if _matches(rec):
                return rec.get("queries")
        except OSError:
            pass
    return None


def load_bench(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    if "parsed" in d:
        d = d["parsed"]
    if not isinstance(d, dict) or "queries" not in d:
        # covers driver records with "parsed": null (the round-3
        # tail-buffer overflow) as a clean exit, not a TypeError
        raise SystemExit(f"{path}: no parsed 'queries' — not a usable bench result")
    if "extra_queries" not in d:
        extras = _extras_for(d, os.path.dirname(os.path.abspath(path)))
        if extras is not None:
            d["extra_queries"] = extras
        elif d.get("extras_file"):
            print(f"warning: {path}: no extras record matches headline "
                  f"{d.get('value')} — extra tier not gated for this side",
                  file=sys.stderr)
    return d


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("baseline")
    ap.add_argument("current")
    ap.add_argument("--ratio", type=float, default=1.3)
    args = ap.parse_args()

    base, cur = load_bench(args.baseline), load_bench(args.current)
    bq, cq = dict(base["queries"]), dict(cur["queries"])
    # fold in the non-headline tier when both sides report it, so new
    # operators get regression-gated from their second round onward
    for d, q in ((base, bq), (cur, cq)):
        q.update(d.get("extra_queries") or {})
    regressions = []
    print(f"{'query':<28} {'base':>8} {'cur':>8} {'ratio':>7}")
    for name in sorted(set(bq) | set(cq)):
        b, c = bq.get(name), cq.get(name)
        if b is None or c is None:
            print(f"{name:<28} {b or '-':>8} {c or '-':>8}    (only one side)")
            continue
        ratio = c / b if b else float("inf")
        flag = "  << REGRESSION" if ratio > args.ratio else ""
        print(f"{name:<28} {b:>8.3f} {c:>8.3f} {ratio:>6.2f}x{flag}")
        if ratio > args.ratio:
            regressions.append((name, b, c, ratio))
    tb, tc = base.get("value"), cur.get("value")
    if tb and tc:
        print(f"{'TOTAL':<28} {tb:>8.3f} {tc:>8.3f} {tc / tb:>6.2f}x")
    if regressions:
        print(f"\n{len(regressions)} querie(s) over the {args.ratio}x budget", file=sys.stderr)
        return 1
    print("\nno regressions over budget")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
