#!/usr/bin/env python3
"""Refuse a round close that quotes a loaded-machine bench.

Usage: python3 tools/bench_guard.py <bench.json> [max_load]

The r13–r15 pattern: every "suite-wide regression" that later
evaporated was measured at load_avg_start 3–4.6, and every close that
quoted a number not present in the file it named drifted from the
artifact. This guard mechanizes both lessons' first half: a bench
artifact is quotable in a close ONLY if the machine was idle when it
started (default ceiling 1.5 on load_avg_start, against 32 CPUs).
It also refuses an artifact with a failed slot (`failed_count` > 0,
or any slot timed at -1): the total leaves failed slots out, so such
a file reads smaller, not healthier.
Exit 0 = quotable; exit 1 = re-run. The second half stays manual:
quote numbers only from the file the close names.
"""
import json
import sys


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    path = sys.argv[1]
    ceiling = float(sys.argv[2]) if len(sys.argv) > 2 else 1.5
    d = json.load(open(path))
    failed = sorted(k for k, v in d.get("queries", {}).items() if v < 0)
    if d.get("failed_count", 0) > 0 or failed:
        print(f"REFUSE {path}: failed_count {d.get('failed_count')}, "
              f"failed slots {failed} — the total omits them; fix and re-run")
        return 1
    load = d.get("load_avg_start")
    if load is None:
        print(f"REFUSE {path}: no load_avg_start field — artifact "
              "predates the gauge; regenerate")
        return 1
    if load > ceiling:
        print(f"REFUSE {path}: load_avg_start {load} > {ceiling} — "
              "numbers from this run are machine-load noise "
              "(r14's '1.16x regression' was load 4.6); re-run idle")
        return 1
    print(f"OK {path}: load_avg_start {load} <= {ceiling}, "
          f"total {d.get('value'):.2f}s over "
          f"{len(d.get('queries', {}))} slots")
    return 0


if __name__ == "__main__":
    sys.exit(main())
