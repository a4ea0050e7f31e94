"""Preview the driver's next correctness-sample window.

The round driver samples the FIRST 50 keys of ``__spark_entry__.queries()``
in dict order into CORRECTNESS_r{N}.json. ``__spark_entry__._rotated()``
orders the keys from the CORRECTNESS_r*.json files present at the repo
root: gate-FAILED keys first (re-verify fixes), then stale rows-only
records, never-confirmed keys, and confirmed keys oldest record first. This
tool prints that projected window plus the coverage ledger, so rotation
health can be checked before the next sample (e.g. after dropping in a
new CORRECTNESS file).

Usage: python tools/window_preview.py [--n 50]
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=50, help="window size")
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    keys = list(entrymod.queries())
    passed, failed, _latest = entrymod._gate_results()
    sampled = passed | set(failed)

    window = keys[: args.n]
    print(f"registry: {len(keys)} queries")
    print(
        f"driver history: {len(sampled)} sampled, {len(passed)} confirmed, "
        f"{len(failed)} failed ({', '.join(failed) or '-'})"
    )
    print(f"never sampled: {len([k for k in keys if k not in sampled])}")
    wasted = [k for k in window if k in passed]
    print(f"\nnext {args.n}-key window ({len(wasted)} already-confirmed slots"
          f"{': ' + ', '.join(wasted) if wasted else ''}):")
    for i, k in enumerate(window):
        tag = "RETRY" if k in failed else ("dup" if k in passed else "new")
        print(f"  {i:2d} {k} [{tag}]")
    return 1 if wasted else 0


if __name__ == "__main__":
    sys.exit(main())
