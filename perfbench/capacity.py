"""How fast a file rate the follow phase keeps up with.

    python3 perfbench/capacity.py <files_per_second> [--seconds 20] [--seed 3]

Run from the root of a checkout.  Runs ``cdc_drain_follow`` with the
follow's generator at the given rate and a drain of one batch, then
prints the freshness of the first and of the last quarter of the files.
A rate is sustainable while freshness does not rise from the first
quarter to the last; the follow's rate in ``cdc.FOLLOW`` should sit well
below the highest such rate.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

import cdc
import run


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("files_per_second", type=float)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--seed", type=int, default=3)
    args = ap.parse_args(argv)

    cdc.FOLLOW["files_per_second"] = args.files_per_second
    cdc.DRAIN["files_per_second"] = cdc.DRAIN["max_files_per_trigger"] / args.seconds
    workload = cdc.cdc_drain_follow

    def measured(r) -> None:
        workload(r)
        fresh = r.latency  # per file, in delivery order
        q = max(1, len(fresh) // 4)
        print(f"capacity: {args.files_per_second:g} files/s, {len(fresh)} files, "
              f"freshness_ms p50 {statistics.median(fresh):.0f}, first quarter "
              f"{statistics.mean(fresh[:q]):.0f}, last quarter "
              f"{statistics.mean(fresh[-q:]):.0f}")

    cdc.cdc_drain_follow = measured
    # keep these runs out of the untraced results the traced run compares with
    run.WORK_ROOT = os.path.join(run.WORK_ROOT, "capacity")
    return run.main(["--workload", "cdc_drain_follow", "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", "0"])


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
