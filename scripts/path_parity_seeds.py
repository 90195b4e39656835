"""Run the path-parity cases of tests/test_path_parity.py over many seeds.

    python scripts/path_parity_seeds.py N [first_seed]

Tier-1 runs those cases on one fixed corpus seed. This runs every case
(the registered UDFs composed call by call, the fused projection body
and the per-row scalar kernels, which must all agree) on the corpora of
seeds first_seed .. first_seed + N - 1 (default first seed: the tier-1
seed), and prints one line per failing (seed, case) with the first
disagreeing rows, then a summary. No Spark is started. Exit status 1 if
any case failed.
"""

from __future__ import annotations

import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

import test_path_parity as T  # noqa: E402


def _cases():
    for case in sorted(T.CASES):
        yield case, T.test_paths_equal_each_other_and_the_scalar_kernels
    for case in sorted(T.MAP_CASES):
        yield case, T.test_coordinate_maps_equal_the_scalar_kernels


def main(argv) -> int:
    if not argv or not argv[0].isdigit():
        print(__doc__.strip())
        return 2
    n = int(argv[0])
    first = int(argv[1]) if len(argv) > 1 else T.SEED
    failed = []
    t0 = time.perf_counter()
    for seed in range(first, first + n):
        for case, test in _cases():
            try:
                test(case, seed)
            except (AssertionError, pytest.fail.Exception) as exc:
                # pytest.raises reports a path that did not raise with
                # pytest.fail, whose exception is no AssertionError
                failed.append((seed, case))
                print(f"seed {seed} {case}: {str(exc)[:600]}", flush=True)
        print(f"seed {seed} done ({time.perf_counter() - t0:.0f} s)",
              file=sys.stderr, flush=True)
    ncases = sum(1 for _ in _cases())
    print(f"{n} seeds x {ncases} cases: {len(failed)} failed"
          f" ({time.perf_counter() - t0:.0f} s)")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
