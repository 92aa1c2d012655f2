#!/usr/bin/env python3
"""Microbench for the streaming dedup incremental branch
(QF.insert_hashes): per-batch cost must stay flat as the state filter
grows — the property that makes applyInPandasWithState dedup O(batch)
per micro-batch in steady state rather than O(state).

Numbers on a 4-core x86 host (median over 29 batches; identical
runs there vary +-2-4x, so single-batch timings are meaningless), with
the compiled insert kernel (qfspark.ckernel): ~0.2-0.35 us/insert at
batch 200 and ~0.15-0.2 us/insert at batch 2000 across 1e5-4e6 state,
against ~3.7-6 us/insert for the per-key insert_hash loop. With
QFSPARK_NO_CKERNEL=1 (or no C compiler) insert_hashes itself runs that
scalar loop: ~3.3-4.2 us/insert at batch 200 and ~4-5 at batch 2000 —
no batch amortization, and ~12-35x the compiled kernel. Bit-packed
filters always take the scalar loop and cost about twice as much
again (~10-17 us/insert at 1e6 state).

The decode+rebuild path costs ~0.14 s per million state rows, which
is why the streaming branch switches to rebuild once batch*16 >=
state.
"""

import statistics
import sys
import time

import numpy as np

sys.path.insert(0, "/root/repo")

from qfspark.kernel import QF  # noqa: E402
from qfspark.sizing import QFConfig  # noqa: E402

rng = np.random.RandomState(7)


def rand64(n):
    """Full 64-bit hash domain — quotient width must match the config's
    hash width or every key lands in a fraction of the home slots."""
    return (rng.randint(0, 2 ** 63, n).astype(np.uint64) * np.uint64(2)
            + rng.randint(0, 2, n).astype(np.uint64))


def main():
    print(f"{'state':>12} {'batch':>6} {'us/ins med':>11} "
          f"{'us/ins best':>12} {'scalar med':>11} {'load':>5}")
    for n_state in (100_000, 1_000_000, 4_000_000):
        state_h = np.unique(rand64(n_state))
        for batch_n in (200, 2000):
            qf = QF.from_hashes(state_h, None, QFConfig(counter_bits=0))
            batches = [rand64(batch_n) for _ in range(30)]
            qf.insert_hashes(batches[0], value=1)  # warmup
            times = []
            for b in batches[1:]:
                t0 = time.perf_counter()
                qf.insert_hashes(b, value=1)
                times.append(time.perf_counter() - t0)
            med = statistics.median(times)
            best = min(times)
            scal = ""
            if batch_n == 200:
                qf2 = QF.from_hashes(state_h, None,
                                     QFConfig(counter_bits=0))
                stimes = []
                for _ in range(15):
                    bb = rand64(200)
                    t0 = time.perf_counter()
                    for h in bb.tolist():
                        qf2.insert_hash(int(h), value=1)
                    stimes.append(time.perf_counter() - t0)
                scal = f"{statistics.median(stimes) / 200 * 1e6:>11.2f}"
            print(f"{n_state:>12,} {batch_n:>6} "
                  f"{med / batch_n * 1e6:>11.2f} "
                  f"{best / batch_n * 1e6:>12.2f} {scal:>11} "
                  f"{qf.loading():>5.2f}")


if __name__ == "__main__":
    main()
