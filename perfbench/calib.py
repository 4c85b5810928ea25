"""Reference load of the benchmark: a fixed numpy workload that uses none of
graft's code, timed in the harness's own process while graft does no work.

The benchmark's host is shared, and its speed drifts by up to 2x over
minutes, more than any bound of BENCHMARK.json allows. A run times this load
before it starts its driver JVM, before every timed pass and after the last
operation, and reports its end-to-end times scaled by REF_JOB_S / (median
reference job): seconds on a host whose reference job takes REF_JOB_S. A
reference job is one array sort per core in parallel, then one on the
calling thread, so it slows down with the host both where graft runs its
tasks and where it plans on the driver.
"""
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

# Arrays larger than a core's cache, like the tables and hash maps graft's
# tasks work on; arrays of 10^5 values, which stay in cache, missed slow
# spells that graft's timings showed. In two sets of ten runs of each
# workload on a 4-vCPU host, scaling by this load's median narrowed every
# end-to-end quartile spread and kept the two sets' medians within 3% of
# each other, where the measured ones moved by up to 23% (perfbench/README.md).
# Each job copies one fixed array into buffers allocated up front and sorts
# them in place, so that it times the processor and memory, not
# random-number generation or the kernel mapping fresh pages.
N = 1_000_000    # int64 values sorted per array
JOBS = 16        # timed jobs per call
WARM = 1         # untimed job first
# the median reference job on a 4-vCPU host in a steady period
REF_JOB_S = 0.033


def reference_jobs(threads):
    """Wall seconds of each of JOBS reference jobs over `threads` threads."""
    base = np.random.default_rng(0).integers(0, 1 << 62, N)
    bufs = [np.empty(N, np.int64) for _ in range(threads + 1)]

    def sort(i):
        np.copyto(bufs[i], base)
        bufs[i].sort()

    walls = []
    with ThreadPoolExecutor(threads) as pool:
        for j in range(WARM + JOBS):
            t0 = time.perf_counter()
            list(pool.map(sort, range(threads)))
            sort(threads)
            if j >= WARM:
                walls.append(time.perf_counter() - t0)
    return walls
