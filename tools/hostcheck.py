"""Host-health probes shared by the study tools in this directory.

A shared VM can lose 2x+ of its CPU to other tenants for minutes at a
time, so every study records a canary beside its numbers (and the ones
that overwrite evidence refuse to run on a degraded host). One definition
keeps the canary comparable across studies.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import time


def cpu_stat() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in jiffies."""
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:]))


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat — hypervisor-withheld CPU."""
    vals = cpu_stat()[:8]
    return vals[7], sum(vals)


def loop_rate(pin_cpu: int | None = None) -> float:
    """Single-core Python-loop Miter/s. pin_cpu: measure a specific core
    (hypervisor degradation depends on per-core placement)."""
    if pin_cpu is not None:
        os.sched_setaffinity(0, {pin_cpu})
    t0 = time.time()
    s = 0
    for i in range(2_000_000):
        s += i
    return round(2.0 / max(1e-9, time.time() - t0), 2)


def host_healthy(min_mops: float = 18.0) -> tuple[bool, float]:
    """Gate on the median loop rate of 4 distinct pinned cores (placement
    alone swings a single sample 10 <-> 24 Mops)."""
    cpus = sorted(os.sched_getaffinity(0))
    sample = cpus[:: max(1, len(cpus) // 4)][:4]
    with mp.Pool(len(sample)) as p:
        rates = sorted(p.map(loop_rate, sample))
    med = rates[len(rates) // 2]
    return med >= min_mops, round(med, 1)


def _tokenize_chunk(args: tuple[int, int]) -> int:
    lo, hi = args
    from searchengines_spark.corpus import FIELDS, extract_fields, make_page
    from searchengines_spark.tokenizer import tokenize_full

    cnt = 0
    for i in range(lo, hi):
        url, _, html, _, _ = make_page(i)
        f = extract_fields(url, html)
        for fl in FIELDS:
            toks = tokenize_full(f[fl])
            acc: dict = {}
            for j, t in enumerate(toks):
                if t is not None:
                    acc.setdefault(t, []).append(j)
            cnt += len(acc)
    return cnt


def calibrate_tokenize(procs: int, cpus: set[int]) -> float:
    """Pages/sec of a Spark-free tokenize of 48k generated pages on an
    affinity-pinned pool of `procs` workers — the hardware ceiling a
    scaling study divides by."""
    old = os.sched_getaffinity(0)
    os.sched_setaffinity(0, cpus)
    try:
        n_pages = 48_000
        chunks = [(i, min(i + 1000, n_pages)) for i in range(0, n_pages, 1000)]
        t0 = time.time()
        with mp.Pool(procs) as p:
            p.map(_tokenize_chunk, chunks)
        return n_pages / (time.time() - t0)
    finally:
        os.sched_setaffinity(0, old)
