#!/usr/bin/env python3
"""Host-contention canary (round-5 gate v2, BENCH/BASELINE.md).

Runs N CPU-bound worker PROCESSES for S seconds and measures, from
/proc/stat, how much the hypervisor withheld (steal) while the guest was
genuinely busy, plus the achieved aggregate hash throughput. Guest
loadavg cannot see host-side contention (the round-4/5
contaminated-window failure mode); steal% under full-width load and the
absolute canary throughput both can. Processes, not threads: the GIL
convoy makes a threaded canary measure scheduler ping-pong, not CPU.

Usage: host_canary.py [procs] [seconds] [max_steal_pct] [min_mhash]
Prints one JSON line; exit 0 iff steal_pct < max_steal_pct and
mhash >= min_mhash (thresholds optional; missing ones don't gate).
"""
import hashlib
import json
import multiprocessing
import os
import sys
import time


def cpu_ticks():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    steal = v[7] if len(v) > 7 else 0
    busy = v[0] + v[1] + v[2] + v[5] + v[6]
    return steal, busy, sum(v)


def worker(seconds, out, i):
    stop = time.monotonic() + seconds
    buf = bytes(16384)
    n = 0
    while time.monotonic() < stop:
        for _ in range(64):
            buf = hashlib.sha256(buf).digest() * 512  # 16 KiB again
        n += 64
    out[i] = n


def main():
    procs = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    seconds = float(sys.argv[2]) if len(sys.argv) > 2 else 3.0
    max_steal = float(sys.argv[3]) if len(sys.argv) > 3 else None
    min_mhash = float(sys.argv[4]) if len(sys.argv) > 4 else None

    out = multiprocessing.Array("l", procs)
    ps = [multiprocessing.Process(target=worker, args=(seconds, out, i))
          for i in range(procs)]
    s0, b0, t0 = cpu_ticks()
    w0 = time.monotonic()
    for p in ps:
        p.start()
    for p in ps:
        p.join()
    wall = time.monotonic() - w0
    s1, b1, t1 = cpu_ticks()

    d_steal, d_busy = s1 - s0, b1 - b0
    steal_pct = 100.0 * d_steal / max(1, d_steal + d_busy)
    mhash = sum(out) / wall / 1e6  # million 16 KiB sha256/sec aggregate
    res = {
        "canary_procs": procs,
        "canary_wall_s": round(wall, 2),
        "mhash": round(mhash, 4),
        "steal_pct": round(steal_pct, 2),
        "busy_cores": round(d_busy / max(1, t1 - t0) * os.cpu_count(), 1),
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    print(json.dumps(res))
    ok = True
    if max_steal is not None and steal_pct >= max_steal:
        ok = False
    if min_mhash is not None and mhash < min_mhash:
        ok = False
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
