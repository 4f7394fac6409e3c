"""Host-noise evidence: a fixed CPU calibration loop, load average and steal.

The calibration times one fixed busy loop alone and then on every core at
once.  On a quiet host the per-core time matches the solo time; when other
work holds some cores the parallel copies share them and the ratio rises,
even if a single-threaded probe still finds an idle core.

    python3 perfbench/noise.py --self-check

starts a busy-loop hog on half of the cores and checks that the calibration
flags it.  It also reports the ratio without the hog, which on a shared host
may already be flagged.
"""
import multiprocessing as mp
import os
import statistics
import sys
import time

LOOP = 1_000_000
FLAG_RATIO = 1.25


def _spin(n=LOOP):
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i & 7
    return time.perf_counter() - t0


def _worker(conn, go):
    # wait until every copy exists, so the scheduler has spread them over
    # the cores before any of them is timed
    go.wait()
    conn.send(_spin())
    conn.close()


def _hog(stop):
    while not stop.is_set():
        for _ in range(100_000):
            pass


def calibrate_once(cores):
    ctx = mp.get_context("fork")
    solo = min(_spin() for _ in range(2))
    go = ctx.Event()
    pipes, procs = [], []
    for _ in range(cores):
        parent, child = ctx.Pipe()
        p = ctx.Process(target=_worker, args=(child, go))
        p.start()
        pipes.append(parent)
        procs.append(p)
    time.sleep(0.05)
    go.set()
    times = [c.recv() for c in pipes]
    for p in procs:
        p.join()
    par = statistics.median(times)
    return {"solo_ms": solo * 1e3, "parallel_ms": par * 1e3, "ratio": par / solo}


def calibrate(cores=None, reps=3):
    """Solo and all-cores times of the fixed loop, in ms, and their ratio;
    the median of `reps` calibrations by ratio."""
    cores = cores or os.cpu_count()
    runs = sorted((calibrate_once(cores) for _ in range(reps)), key=lambda c: c["ratio"])
    return runs[len(runs) // 2]


def cpu_stat():
    """(steal, total) jiffies since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def summary(start, end, stat0, stat1):
    steal = stat1[0] - stat0[0]
    total = max(1, stat1[1] - stat0[1])
    ratio = max(start["ratio"], end["ratio"])
    steal_pct = 100.0 * steal / total
    return {"calib_start": start, "calib_end": end, "calib_ratio": ratio,
            "loadavg_1m": loadavg(), "steal_pct": steal_pct,
            "contended": ratio > FLAG_RATIO or steal_pct > 5.0}


def self_check():
    cores = os.cpu_count()
    quiet = calibrate(cores)
    ctx = mp.get_context("fork")
    stop = ctx.Event()
    hogs = [ctx.Process(target=_hog, args=(stop,)) for _ in range(max(1, cores // 2))]
    for h in hogs:
        h.start()
    try:
        time.sleep(0.5)
        busy = calibrate(cores)
    finally:
        stop.set()
        for h in hogs:
            h.join()
    print(f"quiet ratio {quiet['ratio']:.3f}, with {len(hogs)} hog(s) on {cores} cores "
          f"ratio {busy['ratio']:.3f}, flag above {FLAG_RATIO}")
    if quiet["ratio"] > FLAG_RATIO:
        print("note: the host was already contended without the hog")
    ok = busy["ratio"] > FLAG_RATIO
    print("self-check", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-check"]:
        sys.exit(self_check())
    print(calibrate())
