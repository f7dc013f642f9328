"""Run self-certification: the machine state a timing depends on, taken at
the start and end of a run, and a `contended` flag derived from it. A
contended run is kept and flagged, never dropped."""
import os

# steal share at which a run counts as contended
STEAL_CONTENDED = 0.02


def nproc():
    return len(os.sched_getaffinity(0))


def meminfo_mb(key):
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return -1


def other_jvms():
    """Live java processes other than this one (the benchmark's own JVM
    is not running when this is called)."""
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            n += 1
    return n


def cpu_ticks():
    """(all, steal) CPU ticks since boot, over every CPU."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return sum(ticks), ticks[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def snapshot():
    total, steal = cpu_ticks()
    return {
        "cpu_ticks": total,
        "steal_ticks": steal,
        "nproc": nproc(),
        "load1": os.getloadavg()[0],
        "other_jvms": other_jvms(),
        "page_cache_mb": meminfo_mb("Cached"),
        "mem_available_mb": meminfo_mb("MemAvailable"),
    }


def certify(start, end, heap):
    """Both snapshots, the heap, the share of CPU time the hypervisor
    took from this machine during the run (steal), and the contended flag
    with its reasons. The end load includes the run's own work, so only
    the start load counts against the run."""
    reasons = []
    if start["load1"] >= start["nproc"] / 2:
        reasons.append(f"load1 {start['load1']:.2f} at start on {start['nproc']} cpus")
    ticks = end["cpu_ticks"] - start["cpu_ticks"]
    steal_frac = (end["steal_ticks"] - start["steal_ticks"]) / ticks if ticks > 0 else 0.0
    if steal_frac >= STEAL_CONTENDED:
        reasons.append(f"{steal_frac:.1%} of CPU time stolen during the run")
    for when, snap in (("start", start), ("end", end)):
        if snap["other_jvms"] > 0:
            reasons.append(f"{snap['other_jvms']} other JVMs at {when}")
    return {"start": start, "end": end, "heap": heap, "steal_frac": steal_frac,
            "contended": bool(reasons), "reasons": reasons}
