"""Host probes and process-tree accounting, all from /proc and the stdlib.

* ``cpu_probe`` — single-process md5 chain throughput (L1-resident, so it
  sees CPU contention and frequency only);
* ``bandwidth_probe`` — numpy stream copy of a 64 MB buffer (sees DRAM
  bandwidth contention, which the md5 probe is blind to).

A window counts as clean only when both probes read normal, before and
after a run. The probes are recorded next to the metrics; they never
rescale a number.
"""

from __future__ import annotations

import hashlib
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_probe(seconds: float = 0.25) -> float:
    """md5 digests per second of one process."""
    h, n = b"x" * 64, 0
    t0 = time.perf_counter()
    while True:
        for _ in range(5000):
            h = hashlib.md5(h).digest()
        n += 5000
        dt = time.perf_counter() - t0
        if dt >= seconds:
            return n / dt


def bandwidth_probe(mb: int = 64, reps: int = 5) -> float:
    """Best-of-``reps`` copy bandwidth in GB/s (read + write bytes)."""
    import numpy as np

    src = np.ones(mb * (1 << 20) // 8)
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return 2 * src.nbytes / best / 1e9


def host_record() -> dict:
    return {
        "md5_per_s": round(cpu_probe()),
        "copy_gb_per_s": round(bandwidth_probe(), 2),
        "loadavg_1m": os.getloadavg()[0],
        "t": time.time(),
    }


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces/parens: fields start after the LAST ')'
    return s[s.rfind(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of the tree, including children that
    already exited and were reaped (cutime/cstime of their parent)."""
    total = 0
    for p in tree_pids(root):
        st = _stat(p)
        if st:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_hwm_mb(root: int) -> float:
    """Sum of each live process's peak resident set (VmHWM) in MB: an upper
    bound on the tree's simultaneous peak, exact per process."""
    total_kb = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024
