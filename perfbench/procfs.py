"""Snapshots of this process tree from ``/proc`` (Linux only)."""

from __future__ import annotations

import os

from .stats import ProcStat

_TICK = float(os.sysconf("SC_CLK_TCK"))


def parse_stat(pid: int, raw: str) -> ProcStat:
    """Parse the text of ``/proc/<pid>/stat``."""
    # comm is parenthesised and may hold spaces: split after the last ')'
    lpar, rpar = raw.index("("), raw.rindex(")")
    rest = raw[rpar + 2:].split()
    # rest[0] is field 3 (state), so field k of proc(5) is rest[k - 3]
    return ProcStat(pid=pid, ppid=int(rest[1]), start=int(rest[19]),
                    comm=raw[lpar + 1:rpar],
                    utime=int(rest[11]) / _TICK, stime=int(rest[12]) / _TICK,
                    cutime=int(rest[13]) / _TICK, cstime=int(rest[14]) / _TICK)


def read_stat(pid: int) -> ProcStat | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:          # the process ended while we listed /proc
        return None
    return parse_stat(pid, raw)


def snapshot() -> dict[int, ProcStat]:
    """Every process visible in ``/proc``, keyed by pid."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = read_stat(int(name))
            if st is not None:
                out[st.pid] = st
    return out


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (``VmHWM``) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
