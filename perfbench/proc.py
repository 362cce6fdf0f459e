"""Process-table helpers (Linux ``/proc``)."""

from __future__ import annotations

import os


def children(ppid: int) -> list[int]:
    """PIDs whose parent is ``ppid``."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        # Field 4 is the parent PID; field 2 (comm) may hold spaces, so
        # split after its closing parenthesis.
        if int(stat.rsplit(")", 1)[1].split()[1]) == ppid:
            out.append(int(entry))
    return out


def comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def peak_rss_mb(pid: int) -> float:
    """High-water mark of the resident set (``VmHWM``) in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
