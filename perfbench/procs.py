"""Process-tree helpers read from ``/proc``: descendants, RSS and CPU pinning."""

from __future__ import annotations

import os

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int] | None:
    """``(comm, ppid)`` of ``pid``, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    return comm, int(raw[raw.rindex(")") + 2 :].split()[1])


def tree(root: int) -> dict[int, tuple[str, int]]:
    """``{pid: (comm, ppid)}`` for ``root`` and all its descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    out, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in out:
            out[pid] = procs[pid]
            frontier.extend(p for p, (_c, pp) in procs.items() if pp == pid)
    return out


def group_alive(pgid: int) -> bool:
    """True while a live (non-zombie) process has process group ``pgid``."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by forked workers count once in total."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def rss_by_role(root: int) -> tuple[int, int, int]:
    """``(total, jvm, python_workers)`` resident bytes of ``root``'s tree.

    Python workers are the Python processes below the JVM (the PySpark
    daemon and the workers it forks); ``total`` also counts the driver.
    The JVM is read from ``statm`` (its smaps walk is slow); every other
    process by PSS, so the daemon's pages that its forked workers share are
    not counted once per worker. A child of the JVM that still runs the
    JVM's executable is a fork that has not exec'd yet (Hadoop runs shell
    commands for local file permissions): it shares the JVM's pages and
    takes the name of the forking thread, so it is skipped by executable,
    or one sample would count the JVM twice.
    """
    procs = tree(root)
    total = jvm = workers = 0
    jvm_pids = {p for p, (comm, _pp) in procs.items() if comm == "java"}
    jvm_exes = {_exe(p) for p in jvm_pids} - {""}
    forks = {p for p, (_c, pp) in procs.items() if pp in jvm_pids and _exe(p) in jvm_exes}
    jvm_pids -= forks
    for pid, (comm, _pp) in procs.items():
        if pid in forks:
            continue
        rss = rss_bytes(pid) if pid in jvm_pids else pss_bytes(pid)
        total += rss
        if pid in jvm_pids:
            jvm += rss
        elif comm.startswith("python") and _below(pid, jvm_pids, procs):
            workers += rss
    return total, jvm, workers


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _below(pid: int, ancestors: set[int], procs: dict[int, tuple[str, int]]) -> bool:
    while pid in procs:
        pid = procs[pid][1]
        if pid in ancestors:
            return True
    return False


def pin(root: int, cpus: set[int]) -> None:
    """Set the CPU affinity of every thread of ``root``'s process tree."""
    for pid in tree(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:  # thread ended between listing and pinning
                pass
