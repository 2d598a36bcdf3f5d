"""Process-tree helpers: spawn a system under test in its own process
group, read the CPU time and memory of its whole tree (JVM and Python
workers included) from /proc, and reap the tree."""

from __future__ import annotations

import os
import signal
import subprocess
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _table() -> dict:
    """pid -> /proc stat fields of every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            fields = _stat_fields(int(name))
        except (OSError, ValueError):
            continue
        if fields[0] != "Z":
            out[int(name)] = fields
    return out


def tree_pids(root: int, table: dict | None = None) -> list[int]:
    """root and every live descendant.  Spark's Python worker daemon
    moves itself into a process group of its own, so the tree is
    followed by parent pid, not by process group."""
    table = _table() if table is None else table
    kids: dict = {}
    for pid, f in table.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _group_alive(pgid: int, table: dict) -> bool:
    return any(int(f[2]) == pgid for f in table.values())


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the process tree under root,
    including children its members have already reaped."""
    table = _table()
    total = 0
    for pid in tree_pids(root, table):
        f = table[pid]
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of every tree member's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, ValueError):
            continue
    return total_kb / 1024.0


def spawn(argv: list[str], env: dict, cwd: str, log_path: str):
    """Start argv as the leader of a new process group (stdout and
    stderr to log_path)."""
    log = open(log_path, "ab")
    try:
        proc = subprocess.Popen(
            argv, env=env, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
    finally:
        log.close()
    return proc


def _groups(proc: subprocess.Popen) -> set:
    table = _table()
    groups = {proc.pid}
    groups.update(int(table[p][2]) for p in tree_pids(proc.pid, table))
    groups.discard(os.getpgrp())
    return groups


def wait(proc: subprocess.Popen, timeout: float) -> tuple:
    """Wait at most timeout seconds for proc to exit.  Returns (exit
    code or None, every process group its tree used meanwhile), since
    the tree's members are no longer its descendants once it exits."""
    groups = _groups(proc)
    deadline = time.monotonic() + timeout
    while True:
        try:
            return proc.wait(timeout=0.5), groups
        except subprocess.TimeoutExpired:
            groups |= _groups(proc)
            if time.monotonic() > deadline:
                return None, groups


def reap(proc: subprocess.Popen, grace_s: float = 20.0,
         groups: set | None = None) -> None:
    """Stop the process tree under proc: SIGINT to a live leader (a
    clean shutdown), then SIGKILL to every process group of the tree
    (and to `groups`, groups it used before), then wait until none of
    those groups has a live member."""
    groups = _groups(proc) | (groups or set())
    if proc.poll() is None:
        try:
            os.kill(proc.pid, signal.SIGINT)
        except ProcessLookupError:
            pass
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            pass
    for pgid in groups:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    deadline = time.monotonic() + 30.0
    while time.monotonic() < deadline:
        table = _table()
        if not any(_group_alive(g, table) for g in groups):
            break
        time.sleep(0.05)
