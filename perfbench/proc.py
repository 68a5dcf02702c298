"""Process-tree accounting from ``/proc``: resident memory, CPU time,
steal time, and the external CPU load that marks a run as contended."""

from __future__ import annotations

import os
import signal
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, busy jiffies incl. reaped children)."""
    out: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # raced a process exit
            continue
        rest = raw[raw.rindex(")") + 2 :].split()
        try:
            out[int(name)] = (
                int(rest[1]),
                int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
            )
        except (ValueError, IndexError):
            continue
    return out


def tree(root: int | None = None) -> dict[int, tuple[int, int]]:
    """The ``_table`` rows of ``root`` (default: this process) and every
    live descendant."""
    table = _table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = {}, [root or os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in table and pid not in out:
            out[pid] = table[pid]
            stack.extend(kids.get(pid, []))
    return out


def system_busy_jiffies() -> int:
    """Busy jiffies over all CPUs (idle and iowait excluded)."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    u, n, s, _idle, _iow, irq, sirq, steal = (int(x) for x in f[1:9])
    return u + n + s + irq + sirq + steal


def steal_jiffies() -> int:
    """Jiffies the hypervisor took from this machine's CPUs while they had
    work to run."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


class CpuMeter:
    """CPU seconds charged to this process tree over a window (user plus
    system time, as ``time`` reports it), and the machine's steal time
    over the same window.

    A guest kernel can charge time the hypervisor stole to the task that
    was running, so on a busy host the charged time rises with steal: over
    fourteen cold corpus builds on a 4-vCPU VM, the tree was charged
    81–102 s while 0.2–20 s were stolen. Wall time rose more: 28–40 s."""

    def __init__(self):
        self._own = sum(j for _, j in tree().values())
        self._steal = steal_jiffies()

    def seconds(self) -> float:
        return (sum(j for _, j in tree().values()) - self._own) / _CLK_TCK

    def steal_seconds(self) -> float:
        return (steal_jiffies() - self._steal) / _CLK_TCK


class CpuWindow:
    """External CPU (cores) over a window: busy jiffies of the whole
    machine minus those of this process tree."""

    def __init__(self):
        self._t = time.perf_counter()
        self._busy = system_busy_jiffies()
        self._own = sum(j for _, j in tree().values())

    def external_cores(self) -> float:
        dt = max(time.perf_counter() - self._t, 1e-3)
        busy = system_busy_jiffies() - self._busy
        own = max(sum(j for _, j in tree().values()) - self._own, 0)
        return max(busy - own, 0) / _CLK_TCK / dt


def pss_kb(pid: int) -> int:
    """Proportional set size of ``pid``: its resident pages, each shared
    page divided by the number of processes mapping it, so the sum over a
    tree of forked workers counts every page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # raced a process exit
        pass
    return 0


class RssSampler:
    """Peak resident memory (summed PSS) of this process tree, sampled in
    a thread."""

    def __init__(self, interval_s: float = 0.25):
        self.peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)

    def sample(self) -> None:
        mb = sum(pss_kb(pid) for pid in tree()) / 1024
        self.peak_mb = max(self.peak_mb, mb)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def reap_descendants(timeout_s: float = 15.0) -> None:
    """Terminate every remaining descendant of this process and wait until
    all have exited (SIGKILL after ``timeout_s``)."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        rest = [p for p in tree() if p != me]
        if not rest:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in rest:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:  # reap direct children so they do not linger as zombies
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.2)
