"""How much of the CPU time the VM asked for the host actually gave it.

On a shared VM host the hypervisor runs other guests on this guest's
vCPUs, and the guest kernel counts that time as ``steal`` in /proc/stat.
A pass that the host starves runs slower without the program doing any
more work: on a 4-vCPU guest, passes of the same run took 2.3 s with
almost no steal and 3.9 s with 2.4 vCPU-seconds stolen.

:class:`StealClock` samples the VM's busy and stolen CPU ticks in the
background, so that any interval of a run can be measured in *unstolen*
seconds: its wall time scaled by the share of the CPU time the VM's
runnable vCPUs asked for that the host granted over that interval,
``busy / (busy + steal)``. Without steal this is the wall time.
"""

from __future__ import annotations

import bisect
import threading
import time

PERIOD_S = 0.02  # sampling period; /proc/stat counts in 10 ms ticks


def _ticks() -> tuple[int, int]:
    """Busy and stolen CPU ticks of the whole VM so far."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal


class StealClock:
    """Samples the VM's tick counters every ``PERIOD_S`` seconds until
    :meth:`stop`. Read intervals only after :meth:`stop`; they take epoch
    seconds (``time.time()``)."""

    def __init__(self):
        self._samples: list[tuple[float, int, int]] = []
        self._sample()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        self._samples.append((time.time(), *_ticks()))

    def _run(self) -> None:
        while not self._stop.wait(PERIOD_S):
            self._sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
        self._times = [s[0] for s in self._samples]

    def _at(self, t: float) -> tuple[float, float]:
        """Busy and stolen ticks at ``t``, interpolated between samples."""
        s = self._samples
        i = bisect.bisect_left(self._times, t)
        if i == 0:
            return s[0][1], s[0][2]
        if i == len(s):
            return s[-1][1], s[-1][2]
        (t0, b0, s0), (t1, b1, s1) = s[i - 1], s[i]
        w = (t - t0) / (t1 - t0)
        return b0 + w * (b1 - b0), s0 + w * (s1 - s0)

    def _busy_steal(self, a: float, b: float) -> tuple[float, float]:
        (b0, s0), (b1, s1) = self._at(a), self._at(b)
        return b1 - b0, s1 - s0

    def unstolen(self, a: float, b: float) -> float:
        """Seconds from ``a`` to ``b`` less the share the host stole."""
        busy, steal = self._busy_steal(a, b)
        return (b - a) * (busy / (busy + steal) if busy + steal > 0 else 1.0)

    def steal_share(self, a: float, b: float) -> float:
        """Stolen ÷ (busy + stolen) CPU time from ``a`` to ``b``."""
        busy, steal = self._busy_steal(a, b)
        return steal / (busy + steal) if busy + steal > 0 else 0.0
