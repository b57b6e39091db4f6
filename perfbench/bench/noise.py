"""Host-noise record for one run.  Reported beside the metrics and never
used to rescale them: CPU steal from /proc/stat, CPU pressure stall time
from /proc/pressure/cpu, and the time of a fixed-work calibration loop."""
import os
import time


def _steal_s():
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def _pressure_some_s():
    try:
        with open("/proc/pressure/cpu") as fh:
            for line in fh:
                if line.startswith("some"):
                    for kv in line.split():
                        if kv.startswith("total="):
                            return int(kv[6:]) / 1e6
    except (OSError, ValueError):
        pass
    return None


def calibrate(rounds=3):
    """Seconds for a fixed integer loop: the fastest of ``rounds``."""
    best = None
    for _ in range(rounds):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


class Recorder:
    def __init__(self):
        self.start = (_steal_s(), _pressure_some_s())
        self.calib_before = calibrate()

    def finish(self, wall_s):
        steal, psi = _steal_s(), _pressure_some_s()
        rec = {"calibration_before_s": self.calib_before,
               "calibration_after_s": calibrate(),
               "steal_s": None, "cpu_pressure_some_s": None,
               "run_wall_s": wall_s}
        if steal is not None and self.start[0] is not None:
            rec["steal_s"] = steal - self.start[0]
        if psi is not None and self.start[1] is not None:
            rec["cpu_pressure_some_s"] = psi - self.start[1]
        return rec
