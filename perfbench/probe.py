"""Host calibration probe, kept outside the package under test.

A long-lived helper JVM (``Probe.java``, run as a single-file program)
does a fixed integer workload on ``nproc`` threads whenever asked. The
benchmark asks between timed steps, never while one runs, and
scales the step's wall time by the probe's, so CPU-speed drift on a
shared host cancels out. This module imports only the standard library:
the probe must not depend on the package, its session or its config.
"""

from __future__ import annotations

import os
import subprocess

_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "Probe.java")


class Probe:
    """The helper JVM. ``sample()`` returns the median of ``reps`` timed
    runs of the fixed work, in seconds. The median, not the fastest run:
    an op lasts seconds and meets the host's average contention, which the
    fastest of a few short runs misses."""

    def __init__(self, threads: int | None = None, reps: int = 5, warmup: int = 5) -> None:
        self.threads = threads or os.cpu_count() or 1
        self.reps = reps
        self.proc = subprocess.Popen(
            ["java", "-Xmx32m", "-XX:-UsePerfData", _SOURCE, str(self.threads)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        for _ in range(warmup):
            self._once()

    def _once(self) -> float:
        self.proc.stdin.write("run\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("calibration probe exited")
        return int(line) / 1e9

    def sample(self) -> float:
        runs = sorted(self._once() for _ in range(self.reps))
        return runs[len(runs) // 2]

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
            except BrokenPipeError:
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdin.close()
        self.proc.stdout.close()

    def __enter__(self) -> "Probe":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
