"""Driver-side progress/ETA tracker (reference util/progressStats.js:1-82).

The reference prints per-task percentage and a running ETA from the
average task duration so far. On Spark the per-task unit is a STAGE (the
zone build, the validation pass, each derived product), not a row — rows
are the executors' business, counted with DataFrame.observe or the
per-partition lineage tables (plans/lineage.py), not here. The
arithmetic mirrors the reference exactly: percentage rounded to one
decimal, ETA = average-time-per-task x tasks-left, formatted at the
largest unit under its rollover
(seconds < 60, minutes < 60, hours < 24, else days), '?' before the
first task completes. A `clock` injection point keeps tests (and any
deterministic replay) off the wall clock."""

from __future__ import annotations

import math
import sys
import time


def _round_half_up(value: float, ndigits: int = 0) -> float:
    """JS rounding (Math.round / toFixed for positive values): half goes
    UP. Python's built-in round is banker's (half-to-even), which would
    print 62.5% as 62% where the reference prints 63%."""
    scale = 10.0**ndigits
    return math.floor(value * scale + 0.5) / scale


def format_duration(seconds: float) -> str:
    """The reference's formatMilliseconds ladder (progressStats.js:63-81),
    including its one-decimal rounding at each unit."""
    s = _round_half_up(seconds, 1)
    m = _round_half_up(seconds / 60.0, 1)
    h = _round_half_up(seconds / 3600.0, 1)
    d = _round_half_up(seconds / 86400.0, 1)
    if s < 60:
        return f"{s} seconds"
    if m < 60:
        return f"{m} minutes"
    if h < 24:
        return f"{h} hours"
    return f"{d} days"


class ProgressStats:
    def __init__(self, tracker_name: str, total_tasks: int, clock=time.monotonic):
        self.tracker_name = tracker_name
        self.total_tasks = total_tasks
        self.task_counter = 0
        self._clock = clock
        self._begin: float | None = None

    def log_next(self) -> None:
        self.task_counter += 1
        if self._begin is None:
            self._begin = self._clock()

    def percentage(self) -> float:
        """Percent done, one decimal (progressStats.js:42-45)."""
        return _round_half_up(self.task_counter / self.total_tasks * 1000.0) / 10.0

    def time_left(self) -> str:
        """ETA from average time per completed task (progressStats.js:53-59)."""
        if self.task_counter == 0:
            return "?"
        avg = (self._clock() - self._begin) / self.task_counter
        return format_duration(avg * (self.total_tasks - self.task_counter))

    def stats_line(self, message: str, log_time_left: bool = False) -> str:
        line = (
            f"{message}; {self.tracker_name} progress: "
            f"{self.percentage()}% done"
        )
        if log_time_left:
            line = f"{line} - {self.time_left()} left"
        return line

    def begin_task(self, message: str, log_time_left: bool = False) -> None:
        """Print progress, then count the task as begun
        (progressStats.js:22-25 ordering)."""
        print(self.stats_line(message, log_time_left), file=sys.stderr, flush=True)
        self.log_next()
