"""Open-loop driver: feed files become due on a fixed schedule that does
not wait for the engine.

Ticks follow Spark's default trigger, the way a file-source stream runs
without ``trigger(...)``: the next tick starts as soon as the previous
one ends, or when the next file falls due if nothing is waiting, and
applies every file due so far in one micro-batch.  A slow tick therefore
means bigger ticks and longer lag, never fewer offered rows.
"""

from __future__ import annotations

import time
from dataclasses import dataclass


@dataclass(frozen=True)
class Tick:
    start: float  # seconds after the loop started
    end: float
    first: int  # files [first, stop) were applied
    stop: int


def run_open_loop(due: list[float], apply, seconds: float, min_ticks: int = 0,
                  clock=time.perf_counter, sleep=time.sleep) -> list[Tick]:
    """Run ticks that start within ``seconds`` seconds, and on until
    ``min_ticks`` ticks ran; ``due`` is the sorted due time of each file
    relative to the loop start; ``apply(first, stop)`` applies files
    ``[first, stop)``.  Every tick runs to completion."""
    t0 = clock()
    ticks: list[Tick] = []
    nxt = 0
    trigger = 0.0
    while trigger < seconds or len(ticks) < min_ticks:
        now = clock() - t0
        if now < trigger:
            sleep(trigger - now)
            now = clock() - t0
        stop = nxt
        while stop < len(due) and due[stop] <= now:
            stop += 1
        if stop > nxt:
            apply(nxt, stop)
            ticks.append(Tick(now, clock() - t0, nxt, stop))
            nxt = stop
        if nxt == len(due):
            break
        trigger = max(clock() - t0, due[nxt])
    return ticks
