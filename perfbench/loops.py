"""Closed- and open-loop drivers for an in-process, synchronous service.

The open loop sends on a seeded Poisson schedule whatever the service does,
so a stall delays every request queued behind it. Each request's latency
runs from its due time, not from when the single server got to it.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np


def poisson_schedule(seed: int, rate: float, n: int) -> np.ndarray:
    """Due times (seconds from the loop's start) of ``n`` Poisson arrivals."""
    rng = np.random.default_rng([seed, int(rate * 1000)])
    return np.cumsum(rng.exponential(1.0 / rate, n))


@dataclass
class OpenLoopResult:
    latency_s: np.ndarray     # end - due
    queue_s: np.ndarray       # start - due
    late_s: np.ndarray        # oversleep of the generator while idle
    outputs: list


def open_loop(service, requests: list, due: np.ndarray, keep=None,
              clock=time.perf_counter, sleep=time.sleep) -> OpenLoopResult:
    """Serve ``requests[i]`` at ``due[i]`` with one synchronous server.

    When the server is idle before a due time it sleeps until then; how far
    it overslept is ``late_s`` and says whether the schedule was kept.
    ``keep`` maps each response to what is stored for later checks; it runs
    after the request's end time is taken."""
    n = len(requests)
    lat, queue, late = np.empty(n), np.empty(n), []
    outputs = []
    t0 = clock()
    for i, req in enumerate(requests):
        d = t0 + float(due[i])
        now = clock()
        if now < d:
            sleep(d - now)
            now = clock()
            late.append(now - d)
        start = now
        out = service(req)
        end = clock()
        lat[i], queue[i] = end - d, start - d
        outputs.append(keep(out) if keep else out)
    return OpenLoopResult(lat, queue, np.array(late), outputs)


def closed_loop(service, requests: list, keep=None):
    """One client: each request is sent when the previous one returned.
    Returns (per-request service seconds, outputs)."""
    svc = np.empty(len(requests))
    outputs = []
    for i, req in enumerate(requests):
        s = time.perf_counter()
        out = service(req)
        svc[i] = time.perf_counter() - s
        outputs.append(keep(out) if keep else out)
    return svc, outputs

