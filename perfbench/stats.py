"""Statistics over the operations one run records.

An operation is one unit of work a user waits for: an analyst's HTTP
request, one async job from submit to COMPLETED (its polls are not
operations), or one analytics workload entry (``fn`` then ``count``).
A failed, refused or timed-out operation counts as failed and as
missing the latency limit; only successful operations enter the
latency statistics.
"""
from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field
from typing import Iterable, Optional


@dataclass
class Op:
    kind: str                   # request kind or entry name
    latency_s: float            # send to full body read, or fn + count
    ok: bool                    # status and output checks passed
    tags: frozenset = field(default_factory=frozenset)
    rows: int = 0               # result rows delivered
    error: str = ""


def percentile(values: Iterable[float], q: float,
               min_beyond: int = 10) -> Optional[float]:
    """The ``q``-th percentile (inclusive method), or None when fewer
    than ``min_beyond`` samples lie beyond it: a tail percentile over
    too few samples is not reported."""
    vals = sorted(values)
    if not vals:
        return None
    if q > 50 and len(vals) - math.ceil(len(vals) * q / 100.0) < min_beyond:
        return None
    if len(vals) == 1:
        return vals[0]
    return statistics.quantiles(vals, n=100, method="inclusive")[int(q) - 1]


def median(values: Iterable[float]) -> Optional[float]:
    vals = list(values)
    return statistics.median(vals) if vals else None


def geomean(values: Iterable[float]) -> Optional[float]:
    vals = [v for v in values if v is not None and v > 0]
    if not vals:
        return None
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def end_to_end(ops: list[Op], elapsed_s: float, limit_s: float,
               job_limit_s: Optional[float] = None
               ) -> dict[str, Optional[float]]:
    """Every end-to-end number of one measured window.

    Tags select the samples: ``lat`` (latency statistics), ``query``,
    ``nav`` and ``job``.  ``pass_s`` is the time of one pass over the
    workload's script at the median cost of each of its kinds (an
    analyst session, or one pass over the analytics entries).  The
    ``*_geomean_ms`` numbers are geometric means over kinds of each
    kind's median latency: every kind weighs the same, and a median
    over a mix of cheap and dear kinds cannot jump from one kind to the
    next between runs.  The p50s are the plain medians over the mix.
    A statistic with no successful sample is None, so a caller can tell
    "not measured" from a number.  Operations tagged ``job`` meet
    ``job_limit_s`` when one is given, the others ``limit_s``."""
    good = [o for o in ops if o.ok]

    def met(o: Op) -> bool:
        limit = job_limit_s if job_limit_s is not None \
            and "job" in o.tags else limit_s
        return o.latency_s <= limit

    def med_ms(tag: str) -> Optional[float]:
        m = median(o.latency_s for o in good if tag in o.tags)
        return None if m is None else m * 1000.0

    def kind_ms(tag: str) -> list[float]:
        """Each kind's median latency (ms) over the tagged samples."""
        per_kind: dict[str, list[float]] = {}
        for o in good:
            if tag in o.tags:
                per_kind.setdefault(o.kind, []).append(o.latency_s * 1000.0)
        return [median(v) for v in per_kind.values()]

    lat = [o.latency_s * 1000.0 for o in good if "lat" in o.tags]
    jobs = [o for o in good if "job" in o.tags]
    lat_kinds = kind_ms("lat")
    return {
        "throughput_rps": len(good) / elapsed_s if good else None,
        "goodput_rps": sum(map(met, good)) / elapsed_s if good else None,
        "latency_p50_ms": median(lat),
        "latency_p95_ms": percentile(lat, 95),
        "query_p50_ms": med_ms("query"),
        "nav_p50_ms": med_ms("nav"),
        "query_geomean_ms": geomean(kind_ms("query")),
        "nav_geomean_ms": geomean(kind_ms("nav")),
        "job_turnaround_p50_ms": med_ms("job"),
        "job_turnaround_geomean_ms": geomean(kind_ms("job")),
        # rows per second of job time: free of how the window's end
        # cuts the mix of jobs
        "job_rows_per_s": (sum(o.rows for o in jobs)
                           / sum(o.latency_s for o in jobs)
                           if jobs else None),
        "pass_s": sum(lat_kinds) / 1000.0 if lat_kinds else None,
        "entry_geomean_ms": geomean(lat_kinds),
    }

