"""Workload definitions and the mapping from ``--seed`` to their inputs.

``event_flagship`` is the paper's own traffic: per event the producer
writes one ``{"count": c}`` record, the consumer's stream picks it up and
collects the flagship over ``c`` days. ``relational_short`` is a fixed
set of short relational queries over the sf0.1 tables, each run to
``collect()``. The seed picks the event counts and producer ids and the
query order of every pass; the program only ever sees those inputs.
"""

from __future__ import annotations

import datetime as dt
import math
import random
from dataclasses import dataclass

SF = 0.1

# Short queries at sf0.1, one or two from each module that registers
# TPC-H, scalar-function, set-operation, subquery and relational queries.
# Each runs at least two Spark jobs; together they take about 5 s warm on
# local[4]. Two untimed passes come first: the second pass after a cold
# one is still slower than the passes after it.
#
# With nine queries and three timed passes (27 samples) the median is
# rank 14 and the tail (ten samples beyond) rank 17. Both fall among the
# 12 samples of the four middle queries, which take about the same time,
# with the two slowest queries well above them and the three fastest well
# below. Each metric is then a quantile of samples pooled over four
# queries, steadier than one query's own samples, and never sits at a gap
# between queries of different latency, where it would jump from one to
# the other from run to run. Warm latencies on local[4], slowest first:
RELATIONAL_QUERIES = (
    "subq_exists_semijoin",          # 1.4 s
    "q3_shipping_priority",          # 1.0 s
    "q13_order_count_distribution",  # 0.55 s, middle four from here
    "reshape_melt_unpivot",          # 0.55 s
    "q1_pricing_summary",            # 0.55 s
    "q14_promo_revenue",             # 0.5 s, to here
    "setop_except",                  # 0.38 s
    "fn_regexp",                     # 0.2 s
    "sort_limit_topk",               # 0.2 s
)
WARMUP_PASSES = 2

# Producer rule (sources/producer.py): count = (i * A + B) % 991 + 10, so
# a count in [10, 1000] fixes the producer id modulo 991.
_A, _B, _MOD, _LOW = 2_654_435_761, 1_013_904_223, 991, 10
MIN_COUNT, MAX_COUNT = _LOW, _LOW + _MOD - 1
_START = dt.datetime(2024, 1, 1)

EVENT_STRATA = 5   # events per pass, one per equal-width count band
COUNT_JITTER = 8   # days a band's count may lie from the band's centre
WARMUP_EVENTS = 2  # untimed events with counts in the lowest band


def producer_count(producer_id: int) -> int:
    return (producer_id * _A + _B) % _MOD + _LOW


def producer_id_for(count: int) -> int:
    """The smallest producer id whose count is ``count``."""
    return (count - _LOW - _B) * pow(_A, -1, _MOD) % _MOD


def producer_partition(producer_id: int) -> tuple[int, ...]:
    """(year, month, day, hour, minute, second) of the producer's key:
    one invocation per minute from 2024-01-01, as in the producer."""
    t = _START + dt.timedelta(minutes=producer_id)
    return (t.year, t.month, t.day, t.hour, t.minute, t.second)


@dataclass(frozen=True)
class Event:
    producer_id: int
    count: int
    stratum: int  # index of the count band; -1 for warm-up events


def event_counts(seed: int) -> list[int]:
    """One count per band, drawn from ``seed``: band ``k`` of
    ``EVENT_STRATA`` equal-width bands over [10, 1000] holds count ``k``,
    within ``COUNT_JITTER`` days of the band's centre, so every seed
    spans the producer's range with the same total work."""
    rng = random.Random(seed)
    width = (MAX_COUNT - MIN_COUNT + 1) / EVENT_STRATA
    return [round(MIN_COUNT + (k + 0.5) * width)
            + rng.randint(-COUNT_JITTER, COUNT_JITTER)
            for k in range(EVENT_STRATA)]


def event_passes(seed: int, passes: int
                 ) -> tuple[list[list[Event]], list[list[Event]]]:
    """One warm-up pass and ``passes`` timed passes for ``seed``.

    Every pass holds the same counts in its own order; pass ``p`` uses
    producer ids ``base + 991 * (p + 1)`` (same count, distinct keys), so
    passes are comparable while no record is written twice."""
    rng = random.Random(f"events:{seed}")
    counts = event_counts(seed)
    warm = []
    for j in range(WARMUP_EVENTS):
        c = rng.randint(MIN_COUNT, MIN_COUNT + 49)
        warm.append(Event(producer_id_for(c) + _MOD * (1000 + j), c, -1))
    out = []
    for p in range(passes):
        order = list(range(EVENT_STRATA))
        rng.shuffle(order)
        out.append([Event(producer_id_for(counts[k]) + _MOD * (p + 1),
                          counts[k], k) for k in order])
    return [warm], out


def query_passes(seed: int, passes: int
                 ) -> tuple[list[list[str]], list[list[str]]]:
    """``WARMUP_PASSES`` warm-up orders and ``passes`` timed orders of the
    relational set."""
    rng = random.Random(f"queries:{seed}")
    orders = []
    for _ in range(WARMUP_PASSES + passes):
        names = list(RELATIONAL_QUERIES)
        rng.shuffle(names)
        orders.append(names)
    return orders[:WARMUP_PASSES], orders[WARMUP_PASSES:]


# Warm pass time of each workload on local[4]; it sets the pass count.
NOMINAL_PASS_S = {"event_flagship": 14.5, "relational_short": 7.0}


def pass_count(workload: str, seconds: float) -> int:
    """Whole passes that measure at least ``seconds`` at the nominal pass
    time, so every run of a workload has the same number of samples; at
    least two, so every op key is timed twice (a traced run traces each
    key in one pass and not in the other)."""
    return max(2, math.ceil(seconds / NOMINAL_PASS_S[workload]))
