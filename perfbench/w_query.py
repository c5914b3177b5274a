"""``query_mix``: the analytics surface.

A fixed, named set of ``workload.QUERIES`` runs on seeded read-only tables
(:mod:`perfbench.tables`), each materialised with the ``noop`` writer as
``bench.py`` does, through ``session``, ``workload`` and ``operators``;
``ingest``, ``storage`` and ``crud`` are bypassed. The heavy class holds the
graph, plan-build and Python-worker targets; the light class holds
sub-second relational, events and text queries whose time is mostly the
fixed per-query cost. Set-up runs one pass over the whole set and checks
every result against its pinned hash. A measured pass runs two rounds, each
the light queries in a seeded order and then the heavy queries in a fixed
order; a query's time is the best of its two runs.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math
import os
import random
import time

from perfbench import tables

HEAVY = ("trade_pagerank_det", "user_copresence_triangles", "videos_near_dup_det")
LIGHT = (
    "q1_pricing_summary", "q14_promo_revenue", "events_daily",
    "latest_event_per_user", "token_stats_by_lang",
)
REPEATS = 2             # runs of each query per pass; its time is the best run
NOMINAL_PASS_S = 25.0   # one measured pass on a 4-CPU host, with margin
PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned_hashes.json")


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.10g}")
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.10g}")
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _norm(x) for k, x in sorted(v.items())}
    if isinstance(v, bytes):
        return v.hex()
    return v


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, values
    normalised (floats and decimals to 10 significant digits), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(json.dumps([_norm(r[i]) for i in order], default=str) for r in rows)
    digest = hashlib.sha256(json.dumps([sorted(columns)] + lines).encode())
    return digest.hexdigest()[:16]


class QueryMix:
    name = "query_mix"

    def __init__(self, spark, dirs, seed: int, seconds: int, tracer=None):
        self.spark, self.dirs, self.seed, self.tracer = spark, dirs, seed, tracer
        self.n_passes = max(1, round(seconds / NOMINAL_PASS_S))
        self.passes: list[dict[str, list[float]]] = []  # per pass: query -> run times
        self.failed = 0
        self.checks = 0
        self.failures: list[str] = []
        self.sf_dir = dirs.path("data", "tables")

    def setup(self) -> None:
        from moisturizer_spark import workload
        from moisturizer_spark.operators.common import cache_scope

        tables.write_tables(self.sf_dir)
        with open(PINNED) as fh:
            pinned = json.load(fh)["hashes"]
        # warm-up pass over the same set (fixed amount of work), collecting
        # each result for the pinned-hash check
        for name in HEAVY + LIGHT:
            self.checks += 1
            try:
                with cache_scope():
                    df = workload.QUERIES[name](self.spark, self.sf_dir)
                    got = result_hash(df.columns, df.collect())
            except Exception as exc:  # a failed query is a failed check
                got = f"{type(exc).__name__}: {exc}"
            if got != pinned.get(name):
                self.failed += 1
                self.failures.append(f"{name}: result hash {got} != pinned {pinned.get(name)}")

    def run(self, on_op) -> None:
        from moisturizer_spark import workload
        from moisturizer_spark.operators.common import cache_scope

        rng = random.Random(self.seed)
        for p in range(self.n_passes):
            # rounds of the light queries in a seeded order, then the heavy
            # queries in a fixed order: the runs of one query are a round
            # apart, so a stall of the host rarely hits both
            order = []
            for r in range(REPEATS):
                light = list(LIGHT)
                rng.shuffle(light)
                order += [(name, r) for name in light] + [(name, r) for name in HEAVY]
            times: dict[str, list[float]] = {}
            for name, r in order:
                on_op(f"query:p{p}r{r}:{name}")
                t0 = time.perf_counter()
                try:
                    with cache_scope():
                        df = self._build(workload.QUERIES[name])
                        self._plan(df)
                        self._exec(df)
                except Exception as exc:
                    self.failed += 1
                    self.failures.append(f"pass {p} {name}: {type(exc).__name__}: {exc}")
                times.setdefault(name, []).append(time.perf_counter() - t0)
            self.passes.append(times)
        on_op(None)

    # the steps of one query, as separate calls so the traced run can time
    # them. Untraced, _plan is a no-op. Traced, it is an extra probe: it
    # plans the query's own QueryExecution, while the noop write in _exec
    # optimises and plans a new one, so _exec includes the write's planning
    # and _plan's time is not part of the untraced latency
    def _build(self, fn):
        return fn(self.spark, self.sf_dir)

    def _plan(self, df) -> None:
        if self.tracer is not None:
            df._jdf.queryExecution().executedPlan()

    @staticmethod
    def _exec(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    @property
    def attempted(self) -> int:
        return sum(len(t) for p in self.passes for t in p.values()) + self.checks

    def _totals(self, names) -> list[float]:
        """Per pass: the sum over ``names`` of each query's best time of its
        runs, ms (``bench.py`` also reports a best time)."""
        return [sum(min(p[n]) for n in names) * 1000 for p in self.passes]

    @property
    def light_ms(self) -> list[float]:
        return self._totals(LIGHT)

    @property
    def heavy_ms(self) -> list[float]:
        return self._totals(HEAVY)

    def throughput(self) -> float:
        """Queries completed per second of the measured passes."""
        runs = [t for p in self.passes for ts in p.values() for t in ts]
        return len(runs) / sum(runs)

    def check(self) -> None:
        """Results were checked against the pinned hashes in set-up."""

    def context(self) -> dict:
        return {"passes": len(self.passes), "queries_per_pass": len(HEAVY + LIGHT),
                "query_s": self.passes}
