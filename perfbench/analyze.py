"""``analyze``: the read-only workload — the analyst's TPC-H queries
(``tpch.py``) followed by the data engineer's curation pipeline and
retrieval (``curate.py``) in one session.

It writes nothing to a destination, so it is the "no change" check for
write-path work, and it is where plan construction, Catalyst/AQE and the
``pipeline``/``operators.*`` stages show.  An iteration is one TPC-H pass
then one curation pass; the warm-up iteration also collects every query
and compares it with DuckDB.  Each part keeps its own inputs, checks and
per-layer metrics; this class only runs them in turn.
"""

from __future__ import annotations

import os

import numpy as np

from curate import Curate
from tpch import Tpch


class Analyze:
    name = "analyze"

    def __init__(self):
        self.parts = [Tpch(), Curate()]

    def generate(self, rng: np.random.Generator, root: str) -> list:
        return [p.generate(rng, os.path.join(root, p.name)) for p in self.parts]

    def setup(self, ctx, state: list) -> None:
        for p, s in zip(self.parts, state):
            p.setup(ctx, s)

    def trace_targets(self, eng) -> tuple[list, set]:
        targets, materialize = [], set()
        for p in self.parts:
            t, m = p.trace_targets(eng)
            targets += [x for x in t if x not in targets]
            materialize |= m
        return targets, materialize

    def iteration(self, ctx, state: list, i: int) -> list:
        return [p.iteration(ctx, s, i) for p, s in zip(self.parts, state)]

    def check(self, ctx, state: list, res: list) -> list[str]:
        return [b for p, s, r in zip(self.parts, state, res) for b in p.check(ctx, s, r)]

    def end_iteration(self, ctx, state: list, res: list) -> None:
        for p, s, r in zip(self.parts, state, res):
            p.end_iteration(ctx, s, r)

    def layer_metrics(self, tr, state: list, iters: list[tuple[int, list]]) -> dict:
        """Each part's metrics; both report the iteration's whole
        ``catalog.load_table`` spans, so the shared keys agree."""
        out: dict = {}
        for k, (p, s) in enumerate(zip(self.parts, state)):
            out.update(p.layer_metrics(tr, s, [(i, res[k]) for i, res in iters]))
        return out
