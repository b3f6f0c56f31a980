"""batch_analytics: bulk relational queries and LLM-data curation calls.

Each cycle is one pass of the relational queries of ``wl_batch`` over a
star schema, then one pass of the curation calls of ``wl_corpus`` over a
document corpus and its embeddings. Scan, shuffle, sort and aggregation
dominate the first half; string and array kernels, Arrow/pandas UDF
transfer and self-join candidate blow-up the second. The two share one
session, so they share one JVM start-up.
"""

from __future__ import annotations

import wl_batch
import wl_corpus

NAME = "batch_analytics"
TAIL_Q = 75.0


class Workload:
    def __init__(self, run):
        self.parts = [wl_batch.Workload(run), wl_corpus.Workload(run)]

    def setup(self) -> None:
        for p in self.parts:
            p.setup()

    def warm_up(self) -> None:
        for p in self.parts:
            p.warm_up()

    def cycle(self, i: int) -> None:
        for p in self.parts:
            p.cycle(i)

    def after_window(self) -> None:
        for p in self.parts:
            if hasattr(p, "after_window"):
                p.after_window()

    def layer_metrics(self) -> dict:
        out = {}
        for p in self.parts:
            out.update(p.layer_metrics())
        return out
