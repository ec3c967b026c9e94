"""``batch`` workload: the analytics pass and the curation pipeline in one
process (see ``analytics.py`` and ``curation.py``).

A steady cycle runs one analytics pass, then the curation pipeline over
one shard. The cold cycle runs both parts' warm-up inputs, their
independent ops together on nproc threads. Op keys carry the part name
(``analytics/pass``, ``curation/00``), so each part keeps its own oracle.
"""

from __future__ import annotations

import os

from analytics import Analytics
from curation import Curation


class Batch:
    name = "batch"

    def __init__(self, spark, inputs: str, run_dir: str, tracer, props: dict):
        self.parts = {
            "analytics": Analytics(spark, os.path.join(inputs, "analytics"), run_dir,
                                   tracer, props["analytics"]),
            "curation": Curation(spark, os.path.join(inputs, "curation"), run_dir,
                                 tracer, props["curation"]),
        }
        self.max_cycles = self.parts["curation"].max_cycles

    def _groups(self, name: str, i: int) -> list[list[tuple]]:
        return [[(f"{name}/{key}", op, rows, fn) for key, op, rows, fn in g]
                for g in self.parts[name].cycle(i)]

    def cycle(self, i: int) -> list[list[tuple]]:
        a, c = self._groups("analytics", i), self._groups("curation", i)
        if i == 0:
            # curation first: its dedup_clusters is the cold cycle's long pole
            return [c[0] + a[0]] + c[1:]
        return a + c

    def expected(self, key: str) -> dict:
        part, k = key.split("/", 1)
        return self.parts[part].expected(k)
