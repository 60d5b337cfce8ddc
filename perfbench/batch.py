"""``batch_refresh``: the nightly full-refresh batch, one scheduler cycle
running two pipelines back to back, each followed by its readers:

1. the taxi medallion refresh (:mod:`medallion`): bronze → silver →
   three gold marts → quality, then the dashboard queries on gold;
2. the corpus curation (:mod:`curation`): the config-declared curation
   pipeline, MinHash and semantic deduplication, then the shard queries.

Per cycle, ``freshness_s`` adds the two pipelines' publish times (the
wait from landing to every served table being rewritten, readers aside)
and ``read_s`` adds their reader sets. Space amplification and
near-duplicate recall pool both pipelines' counts.
"""

from __future__ import annotations

from curation import CorpusCuration
from medallion import MedallionRefresh


class BatchRefresh:
    name = "batch_refresh"
    min_cycles = 3
    # timed cycles come in whole multiples of this
    cycle_multiple = 1

    def __init__(self, spark, work, seed, ops, tracer):
        self.parts = [cls(spark, work, seed, ops, tracer)
                      for cls in (MedallionRefresh, CorpusCuration)]

    def prepare(self, r: int) -> None:
        for p in self.parts:
            p.prepare(r)

    def seed_tables(self) -> None:
        for p in self.parts:
            p.seed_tables()

    def info(self) -> dict:
        return {p.name: p.info() for p in self.parts}

    def has_cycle(self, i: int) -> bool:
        return True

    def cycle(self, i: int) -> dict:
        outs = [p.cycle(i) for p in self.parts]
        return {k: sum(o[k] for o in outs) for k in ("rows", "freshness_s", "read_s")}

    def check(self, i: int) -> list[str]:
        return [f"{p.name}: {x}" for p in self.parts for x in p.check(i)]

    def finish(self) -> dict:
        outs = [p.finish() for p in self.parts]
        dups = [o["dups"] for o in outs if o["dups"]]
        return {
            "space": tuple(sum(o["space"][k] for o in outs) for k in (0, 1)),
            "dups": tuple(sum(d[k] for d in dups) for k in (0, 1)),
            "problems": [f"{p.name}: {x}" for p, o in zip(self.parts, outs)
                         for x in o["problems"]],
        }
