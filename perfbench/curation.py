"""``corpus_curation``: a config-declared curation pipeline
(``plans.compiler.run_curation``: gopher_filter, pii_redact, exact_dedup,
line_dedup, stratified_sample, token_shards), then MinHash near-duplicate
detection (``llm.dedup.minhash_dedup``) over the raw corpus and semantic
deduplication (``llm.similarity.semantic_dedup``) over the embeddings,
then the reader queries a training-data loader would run on the shards.

Checks against the generator's ground truth: the run's row counts, no
PII or boilerplate line left in the curated text, no exact copy
surviving, near-duplicate recall of both detectors, and at the end the
exact-dedup survivor count.
"""

from __future__ import annotations

import os
import re
import shutil
import time

import pyarrow.parquet as pq

import gen
from harness import compact_bytes, dir_bytes

N_DOCS = 300
N_VECS = 600
MIN_RECALL = 0.9
_PII = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
                  r"|\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b|[0-9]{3}-[0-9]{3}-[0-9]{4}")


def curation_config(source: str) -> dict:
    return {
        "pipeline": {"name": "curate"},
        "source": {"path": source, "format": "parquet"},
        "curation": {
            "id_column": "doc_id",
            "text_column": "text",
            "stages": [
                {"type": "gopher_filter", "options": {"min_words": 30}},
                {"type": "pii_redact"},
                {"type": "exact_dedup"},
                {"type": "line_dedup",
                 "options": {"min_docs": 5, "carry_cols": ["lang", "source"]}},
                {"type": "stratified_sample",
                 "options": {"rates": {"en": 0.7}, "default_rate": 1.0}},
                {"type": "token_shards", "options": {"budget_tokens": 20_000}},
            ],
        },
    }


class CorpusCuration:
    name = "corpus_curation"

    def __init__(self, spark, work, seed, ops, tracer):
        self.spark, self.work, self.seed = spark, work, seed
        self.ops, self.tr = ops, tracer
        self.out = os.path.join(work, "curated")

    def prepare(self, r: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"corpus{r - 1}"), ignore_errors=True)
        d = os.path.join(self.work, f"corpus{r}")
        os.makedirs(d)
        self.g = gen.corpus(self.seed, N_DOCS, n_vecs=N_VECS)
        self.docs_path = os.path.join(d, "documents.parquet")
        self.vecs_path = os.path.join(d, "embeddings.parquet")
        pq.write_table(self.g["docs"], self.docs_path)
        pq.write_table(self.g["vecs"], self.vecs_path)

    def seed_tables(self) -> None:
        """Nothing to seed: every cycle is a full refresh of the inputs."""

    def info(self) -> dict:
        return self.g["info"]

    def cycle(self, i: int) -> dict:
        from pyspark.sql import functions as F

        from nyc_taxi_data_ingestion_spark.llm import dedup, similarity
        from nyc_taxi_data_ingestion_spark.plans import compiler

        t0 = time.perf_counter()
        self.metrics = self.ops.step("curation", lambda: compiler.run_curation(
            self.spark, curation_config(self.docs_path), self.out))
        fresh = time.perf_counter() - t0

        docs = self.spark.read.parquet(self.docs_path)
        with self.tr.span("llm.dedup", "near_dup_edges"):
            self.edges = self.ops.step("minhash", lambda: {
                (r.id_a, r.id_b) for r in dedup.minhash_dedup(docs).select("id_a", "id_b").collect()})
        vecs = self.spark.read.parquet(self.vecs_path)
        with self.tr.span("llm.similarity", "semantic_dedup"):
            self.kept_vecs = self.ops.step("semantic dedup", lambda: {
                r.vec_id for r in similarity.semantic_dedup(
                    vecs, threshold=0.95, num_cells=8).select("vec_id").collect()})
        self.tr.add("llm.similarity", "removed", N_VECS - len(self.kept_vecs))

        t1 = time.perf_counter()
        shards = self.spark.read.parquet(self.out)
        self.reads = {
            "shard_sizes": self.ops.step("shard sizes", lambda: sorted(
                tuple(r) for r in shards.groupBy("shard_id")
                .agg(F.count(F.lit(1)), F.sum("token_cnt")).collect())),
            "first_shard": self.ops.step("shard fetch", lambda: sorted(
                r.doc_id for r in shards.where(F.col("shard_id") == 0)
                .select("doc_id").collect())),
        }
        return {"rows": N_DOCS + N_VECS, "freshness_s": fresh,
                "read_s": time.perf_counter() - t1}

    def _dups(self) -> tuple[int, int]:
        """(planted near-duplicates found, planted near-duplicates): doc
        pairs among the MinHash edges plus copy vectors SemDeDup removed."""
        found = sum(1 for p in self.g["near_pairs"] if p in self.edges)
        removed = sum(1 for _a, b in self.g["vec_dups"] if b not in self.kept_vecs)
        return found + removed, len(self.g["near_pairs"]) + len(self.g["vec_dups"])

    def check(self, i: int) -> list[str]:
        problems = []
        out = pq.ParquetDataset(self.out).read().to_pylist()
        if self.metrics["rows_in"] != N_DOCS:
            problems.append(f"rows_in {self.metrics['rows_in']} != {N_DOCS}")
        if self.metrics["row_count"] != len(out):
            problems.append(f"row_count {self.metrics['row_count']} != {len(out)} written")
        ids = {r["doc_id"] for r in out}
        copies = [b for _a, b in self.g["exact_pairs"] if b in ids]
        if copies:
            problems.append(f"{len(copies)} exact copies survived exact_dedup")
        lines = {line.strip().lower() for r in out for line in r["text"].split("\n")}
        if any(_PII.search(r["text"]) for r in out):
            problems.append("PII left in curated text")
        if lines & set(gen.BOILERPLATE):
            problems.append("boilerplate lines left in curated text")
        sizes = [(s, n, t) for s, n, t in self.reads["shard_sizes"]]
        want = {}
        for r in out:
            n, t = want.get(r["shard_id"], (0, 0))
            want[r["shard_id"]] = (n + 1, t + r["token_cnt"])
        if sizes != sorted((s, n, t) for s, (n, t) in want.items()):
            problems.append("shard size reader query differs from the curated rows")
        if self.reads["first_shard"] != sorted(r["doc_id"] for r in out if r["shard_id"] == 0):
            problems.append("shard fetch reader query differs from the curated rows")
        found, planted = self._dups()
        recall = found / planted
        if recall < MIN_RECALL:
            problems.append(f"near-duplicate recall {recall:.3f} < {MIN_RECALL}")
        return problems

    def finish(self) -> dict:
        from nyc_taxi_data_ingestion_spark.llm import dedup

        problems = []
        docs = self.spark.read.parquet(self.docs_path)
        survivors = dedup.exact_dedup(docs).count()
        want = N_DOCS - len(self.g["exact_pairs"])
        if survivors != want:
            problems.append(f"exact_dedup kept {survivors} docs, expected {want}")
        return {
            "space": (dir_bytes(self.out), compact_bytes(pq.read_table(self.out))),
            "dups": self._dups(),
            "problems": problems,
        }
