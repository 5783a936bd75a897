"""LLM-curation queries: the driver-bound half of the batch workload.

Plan build, iterative convergence loops, driver collects and pandas/Arrow
kernels dominate, and every query shuffles little. Each call builds the
query through the registry and collects its result to pandas; every
measured result is compared with the query's DuckDB oracle.
"""

from __future__ import annotations

from perfbench.checks import compare, oracle_frame

SIZES = {"documents": 500, "embeddings": 500}
QUERIES = (
    "docs_exact_dedup",
    "docs_token_stats",
    "docs_minhash_lsh_candidates",
    "embedding_ivf_ann",
    "media_features",
    "docs_dup_clusters",
    "docs_pii_scrub",
)


class CurationMix:
    def __init__(self, h, data: str):
        from cupertino_nvr_spark.plans import REGISTRY

        self.h = h
        self.data = data
        self.registry = REGISTRY
        self.results: dict[str, list] = {q: [] for q in QUERIES}

    def units(self) -> dict:
        """One unit per query; the workload orders them."""
        return {q: (lambda q=q: self.run_query(q)) for q in QUERIES}

    def run_query(self, name: str) -> None:
        h = self.h
        out = h.call(name, lambda: self.registry[name].spark(h.spark, self.data), lambda df: df.toPandas())
        if h.measuring and out is not None:  # a call that raised was already counted as failed
            self.results[name].append(out)

    def check(self) -> None:
        for name, outs in self.results.items():
            expected = oracle_frame(self.registry[name].oracle, self.data)
            for out in outs:
                problems = compare(out, expected)
                self.h.check(not problems, f"{name}: {'; '.join(problems)}")
