"""The benchmark's workloads: which catalog queries run, on what input."""

from __future__ import annotations

from dataclasses import dataclass

from perfbench.gen import Shape


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    shape: Shape


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="etl",
            why=(
                "warm relational batch at sf0.01, dominated by per-query overhead: "
                "construction, planning, stream start, scheduling; no dedup operators"
            ),
            queries=(
                "q1_pricing_summary",
                "q3_shipping_priority",
                "q5_local_supplier_volume",
                "q10_returned_items",
                "w4_running_sum",
                "e3_sessionization",
                "ud2_pandas_scalar",
                "st1_watermark_tumbling",
                "s6_partitioned_roundtrip",
            ),
            shape=Shape(sf=0.01, documents=500, embeddings=500),
        ),
        Workload(
            name="dedup",
            why=(
                "warm near-duplicate detection: dedup.py pair kernels, "
                "spread_fanout_input, MinHash signatures, simhash and tf-idf"
            ),
            queries=(
                "l2_jaccard_near_dup",
                "l2g2_ngram_jaccard_shard",
                "l2i_minhash_banded",
                "l2b_simhash",
                "l4c_tfidf_top_terms",
            ),
            shape=Shape(sf=0.01, documents=300, embeddings=500),
        ),
    )
}
