"""Workload definitions and their seeded operation orders."""

from __future__ import annotations

import random
from dataclasses import dataclass

#: the lookup and search surface: the nine surface_* queries plus the
#: hierarchy, k-NN, multi-way join and top-k-per-key lookups behind them
SURFACE = (
    "surface_component_flattening",
    "surface_facet_counts",
    "surface_faceted_paging",
    "surface_prefix_search",
    "surface_phrase_search",
    "surface_autocomplete_index",
    "surface_token_search",
    "surface_multiline_address",
    "surface_bm25_ranking",
    "j12_hierarchy_roots",
    "j10_knn_nearest",
    "j1_multiway_join_agg",
    "w2_topk_per_key",
)

#: LLM-data curation: the bench-flagged dedup, similarity, ANN, graph,
#: tokenizer, decoder, codec and text-quality queries
CURATION = (
    "dedup_chunk_level",
    "dedup_embedding_cosine",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_substring_spans",
    "similarity_tfidf_pairs",
    "similarity_mmr_select",
    "ann_cosine_topk",
    # ann_ivf_topk's oracle pins a recall floor measured on one fixture
    # corpus, which approximate search need not meet on others; this is
    # the same IVF pipeline probing every list, with an exact oracle
    "ann_ivf_exact_probe",
    "graph_pagerank",
    "text_bpe_learn_merges",
    "multimodal_jpeg_decode",
    "multimodal_mp3_full_decode",
    "multimodal_signal_stats",
    "s21_avro_roundtrip",
    "text_quality_signals",
    "text_pii_redact",
)

#: the N-Quads job's engine calls, in the order one cycle makes them
ETL_OPS = ("address_quads", "write_nquads", "read_nquads", "etl_end_to_end_counts")


@dataclass(frozen=True)
class Workload:
    name: str
    #: scale factor of the inputs
    sf: float
    #: a served workload is warmed up with one untimed pass and timed over
    #: whole passes for the run's seconds; a batch job is timed as one pass
    #: of a fresh session, which pays each query's first-run costs
    served: bool
    #: engine calls of one pass, in a fixed multiset
    ops: tuple[str, ...]
    #: catalog queries whose results are checked against DuckDB
    checked: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload("etl_nquads", 0.1, False, ETL_OPS, ("etl_end_to_end_counts",)),
        Workload("curation_batch", 0.01, False, CURATION, CURATION),
        Workload("surface_lookup", 0.01, True, SURFACE, SURFACE),
    )
}


def pass_order(workload: Workload, seed: int, index: int) -> list[str]:
    """Operation order of pass ``index``. Served requests come in a seeded
    permutation of the workload's calls, so every pass makes the same calls
    and only their order varies with the seed; a batch keeps its order."""
    ops = list(workload.ops)
    if workload.served:
        random.Random(f"{workload.name}/{seed}/{index}").shuffle(ops)
    return ops
