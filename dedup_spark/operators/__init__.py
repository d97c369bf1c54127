"""Dataflow operators (SURVEY.md §2). Each mirrors a reference stage or a
north-rule extension; all are pure DataFrame -> DataFrame functions."""

from dedup_spark.operators.scan import ingest_pages
from dedup_spark.operators.exact import exact_dup_members, prune_non_candidates
from dedup_spark.operators.lsh import lsh_candidate_pairs
from dedup_spark.operators.verify import verify_pairs_jaccard
from dedup_spark.operators.components import connected_components
from dedup_spark.operators.representatives import select_representatives
from dedup_spark.operators.summarize import summarize_clusters
from dedup_spark.operators.suffix import suffix_repeat_pairs
from dedup_spark.operators.embedding import (
    ann_topk,
    brute_force_topk,
    cosine_near_dup_pairs,
)

__all__ = [
    "ingest_pages",
    "exact_dup_members",
    "prune_non_candidates",
    "lsh_candidate_pairs",
    "verify_pairs_jaccard",
    "connected_components",
    "select_representatives",
    "summarize_clusters",
    "suffix_repeat_pairs",
    "ann_topk",
    "brute_force_topk",
    "cosine_near_dup_pairs",
]
