"""Spark operator stages of the dedup pipeline.

Stage order (SURVEY.md §7.1): signatures → banding/candidates (+ substring
containment) → exact verification → connected components. Each stage is a
DataFrame → DataFrame function; the pipeline in ``plans/`` wires them with
checkpointing and lineage.
"""

from srpr_lsh_spark.operators.signatures import compute_signatures, signatures_schema
from srpr_lsh_spark.operators.banding import (
    candidate_pairs,
    exact_content_edges,
    explode_bands,
    combined_candidates,
)
from srpr_lsh_spark.operators.verify import verify_text_pairs, verify_audio_pairs
from srpr_lsh_spark.operators.substring import containment_candidates, verify_containment
from srpr_lsh_spark.operators.components import connected_components

__all__ = [
    "candidate_pairs",
    "combined_candidates",
    "compute_signatures",
    "connected_components",
    "containment_candidates",
    "exact_content_edges",
    "explode_bands",
    "signatures_schema",
    "verify_audio_pairs",
    "verify_containment",
    "verify_text_pairs",
]
