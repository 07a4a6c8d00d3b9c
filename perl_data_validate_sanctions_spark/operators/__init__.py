"""Operators: the tiered fuzzy-match cascade (native Catalyst and Arrow
variants) plus the training-data-pipeline operators (dedup, similarity
search, text analysis)."""

from .matcher import (  # noqa: F401
    DimSnapshot,
    build_name_dim,
    match_captions,
    match_probes,
)
