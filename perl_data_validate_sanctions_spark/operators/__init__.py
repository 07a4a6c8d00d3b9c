"""Operators: the tiered fuzzy-match cascade (native Catalyst and Arrow
variants) plus the training-data-pipeline operators (dedup, similarity
search, text analysis)."""

from .matcher import (  # noqa: F401
    ProbeIndex,
    build_name_dim,
    build_token_index,
    match_captions,
    match_probes,
)
