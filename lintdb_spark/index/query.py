"""Query tree + search options, mirroring the reference's boolean
algebra (lintdb/query/QueryNode.h:20-25: TERM / VECTOR / AND / OR
under a single root) and SearchOptions (lintdb/SearchOptions.h:24-38).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

import numpy as np


@dataclass
class SearchOptions:
    # reference defaults, SearchOptions.h:24-38
    # debug aid (SearchOptions.h:24-26): when >= 0, search() logs the
    # expected doc's fate through the cascade (candidate? survived the
    # num_second_pass cut?) on the lintdb_spark.index logger — extra
    # tiny actions run ONLY when set
    expected_id: int = -1
    n_probe: int = 32
    k_top_centroids: int = 2
    num_second_pass: int = 1024
    centroid_score_threshold: float = 0.45
    nearest_tokens_to_fetch: int = 100  # XTR k' (SearchOptions.h:34-35)
    # the reference's ScoringMethod enum, actually wired here:
    # 'plaid' = two-phase PLAID -> exact MaxSim; 'xtr' = token
    # retrieval + imputation (bare VectorQuery only)
    scoring_method: str = "plaid"
    # stage-2 L2-normalizes reconstructed doc tokens by default
    # (score_document_by_residuals's normalize flag, plaid.h:56)
    normalize: bool = True
    # D11 ADC: score stage-2 via PQ inner-product lookup tables
    # (PQDistanceTables.cpp:10-43 — vestigial in the reference, live
    # here). Requires a ProductQuantizer field and normalize=False
    # (ADC decomposes the UNnormalized IP: q.centroid + q.residual).
    # None = auto (on exactly when those conditions hold).
    use_adc: bool | None = None

    def __post_init__(self):
        for name in ("n_probe", "k_top_centroids", "num_second_pass",
                     "nearest_tokens_to_fetch"):
            if getattr(self, name) < 0:
                raise ValueError(f"{name} must be >= 0, got {getattr(self, name)}")


def check_k(k: int) -> None:
    """Every search path rejects a negative k the same way."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")


@dataclass
class TermQuery:
    """Equality filter on an Indexed scalar field (QueryNode.cpp:15-27)."""

    field: str
    value: object


@dataclass
class MatchQuery:
    """Token-level full-text match on an analyzed TEXT field (the
    working version of the reference's declared-but-unused analyzer,
    Schema.h:17). ``mode``: 'any' = OR over query tokens (score =
    number of distinct matched tokens), 'all' = docs containing every
    query token, 'tf' = score by summed term frequency of matched
    tokens."""

    field: str
    text: str
    mode: str = "any"  # any | all | tf


@dataclass
class VectorQuery:
    """ANN candidate generation + late-interaction scoring over a
    Colbert field (QueryNode.cpp:29-101)."""

    field: str
    query_tokens: np.ndarray  # (n_query_tokens, dim)


@dataclass
class AndQuery:
    """Conjunction. With a VectorQuery child this is the reference's
    *approximate* AND: scalar predicates restrict the candidates found
    in probed posting lists (tests/index_test.cpp:197-321)."""

    children: list = dc_field(default_factory=list)


@dataclass
class OrQuery:
    """Disjunction with doc dedup (QueryNode.cpp:113-121)."""

    children: list = dc_field(default_factory=list)
