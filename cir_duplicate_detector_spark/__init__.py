"""cir_duplicate_detector_spark — PySpark-native duplicate-detection engine.

A from-scratch Spark implementation of the query semantics of
Centre-for-Information-Resilience/cir-duplicate-detector (reference at
``cir_duplicate_detector/__init__.py:11-118``): annotate every entry of a
table with (a) other entries whose normalized URL is identical and
(b) other entries whose 256-bit PDQ perceptual hash is within a Hamming
similarity threshold — plus the large-scale training-data-pipeline
extensions (dedup, similarity search, text analysis, multimodal columns)
the reference does not have.

Everything is lazy DataFrame transforms; the only eager steps are the
optional input validations (`validate=True`), mirroring the reference's
eager ValueError behavior.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, functions as F

from .functions.hashes import (
    calculate_absolute_threshold,
    chunks_hamming,
    hamming_distance,
    hex_to_binary,
    hex_to_bits,
    hex_to_chunks,
)
from .cache import materialize, release_cached
from .compat import PDQHashTree, run_in_parallel
from .functions.url import extract_base_url, normalize_url, url_domain
from .operators import (  # noqa: F401 — public extension namespaces
    dedup,
    events,
    multimodal,
    pq,
    similarity,
    sketches,
    skew,
    textops,
)
from .operators.pdq import (
    drop_literal_series_duplicates,
    find_pdq_hash_duplicates,
    get_pdq_fuzzy_duplicates,
)
from .operators.url_dedup import find_url_duplicates

__version__ = "0.1.0"

__all__ = [
    # reference API surface (SURVEY §2.6)
    "detect_duplicates",
    "find_url_duplicates",
    "find_pdq_hash_duplicates",
    "get_pdq_fuzzy_duplicates",
    "normalize_url",
    "extract_base_url",
    "hamming_distance",
    "hex_to_binary",
    "hex_to_chunks",
    "hex_to_bits",
    "chunks_hamming",
    "calculate_absolute_threshold",
    "drop_literal_series_duplicates",
    # reference execution-harness shims (functional Spark equivalents,
    # see compat.py)
    "PDQHashTree",
    "run_in_parallel",
    # extension operator namespaces
    "dedup",
    "similarity",
    "pq",
    "sketches",
    "textops",
    "events",
    "multimodal",
    "skew",
    # lifetime control + crawl helpers
    "materialize",
    "release_cached",
    "url_domain",
]


def detect_duplicates(
    df: DataFrame,
    indexes_to_check: list[str] | DataFrame | None = None,
    pqd_hash_similarity_threshold: float = 0.8,
    pdq_duplicate_detection_method: str = "naive",
    validate: bool = True,
    max_hex_len: int | None = 64,
) -> DataFrame:
    """Composite duplicate annotation (reference ``__init__.py:11-118``).

    ``df`` must carry a unique ``index`` string column plus at least one
    of ``url`` / ``pdq_hash``. Returns only rows having at least one
    duplicate; output columns are ``index`` plus whichever of
    ``url_duplicates`` / ``pdq_hash_duplicates`` / ``pdq_hash_similarities``
    the available inputs produce. Parameter names (including the
    reference's ``pqd_`` misspelling) and defaults (t=0.8, "naive")
    replicate the reference API (SURVEY §2.6).

    ``validate=True`` runs two eager guard jobs (index uniqueness,
    emptiness) like the reference's ValueErrors/warnings; pass ``False``
    to keep the plan fully lazy on very large inputs.

    ``indexes_to_check`` may be a list (plan literal — the reference
    shape, for small probe sets) or a DataFrame (broadcast semi-join —
    for probe sets that are query outputs; no driver round-trip).

    ``max_hex_len`` defaults to ``64`` (standard 256-bit PDQ hashes) so
    no hash-length detection scan runs; longer hashes raise at row time
    under the default — pass their length, or ``None`` to auto-detect
    (see :func:`operators.pdq.find_pdq_hash_duplicates`).
    """
    cols = df.columns
    has_url = "url" in cols
    has_pdq = "pdq_hash" in cols
    if not has_url and not has_pdq:
        raise ValueError(
            "dataframe needs a `url` and/or `pdq_hash` column to detect duplicates"
        )
    if "index" not in cols:
        raise ValueError("dataframe needs an `index` column (unique entry id)")

    # D2 projection — explicit, though Catalyst column pruning would
    # reach the scan anyway.
    keep = ["index"] + [c for c in ("url", "pdq_hash") if c in cols]
    work = df.select(*keep)

    if validate:
        dup_keys = work.groupBy("index").count().where(F.col("count") > 1)
        if not dup_keys.isEmpty():
            raise ValueError("`index` values must be unique")
        if work.isEmpty():
            warnings.warn("input dataframe is empty; returning empty result")

    # D6: each result is one row per index with at least one duplicate,
    # so their full outer join on `index` is exactly the rows to keep.
    out = find_url_duplicates(work, indexes_to_check) if has_url else None
    if has_pdq:
        pdq_dups = find_pdq_hash_duplicates(
            work,
            indexes_to_check,
            pqd_hash_similarity_threshold,
            pdq_duplicate_detection_method,
            max_hex_len=max_hex_len,
        )
        out = pdq_dups if out is None else out.join(pdq_dups, "index", "full")
    return out
