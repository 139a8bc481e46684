"""URL exact-duplicate grouping (reference ``cir_duplicate_detector/url.py``).

Semantics (``url.py:32-116``): normalize each url, group rows whose
normalized url is identical, and annotate every member of a >1-sized
group with the other members' indexes. With a probe set
(``indexes_to_check``) only groups containing at least one probed index
survive — but ALL members of a surviving group are emitted
(bidirectional, ``url.py:87-109``). Either probe form (list or
DataFrame) takes one path: the probed rows' normalized urls
(:func:`.probes.restrict_to_probes`) semi-join the annotated rows on the
group key.

Spark shape: one shuffle. ``collect_list(index) OVER (PARTITION BY
base_url)`` computes group membership without a groupBy+join back
(the reference does groupby→apply→merge, three passes). Result arrays are
``array_sort``-canonical (the reference's list order is an iteration
artifact — SURVEY §7.4.4).

Scale notes (100 TB): the window shuffle partitions by ``base_url``; a
pathological URL shared by millions of rows would make a hot partition,
but the *output semantics* require the full member list per row, so that
cost is inherent. AQE skew-join handling does not apply to windows; the
opt-in ``max_group_size`` bound drops known mega-groups (they are rarely
meaningful duplicates — a link shortener, a platform root URL) with a
cheap map-side-combined count pre-pass before the window ever
materializes a member array, mirroring ``dedup.df_capped``'s rationale.
Default ``None`` keeps exact reference semantics.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window, functions as F

logger = logging.getLogger(__name__)

from ..functions.url import normalize_url
from .probes import is_empty_probe_list, restrict_to_probes

EMPTY_SCHEMA = "index string, url_duplicates array<string>"


def find_url_duplicates(
    df: DataFrame,
    indexes_to_check: list[str] | DataFrame | None = None,
    max_group_size: int | None = None,
) -> DataFrame:
    """Return ``(index, url_duplicates)`` for rows with >=1 url duplicate.

    ``df`` must have columns ``index`` (unique string) and ``url``
    (nullable string). Null urls are dropped (reference ``url.py:70-74``).

    ``max_group_size``: opt-in skew guard — normalized-url groups with
    more rows than this are dropped entirely (logged at plan build)
    before the member-list window runs, so one viral URL cannot emit a
    million-element array per member row. ``None`` (default) = exact
    reference semantics, every group annotated.

    ``indexes_to_check``: a list embeds as a plan literal (reference
    shape, right for small interactive probe sets); a DataFrame joins as
    a broadcast semi-join (right for probe sets that are themselves
    query outputs — no driver round-trip). Either way the probed rows
    give the group keys that survive. Requires unique ``index``
    values: the standalone function removes ALL occurrences of a row's
    own index from its group (``array_remove``); ``detect_duplicates``
    enforces uniqueness when ``validate=True``.
    """
    spark = df.sparkSession
    if "url" not in df.columns or "index" not in df.columns:
        raise ValueError("find_url_duplicates requires `index` and `url` columns")
    if is_empty_probe_list(indexes_to_check):
        return spark.createDataFrame([], EMPTY_SCHEMA)

    # Reference stats logging (`url.py:118-126`) — plan-time facts only;
    # execution timing/row counts live in the Spark UI.
    logger.info(
        "find_url_duplicates: probed=%s", indexes_to_check is not None
    )

    base = (
        df.where(F.col("url").isNotNull())
        .select("index", normalize_url(F.col("url")).alias("base_url"))
    )

    if max_group_size is not None:
        if max_group_size < 1:
            raise ValueError(
                f"max_group_size must be >= 1, got {max_group_size}"
            )
        logger.info(
            "find_url_duplicates: dropping url groups larger than %d rows",
            max_group_size,
        )
        # Count pre-pass is map-side combined (tiny: one row per
        # distinct base_url); the anti-join side holds only the
        # over-bound keys, which Catalyst broadcasts when small.
        hot = (
            base.groupBy("base_url")
            .count()
            .where(F.col("count") > max_group_size)
            .select("base_url")
        )
        base = base.join(hot, "base_url", "anti")

    members = F.collect_list("index").over(Window.partitionBy("base_url"))
    annotated = base.withColumn("members", members).where(F.size("members") > 1)

    if indexes_to_check is not None:
        # Keep whole groups that touch the probe set (bidirectional):
        # probe ids -> their normalized urls -> semi-join on the group key.
        probed_urls = (
            restrict_to_probes(base, indexes_to_check)
            .select("base_url")
            .dropDuplicates(["base_url"])
        )
        annotated = annotated.join(F.broadcast(probed_urls), "base_url", "semi")

    return annotated.select(
        "index",
        F.array_sort(F.array_remove("members", F.col("index"))).alias(
            "url_duplicates"
        ),
    ).where(F.size("url_duplicates") > 0)
