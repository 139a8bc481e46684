"""DataFrame probe sets must produce exactly the list-probe results
(VERDICT r1 #4): the list path embeds a plan literal, the DataFrame path
joins a broadcast semi-join — same semantics, different physical shape.
"""

from __future__ import annotations

import pytest

from cir_duplicate_detector_spark import detect_duplicates
from cir_duplicate_detector_spark.operators.pdq import (
    find_pdq_hash_duplicates,
    get_pdq_fuzzy_duplicates,
)
from cir_duplicate_detector_spark.operators.url_dedup import find_url_duplicates
from cir_duplicate_detector_spark.sources.entries import derive_entries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entries(spark):
    return derive_entries(
        spark.read.parquet(f"{SF}/documents.parquet")
    ).cache()


@pytest.fixture(scope="module")
def probe_ids(entries):
    return sorted(
        r[0] for r in entries.select("index").limit(40).collect()
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_url_dataframe_probe_matches_list(spark, entries, probe_ids):
    probe_df = spark.createDataFrame(
        [(i,) for i in probe_ids], "index string"
    )
    by_list = find_url_duplicates(entries, indexes_to_check=probe_ids)
    by_df = find_url_duplicates(entries, indexes_to_check=probe_df)
    assert _rows(by_list) == _rows(by_df)
    assert len(_rows(by_df)) > 0


def test_pdq_dataframe_probe_matches_list(spark, entries, probe_ids):
    probe_df = spark.createDataFrame(
        [(i,) for i in probe_ids], "index string"
    )
    kwargs = dict(
        pqd_hash_similarity_threshold=0.9,
        duplicate_detection_method="naive",
    )
    for call in (find_pdq_hash_duplicates, get_pdq_fuzzy_duplicates):
        by_list = call(entries, indexes_to_check=probe_ids, **kwargs)
        by_df = call(entries, indexes_to_check=probe_df, **kwargs)
        assert _rows(by_list) == _rows(by_df), call.__name__
        assert len(_rows(by_df)) > 0, call.__name__


def test_detect_duplicates_accepts_probe_frame(spark, entries, probe_ids):
    # Single-column frame with a non-`index` name also accepted.
    probe_df = spark.createDataFrame(
        [(i,) for i in probe_ids], "some_id string"
    )
    by_df = detect_duplicates(
        entries,
        indexes_to_check=probe_df,
        pqd_hash_similarity_threshold=0.9,
        validate=False,
        max_hex_len=64,
    )
    by_list = detect_duplicates(
        entries,
        indexes_to_check=probe_ids,
        pqd_hash_similarity_threshold=0.9,
        validate=False,
        max_hex_len=64,
    )
    assert _rows(by_list) == _rows(by_df)


def test_probe_frame_rejects_ambiguous_columns(spark, entries):
    bad = spark.createDataFrame([(1, 2)], "a int, b int")
    with pytest.raises(ValueError, match="probe DataFrame"):
        find_url_duplicates(entries, indexes_to_check=bad)
