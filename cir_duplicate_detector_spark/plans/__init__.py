"""Query registry exposed through ``__spark_entry__``.

``ALL_QUERIES``: name -> (spark_callable(spark, sf_dir) -> DataFrame,
duckdb_oracle_sql | None).

Ordering is deliberate: the correctness driver cross-checks the FIRST
50 registry entries against the DuckDB oracle, so which 50 lead decides
which queries get a CURRENT driver-green row this round. At the current
registry size (120+) that is a standing ROTATION, not an ad-hoc list
(round-5 verdict item 2). The policy, in priority order:

1. queries with NO driver row in any ``CORRECTNESS_r*.json`` (new this
   round or never yet inside the window);
2. queries whose PLAN changed this round in a result-affecting way
   (``_PLAN_CHANGED`` — maintained by hand each round, because only the
   author knows which edits change results vs physical shape);
3. everything else by last driver-verified round ASCENDING (stalest
   first), ties in registry order.

The ordering is COMPUTED from the committed correctness artifacts at
import time, so it cannot drift from reality the way a hand-written
list did (round-5 advice: the hand-list's comment contradicted itself).
Invariant: with ~N queries and a 50-slot window, stalest-first means
no query's driver row is ever older than ceil(N/50) rounds (4 at the
current 168 — new never-verified queries take their window slots ahead
of the stalest re-verifications by design: a first row beats a fourth
refresh).

Every query is additionally covered by the local parametric parity
suite (`tests/test_oracle_parity.py`), which has no cap; the priority
only controls which subset the driver's independent gate re-verifies
this round.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from .core_queries import CORE_QUERIES

_MERGED: dict[str, tuple] = {}
_MERGED.update(CORE_QUERIES)

try:  # extension registries appear as they are built
    from .extension_queries import EXTENSION_QUERIES

    _MERGED.update(EXTENSION_QUERIES)
except ImportError:
    pass

# Rows whose FINGERPRINT (not results) moved solely because round 15
# added identity-tag SubqueryAliases to shared-artifact reads and
# twin-row outputs (ADVICE r14 medium, see _PLAN_CHANGED (c)):
# analyzed logical plans do not print parquet locations, so eight twin
# pairs hashed IDENTICALLY in PLANS_r14 (ann_recall_lsh==ann_recall_ivf,
# hybrid_recall==hybrid_fresh_recall, pq_recall_skewed==_opq,
# dup_labels_roundtrip==dup_labels_upsert, sem/decon cells roundtrips
# == their serving twins, image_near_dup==_capped, ivf_index_roundtrip
# ==ivf_upsert_assign) and a cross-wired shared cache would have
# produced NO fingerprint change for this lint to catch. The aliases
# are metadata-only — no expression, join or filter changed.
_CANONICALIZER_ONLY: list[str] = [
    "ann_recall_lsh",
    "ann_recall_ivf",
    "hybrid_recall",
    "hybrid_fresh_recall",
    "pq_recall",
    "pq_recall_skewed",
    "pq_recall_skewed_opq",
    "dup_labels_roundtrip",
    "semantic_cells_roundtrip",
    "decon_cells_roundtrip",
    "image_near_dup_capped",
    "ivf_index_roundtrip",
]

# Queries whose ROUND-15 edits change their PLAN. The builder's
# evidence says results are identical (or the query is brand-new), but
# under the fingerprint-lint semantics (plans/fingerprint.py) a changed
# logical plan re-verifies at the driver regardless — cheap insurance
# that a "physical-only" claim can never be wrong silently:
_PLAN_CHANGED: list[str] = [
    # Round 15.
    #
    # (a) Wave-labels share (VERDICT r14 item 4): the agreement
    # diagnostic and the compaction row consume `dup_labels_upsert`'s
    # output from one pair-shared parquet (`ext_dedup.
    # _shared_wave_labels` — builder CALLS the registered query
    # function) instead of each re-running the identical
    # signatures→probe→verify→adopt stack the registered row already
    # times end-to-end. Persisted columns are (bigint, bigint,
    # boolean) — parquet round-trips them exactly; values identical by
    # construction, parity re-run green.
    "upsert_labels_agreement",
    "dup_labels_compact",
    # (b) Shortlist materialize before the exact re-rank (VERDICT r14
    # item 1): `pq_refine` references its shortlist twice (pair
    # resolve + the query-panel semi-join), so the lazy form embedded
    # the ENTIRE ADC probe subtree twice in each consumer's plan
    # (hybrid_search_served: zero ReusedExchange in the r14 dump).
    # One narrow materialize (the `_pq_recall_over` pattern) executes
    # the probe pipeline once; values identical (same shortlist rows,
    # parquet/checkpoint round-trip of bigints+doubles), parity green.
    "hybrid_search_served",
    "hybrid_search_fresh",
    "knn_ivf_pq_refined",
    # (b2) `dedup_minhash` itself now serves from the family-shared
    # full-verify parquet (ADVICE r14: the artifact previously had a
    # single consumer while the registered row recomputed the stack
    # inline — one application ran the full pipeline 3×; now once,
    # with the cold build cost published in artifact_builds). Columns
    # (a, b, jaccard) round-trip parquet bit-exactly (the jaccard is
    # one correctly-rounded division of exact integers); the artifact
    # widening also re-fingerprints minhash_recall's found-side scan.
    "dedup_minhash",
    "minhash_recall",
    # (b3) BM25 one-pass posting/stats relation (guide §2.3): the r14
    # projection shape tokenized the corpus twice per query — once
    # into the materialized tf relation, once more for the
    # independent (n_docs, Σdl) stats broadcast (bm25_search), and
    # twice for the stats/df broadcasts (bm25_index_stats). One
    # materialized relation (null-term marker rows + panel postings
    # from a single explode) now feeds stats, df AND scoring. Exact
    # integers, order-insensitive aggregates — value-identical
    # (pinned by test_bm25_one_pass_relation_matches_two_pass); A/B
    # min-of-4 interleaved: bm25_search 2.70 → 2.19 s.
    "bm25_search",
    "hybrid_search",
    "bm25_route",
    "bm25_index_roundtrip",
    "bm25_route_streaming",
    # (c) Shared-artifact identity tags (ADVICE r14 medium): the rows
    # in _CANONICALIZER_ONLY gained SubqueryAlias tags on their
    # artifact/roundtrip reads (or, where the difference lives wholly
    # in eager builds, on their output) so twin rows no longer hash
    # identically and a cross-wired shared cache re-fingerprints.
    # Metadata-only — NO expression, join, filter or result changed.
    # (The companion /TMP/<family_prefix> canonicalizer change guards
    # any future plan that does print a family temp path; it produced
    # zero churn on its own because analyzed plans omit locations.)
    *_CANONICALIZER_ONLY,
    # (d) One path through detect_duplicates: the composite is the full
    # outer join of the URL and PDQ results (was: rescan + two left
    # joins + keep filter), and decoded_hashes applies the 64-hex
    # length guard by default. Same rows (each result is one row per
    # index with a duplicate; no testdata hash exceeds 64 hex chars).
    "detect_duplicates",
    "hash_decode",
    "pdq_pairs",
]

# Per-round edit declarations (round-9 lint, verdict item 6): every
# package file changed since the latest COMMITTED round artifact must
# be declared here — either as the tuple of queries whose RESULTS the
# edit changes (each must then be in _PLAN_CHANGED, or be brand-new and
# therefore lead the rotation anyway), or as a written reason why the
# edit cannot change any registered result. `tests/test_plans.py::
# test_round_edits_are_declared` enforces the mapping, so a
# result-affecting edit can no longer silently skip the driver window.
# Stale entries (files no longer in the diff after the driver commits
# the round's artifacts) are harmless and cleared opportunistically.
_PKG = "cir_duplicate_detector_spark"
_ROUND_EDITS: dict[str, "tuple[str, ...] | str"] = {
    f"{_PKG}/__init__.py": "detect_duplicates composes its URL and PDQ"
    " results with one full outer join on index instead of a rescan, two"
    " left joins and a keep filter; each result is one row per index"
    " with a duplicate, so the rows are the same (plan change queued in"
    " _PLAN_CHANGED (d))",
    f"{_PKG}/operators/pdq.py": "both PDQ entry points share one pair"
    " pipeline; find_pdq_hash_duplicates' plans are unchanged apart from"
    " the length-guard error text, and decoded_hashes' new default"
    " guard only raises on hashes longer than 64 hex chars (plan change"
    " of its direct users queued in _PLAN_CHANGED (d))",
    f"{_PKG}/operators/url_dedup.py": "list probe sets take the"
    " DataFrame path's semi-join on the probed base urls instead of"
    " arrays_overlap on the member lists: the same groups survive; no"
    " registered query passes a list probe set",
    f"{_PKG}/operators/probes.py": "new restrict_to_probes /"
    " is_empty_probe_list helpers holding the probe restriction the"
    " operators made inline; same plans",
    f"{_PKG}/plans/__init__.py": "round-15 rotation metadata reset"
    " (cleared round-14 _ROUND_EDITS/_PLAN_CHANGED — all r14 entries"
    " driver-verified and committed); no query plan or result touched",
    f"{_PKG}/cache.py": "round-15 shared_artifact build timing"
    " (VERDICT r14 item 3: per-prefix build seconds recorded into"
    " ARTIFACT_BUILD_SECONDS and printed to stderr, published by the"
    " bench as BENCH_FULL.json artifact_builds); observability only,"
    " no query plan or result touched",
    f"{_PKG}/plans/ext_dedup.py": (
        "upsert_labels_agreement",
        "dup_labels_compact",
        "dedup_minhash",
        "minhash_recall",
        "dup_labels_roundtrip",
    ),  # round-15 optimization (VERDICT r14 item 4): the agreement and
    # compaction rows consume dup_labels_upsert's output from one
    # pair-shared parquet (_shared_wave_labels — builder calls the
    # registered function) instead of re-running its full stack (see
    # _PLAN_CHANGED (a))
    f"{_PKG}/plans/ext_ann.py": (
        "knn_ivf_pq_refined",
        "ann_recall_lsh",
        "ann_recall_ivf",
        "semantic_cells_roundtrip",
        "ivf_index_roundtrip",
    ),  # round-15 optimization (VERDICT r14 item 1): shortlist
    # materialized before pq_refine so the ADC probe subtree executes
    # once per query, not per reference (see _PLAN_CHANGED (b));
    # plus identity-tag aliases on the shared knn top-k reads and the
    # two roundtrip twins (see _PLAN_CHANGED (c))
    f"{_PKG}/plans/ext_ann_recall.py": (
        "pq_recall",
        "pq_recall_skewed",
        "pq_recall_skewed_opq",
    ),  # round-15 identity tags on the materialized recall shortlists
    # (see _PLAN_CHANGED (c)); no expression changed
    f"{_PKG}/plans/ext_multimodal.py": ("image_near_dup_capped",),
    # round-15 identity tag on the capped row's output (see
    # _PLAN_CHANGED (c)); no expression changed
    f"{_PKG}/plans/ext_pipeline.py": (
        "hybrid_search_served",
        "hybrid_search_fresh",
        "hybrid_recall",
        "hybrid_fresh_recall",
        "decon_cells_roundtrip",
    ),  # round-15 optimization (VERDICT r14 item 1): same shortlist
    # materialize on the two hybrid serving rows (see _PLAN_CHANGED
    # (b)); plus identity-tag aliases on the shared hybrid artifacts
    # and the decon-cells roundtrip read (see _PLAN_CHANGED (c))
    f"{_PKG}/operators/textops.py": (
        "bm25_search",
        "hybrid_search",
        "hybrid_search_served",
        "bm25_route",
        "bm25_index_roundtrip",
        "bm25_route_streaming",
        "hybrid_search_fresh",
    ),  # round-15 optimization (guide §2.3): bm25_search /
    # bm25_index_stats build ONE materialized posting+stats relation
    # per query instead of tokenizing the corpus once per broadcast
    # (see _PLAN_CHANGED (b3))
    f"{_PKG}/plans/fingerprint.py": "round-15 canonicalizer change"
    " (ADVICE r14 medium): /tmp paths normalize to /TMP/<family_"
    "prefix> so shared-artifact identity is plan-visible; pure lint"
    " infrastructure — no query plan or result touched (fingerprint"
    " churn for artifact-consuming rows is declared via"
    " _CANONICALIZER_ONLY in _PLAN_CHANGED (c))",
    f"{_PKG}/streaming/windows.py": "round-15 prebuilt-codebook schema"
    " guard on streaming_pq_encode (ADVICE r14) — raises on a"
    " mismatched artifact, no query plan or result touched",
    f"{_PKG}/operators/dedup.py": "round-15 connected_components"
    " convergence check: the previous label rides through the"
    " propose→jump chain, so the changed-count is a filter over the"
    " just-materialized checkpoint instead of a jumped⋈labels join —"
    " identical count (same (old, new) pairs), one fewer shuffle-join"
    " job per checked round; labels output unchanged, consumers'"
    " final plans are checkpoint/parquet scans either way"
    " (fingerprint-diff verified). Also the prebuilt-sigs schema"
    " guard on simhash_near_duplicates (ADVICE r14) — raises on a"
    " mismatched artifact, no result touched",
    f"{_PKG}/operators/opq.py": "round-15 optional prebuilt-energy"
    " parameter on opq_assignment/opq_permutation/"
    "opq_subspace_imbalance with a schema guard (ADVICE r14); default"
    " path byte-identical (energy=None computes dim_energy exactly as"
    " before); no registered row passes energy= except through the"
    " auto-build share below",
    f"{_PKG}/operators/pq.py": "round-15 build_ivf_pq_index(opq='auto')"
    " computes the gate statistic and the permutation from ONE"
    " materialized dim_energy frame (guide §1.2 — the sample scan +"
    " sorted-fold aggregation previously executed twice per auto"
    " build); same deterministic folds from the same frame ⇒"
    " bit-identical gate decision and permutation, results unchanged"
    " (identity unit-pinned); consumers' final plans are"
    " checkpoint-scan shaped either way (fingerprint-diff verified)",
}


def _latest_tracked_round(root: Path) -> "int | None":
    """Highest CORRECTNESS round COMMITTED to git, or None when git is
    unavailable (pip install, exported tree — where only committed
    artifacts exist on disk anyway, so no bound is needed)."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "ls-files", "CORRECTNESS_r*.json"],
            cwd=root,
            capture_output=True,
            text=True,
            timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    rounds = []
    for name in out.stdout.splitlines():
        m = re.search(r"r(\d+)", name)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds, default=None)


def _last_verified_round(
    root: "Path | None" = None, max_round: "int | None" = None
) -> dict[str, int]:
    """name -> latest round with a driver row, from the committed
    ``CORRECTNESS_r*.json`` artifacts (repo root). Missing files (fresh
    clone, round 1) yield {} and the registry keeps insertion order.

    ``max_round`` bounds the scan to committed rounds: the driver drops
    the new round's artifact UNTRACKED right after the builder's final
    commit, and counting it would make this working tree's rotation
    diverge from a fresh clone of HEAD — the exact one-round lag that
    made `tests/test_plans.py::test_round_edits_are_declared` misfire
    at the round-9 boundary (VERDICT r9 item 1). Artifacts whose round
    exceeds ``max_round`` are ignored; ``None`` means no bound.
    """
    last: dict[str, int] = {}
    if root is None:
        root = Path(__file__).resolve().parents[2]
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", f.name)
        if not m:
            continue
        rnd = int(m.group(1))
        if max_round is not None and rnd > max_round:
            continue
        try:
            rows = json.loads(f.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        for name in rows:
            last[name] = max(last.get(name, 0), rnd)
    return last


_ROOT = Path(__file__).resolve().parents[2]
_LAST = _last_verified_round(_ROOT, _latest_tracked_round(_ROOT))
_REG_POS = {name: i for i, name in enumerate(_MERGED)}


def _priority_key(name: str):
    if name in _PLAN_CHANGED:
        # After never-verified (round 0), before every verified round.
        return (0.5, _PLAN_CHANGED.index(name))
    return (_LAST.get(name, 0), _REG_POS[name])


ALL_QUERIES: dict[str, tuple] = {
    name: _MERGED[name] for name in sorted(_MERGED, key=_priority_key)
}

# Guard: the streaming sessionize/window/distinct queries must answer
# the SAME question as their batch twins — they share one oracle string
# by construction, and an edit that decouples them should fail loudly
# here, not silently weaken the streaming check (VERDICT r2 item 8).
for _batch, _streaming in [
    ("events_sessionize", "events_sessionize_stateful"),
    ("events_window", "events_window_streaming"),
    ("bloom_dedup", "bloom_dedup_streaming"),
    ("dedup_lsh_screen", "dedup_lsh_screen_streaming"),
    ("events_attribution", "events_attribution_streaming"),
    ("corpus_upsert", "corpus_upsert_streaming"),
    ("ivf_upsert_assign", "ivf_upsert_assign_streaming"),
    # index round-trip is identity: the persisted-and-reread quantizer
    # must answer the same question as the in-session one.
    ("ivf_upsert_assign", "ivf_index_roundtrip"),
    ("dedup_lsh_screen", "lsh_index_roundtrip"),
    ("bloom_dedup", "bloom_index_roundtrip"),
    # merged index shards == the one-shot index (distinct-of-union):
    ("dedup_lsh_screen", "lsh_index_merge"),
    ("quality_classifier", "quality_classifier_streaming"),
    ("sentence_screen", "sentence_screen_streaming"),
    ("pq_codes_upsert", "pq_codes_upsert_streaming"),
    ("boilerplate_screen", "boilerplate_screen_streaming"),
    ("dsir_score", "dsir_score_streaming"),
    ("bm25_route", "bm25_route_streaming"),
    ("bm25_route", "bm25_index_roundtrip"),
    ("decontaminate_scrub", "decontaminate_scrub_streaming"),
    ("decontaminate_fuzzy", "decontaminate_fuzzy_canonical"),
    ("events_anomaly", "events_anomaly_streaming"),
    ("quality_classifier_learned", "quality_classifier_learned_streaming"),
    ("image_screen", "image_screen_streaming"),
    ("image_screen", "image_index_roundtrip"),
    ("dup_labels_upsert", "dup_labels_upsert_streaming"),
    ("dup_labels_upsert", "dup_labels_roundtrip"),
    ("semantic_dedup_learned", "semantic_cells_roundtrip"),
    ("decontaminate_semantic", "decon_cells_roundtrip"),
    # salted_join is a physical-plan rewrite only — same answer, same
    # oracle string as the unsalted plan.
    ("tpch_q5", "tpch_q5_skewed"),
]:
    if _batch in ALL_QUERIES and _streaming in ALL_QUERIES:
        assert ALL_QUERIES[_batch][1] == ALL_QUERIES[_streaming][1], (
            f"{_streaming} oracle diverged from {_batch}; batch and "
            "streaming twins must share one oracle string"
        )
