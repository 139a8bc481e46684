"""Output checks: each returns a list of problems (empty when the
engine's output is exactly right). Pure Python over rows read back from
the engine's written output."""

from __future__ import annotations

from collections import defaultdict


def check_detect(rows: list[dict], expected: dict[str, tuple]) -> list[str]:
    """``detect_duplicates`` rows against :func:`gen.expected_detect`:
    every row, URL group, near-duplicate and similarity must match."""
    problems = []
    seen = set()
    for r in rows:
        idx = r["index"]
        if idx in seen:
            problems.append(f"{idx}: duplicate output row")
            continue
        seen.add(idx)
        got = (r["url_duplicates"], r["pdq_hash_duplicates"], r["pdq_hash_similarities"])
        want = expected.get(idx)
        if want is None:
            problems.append(f"{idx}: unexpected row {got}")
        elif got != want:
            problems.append(f"{idx}: got {got}, want {want}")
    for idx in expected.keys() - seen:
        problems.append(f"{idx}: missing row")
    return problems


def check_text(
    pairs: list[dict],
    labels: list[dict],
    true_jaccard,
    threshold: float,
    components,
    want: set,
    recall_floor: float,
) -> tuple[list[str], float]:
    """MinHash pairs and their connected components; returns the problems
    and the recall. Every reported pair must be a < b, unique, at or
    above ``threshold``, and carry exactly its true Jaccard
    (``true_jaccard(a, b)``); the labels must be the min-id components of
    the reported pairs. Recall is the share of ``want`` (planted pairs
    at or above ``threshold``) that was reported; it must reach
    ``recall_floor``, and ``want`` must not be empty, so that dropped
    pairs cannot pass."""
    problems = []
    seen = set()
    for r in pairs:
        a, b, j = r["a"], r["b"], r["jaccard"]
        if not a < b:
            problems.append(f"pair ({a}, {b}) not ordered")
        if (a, b) in seen:
            problems.append(f"pair ({a}, {b}) reported twice")
        seen.add((a, b))
        true = true_jaccard(a, b)
        if j != true:
            problems.append(f"pair ({a}, {b}): jaccard {j}, true {true}")
        if true < threshold:
            problems.append(f"pair ({a}, {b}): true jaccard {true} < {threshold}")
    comps = components(seen)
    got = {}
    for r in labels:
        if r["node"] in got:
            problems.append(f"node {r['node']} labelled twice")
        got[r["node"]] = r["label"]
    if got != comps:
        diff = sorted(set(got.items()) ^ set(comps.items()))[:5]
        problems.append(f"components differ, e.g. {diff}")
    if not want:
        problems.append("no planted pair to recall")
        return problems, 0.0
    recall = len(seen & want) / len(want)
    if recall < recall_floor:
        problems.append(f"recall {recall:.3f} < {recall_floor}")
    return problems, recall


def check_knn(
    rows: list[dict], queries: list[int], k: int, n: int
) -> list[str]:
    """Top-k rows per query: exactly k distinct in-range neighbours, not
    the query itself, ranks 1..k with non-decreasing distance."""
    problems = []
    by_q: dict[int, list[dict]] = defaultdict(list)
    for r in rows:
        by_q[r["query_id"]].append(r)
    if set(by_q) != set(queries):
        problems.append(f"queries answered {sorted(by_q)} != asked {sorted(queries)}")
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        ids = [r["neighbor_id"] for r in rs]
        if [r["rank"] for r in rs] != list(range(1, k + 1)):
            problems.append(f"query {q}: ranks {[r['rank'] for r in rs]}")
        if len(set(ids)) != len(ids) or q in ids:
            problems.append(f"query {q}: neighbours {ids} repeat or hold the query")
        if any(not 0 <= i < n for i in ids):
            problems.append(f"query {q}: neighbour id out of range in {ids}")
        dists = [r["adc_dist"] for r in rs]
        if dists != sorted(dists):
            problems.append(f"query {q}: distances not ascending {dists}")
    return problems


def recall_at_k(rows: list[dict], exact: dict[int, list[int]], k: int) -> float:
    """Mean share of each query's exact top-k found by the engine."""
    got: dict[int, set] = defaultdict(set)
    for r in rows:
        got[r["query_id"]].add(r["neighbor_id"])
    return sum(len(got[q] & set(ids[:k])) / k for q, ids in exact.items()) / len(exact)
