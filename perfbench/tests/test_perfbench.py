"""Tests of the benchmark itself: generators, oracles, output checks and
the shape of a run's output.

    python3 -m pytest perfbench/tests -q

The last tests start Spark and take about a minute.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from collections import deque
from itertools import combinations
from pathlib import Path

import numpy as np
import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from spans import Span, self_time  # noqa: E402

N_BITS = gen.threshold_bits(0.8)


def small_table(seed: int, n: int = 300) -> gen.EntryTable:
    t = gen.EntryTable()
    t.add(np.random.default_rng(seed), n, copy_frac=0.4, url_dup_frac=0.3)
    return t


# ------------------------------------------------------- determinism


def test_entry_table_is_deterministic():
    a, b = small_table(7), small_table(7)
    assert (a.index, a.url, a.hashes) == (b.index, b.url, b.hashes)
    assert small_table(8).hashes != a.hashes


def test_docs_are_deterministic():
    a = gen.make_docs(np.random.default_rng(3), 200)
    b = gen.make_docs(np.random.default_rng(3), 200)
    assert (a.text, a.families) == (b.text, b.families)
    assert gen.make_docs(np.random.default_rng(4), 200).text != a.text


def test_vectors_are_deterministic():
    a = gen.make_vectors(np.random.default_rng(5), 100)
    assert np.array_equal(a, gen.make_vectors(np.random.default_rng(5), 100))


# ---------------------------------------------------------- oracles


def test_threshold_bits_matches_engine_rule():
    assert N_BITS == 51
    assert max(gen.DIST_INSIDE) == N_BITS
    assert min(gen.DIST_OUTSIDE) == N_BITS + 1


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_pdq_oracle_matches_bruteforce(seed):
    t = small_table(seed)
    full = gen.pdq_pairs(t, N_BITS)
    assert full == gen.pdq_pairs_bruteforce(t, N_BITS)
    assert full, "no planted pair inside the bound"


def test_planted_distances_straddle_the_bound():
    t = small_table(4, n=2000)
    d_all = gen.pdq_pairs(t, 256)
    assert {d for d in d_all.values() if d <= N_BITS}
    assert {d for d in d_all.values() if N_BITS < d <= 60}


def _normalise(url: str) -> str:
    u = re.sub(r"^[a-z][a-z0-9+.\-]*://", "", url.lower())
    return re.sub(r"#.*$", "", u)


def test_url_oracle_matches_normalised_grouping():
    t = small_table(5)
    groups: dict[str, list[int]] = {}
    for p, u in enumerate(t.url):
        if u is not None:
            groups.setdefault(_normalise(u), []).append(p)
    want = {
        p: sorted(t.index[q] for q in ms if q != p)
        for ms in groups.values()
        if len(ms) > 1
        for p in ms
    }
    assert gen.url_dups(t) == want
    assert want, "no URL group was planted"


def test_text_oracle_matches_bruteforce():
    docs = gen.make_docs(np.random.default_rng(6), 300)
    planted = gen.planted_pairs(docs)
    sh = [gen.shingles(x) for x in docs.text]
    brute = {}
    for a, b in combinations(range(len(docs.text)), 2):
        j = gen.jaccard(sh[a], sh[b])
        if j >= 0.2:
            brute[(a, b)] = j
    # Every similar pair is planted, with the same Jaccard.
    assert set(brute) <= set(planted)
    assert all(planted[k] == v for k, v in brute.items())
    js = list(planted.values())
    assert min(js) < 0.5 <= max(js)


def test_components_match_bfs():
    rng = np.random.default_rng(9)
    edges = {tuple(sorted(map(int, rng.integers(0, 60, 2)))) for _ in range(50)}
    edges = {e for e in edges if e[0] != e[1]}
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for s in adj:
        if s in want:
            continue
        comp, q = {s}, deque([s])
        while q:
            for y in adj[q.popleft()] - comp:
                comp.add(y)
                q.append(y)
        for x in comp:
            want[x] = min(comp)
    assert gen.components(edges) == want


def test_exact_knn_matches_bruteforce():
    x = gen.make_vectors(np.random.default_rng(2), 200, dim=8)
    got = gen.exact_knn(x, [0, 17, 199], 5)
    for q, ids in got.items():
        d = sorted(
            (float(((x[i] - x[q]) ** 2).sum()), i) for i in range(len(x)) if i != q
        )
        assert ids == [i for _, i in d[:5]]


# ----------------------------------------------------------- checks


def _detect_rows(expected):
    return [
        {
            "index": k,
            "url_duplicates": v[0],
            "pdq_hash_duplicates": v[1],
            "pdq_hash_similarities": v[2],
        }
        for k, v in expected.items()
    ]


def test_check_detect_flags_corruption():
    t = small_table(1)
    expected = gen.expected_detect(t, N_BITS)
    rows = _detect_rows(expected)
    assert checks.check_detect(rows, expected) == []
    assert checks.check_detect(rows[1:], expected)  # missing row
    pdq = next(r for r in rows if r["pdq_hash_similarities"])
    pdq["pdq_hash_similarities"] = [s - 1 / 256 for s in pdq["pdq_hash_similarities"]]
    assert checks.check_detect(rows, expected)  # wrong similarity
    rows = _detect_rows(expected)
    url = next(r for r in rows if r["url_duplicates"])
    url["url_duplicates"] = url["url_duplicates"] + ["E9999999"]
    assert checks.check_detect(rows, expected)  # wrong url group


def test_check_text_flags_corruption():
    docs = gen.make_docs(np.random.default_rng(6), 300)
    sh = [gen.shingles(x) for x in docs.text]

    def true_j(a, b):
        return gen.jaccard(sh[a], sh[b])

    want = {k for k, j in gen.planted_pairs(docs).items() if j >= 0.5}
    assert want
    good = [{"a": a, "b": b, "jaccard": true_j(a, b)} for a, b in sorted(want)]
    labels = [{"node": n, "label": lab} for n, lab in gen.components(want).items()]

    def check(pairs, labels, want=want):
        return checks.check_text(pairs, labels, true_j, 0.5, gen.components, want, 0.2)

    assert check(good, labels) == ([], 1.0)
    bad = [dict(r) for r in good]
    bad[0]["jaccard"] = 0.99
    assert check(bad, labels)[0]  # wrong similarity
    assert check(good, labels[1:])[0]  # missing label
    assert check([], [])[0]  # every pair dropped
    assert check(good, labels, want=set())[0]  # nothing planted to recall


def test_check_knn_flags_corruption():
    rows = [
        {"query_id": 0, "neighbor_id": i, "rank": i, "adc_dist": float(i)}
        for i in range(1, 11)
    ]
    assert checks.check_knn(rows, [0], 10, 100) == []
    rows[3]["neighbor_id"] = 1
    assert checks.check_knn(rows, [0], 10, 100)


# ------------------------------------------------------------ spans


def test_self_time_subtracts_union_of_children():
    parent = Span("p", 0, None, "r", start=0.0, end=10.0)
    kids = [
        Span("a", 1, 0, "r", start=1.0, end=3.0),
        Span("b", 2, 0, "r", start=2.0, end=4.5, overhead=0.5),  # covers 2-5
        Span("c", 3, 0, "r", start=8.0, end=12.0),  # clipped to 8-10
    ]
    assert self_time(parent, kids) == 10.0 - (4.0 + 2.0)
    assert self_time(parent, []) == 10.0


# ---------------------------------------------------- run and output


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(metrics.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(metrics.PER_LAYER)
    for m in spec["per_layer"]:
        assert m["unit"] == metrics.unit_of(m["name"])


def test_end_to_end_names_per_workload():
    want = {
        "archive_batch": {"batch_s"},
        "text_dedup": {"batch_s", "recall"},
        "vector_serve": {"probe_p50_s", "probe_tail_s", "probe_per_s", "recall"},
    }
    for w, extra in want.items():
        recall = [{"recall": 0.5}] * 3 if "recall" in extra else [{}] * 3
        loop = {"latencies": [1.0, 2.0, 3.0], "extras": recall}
        got = metrics.end_to_end(w, 1.0, loop, 4, 0, 100.0)
        assert set(got) == {"setup_s", "op_p50_s", "failed_frac", "peak_rss_mb"} | extra


def _run(*args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_run_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "archive_batch", "--seed", "1", "--seconds", "1", cwd=tmp_path, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("trace", ["0", "1"])
def test_run_output_has_every_metric(trace):
    p = _run("--workload", "archive_batch", "--seed", "3", "--seconds", "0", "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = metrics.PER_LAYER if trace == "1" else metrics.END_TO_END
    assert list(result["metrics"]) == list(names)
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"]
    printed = {ln.split()[1] for ln in lines if ln.startswith("metric ")}
    assert printed == {"setup_s", "op_p50_s", "batch_s", "failed_frac", "peak_rss_mb"}
