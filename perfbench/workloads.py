"""The benchmark's workloads. Each drives the engine's public API from
one client in a closed loop: ``generate`` makes a set of inputs and
their ground truth, ``load`` opens them in Spark (and builds any standing
state), ``op`` runs one timed operation and writes its result where
``check`` reads it back, untimed. The untimed warm-up call before the
timed loop is an ``op`` on the same input.

``op(traced=True)`` runs the same operation through the layers' public
functions one at a time, each inside a span and with its output
materialised, so that each span holds its layer's work.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

import numpy as np
import pyarrow.parquet as pq

import checks
import gen

import cir_duplicate_detector_spark as cds
from cir_duplicate_detector_spark.cache import materialize
from cir_duplicate_detector_spark.operators import dedup
from cir_duplicate_detector_spark.operators import pq as ivfpq
from cir_duplicate_detector_spark.operators.pdq import (
    decoded_hashes,
    get_pdq_fuzzy_duplicates,
    symmetrize_and_aggregate,
)
from cir_duplicate_detector_spark.operators.url_dedup import find_url_duplicates
from pyspark.sql import functions as F

PDQ_SIMILARITY = 0.8
TEXT_THRESHOLD = 0.5
KNN_K = 10
KNN_QUERIES = 32
# A per-request recall below this means the answer is not a nearest-
# neighbour search at all (measured 0.86-0.90 on these inputs).
KNN_RECALL_FLOOR = 0.3
# MinHash-LSH is approximate, so a missed pair is recall, not an error;
# but a recall below this means pairs are being dropped (measured
# 0.51-0.83 on these inputs).
TEXT_RECALL_FLOOR = 0.2


class Workload:
    name = ""
    sizes: dict = {}
    # Timed operations per loop, at least, so that the median is not
    # moved by one slow call.
    min_ops = 4

    def __init__(self, spark, tracer, work: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def write(self, df, name: str) -> str:
        p = self.path(name)
        df.write.mode("overwrite").parquet(p)
        return p

    def read_back(self, name: str) -> list[dict]:
        return pq.read_table(self.path(name)).to_pylist()


class ArchiveBatch(Workload):
    """One ``detect_duplicates`` call over the whole archive: the
    naive all-pairs PDQ self-join plus URL grouping."""

    name = "archive_batch"
    sizes = {"entries": 3_500}

    def generate(self, rng):
        inp = SimpleNamespace()
        table = gen.EntryTable()
        table.add(rng, self.sizes["entries"])
        inp.expected = gen.expected_detect(table, gen.threshold_bits(PDQ_SIMILARITY))
        inp.n_hashes = table.n_hashes()
        pq.write_table(table.arrow_table(), self.path("entries.parquet"))
        return inp

    def load(self, inp):
        inp.entries = self.spark.read.parquet(self.path("entries.parquet"))

    def op(self, inp, request: str, traced: bool):
        if not traced:
            out = cds.detect_duplicates(
                inp.entries,
                pqd_hash_similarity_threshold=PDQ_SIMILARITY,
                pdq_duplicate_detection_method="naive",
            )
            self.write(out, "detect.parquet")
            return
        t = self.tracer
        # The same projection detect_duplicates makes, so Spark serves
        # later layers from the earlier ones' persisted output.
        work = inp.entries.select("index", "url", "pdq_hash")
        with t.span("detect", request):
            with t.span("detect.call"):
                cds.detect_duplicates(
                    inp.entries,
                    pqd_hash_similarity_threshold=PDQ_SIMILARITY,
                    pdq_duplicate_detection_method="naive",
                )
            with t.span("url_dedup") as c:
                urls = find_url_duplicates(work).persist()
                c["rows_out"] = urls.count()
            with t.span("pdq.decode") as c:
                decoded = decoded_hashes(work).persist()
                c["hashes"] = n_hashes = decoded.count()
            with t.span("pdq.join") as c:
                # get_pdq_fuzzy_duplicates decodes `work` again; Spark
                # reads that from the persisted decode above.
                pairs = get_pdq_fuzzy_duplicates(
                    work, PDQ_SIMILARITY, None, "naive"
                ).persist()
                c["pairs"] = pairs.count()
                # The naive join tests every hash against every hash.
                c["comparisons"] = n_hashes * n_hashes
            with t.span("pdq.symmetrize") as c:
                near = symmetrize_and_aggregate(pairs).persist()
                c["rows_out"] = near.count()
            # Self time of "detect": the composite's final left joins and
            # filter, as detect_duplicates composes them.
            out = (
                work.select("index")
                .join(urls, "index", "left")
                .join(near, "index", "left")
                .where(
                    F.col("url_duplicates").isNotNull()
                    | F.col("pdq_hash_duplicates").isNotNull()
                )
                .select(
                    "index",
                    "url_duplicates",
                    "pdq_hash_duplicates",
                    "pdq_hash_similarities",
                )
            )
            self.write(out, "detect.parquet")

    def check(self, inp) -> tuple[list[str], dict]:
        rows = self.read_back("detect.parquet")
        return checks.check_detect(rows, inp.expected), {}


class TextDedup(Workload):
    """MinHash-LSH near-duplicate pairs at Jaccard 0.5, then their
    connected components."""

    name = "text_dedup"
    sizes = {"docs": 1_000}

    def generate(self, rng):
        inp = SimpleNamespace(shingles={})
        inp.docs = gen.make_docs(rng, self.sizes["docs"])
        planted = gen.planted_pairs(inp.docs)
        inp.want = {k for k, j in planted.items() if j >= TEXT_THRESHOLD}
        pq.write_table(inp.docs.arrow_table(), self.path("docs.parquet"))
        return inp

    def load(self, inp):
        inp.df = self.spark.read.parquet(self.path("docs.parquet"))

    def op(self, inp, request: str, traced: bool):
        if not traced:
            pairs = dedup.minhash_near_duplicates(inp.df, TEXT_THRESHOLD)
            p = self.write(pairs, "pairs.parquet")
            labels = dedup.connected_components(self.spark.read.parquet(p))
            self.write(labels, "labels.parquet")
            return
        t = self.tracer
        sc = self.spark.sparkContext
        with t.span("text_dedup", request):
            hashed = dedup.hashed_shingle_arrays(inp.df)
            sigs = dedup.minhash_signatures(hashed)
            with t.span("dedup.signature"):
                p = self.write(sigs, "sigs.parquet")
            with t.span("dedup.lsh") as c:
                # The band join alone, from the stored signatures.
                cand = dedup.lsh_candidates(self.spark.read.parquet(p))
                c["candidates"] = cand.count()
            with t.span("cache.materialize") as c:
                # The engine's call: the lazy signatures are computed
                # again and band-joined inside the eager checkpoint.
                before = set(sc._jsc.getPersistentRDDs())
                cand = materialize(dedup.lsh_candidates(sigs))
                c["blocks"] = len(set(sc._jsc.getPersistentRDDs()) - before)
            with t.span("dedup.verify") as c:
                pairs = dedup.jaccard_pairs(
                    hashed, cand, TEXT_THRESHOLD, candidate_count=cand.count()
                )
                p = self.write(pairs, "pairs.parquet")
            c["pairs"] = pq.read_table(p, columns=["a"]).num_rows
            with t.span("dedup.components"):
                labels = dedup.connected_components(self.spark.read.parquet(p))
                self.write(labels, "labels.parquet")

    def check(self, inp) -> tuple[list[str], dict]:
        pairs = self.read_back("pairs.parquet")
        labels = self.read_back("labels.parquet")

        def true_jaccard(a: int, b: int) -> float:
            for d in (a, b):
                if d not in inp.shingles:
                    inp.shingles[d] = gen.shingles(inp.docs.text[d])
            return gen.jaccard(inp.shingles[a], inp.shingles[b])

        problems, recall = checks.check_text(
            pairs,
            labels,
            true_jaccard,
            TEXT_THRESHOLD,
            gen.components,
            inp.want,
            TEXT_RECALL_FLOOR,
        )
        return problems, {"recall": recall}


class VectorServe(Workload):
    """k-nearest-neighbour queries served from a persisted IVF-PQ index."""

    name = "vector_serve"
    # Requests are short and their latency swings with the host's load
    # from one request to the next; more of them steady the median.
    min_ops = 5
    sizes = {"vectors": 500, "dim": 64, "queries_per_request": KNN_QUERIES, "k": KNN_K}

    def generate(self, rng):
        inp = SimpleNamespace()
        inp.x = gen.make_vectors(rng, self.sizes["vectors"], dim=self.sizes["dim"])
        inp.query_rng = np.random.default_rng(rng.integers(2**63))
        pq.write_table(gen.vectors_arrow_table(inp.x), self.path("vectors.parquet"))
        return inp

    def load(self, inp):
        inp.vectors = self.spark.read.parquet(self.path("vectors.parquet"))
        with self.tracer.span("pq.build", "setup"):
            index = ivfpq.build_ivf_pq_index(inp.vectors)
            ivfpq.persist_ivf_pq_index(index, self.path("index"))
        # The in-session build rides on checkpoint blocks; the persisted
        # copy is what a serving process keeps.
        cds.release_cached(self.spark)
        inp.index = ivfpq.read_ivf_pq_index(self.spark, self.path("index"))

    def op(self, inp, request: str, traced: bool):
        inp.queries = [
            int(q)
            for q in inp.query_rng.choice(len(inp.x), KNN_QUERIES, replace=False)
        ]
        with self.tracer.span("pq.search", request) as c:
            inp.rows = [
                r.asDict()
                for r in ivfpq.knn_ivf_pq_from_index(
                    inp.index, inp.vectors, inp.queries, k=KNN_K
                ).collect()
            ]
            c["rows_out"] = len(inp.rows)

    def check(self, inp) -> tuple[list[str], dict]:
        problems = checks.check_knn(inp.rows, inp.queries, KNN_K, len(inp.x))
        exact = gen.exact_knn(inp.x, inp.queries, KNN_K)
        recall = checks.recall_at_k(inp.rows, exact, KNN_K)
        if recall < KNN_RECALL_FLOOR:
            problems.append(f"recall@{KNN_K} {recall:.3f} < {KNN_RECALL_FLOOR}")
        return problems, {"recall": recall}


WORKLOADS = {w.name: w for w in (ArchiveBatch, TextDedup, VectorServe)}
