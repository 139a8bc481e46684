"""Seeded input generators and their ground-truth oracles.

Pure Python + numpy: nothing here touches Spark, so the truth the
benchmark checks against is computed independently of the engine. Each
generator takes a ``numpy.random.Generator``; the same seed gives the
same inputs.

* PDQ archive entries (:class:`EntryTable`): random 256-bit hashes plus
  planted near-copies at known Hamming distances, some inside the 51-bit
  bound that similarity 0.8 gives and some just outside it, and URLs
  whose scheme/case/fragment variants normalise to one base URL.
* Text documents (:func:`make_docs`): Zipfian word streams with planted
  near-duplicate families whose true 3-shingle Jaccard spreads on both
  sides of 0.5.
* Vectors (:func:`make_vectors`): clustered 64-d points with exact
  numpy k-nearest neighbours (:func:`exact_knn`).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from itertools import combinations

import numpy as np

HASH_BITS = 256
# Planted Hamming distances. The engine's bound at similarity 0.8 is
# round(256 * 0.2) = 51 bits; 52+ must never be reported.
DIST_INSIDE = (0, 4, 16, 32, 44, 49, 50, 51)
DIST_OUTSIDE = (52, 53, 55, 60)
URL_HOSTS = 400


def threshold_bits(similarity: float) -> int:
    """Largest Hamming distance that matches at ``similarity``
    (``int(round(256 * (1 - t)))``, the reference's rule)."""
    return int(round(HASH_BITS * (1 - similarity)))


def _flip(rng: np.random.Generator, h: int, d: int) -> int:
    mask = 0
    for b in rng.choice(HASH_BITS, size=d, replace=False):
        mask |= 1 << int(b)
    return h ^ mask


def _url_variant(rng: np.random.Generator, base: str) -> str:
    """Scheme, case and fragment variant of a lowercase base URL; all
    variants of one base normalise to it."""
    scheme = ("", "http://", "https://", "HTTPS://")[rng.integers(4)]
    chars = list(base)
    if rng.random() < 0.5:
        for i in rng.choice(len(chars), size=min(4, len(chars)), replace=False):
            chars[i] = chars[i].upper()
    frag = f"#s{rng.integers(1000)}" if rng.random() < 0.5 else ""
    return scheme + "".join(chars) + frag


@dataclass
class EntryTable:
    """Archive entries and the facts that decide their duplicates.

    Every hash belongs to a *family*: a fresh random hash opens one, a
    planted near-copy joins its source's. Hashes of different families
    are independent uniform 256-bit values, so their distance is
    Binomial(256, 1/2) (mean 128, sd 8); the chance that any of the
    ~10^9 cross-family pairs of a 50k-hash table falls within 51 bits is
    below 10^-12. The oracle therefore only compares hashes inside a
    family, exactly (``tests`` check this against all-pairs brute force
    at a small size).
    """

    index: list[str] = field(default_factory=list)
    url: list[str | None] = field(default_factory=list)
    url_group: list[int | None] = field(default_factory=list)
    hashes: list[list[int]] = field(default_factory=list)
    hash_family: list[list[int]] = field(default_factory=list)
    families: list[list[tuple[int, int]]] = field(default_factory=list)
    url_bases: list[str] = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.index)

    def add(
        self,
        rng: np.random.Generator,
        n: int,
        copy_frac: float = 0.06,
        url_dup_frac: float = 0.08,
    ) -> None:
        """Append ``n`` entries. A ``copy_frac`` share carry a near-copy
        of an earlier entry's hash; a ``url_dup_frac`` share reuse an
        existing base URL; one in ten has a second hash and one in ten
        no URL."""
        start = len(self)
        for pos in range(start, start + n):
            hs: list[int] = []
            fams: list[int] = []
            n_hash = 2 if rng.random() < 0.1 else 1
            for j in range(n_hash):
                if j == 0 and pos > 0 and rng.random() < copy_frac:
                    src = int(rng.integers(pos))
                    k = int(rng.integers(len(self.hashes[src])))
                    if rng.random() < 0.7:
                        d = DIST_INSIDE[rng.integers(len(DIST_INSIDE))]
                    else:
                        d = DIST_OUTSIDE[rng.integers(len(DIST_OUTSIDE))]
                    h = _flip(rng, self.hashes[src][k], int(d))
                    fam = self.hash_family[src][k]
                else:
                    h = int.from_bytes(rng.bytes(32), "big")
                    fam = len(self.families)
                    self.families.append([])
                if h in hs:
                    continue
                hs.append(h)
                fams.append(fam)
                self.families[fam].append((pos, h))
            self.index.append(f"E{pos:07d}")
            self.hashes.append(hs)
            self.hash_family.append(fams)
            if rng.random() < 0.1:
                self.url.append(None)
                self.url_group.append(None)
                continue
            if self.url_bases and rng.random() < url_dup_frac:
                g = int(rng.integers(len(self.url_bases)))
            else:
                g = len(self.url_bases)
                host = f"site{rng.integers(URL_HOSTS)}.example.org"
                self.url_bases.append(f"{host}/a/{g:07d}/p{rng.integers(10**6)}")
            self.url_group.append(g)
            self.url.append(_url_variant(rng, self.url_bases[g]))

    def arrow_table(self):
        import pyarrow as pa

        return pa.table(
            {
                "index": pa.array(self.index, pa.string()),
                "url": pa.array(self.url, pa.string()),
                "pdq_hash": pa.array(
                    [[f"{h:064x}" for h in hs] for hs in self.hashes],
                    pa.list_(pa.string()),
                ),
            }
        )

    def n_hashes(self) -> int:
        return sum(len(h) for h in self.hashes)


def pdq_pairs(table: EntryTable, n_bits: int) -> dict[tuple[int, int], int]:
    """``{(a, b): min distance}`` for entry positions a < b whose closest
    hashes are within ``n_bits``."""
    best: dict[tuple[int, int], int] = {}
    for members in table.families:
        for (pa_, ha), (pb_, hb) in combinations(members, 2):
            if pa_ == pb_:
                continue
            d = (ha ^ hb).bit_count()
            if d > n_bits:
                continue
            key = (pa_, pb_) if pa_ < pb_ else (pb_, pa_)
            if d < best.get(key, HASH_BITS + 1):
                best[key] = d
    return best


def pdq_pairs_bruteforce(table: EntryTable, n_bits: int) -> dict[tuple[int, int], int]:
    """All-pairs twin of :func:`pdq_pairs` for small tables."""
    best: dict[tuple[int, int], int] = {}
    for a, b in combinations(range(len(table)), 2):
        ds = [(x ^ y).bit_count() for x in table.hashes[a] for y in table.hashes[b]]
        if ds and min(ds) <= n_bits:
            best[(a, b)] = min(ds)
    return best


def url_dups(table: EntryTable) -> dict[int, list[str]]:
    """Entry position -> sorted indexes of the other entries sharing its
    base URL."""
    groups: dict[int, list[int]] = {}
    for p, g in enumerate(table.url_group):
        if g is not None:
            groups.setdefault(g, []).append(p)
    out: dict[int, list[str]] = {}
    for members in groups.values():
        if len(members) < 2:
            continue
        for p in members:
            out[p] = sorted(table.index[q] for q in members if q != p)
    return out


def expected_detect(table: EntryTable, n_bits: int) -> dict[str, tuple]:
    """``detect_duplicates`` ground truth: index -> (url_duplicates,
    pdq_hash_duplicates, pdq_hash_similarities), None where absent."""
    urls = url_dups(table)
    near: dict[int, list[tuple[str, float]]] = {}
    for (a, b), d in pdq_pairs(table, n_bits).items():
        sim = 1.0 - d / HASH_BITS
        near.setdefault(a, []).append((table.index[b], sim))
        near.setdefault(b, []).append((table.index[a], sim))
    out = {}
    for p in set(urls) | set(near):
        pdq = sorted(near.get(p, []))
        out[table.index[p]] = (
            urls.get(p),
            [i for i, _ in pdq] if pdq else None,
            [s for _, s in pdq] if pdq else None,
        )
    return out


# ---------------------------------------------------------------- text


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams, the engine's shingle definition (texts
    shorter than n words shingle to themselves)."""
    toks = text.split()
    if len(toks) < n:
        return {text}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    i = len(a & b)
    return i / (len(a) + len(b) - i)


@dataclass
class Docs:
    doc_id: list[int]
    text: list[str]
    families: list[list[int]]  # positions of each planted family

    def arrow_table(self):
        import pyarrow as pa

        return pa.table(
            {
                "doc_id": pa.array(self.doc_id, pa.int64()),
                "text": pa.array(self.text, pa.string()),
            }
        )


DOC_VOCAB = 12_000
DOC_WORDS = (100, 140)
DOC_FAMILY_FRAC = 0.10
DOC_ZIPF_S = 1.05


def make_docs(rng: np.random.Generator, n: int) -> Docs:
    """``n`` documents of 100-140 tokens drawn from a Zipfian vocabulary
    of 12k words. A tenth of them form families of 2-4: a base document
    and copies whose tokens are replaced at a per-copy rate in [0, 0.3],
    which puts the copies' true Jaccard on both sides of 0.5."""
    vocab = DOC_VOCAB
    p = 1.0 / np.arange(1, vocab + 1) ** DOC_ZIPF_S
    p /= p.sum()
    lens = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, size=n)
    toks = rng.choice(vocab, size=int(lens.sum()), p=p)
    cuts = np.cumsum(lens)[:-1]
    rows = np.split(toks, cuts)
    order = rng.permutation(n)
    families: list[list[int]] = []
    planted = int(n * DOC_FAMILY_FRAC)
    i = 0
    while i + 1 < planted:
        size = int(min(rng.integers(2, 5), planted - i))
        fam = [int(x) for x in order[i : i + size]]
        base = rows[fam[0]]
        for member in fam[1:]:
            rate = float(rng.uniform(0.0, 0.3))
            copy = base.copy()
            hit = rng.random(len(copy)) < rate
            copy[hit] = rng.choice(vocab, size=int(hit.sum()), p=p)
            rows[member] = copy
        families.append(fam)
        i += size
    text = [" ".join(f"w{t}" for t in row) for row in rows]
    return Docs(doc_id=list(range(n)), text=text, families=families)


def planted_pairs(docs: Docs) -> dict[tuple[int, int], float]:
    """True Jaccard of every within-family pair, keyed by (a, b) doc ids
    with a < b."""
    sh = {}
    out = {}
    for fam in docs.families:
        for p in fam:
            sh[p] = shingles(docs.text[p])
        for a, b in combinations(sorted(fam), 2):
            out[(docs.doc_id[a], docs.doc_id[b])] = jaccard(sh[a], sh[b])
    return out


def components(pairs) -> dict[int, int]:
    """Node -> smallest node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


# ------------------------------------------------------------- vectors


def make_vectors(
    rng: np.random.Generator,
    n: int,
    dim: int = 64,
    clusters: int = 40,
    spread: float = 0.35,
) -> np.ndarray:
    """``n`` points around ``clusters`` Gaussian centres, float64."""
    centres = rng.normal(size=(clusters, dim))
    which = rng.integers(clusters, size=n)
    return centres[which] + rng.normal(scale=spread, size=(n, dim))


def vectors_arrow_table(x: np.ndarray):
    import pyarrow as pa

    return pa.table(
        {
            "vec_id": pa.array(np.arange(len(x)), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float64())),
        }
    )


def exact_knn(x: np.ndarray, queries, k: int) -> dict[int, list[int]]:
    """Exact squared-L2 top-k per query id, self excluded, ties by id."""
    out = {}
    for q in queries:
        d = ((x - x[q]) ** 2).sum(axis=1)
        d[q] = np.inf
        order = np.lexsort((np.arange(len(x)), d))
        out[int(q)] = [int(i) for i in order[:k]]
    return out
