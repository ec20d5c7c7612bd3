"""Seeded inputs: corpus with base/delta split and planted duplicates, an
embedding set with planted nearest neighbours, and the query streams.

Everything here is a function of the seed, so the same seed gives the same
inputs. The program under test only ever sees what these functions write
(parquet files) or return (query strings).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from femto_spark.corpus import VOCAB_SIZE, ZIPF_S, generate_pages_distributed, vocab

# ---------------------------------------------------------------------------
# sizes
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Sizes:
    base_docs: int
    delta_docs: int
    near_dups: int  # edited copies of base pages planted in the delta
    exact_dups: int  # verbatim copies of base pages planted in the delta
    vectors: int
    dim: int
    ann_queries: int

    @staticmethod
    def for_base(base_docs: int) -> "Sizes":
        return Sizes(
            base_docs=base_docs,
            delta_docs=base_docs // 10,
            near_dups=max(4, base_docs // 250),
            exact_dups=max(2, base_docs // 500),
            vectors=base_docs * 5,
            dim=64,
            ann_queries=64,
        )


# ---------------------------------------------------------------------------
# terms
# ---------------------------------------------------------------------------

WORDS = vocab()
_W = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
ZIPF_CDF = np.cumsum(_W / _W.sum())


def zipf_terms(rng: np.random.Generator, n: int, lo: float = 0.0, hi: float = 1.0) -> list[str]:
    """Terms drawn with the corpus generator's own Zipf law, by inverse
    CDF of uniforms in [lo, hi)."""
    u = lo + (hi - lo) * rng.random(n)
    idx = np.minimum(np.searchsorted(ZIPF_CDF, u), VOCAB_SIZE - 1)
    return [WORDS[i] for i in idx]


def strat_terms(rng: np.random.Generator, k: int, lo: float = 0.0, hi: float = 1.0) -> list[str]:
    """k Zipf terms, one from each of k equal slices of the CDF range
    [lo, hi), in random order: every seed gets the same frequency profile
    (a hot term and a rarer one, ...), so the plan paths the engine picks
    from term statistics do not change from seed to seed."""
    w = (hi - lo) / k
    terms = [zipf_terms(rng, 1, lo + j * w, lo + (j + 1) * w)[0] for j in range(k)]
    return [terms[i] for i in rng.permutation(k)]


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


@dataclass
class Corpus:
    base_path: str
    delta_path: str
    sizes: Sizes
    exact_pairs: list[tuple[int, int]] = field(default_factory=list)
    near_pairs: list[tuple[int, int]] = field(default_factory=list)

    @property
    def n_docs(self) -> int:
        return self.sizes.base_docs + self.sizes.delta_docs


def make_corpus(spark, work: str, seed: int, sizes: Sizes) -> Corpus:
    """Pages from generate_pages_distributed: doc_ids below base_docs are
    the base, the rest the delta. Some delta pages are replaced by
    verbatim copies and by lightly edited copies of base pages. Written
    as one parquet file each for the base and the delta."""
    n_total = sizes.base_docs + sizes.delta_docs
    pages = generate_pages_distributed(spark, n_total, seed=seed).toPandas()
    pages = pages.sort_values("doc_id").reset_index(drop=True)
    if not (pages["doc_id"].to_numpy() == np.arange(n_total)).all():
        raise RuntimeError("generate_pages_distributed: doc_ids are not 0..n-1")

    rng = np.random.default_rng([seed, 1])
    n_plant = sizes.near_dups + sizes.exact_dups
    src = rng.choice(sizes.base_docs, n_plant, replace=False)
    dst = sizes.base_docs + rng.choice(sizes.delta_docs, n_plant, replace=False)
    out = Corpus(os.path.join(work, "base"), os.path.join(work, "delta"), sizes)
    for i, (s, d) in enumerate(zip(src.tolist(), dst.tolist())):
        text = pages.at[s, "text"]
        if i < sizes.near_dups:
            toks = text.split(" ")
            n_edit = max(1, len(toks) // 50)
            for p, w in zip(
                rng.choice(len(toks), n_edit, replace=False), zipf_terms(rng, n_edit)
            ):
                toks[p] = w if w != toks[p] else "t09999"
            text = " ".join(toks)
            out.near_pairs.append((s, d))
        else:
            out.exact_pairs.append((s, d))
        pages.at[d, "text"] = text
        pages.at[d, "lang"] = pages.at[s, "lang"]

    for path, part in (
        (out.base_path, pages.iloc[: sizes.base_docs]),
        (out.delta_path, pages.iloc[sizes.base_docs :]),
    ):
        os.makedirs(path)
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(path, "part-0.parquet"),
        )
    return out


# ---------------------------------------------------------------------------
# embeddings
# ---------------------------------------------------------------------------


@dataclass
class Embeddings:
    vectors_path: str
    queries_path: str
    targets: dict[int, int]  # query_id -> planted nearest vec_id


def _vec_table(id_name: str, ids: np.ndarray, v: np.ndarray) -> pa.Table:
    offsets = np.arange(0, v.size + 1, v.shape[1], dtype=np.int32)
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(v.ravel()))
    return pa.table({id_name: pa.array(ids, pa.int64()), "embedding": emb})


def make_embeddings(work: str, seed: int, sizes: Sizes) -> Embeddings:
    """Gaussian vectors; each query is a planted vector plus small noise,
    so that vector is its unique nearest neighbour by a wide margin."""
    rng = np.random.default_rng([seed, 2])
    v = rng.standard_normal((sizes.vectors, sizes.dim))
    targets = rng.choice(sizes.vectors, sizes.ann_queries, replace=False)
    q = v[targets] + 0.05 * rng.standard_normal((sizes.ann_queries, sizes.dim))
    out = Embeddings(
        os.path.join(work, "vectors"),
        os.path.join(work, "ann_queries"),
        {i: int(t) for i, t in enumerate(targets)},
    )
    for path, name, ids, arr in (
        (out.vectors_path, "vec_id", np.arange(sizes.vectors), v),
        (out.queries_path, "query_id", np.arange(sizes.ann_queries), q),
    ):
        os.makedirs(path)
        pq.write_table(_vec_table(name, ids, arr), os.path.join(path, "part-0.parquet"))
    return out


# ---------------------------------------------------------------------------
# query streams
# ---------------------------------------------------------------------------

ENGINE_CALLS = (
    "search", "search_and", "wand", "batch16", "bool",
    "phrase", "proximity", "approx", "locate", "snippets",
)


def _query(rng, terms_fn, lo: int = 1, hi: int = 3) -> str:
    return " ".join(terms_fn(int(rng.integers(lo, hi + 1))))


def engine_calls(seed: int, cycles: int) -> list[tuple[str, tuple]]:
    """The spark_query mix: each cycle is every call type once, in the
    fixed ENGINE_CALLS order, so that the same call type pays the first use
    of each code path in a fresh JVM on every seed; the seed chooses the
    terms. Terms are stratified Zipf draws (strat_terms); the single-term
    calls draw from the CDF slice [0.4, 0.9), ranks ~15-1500."""
    rng = np.random.default_rng([seed, 3])
    z = lambda k: strat_terms(rng, k)  # noqa: E731
    mid = lambda: zipf_terms(rng, 1, 0.4, 0.9)[0]  # noqa: E731
    out = []
    for _ in range(cycles):
        for t in ENGINE_CALLS:
            if t in ("search", "wand"):
                args = (" ".join(z(3)),)
            elif t in ("search_and", "snippets", "phrase"):
                args = (" ".join(z(2)),)
            elif t == "batch16":
                args = ({f"q{i}": " ".join(z(2)) for i in range(16)},)
            elif t == "bool":
                a, b = z(2)
                args = (("and", "or", "not")[int(rng.integers(0, 3))], a, b)
            elif t == "proximity":
                a, b = z(2)
                args = (a, b, int(rng.integers(2, 6)), bool(rng.integers(0, 2)))
            elif t == "approx":
                args = (mid()[:-1],)  # one deletion away from ten terms
            else:  # locate
                args = (mid(),)
            out.append((str(t), args))
    return out


SERVE_KINDS = (
    ("search", 0.28), ("search_and", 0.10), ("wand", 0.20), ("count", 0.15),
    ("phrase", 0.06), ("proximity", 0.06),
    ("find_docs", 0.04), ("find_strings", 0.04),
    ("string_rows", 0.035), ("docs_for_range", 0.035),
)
HOT_QUERIES = 32


def serve_stream(seed: int, n: int, n_docs: int) -> list[tuple]:
    """`n` requests for one LocalSearcher, interleaving two populations:
    `hot` draws from a fixed set of 32 queries (at most 96 distinct terms,
    inside the 512-term decoded/score LRUs); `tail` draws Zipf terms over
    the whole 10k vocabulary. A request is (population, kind, args)."""
    rng = np.random.default_rng([seed, 4])
    hot = [_query(rng, lambda k: zipf_terms(rng, k)) for _ in range(HOT_QUERIES)]
    hot_terms = sorted({t for q in hot for t in q.split()})
    kinds = [k for k, _ in SERVE_KINDS]
    p = np.array([w for _, w in SERVE_KINDS])
    out = []
    for _ in range(n):
        pop = "hot" if rng.random() < 0.5 else "tail"
        kind = str(rng.choice(kinds, p=p / p.sum()))
        if pop == "hot":
            pick = lambda k: [hot_terms[i] for i in rng.integers(0, len(hot_terms), k)]  # noqa: E731
            q = hot[int(rng.integers(0, HOT_QUERIES))]
        else:
            pick = lambda k: zipf_terms(rng, k)  # noqa: E731
            q = _query(rng, pick)
        if kind in ("search", "search_and", "wand", "count"):
            args = (q,)
        elif kind == "phrase":
            args = (" ".join(pick(2)),)
        elif kind == "proximity":
            a, b = pick(2)
            args = (a, b, int(rng.integers(2, 6)), bool(rng.integers(0, 2)))
        elif kind == "find_docs":
            args = (f"find_docs {pick(1)[0]}",)
        elif kind == "find_strings":
            args = (f"find_strings {pick(1)[0][:-1]}[0-4]",)
        elif kind == "string_rows":
            args = (f"string_rows_right {pick(1)[0][:-1]}",)
        else:
            lo = int(rng.integers(0, n_docs))
            args = (f"docs_for_range {lo} {lo + 200} {pick(1)[0]}",)
        out.append((pop, kind, args))
    return out
