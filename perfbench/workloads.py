"""The three workloads, their output checks and their metrics.

batch        the data-prep user: build_index on the base, merge_into with
             the delta, exact and MinHash dedup, the textstats trio and a
             brute-force ANN batch. index.* and ops.* carry the load.
spark_query  the Spark analyst: cycles of the ten SearchEngine call types
             over an index that set-up builds from base + delta.
serve        the interactive user: one closed-loop client sending requests
             to one LocalSearcher (and its RequestHandler); Spark only runs
             in set-up.

Every call into the program goes through `Ctx.call`, which counts it,
catches what it raises and wraps it in a span. In a traced run
(`--trace 1`) each workload also touches the layers it does not load, once,
so that every per-layer metric is measured on every workload.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs as gen
from spans import Tracer

K = 10  # top-k of every ranked call
SERVE_WARMUP = 300  # untimed requests before the serve loop is timed
SERVE_STREAM = 60_000  # requests generated; the loop stops on time first
SERVE_CHECK_EVERY = 25  # every 25th timed request is checked
SERVE_TOUCH = 2500  # requests of a traced touch: ~750 distinct tail terms
DECODED_LRU_TERMS = 512  # LocalSearcher's decoded-postings and score LRUs
# after its timed pass, batch runs the ops this many times more, warm;
# p50_ms is the median of those calls. The cold pass's ~1 s ops spread by up
# to 0.26 (IQR/median) over ten seeds, and the first calls of a session run
# up to 1.7x slower than later ones. The count is fixed, not set by a
# deadline: a later pass is faster, so a count that varied with the host's
# speed split p50_ms into levels.
BATCH_WARM_PASSES = 2


class Ctx:
    """One run: Spark session, tracer, work dir and failure accounting."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, sizes, seconds):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.extra: dict = {}  # layer facts the spans do not hold
        self.latencies: dict[str, list[float]] = {}  # call name -> wall times
        self.frames: dict = {}  # input DataFrames, read once (read_inputs)

    def call(self, name: str, layer: str, fn, *, spark: bool = True, rid=None, **attrs):
        """Run one program call inside a span. Returns (result, wall_s);
        result is None when the call raised (counted as failed)."""
        self.attempted += 1
        try:
            with self.tracer.span(name, layer, rid=rid, spark=spark) as a:
                a.update(attrs)
                out = fn()
        except Exception as e:  # a failing call is a measured outcome
            self.fail(f"{name}: {type(e).__name__}: {e}")
            return None, None
        self.latencies.setdefault(name, []).append(a["wall_s"])
        return out, a["wall_s"]

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(why[:300])

    def check(self, ok: bool, why: str) -> None:
        if not ok:
            self.fail("check " + why)

    def bench_spark(self, name: str, fn):
        """A Spark action the benchmark itself issues (input generation,
        reads for checks): spanned so no job goes unattributed, but not
        counted as a program call."""
        with self.tracer.span(name, "bench", spark=True):
            return fn()


# ---------------------------------------------------------------------------
# set-up pieces
# ---------------------------------------------------------------------------


def read_inputs(ctx: Ctx, name: str, paths: tuple[str, ...]):
    """The DataFrame over the parquet `paths`, read once per run and
    reused: reading infers the schema with a Spark job, which is the
    benchmark's work, so it happens in set-up, not in a timed section."""
    if name not in ctx.frames:
        ctx.frames[name] = ctx.bench_spark(f"read_{name}",
                                           lambda: ctx.spark.read.parquet(*paths))
    return ctx.frames[name]


def read_corpus(ctx: Ctx, corpus: gen.Corpus):
    """(base, delta, base + delta) DataFrames."""
    return (read_inputs(ctx, "base", (corpus.base_path,)),
            read_inputs(ctx, "delta", (corpus.delta_path,)),
            read_inputs(ctx, "full", (corpus.base_path, corpus.delta_path)))


def read_vectors(ctx: Ctx, emb: gen.Embeddings):
    """(vectors, query vectors) DataFrames."""
    return (read_inputs(ctx, "vectors", (emb.vectors_path,)),
            read_inputs(ctx, "ann_queries", (emb.queries_path,)))


def open_engine(ctx: Ctx, corpus: gen.Corpus, ix: str):
    from femto_spark.query.engine import SearchEngine

    _, _, full = read_corpus(ctx, corpus)
    eng, _ = ctx.call("SearchEngine", "query.engine", lambda: SearchEngine(ctx.spark, ix, corpus=full))
    return eng


def text_bytes(path: str) -> int:
    t = pq.read_table(path, columns=["text"])
    return int(pc.sum(pc.binary_length(pc.cast(t["text"], "binary"))).as_py())


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def build_and_merge(ctx: Ctx, corpus: gen.Corpus, ix: str) -> None:
    """build_index over the base, then (if it succeeded) merge_into with
    the delta."""
    from femto_spark.index.incremental import merge_into

    base, delta, _ = read_corpus(ctx, corpus)
    if build(ctx, base, ix, ctx.sizes.base_docs, corpus.base_path):
        ctx.call("merge_into", "index.incremental",
                 lambda: merge_into(ctx.spark, ix, delta), docs=ctx.sizes.delta_docs)


def build(ctx: Ctx, docs, ix: str, n_docs: int, *paths: str) -> bool:
    """build_index over `docs` (read from `paths`); False if it raised.
    A traced run also sizes the index against the text it was built from;
    an untraced run does no such work between its timed calls."""
    from femto_spark.index.build import build_index

    rep, _ = ctx.call("build_index", "index.build",
                      lambda: build_index(ctx.spark, docs, ix), docs=n_docs)
    if rep is None:
        return False
    ctx.extra.setdefault("build_stages", []).append(rep.get("stages", {}))
    if ctx.tracer.enabled:
        ctx.extra.setdefault("index_bytes_per_text_byte", []).append(
            dir_bytes(os.path.join(ix, "index")) / sum(text_bytes(p) for p in paths)
        )
    return True


def build_full(ctx: Ctx, corpus: gen.Corpus) -> str:
    """Set-up of the query workloads: one build_index over base + delta."""
    ix = os.path.join(ctx.work, "ix")
    _, _, full = read_corpus(ctx, corpus)
    build(ctx, full, ix, corpus.n_docs, corpus.base_path, corpus.delta_path)
    return ix


def touch_write(ctx: Ctx, corpus: gen.Corpus) -> None:
    """Traced runs of the query workloads also exercise the batch write
    path (build on the base, merge of the delta) once."""
    build_and_merge(ctx, corpus, os.path.join(ctx.work, "ix_touch"))
    ctx.extra["delta_text_bytes"] = text_bytes(corpus.delta_path)


def touch_ops(ctx: Ctx, corpus: gen.Corpus, texts: dict[int, str]) -> None:
    """Traced runs of the query workloads also run the batch ops once,
    checked."""
    emb = gen.make_embeddings(ctx.work, ctx.seed, ctx.sizes)
    outs, _ = run_ops(ctx, corpus, emb)
    check_ops(ctx, corpus, emb, outs, texts)


def check_index(ctx: Ctx, ix: str, texts: dict[int, str]) -> None:
    """stats.json n_docs = base + delta; sampled terms' termstats df match
    a count over the corpus."""
    from femto_spark.tokenizer import tokenize

    with open(os.path.join(ix, "stats.json")) as f:
        stats = json.load(f)
    ctx.check(stats["n_docs"] == len(texts), f"n_docs {stats['n_docs']} != {len(texts)}")
    rng = np.random.default_rng([ctx.seed, 5])
    sample = set(gen.zipf_terms(rng, 40)) | set(rng.choice(gen.WORDS, 20).tolist())
    df = dict.fromkeys(sample, 0)
    for text in texts.values():
        for t in set(tokenize(text)) & sample:
            df[t] += 1
    vocab = pq.read_table(os.path.join(ix, "vocab")).to_pydict()
    h_of = dict(zip(vocab["term"], vocab["term_hash"]))
    ts = pq.read_table(os.path.join(ix, "termstats")).to_pydict()
    df_of = dict(zip(ts["term_hash"], ts["df"]))
    for t, want in df.items():
        got = df_of.get(h_of.get(t), 0)
        ctx.check(got == want, f"termstats df({t}) {got} != {want}")


def collect_texts(ctx: Ctx, corpus: gen.Corpus) -> dict[int, str]:
    _, _, full = read_corpus(ctx, corpus)
    rows = ctx.bench_spark("collect_corpus", lambda: full.select("doc_id", "text").collect())
    return {int(r["doc_id"]): r["text"] for r in rows}


# ---------------------------------------------------------------------------
# batch ops (dedup, textstats, ANN)
# ---------------------------------------------------------------------------


def run_ops(ctx: Ctx, corpus: gen.Corpus, emb: gen.Embeddings) -> tuple[dict, list[float]]:
    """exact_duplicates, minhash_lsh_pairs, the textstats trio and
    brute_force_topk, each consumed with collect(). Returns the collected
    outputs by call name (check them with check_ops) and the latencies."""
    from femto_spark.ops.dedup import exact_duplicates, minhash_lsh_pairs
    from femto_spark.ops.similarity import brute_force_topk
    from femto_spark.ops.textstats import language_id, quality_score, token_count

    _, _, full = read_corpus(ctx, corpus)
    vecs, qs = read_vectors(ctx, emb)
    calls = (
        ("exact_duplicates", "ops.dedup", lambda: exact_duplicates(full).collect()),
        ("minhash_lsh_pairs", "ops.dedup",
         lambda: minhash_lsh_pairs(full, threshold=0.5).collect()),
        ("token_count", "ops.textstats", lambda: token_count(full).collect()),
        ("quality_score", "ops.textstats", lambda: quality_score(full).collect()),
        ("language_id", "ops.textstats", lambda: language_id(full).collect()),
        ("brute_force_topk", "ops.similarity",
         lambda: brute_force_topk(vecs, qs, k=K).collect()),
    )
    outs, lat = {}, []
    for name, layer, fn in calls:
        out, t = ctx.call(name, layer, fn)
        if out is not None:
            outs[name] = out
            lat.append(t)
    return outs, lat


def check_ops(ctx: Ctx, corpus: gen.Corpus, emb: gen.Embeddings, outs: dict,
              texts: dict[int, str]) -> None:
    """Checks of one run_ops pass: planted exact copies grouped, MinHash
    pairs at or above the threshold (planted recall reported), one
    textstats row per doc and sampled token counts, planted neighbours at
    rank 1."""
    from femto_spark.tokenizer import tokenize

    if "exact_duplicates" in outs:
        together = {(a, b) for g in outs["exact_duplicates"]
                    for a in g["doc_ids"] for b in g["doc_ids"]}
        for pair in corpus.exact_pairs:
            ctx.check(pair in together, f"exact copy {pair} not grouped")

    if "minhash_lsh_pairs" in outs:
        pairs = outs["minhash_lsh_pairs"]
        found = {(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"])) for r in pairs}
        hit = sum(p in found for p in corpus.near_pairs)
        ctx.extra["pairs_out"] = len(found)
        ctx.extra["planted_recall"] = hit / max(1, len(corpus.near_pairs))
        ctx.check(all(r["jaccard"] >= 0.5 for r in pairs), "minhash pair below threshold")

    for name in ("token_count", "quality_score", "language_id"):
        if name in outs:
            ctx.check(len(outs[name]) == corpus.n_docs, f"{name} rows {len(outs[name])}")
    if "token_count" in outs:
        counts = {r["doc_id"]: r["n_tokens"] for r in outs["token_count"]}
        rng = np.random.default_rng([ctx.seed, 6])
        for d in rng.choice(sorted(texts), 50, replace=False).tolist():
            ctx.check(counts.get(d) == len(tokenize(texts[d])), f"token_count({d})")

    if "brute_force_topk" in outs:
        first = {x["query_id"]: x["vec_id"] for x in outs["brute_force_topk"] if x["rank"] == 1}
        for q, want in emb.targets.items():
            ctx.check(first.get(q) == want, f"ann query {q} rank1 {first.get(q)} != {want}")


# ---------------------------------------------------------------------------
# Spark query engine
# ---------------------------------------------------------------------------


def engine_call(eng, kind: str, args: tuple):
    if kind == "search":
        return eng.search(args[0], k=K).collect()
    if kind == "search_and":
        return eng.search(args[0], k=K, mode="and").collect()
    if kind == "wand":
        return eng.search_wand(args[0], k=K).collect()
    if kind == "batch16":
        return eng.search_many(args[0], k=K).collect()
    if kind == "bool":
        return eng.boolean_docs(*args).collect()
    if kind == "phrase":
        return eng.phrase(args[0]).collect()
    if kind == "proximity":
        return eng.proximity(*args).collect()
    if kind == "approx":
        return eng.approx_docs(args[0], 1).collect()
    if kind == "locate":
        return eng.locate(args[0]).collect()
    return eng.snippets(args[0], k=K).collect()


def check_engine(ctx: Ctx, oracle, kind: str, args: tuple, rows) -> None:
    """Rank-identical and bit-equal (after rounding) to OracleIndex."""
    why = f"engine.{kind}{args!r:.80}"
    if kind in ("search", "search_and", "wand"):
        mode = "and" if kind == "search_and" else "or"
        got = [(r["doc_id"], r["score"]) for r in rows]
        ctx.check(got == oracle.search(args[0], K, mode), why)
    elif kind == "batch16":
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
        ok = all(
            [(d, s) for _, d, s in sorted(by_q.get(qid, []))] == oracle.search(q, K)
            for qid, q in args[0].items()
        )
        ctx.check(ok, why)
    elif kind == "bool":
        ctx.check(sorted(r["doc_id"] for r in rows) == sorted(oracle.boolean(*args)), why)
    elif kind == "phrase":
        got = sorted((r["doc_id"], r["n_matches"], r["first_pos"]) for r in rows)
        ctx.check(got == oracle.phrase(args[0]), why)
    elif kind == "proximity":
        got = sorted((r["doc_id"], r["offset"]) for r in rows)
        ctx.check(got == oracle.proximity(*args), why)
    elif kind == "approx":
        ctx.check(sorted(r["doc_id"] for r in rows) == sorted(oracle.approx_docs(args[0], 1)), why)
    elif kind == "locate":
        pl = oracle.postings.get(args[0], {})
        want = [(d, p) for d in sorted(pl) for p in pl[d]]
        ctx.check([(r["doc_id"], r["pos"]) for r in rows] == want, why)
    else:  # snippets
        from femto_spark.tokenizer import tokenize

        got = [(r["doc_id"], r["score"]) for r in rows]
        ok = got == oracle.search(args[0], K)
        for r in rows:
            firsts = [
                oracle.postings[t][r["doc_id"]][0]
                for t in set(tokenize(args[0]))
                if r["doc_id"] in oracle.postings.get(t, {})
            ]
            ok = ok and r["first_pos"] == min(firsts, default=None)
        ctx.check(ok, why)


def run_engine(ctx: Ctx, eng, calls, deadline: float | None) -> list[tuple]:
    """Send whole cycles of the call mix (one call of each type per cycle)
    until `deadline`; None sends one cycle. Returns (kind, args, rows, s)."""
    per_cycle = len(gen.ENGINE_CALLS)
    done = []
    for i, (kind, args) in enumerate(calls):
        if i % per_cycle == 0 and i and (deadline is None or time.time() >= deadline):
            break
        rows, t = ctx.call(f"engine.{kind}", "query.engine",
                           lambda: engine_call(eng, kind, args), rid=i, kind=kind)
        done.append((kind, args, rows, t))
    return done


# ---------------------------------------------------------------------------
# serving plane
# ---------------------------------------------------------------------------


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def serve_request(ls, handler, kind: str, args: tuple):
    if kind == "search":
        return ls.search(args[0], k=K)
    if kind == "search_and":
        return ls.search(args[0], k=K, mode="and")
    if kind == "wand":
        return ls.search_wand(args[0], k=K)
    if kind == "count":
        return ls.count(args[0])
    if kind == "phrase":
        return ls.phrase(args[0])
    if kind == "proximity":
        return ls.proximity(*args)
    out = json.loads(handler.handle(args[0]))
    if "error" in out:
        raise RuntimeError(out["error"])
    return out


LAYER_OF = {
    "find_docs": "protocol", "find_strings": "protocol",
    "string_rows": "protocol", "docs_for_range": "protocol",
}


def run_serve(ctx: Ctx, ls, handler, stream, deadline: float | None, check_every: int):
    """Closed loop: the next request goes out when the previous returns.
    Stops at `deadline` (None: after the whole stream). Returns records
    (i, pop, kind, args, wall_s, result-or-None) and keeps the result of
    every `check_every`-th request."""
    recs = []
    for i, (pop, kind, args) in enumerate(stream):
        if deadline is not None and time.time() >= deadline:
            break
        out, t = ctx.call(
            f"serving.{kind}", LAYER_OF.get(kind, "serving"),
            lambda: serve_request(ls, handler, kind, args),
            spark=False, rid=i, kind=kind, pop=pop,
        )
        recs.append((i, pop, kind, args, t, out if i % check_every == 0 else None))
    return recs


def expected_serve(oracle, kind: str, args: tuple):
    """What LocalSearcher / RequestHandler must return, from OracleIndex."""
    if kind in ("search", "search_and", "wand"):
        return oracle.search(args[0], K, "and" if kind == "search_and" else "or")
    if kind == "count":
        from femto_spark.tokenizer import tokenize

        out = []
        for t in sorted(set(tokenize(args[0]))):
            occ, nd = oracle.count(t)
            if nd:
                out.append((t, nd, occ))
        return out
    if kind == "phrase":
        return oracle.phrase(args[0])
    if kind == "proximity":
        return oracle.proximity(*args)
    verb, _, rest = args[0].partition(" ")
    if verb == "find_docs":
        pl = oracle.postings.get(rest, {})
        return {"results": [{"doc_info": str(d), "offsets": pl[d]} for d in sorted(pl)]}
    if verb == "find_strings":
        rx = re.compile(rest)
        return {"matches": sorted(
            ({"range": [0, oracle.count(t)[0] - 1], "cost": 0, "match": t}
             for t in oracle.postings if rx.search(t)),
            key=lambda m: m["match"])}
    if verb == "string_rows_right":
        counts: dict = {}
        for t in oracle.postings:
            if t.startswith(rest) and len(t) > len(rest):
                counts[t[len(rest)]] = counts.get(t[len(rest)], 0) + oracle.count(t)[0]
        return {"right": [{"ch": c, "range": [0, n - 1]} for c, n in sorted(counts.items())]}
    lo, hi, term = rest.split()
    lo, hi = int(lo), int(hi)
    pl = oracle.postings.get(term, {})
    return {"range": [lo, hi],
            "results": [{"doc_info": str(d)} for d in sorted(pl) if lo <= d <= hi]}


def check_serve(ctx: Ctx, oracle, recs) -> int:
    n = 0
    for i, pop, kind, args, _t, out in recs:
        if out is None:
            continue
        if kind == "proximity" or kind == "phrase":
            out = [tuple(x) for x in out]
        if kind == "find_strings":
            out = {"matches": sorted(out["matches"], key=lambda m: m["match"])}
        n += 1
        ctx.check(out == expected_serve(oracle, kind, args), f"serve {i} {kind}{args!r:.80}")
    return n


def open_searcher(ctx: Ctx, ix: str):
    from femto_spark.protocol import RequestHandler
    from femto_spark.serving import LocalSearcher

    rss0 = rss_mb()
    ls, t = ctx.call("LocalSearcher", "serving", lambda: LocalSearcher(ix), spark=False)
    ctx.extra["open_s"] = t or 0.0
    return ls, RequestHandler(ls), rss0


# ---------------------------------------------------------------------------
# the workloads
# ---------------------------------------------------------------------------


@dataclass
class Result:
    setup_s: float
    timed_s: float
    latencies_s: list[float]
    items: int  # work items completed in the timed section


def make_inputs(ctx: Ctx, with_embeddings: bool):
    corpus = ctx.bench_spark(
        "make_corpus", lambda: gen.make_corpus(ctx.spark, ctx.work, ctx.seed, ctx.sizes)
    )
    read_corpus(ctx, corpus)
    emb = None
    if with_embeddings:
        emb = gen.make_embeddings(ctx.work, ctx.seed, ctx.sizes)
        read_vectors(ctx, emb)
    return corpus, emb


def touch_engine(ctx: Ctx, corpus, ix: str, oracle) -> None:
    eng = open_engine(ctx, corpus, ix)
    for kind, args, rows, _t in run_engine(ctx, eng, gen.engine_calls(ctx.seed, 1), None):
        if rows is not None:
            check_engine(ctx, oracle, kind, args, rows)


def serve_facts(ctx: Ctx, ls, rss0: float, recs) -> None:
    """Serving-layer facts the spans do not hold."""
    from femto_spark.tokenizer import tokenize

    ctx.extra["rss_added_mb"] = rss_mb() - rss0
    ctx.extra["vocab_rows_read"] = ls.vocab_rows_read
    distinct = len({
        t
        for _i, pop, kind, args, _t, _o in recs
        if pop == "tail" and kind not in LAYER_OF
        for a in args
        if isinstance(a, str)
        for t in tokenize(a)
    })
    ctx.extra["tail_distinct_terms"] = distinct
    if ctx.tracer.enabled:  # else serving.tail.* would time only cache hits
        ctx.check(distinct > DECODED_LRU_TERMS,
                  f"tail saw {distinct} distinct terms, not more than the "
                  f"{DECODED_LRU_TERMS}-term LRUs")


def touch_serving(ctx: Ctx, ix: str, oracle, n_docs: int) -> None:
    ls, handler, rss0 = open_searcher(ctx, ix)
    stream = gen.serve_stream(ctx.seed, SERVE_TOUCH, n_docs)
    recs = run_serve(ctx, ls, handler, stream, None, 10)
    serve_facts(ctx, ls, rss0, recs)
    check_serve(ctx, oracle, recs)


def batch(ctx: Ctx, t_start: float) -> Result:
    corpus, emb = make_inputs(ctx, with_embeddings=True)
    t0 = time.time()
    setup_s = t0 - t_start
    deadline = t0 + ctx.seconds
    ops_outs, ix = [], None
    while not ops_outs or time.time() < deadline:
        ix = os.path.join(ctx.work, f"ix{len(ops_outs)}")
        build_and_merge(ctx, corpus, ix)
        ops_outs.append(run_ops(ctx, corpus, emb)[0])
    t1 = time.time()  # throughput covers the passes only
    passes = len(ops_outs)
    lat = []  # p50_ms: the warm ops calls only
    for _ in range(BATCH_WARM_PASSES):
        outs, t_ops = run_ops(ctx, corpus, emb)
        ops_outs.append(outs)
        lat += t_ops
    texts = collect_texts(ctx, corpus)
    check_index(ctx, ix, texts)
    for outs in ops_outs:
        check_ops(ctx, corpus, emb, outs, texts)
    if ctx.tracer.enabled:
        ctx.extra["delta_text_bytes"] = text_bytes(corpus.delta_path)
        from femto_spark.oracle import OracleIndex

        oracle = OracleIndex(texts)
        touch_engine(ctx, corpus, ix, oracle)
        touch_serving(ctx, ix, oracle, corpus.n_docs)
    return Result(setup_s, t1 - t0, lat, corpus.n_docs * passes)


def spark_query(ctx: Ctx, t_start: float) -> Result:
    from femto_spark.oracle import OracleIndex

    corpus, _ = make_inputs(ctx, with_embeddings=False)
    ix = build_full(ctx, corpus)
    eng = open_engine(ctx, corpus, ix)
    t0 = time.time()
    setup_s = t0 - t_start
    done = run_engine(ctx, eng, gen.engine_calls(ctx.seed, 50), t0 + ctx.seconds)
    t1 = time.time()
    texts = collect_texts(ctx, corpus)
    check_index(ctx, ix, texts)
    oracle = OracleIndex(texts)
    for kind, args, rows, _t in done:
        if rows is not None:
            check_engine(ctx, oracle, kind, args, rows)
    if ctx.tracer.enabled:
        touch_write(ctx, corpus)
        touch_ops(ctx, corpus, texts)
        touch_serving(ctx, ix, oracle, corpus.n_docs)
    lat = [t for *_, t in done if t is not None]
    return Result(setup_s, t1 - t0, lat, len(lat))


def serve(ctx: Ctx, t_start: float) -> Result:
    from femto_spark.oracle import OracleIndex

    corpus, _ = make_inputs(ctx, with_embeddings=False)
    ix = build_full(ctx, corpus)
    ls, handler, rss0 = open_searcher(ctx, ix)
    setup_s = time.time() - t_start
    stream = gen.serve_stream(ctx.seed, SERVE_STREAM, corpus.n_docs)
    run_serve(ctx, ls, handler, stream[:SERVE_WARMUP], None, len(stream))
    t0 = time.time()
    recs = run_serve(ctx, ls, handler, stream[SERVE_WARMUP:], t0 + ctx.seconds,
                     SERVE_CHECK_EVERY)
    t1 = time.time()
    serve_facts(ctx, ls, rss0, recs)
    texts = collect_texts(ctx, corpus)
    check_index(ctx, ix, texts)
    oracle = OracleIndex(texts)
    ctx.check(check_serve(ctx, oracle, recs) > 0, "no serve request was checked")
    if ctx.tracer.enabled:
        touch_write(ctx, corpus)
        touch_ops(ctx, corpus, texts)
        touch_engine(ctx, corpus, ix, oracle)
    lat = [t for *_, t, _o in recs if t is not None]
    return Result(setup_s, t1 - t0, lat, len(lat))


WORKLOADS = {"batch": batch, "spark_query": spark_query, "serve": serve}


def end_to_end(res: Result) -> dict[str, tuple[float, str]]:
    return {
        "setup_s": (res.setup_s, "s"),
        "throughput_per_s": (res.items / res.timed_s, "1/s"),
        "p50_ms": (statistics.median(res.latencies_s) * 1e3, "ms"),
    }

