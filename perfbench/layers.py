"""Per-layer metrics of a traced run, computed from its spans.

Names follow the program's modules: index.build (build.*),
index.incremental (merge.*), ops.dedup (dedup.*), ops.similarity (ann.*),
ops.textstats (textstats.*), query.engine (engine.*), serving (serving.*)
and protocol (protocol.*). Spark counts (jobs, tasks, executor time,
shuffle and spill bytes) come from the status-store probe in spans.py.
"""

from __future__ import annotations

import statistics

from inputs import ENGINE_CALLS

LAYERS = (
    "index.build", "index.incremental", "ops.dedup", "ops.similarity",
    "ops.textstats", "query.engine", "serving", "protocol",
)
BUILD_STAGES = ("docs", "vocab", "partials", "index", "termstats")
SERVE_KINDS = ("search", "search_and", "wand", "count", "phrase", "proximity")
PROTOCOL_KINDS = ("find_docs", "find_strings", "string_rows", "docs_for_range")
ENGINE_FIELDS = (("p50_ms", "ms"), ("jobs", "count"), ("tasks", "count"),
                 ("driver_ms", "ms"), ("executor_ms", "ms"))

PER_LAYER: list[tuple[str, str]] = (
    [(f"build.{s}_s", "s") for s in BUILD_STAGES]
    + [("build.jobs", "count"), ("build.tasks", "count"),
       ("build.executor_run_s", "s"), ("build.executor_cpu_s", "s"),
       ("build.gc_s", "s"), ("build.shuffle_write_bytes", "bytes"),
       ("build.spill_bytes", "bytes"), ("build.driver_s", "s"),
       ("build.core_util", "ratio"), ("build.index_bytes_per_text_byte", "ratio"),
       ("build.docs_per_s", "1/s")]
    + [("merge.jobs", "count"), ("merge.tasks", "count"),
       ("merge.executor_run_s", "s"), ("merge.shuffle_write_bytes", "bytes"),
       ("merge.spill_bytes", "bytes"), ("merge.driver_s", "s"),
       ("merge.bytes_written_per_delta_byte", "ratio"), ("merge.docs_per_s", "1/s")]
    + [("dedup.exact_s", "s"), ("dedup.minhash_s", "s"), ("dedup.minhash_jobs", "count"),
       ("dedup.minhash_executor_run_s", "s"), ("dedup.minhash_shuffle_bytes", "bytes"),
       ("dedup.minhash_spill_bytes", "bytes"), ("dedup.pairs_out", "count"),
       ("dedup.planted_recall", "ratio")]
    + [("ann.s", "s"), ("ann.jobs", "count"), ("ann.executor_run_s", "s"),
       ("ann.core_util", "ratio")]
    + [("textstats.s", "s"), ("textstats.jobs", "count")]
    + [(f"engine.{t}.{f}", u) for t in ENGINE_CALLS for f, u in ENGINE_FIELDS]
    + [("engine.jobs_per_query", "count"), ("engine.stages_per_query", "count"),
       ("engine.shuffle_bytes_per_query", "bytes"), ("engine.driver_share", "ratio"),
       ("engine.core_util", "ratio")]
    + [(f"serving.{k}.p50_ms", "ms") for k in SERVE_KINDS]
    + [("serving.hot.p50_ms", "ms"), ("serving.tail.p50_ms", "ms"),
       ("serving.tail.p99_ms", "ms"), ("serving.open_s", "s"),
       ("serving.vocab_rows_read", "count"), ("serving.tail_distinct_terms", "count"),
       ("serving.rss_added_mb", "MB")]
    + [(f"protocol.{k}.p50_ms", "ms") for k in PROTOCOL_KINDS]
    + [("unattributed_jobs", "count"), ("failed_frac", "ratio"),
       ("trace.spans", "count"), ("trace.overhead_frac", "ratio")]
    + [(f"self_s.{layer}", "s") for layer in LAYERS]
)


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def _p(xs, q: float) -> float:
    import numpy as np

    return float(np.percentile(xs, q)) if xs else 0.0


def per_layer(ctx, cores: int) -> dict[str, float]:
    tr = ctx.tracer
    done = [s for s in tr.spans if "end" in s]
    wall = lambda s: s["end"] - s["start"]  # noqa: E731
    sp = lambda s, k: s.get("spark", {}).get(k, 0)  # noqa: E731

    def named(name):
        return [s for s in done if s["name"] == name]

    def util(ss):
        w = sum(wall(s) for s in ss)
        return sum(sp(s, "executor_run_ms") for s in ss) / 1e3 / (w * cores) if w else 0.0

    ex = ctx.extra
    out: dict[str, float] = {}

    b = named("build_index")
    for st in BUILD_STAGES:
        out[f"build.{st}_s"] = _med(r.get(st) for r in ex.get("build_stages", []))
    out.update({
        "build.jobs": _med(sp(s, "jobs") for s in b),
        "build.tasks": _med(sp(s, "tasks") for s in b),
        "build.executor_run_s": _med(sp(s, "executor_run_ms") / 1e3 for s in b),
        "build.executor_cpu_s": _med(sp(s, "executor_cpu_ns") / 1e9 for s in b),
        "build.gc_s": _med(sp(s, "gc_ms") / 1e3 for s in b),
        "build.shuffle_write_bytes": _med(sp(s, "shuffle_write_bytes") for s in b),
        "build.spill_bytes": _med(sp(s, "spill_bytes") for s in b),
        "build.driver_s": _med(sp(s, "driver_s") for s in b),
        "build.core_util": util(b),
        "build.index_bytes_per_text_byte": _med(ex.get("index_bytes_per_text_byte", [])),
        "build.docs_per_s": _med(s["attrs"]["docs"] / wall(s) for s in b),
    })

    m = named("merge_into")
    out.update({
        "merge.jobs": _med(sp(s, "jobs") for s in m),
        "merge.tasks": _med(sp(s, "tasks") for s in m),
        "merge.executor_run_s": _med(sp(s, "executor_run_ms") / 1e3 for s in m),
        "merge.shuffle_write_bytes": _med(sp(s, "shuffle_write_bytes") for s in m),
        "merge.spill_bytes": _med(sp(s, "spill_bytes") for s in m),
        "merge.driver_s": _med(sp(s, "driver_s") for s in m),
        "merge.bytes_written_per_delta_byte":
            _med(sp(s, "output_bytes") for s in m) / max(1, ex.get("delta_text_bytes", 1)),
        "merge.docs_per_s": _med(s["attrs"]["docs"] / wall(s) for s in m),
    })

    mh = named("minhash_lsh_pairs")
    out.update({
        "dedup.exact_s": _med(wall(s) for s in named("exact_duplicates")),
        "dedup.minhash_s": _med(wall(s) for s in mh),
        "dedup.minhash_jobs": _med(sp(s, "jobs") for s in mh),
        "dedup.minhash_executor_run_s": _med(sp(s, "executor_run_ms") / 1e3 for s in mh),
        "dedup.minhash_shuffle_bytes":
            _med(sp(s, "shuffle_read_bytes") + sp(s, "shuffle_write_bytes") for s in mh),
        "dedup.minhash_spill_bytes": _med(sp(s, "spill_bytes") for s in mh),
        "dedup.pairs_out": ex.get("pairs_out", 0),
        "dedup.planted_recall": ex.get("planted_recall", 0.0),
    })

    a = named("brute_force_topk")
    out.update({
        "ann.s": _med(wall(s) for s in a),
        "ann.jobs": _med(sp(s, "jobs") for s in a),
        "ann.executor_run_s": _med(sp(s, "executor_run_ms") / 1e3 for s in a),
        "ann.core_util": util(a),
    })

    ts = [s for s in done if s["layer"] == "ops.textstats"]
    n_ts_runs = max(1, len(named("token_count")))
    out["textstats.s"] = sum(wall(s) for s in ts) / n_ts_runs
    out["textstats.jobs"] = sum(sp(s, "jobs") for s in ts) / n_ts_runs

    eng = [s for s in done if s["layer"] == "query.engine" and "kind" in s["attrs"]]
    for t in ENGINE_CALLS:
        e = [s for s in eng if s["attrs"].get("kind") == t]
        out[f"engine.{t}.p50_ms"] = _med(wall(s) * 1e3 for s in e)
        out[f"engine.{t}.jobs"] = _med(sp(s, "jobs") for s in e)
        out[f"engine.{t}.tasks"] = _med(sp(s, "tasks") for s in e)
        out[f"engine.{t}.driver_ms"] = _med(sp(s, "driver_s") * 1e3 for s in e)
        out[f"engine.{t}.executor_ms"] = _med(sp(s, "executor_run_ms") for s in e)
    n = max(1, len(eng))
    ew = sum(wall(s) for s in eng)
    out.update({
        "engine.jobs_per_query": sum(sp(s, "jobs") for s in eng) / n,
        "engine.stages_per_query": sum(sp(s, "stages") for s in eng) / n,
        "engine.shuffle_bytes_per_query":
            sum(sp(s, "shuffle_read_bytes") + sp(s, "shuffle_write_bytes") for s in eng) / n,
        "engine.driver_share": sum(sp(s, "driver_s") for s in eng) / ew if ew else 0.0,
        "engine.core_util": util(eng),
    })

    req = [s for s in done if s["layer"] in ("serving", "protocol") and "pop" in s["attrs"]]
    by_kind = lambda k: [wall(s) * 1e3 for s in req if s["attrs"]["kind"] == k]  # noqa: E731
    by_pop = lambda p: [wall(s) * 1e3 for s in req if s["attrs"]["pop"] == p]  # noqa: E731
    for k in SERVE_KINDS:
        out[f"serving.{k}.p50_ms"] = _med(by_kind(k))
    out.update({
        "serving.hot.p50_ms": _med(by_pop("hot")),
        "serving.tail.p50_ms": _med(by_pop("tail")),
        "serving.tail.p99_ms": _p(by_pop("tail"), 99),
        "serving.open_s": ex.get("open_s", 0.0),
        "serving.vocab_rows_read": ex.get("vocab_rows_read", 0),
        "serving.tail_distinct_terms": ex.get("tail_distinct_terms", 0),
        "serving.rss_added_mb": ex.get("rss_added_mb", 0.0),
    })
    for k in PROTOCOL_KINDS:
        out[f"protocol.{k}.p50_ms"] = _med(by_kind(k))

    t0 = min((s["start"] for s in done), default=0.0)
    t1 = max((s["end"] for s in done), default=0.0)
    submitted = tr.probe.jobs_submitted_between(t0, t1) if tr.probe else set()
    stray = sorted(submitted - tr.attributed_jobs())
    out["unattributed_jobs"] = len(stray)
    if stray:
        ctx.fail(f"{len(stray)} Spark jobs ran outside every span: "
                 + "; ".join(tr.probe.store.job(j).name() for j in stray[:5]))
    out["failed_frac"] = ctx.failed / max(1, ctx.attempted)
    out["trace.spans"] = len(tr.spans)
    out["trace.overhead_frac"] = tr.overhead_s / (t1 - t0) if t1 > t0 else 0.0
    selfs = tr.self_times()
    for layer in LAYERS:
        out[f"self_s.{layer}"] = sum(selfs[s["id"]] for s in done if s["layer"] == layer)
    return out
