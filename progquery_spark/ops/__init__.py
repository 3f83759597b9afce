"""Training-data pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing, event streams).

These extend the reference's operator surface with the operations a
large-scale training-data pipeline needs (driver brief): each operator is a
``queries()`` entry with a DuckDB oracle over the same parquet tables.
Cross-engine determinism discipline: all fuzzy/hashy math is exact integer
arithmetic in the 2^31-1 field (shared LCG constants), floats only enter
through single IEEE ops (one divide, one sqrt) whose results are
bit-identical in Spark and DuckDB — so value-hash parity is exact, never
approximate.
"""

from __future__ import annotations

import time


def all_queries():
    from . import dedup, events, multimodal, sampling, similarity, text

    out = {}
    for mod in (text, dedup, similarity, multimodal, events, sampling):
        out.update(mod.queries())
    return out


def all_oracles():
    from . import dedup, events, multimodal, sampling, similarity, text

    out = {}
    for mod in (text, dedup, similarity, multimodal, events, sampling):
        out.update(mod.oracles())
    return out


def force(df) -> None:
    """Evaluate every column of ``df`` (a noop sink; ``count()`` lets
    Catalyst prune projection-only work)."""
    df.write.format("noop").mode("overwrite").save()


def bench_ops(spark, sf_dir: str) -> dict[str, float]:
    """Headline op timings for bench.py."""
    from . import dedup, events, similarity

    timings = {}
    from . import sampling, text

    for name, fn in (
        ("op_dedup_minhash", dedup.q_dedup_minhash_lsh),
        ("op_ann_topk", similarity.q_ann_topk),
        ("op_sessionize", events.q_events_sessionized),
        ("op_tokens_fast", text.q_text_tokens_fast),
        ("op_pack_documents", sampling.q_pack_documents),
    ):
        t = time.time()
        force(fn(spark, sf_dir))
        timings[name] = round(time.time() - t, 3)

    # amortized ANN economics (VERDICT r4 #1): the one-time banding-index
    # build vs the per-batch probe that consumes it — the production split
    # the inline ann_lsh_topk row deliberately does not show
    import shutil
    import tempfile

    idx = tempfile.mkdtemp(prefix="pq_bench_embidx_")
    try:
        t = time.time()
        similarity.build_embedding_index(spark, sf_dir, idx)
        timings["op_embidx_build"] = round(time.time() - t, 3)
        t = time.time()
        force(similarity.q_ann_lsh_topk_indexed(spark, sf_dir, idx))
        timings["op_ann_indexed_probe"] = round(time.time() - t, 3)
    finally:
        shutil.rmtree(idx, ignore_errors=True)
    return timings
