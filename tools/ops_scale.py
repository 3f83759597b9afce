"""Ops-family scale evidence: the training-data operators at ~400-1000x
the bench corpus (the documents/embeddings analog of the 28.7M-turn KG
run in BENCH/BASELINE.md).

Usage:
  python tools/ops_scale.py prepare <dir> [n_docs] [n_vecs]
  python tools/ops_scale.py probe   <dir>            # banding sanity only
  python tools/ops_scale.py run     <dir> [cpus] [op ...]
  python tools/ops_scale.py pair    <dir> <lo>-<hi> <reps> <op ...>

``prepare`` synthesizes a deterministic corpus with PLANTED structure so
every measured op has known work to find (no external data):

documents (n_docs, default 2M, ~40 'w###' tokens from a 1024-word vocab):
  - docs come in groups of 4; member 1 of every 10th group is an EXACT
    clone of member 0; member 2 of every (10k+5)th group is a NEAR-DUP
    (one word mutated, Jaccard ~0.9);
  - every 97th group carries a shared 12-token boilerplate prefix —
    the degenerate-bucket axis the POSTING_CAP/BUCKET_CAP guards bound.
embeddings (n_vecs, default 2M, 64-d float):
  - v = label-tilt(base) + uniform noise(base); for vec_id % 40 == 1 the
    vector shares its base (tilt AND noise) with vec_id-1, differing by
    +0.002 in one dimension -> planted near-dup pairs at cos ~0.999
    (n_vecs/40 of them), while random same-label pairs sit at cos ~0.12.

``run`` measures each op with its documented scale knobs (simhash
band_bits=16, embedding-LSH bits=20 / threshold 0.80) — the narrow gate
defaults saturate by design at this corpus size (8-bit keys / fixed-K
IVF pair blocking), which is exactly what the knobs exist for.
Embedding-LSH key space must track the corpus (2^bits >= ~n/2): bits=16
at 2M vectors leaves avg bucket ~30 and the verify join's shuffle of
~236M candidate pairs carrying full quantized vectors OOM-killed the
64 GB JVM; bits=20 holds avg bucket ~2.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# 16k words -> ~270M possible 2-grams: postings stay sparse at 2M docs
# (mean df ~0.3) the way a natural Zipf tail does, so the inverted-index
# baseline measures verify cost, not an artificial small-vocab blow-up;
# the planted boilerplate grams are still hot enough to trip POSTING_CAP
VOCAB = 16384
LANGS = "array('en','zh','es','fr','de')"
BOILER = " ".join(f"bp{i}" for i in range(12))


def prepare(out_dir: str, n_docs: int, n_vecs: int) -> None:
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from progquery_spark.session import get_spark

    spark = get_spark("ops-scale-prep")

    d = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    g = F.expr("doc_id DIV 4")
    m = F.expr("doc_id % 4")
    # stream s: which content stream the doc draws words from. Exact
    # clones and near-dups draw from member 0's stream.
    s = (
        F.when((m == 1) & (g % 10 == 0), F.lit(0))
        .when((m == 2) & (g % 10 == 5), F.lit(0))
        .otherwise(m)
    )
    d = d.withColumn("g", g).withColumn("m", m).withColumn("s", s)
    n_words = (F.lit(30) + F.pmod(F.col("g") * 7 + F.col("s") * 13, F.lit(30))).alias(
        "n_words"
    )
    d = d.withColumn("n_words", n_words)
    # near-dup mutation position (1-based), only for member 2 of 10k+5 groups
    d = d.withColumn(
        "mut_pos",
        F.when(
            (F.col("m") == 2) & (F.col("g") % 10 == 5),
            F.pmod(F.col("g"), F.col("n_words")) + 1,
        ).otherwise(F.lit(-1)),
    )

    def word(i):
        # xxhash64, NOT affine arithmetic: (a + pos*c) mod V is a fixed-
        # stride progression, which makes every document's token set a
        # shifted copy of every other's — a degenerate all-near-dup corpus
        base = F.pmod(F.xxhash64(F.col("g"), F.col("s"), i), F.lit(VOCAB))
        idx = F.when(i == F.col("mut_pos"), F.pmod(base + 1, F.lit(VOCAB))).otherwise(
            base
        )
        return F.concat(F.lit("w"), idx.cast("string"))

    body = F.concat_ws(
        " ", F.transform(F.sequence(F.lit(1), F.col("n_words")), word)
    )
    text = F.when(
        F.col("g") % 97 == 3, F.concat(F.lit(BOILER + " "), body)
    ).otherwise(body)
    docs = d.select(
        "doc_id",
        text.alias("text"),
        F.element_at(F.expr(LANGS), (F.pmod("doc_id", F.lit(5)) + 1).cast("int")).alias(
            "lang"
        ),
        F.concat(F.lit("src"), F.pmod("doc_id", F.lit(20)).cast("string")).alias(
            "source"
        ),
    ).withColumn("n_chars", F.length("text"))
    docs.repartition(64).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    v = spark.range(n_vecs).select(F.col("id").alias("vec_id"))
    base = F.when(F.col("vec_id") % 40 == 1, F.col("vec_id") - 1).otherwise(
        F.col("vec_id")
    )
    v = v.withColumn("base", base).withColumn(
        "label", F.pmod("base", F.lit(10)).cast("int")
    )
    pert_dim = F.pmod("vec_id", F.lit(64)) + 1

    def comp(dd):
        tilt = (
            F.pmod(F.col("label") * 37 + dd * 11, F.lit(15)) - 7
        ).cast("double") / 20.0
        # hashed per (base, dim) — affine-in-dim streams are shifted
        # progressions that correlate every vector with every other
        noise = (
            F.pmod(F.xxhash64(F.col("base"), dd), F.lit(2001)) - 1000
        ).cast("double") / 1000.0
        pert = F.when(
            (F.col("vec_id") % 40 == 1) & (dd == pert_dim), F.lit(0.002)
        ).otherwise(F.lit(0.0))
        return (tilt + noise + pert).cast("float")

    vecs = v.select(
        "vec_id",
        F.transform(F.sequence(F.lit(1), F.lit(64)), comp).alias("embedding"),
        "label",
    )
    vecs.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )
    nd = spark.read.parquet(f"{out_dir}/documents.parquet").count()
    nv = spark.read.parquet(f"{out_dir}/embeddings.parquet").count()
    print(json.dumps({"prepared": out_dir, "n_docs": nd, "n_vecs": nv}))
    spark.stop()


_ELSH_BITS_CACHE: dict[str, int] = {}


def _elsh_bits(spark, corpus: str) -> int:
    """Embedding-LSH key width per the op's own guidance: 2^bits >= n/2."""
    if corpus not in _ELSH_BITS_CACHE:
        import math

        n = spark.read.parquet(f"{corpus}/embeddings.parquet").count()
        _ELSH_BITS_CACHE[corpus] = max(8, math.ceil(math.log2(max(n, 4) / 2)))
    return _ELSH_BITS_CACHE[corpus]


def _scale_index_path(corpus: str) -> str:
    return os.path.join(corpus, "_embidx")


def _scale_index_build(spark, corpus: str, similarity):
    """Build the persisted banding index for this corpus at its documented
    key width; returns the index frame (so _timed's noop write + count
    reflect the materialized index). The old index is DELETED first so
    every timed rep measures a real build: build_embedding_index's
    idempotent resume is the production contract, but under pair()'s
    min-per-(op,level) protocol a resume no-op (~2 s) would silently
    replace the build cost (~100 s at 2M vectors) in the recorded
    numbers — the op named embidx_build must time the build."""
    import shutil

    p = _scale_index_path(corpus)
    shutil.rmtree(p, ignore_errors=True)
    similarity.build_embedding_index(
        spark, corpus, p, bits=_elsh_bits(spark, corpus)
    )
    return similarity.read_embedding_index(
        spark, p, sf_dir=corpus, bits=_elsh_bits(spark, corpus)
    )


def _timed(name, mk, results):
    # Time construction + a noop-sink write: some operators do eager
    # driver-side work while building the frame (the CC loop, codebook
    # training), and a bare .count() lets Catalyst PRUNE every computed
    # column on projection-only ops — measured: text_tokens "ran" in 5.4 s
    # on 4 pinned cores at 2M docs because the regexp never executed; the
    # noop sink forces full evaluation of every output column. The row
    # count is taken separately, untimed.
    t0 = time.time()
    df = mk()
    df.write.format("noop").mode("overwrite").save()
    dt = round(time.time() - t0, 1)
    n = df.count()
    results[name] = {"rows": n, "wall_s": dt}
    print(f"  {name}: {n} rows in {dt}s", flush=True)


def probe(corpus: str) -> None:
    sys.path.insert(0, ROOT)
    from progquery_spark.ops import dedup
    from progquery_spark.session import get_spark

    spark = get_spark("ops-scale-probe")
    r = dedup.q_dedup_lsh_bucket_stats(spark, corpus).collect()[0]
    print(json.dumps({"minhash_banding": r.asDict()}))
    spark.stop()


_PACK_BUCKETS_CACHE: dict[str, int] = {}


def _pack_buckets(spark, corpus: str) -> int:
    """Corpus-tracking packing parallelism: ~1 stream per 50k docs (the
    documented n_buckets scale knob — 4 gate buckets at 2M docs would
    serialize the window sort into 4 executor-crushing partitions).
    Memoized per corpus path: pack_documents and corpus_pipeline both
    call it in one run and the corpus is immutable."""
    if corpus not in _PACK_BUCKETS_CACHE:
        n = spark.read.parquet(f"{corpus}/documents.parquet").count()
        _PACK_BUCKETS_CACHE[corpus] = max(4, n // 50_000)
    return _PACK_BUCKETS_CACHE[corpus]


def run(corpus: str, cpus: int, only: set[str]) -> None:
    sys.path.insert(0, ROOT)
    from progquery_spark.ops import dedup, sampling, similarity, text
    from progquery_spark.session import get_spark

    spark = get_spark(f"ops-scale-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus)
    results: dict[str, dict] = {}
    ops = {
        "text_tokens": lambda: text.q_text_tokens(spark, corpus),
        "text_tokens_fast": lambda: text.q_text_tokens_fast(spark, corpus),
        "text_quality": lambda: text.q_text_quality(spark, corpus),
        "text_langid": lambda: text.q_text_langid(spark, corpus),
        "text_fingerprint": lambda: text.q_text_fingerprint(spark, corpus),
        "text_fingerprint_long": lambda: text.q_text_fingerprint_long(spark, corpus),
        "sample_split": lambda: sampling.q_sample_split(spark, corpus),
        "sample_stratified": lambda: sampling.q_sample_stratified(spark, corpus),
        # bucket count tracks the corpus (the documented knob) so the
        # per-bucket window stays executor-sized
        "pack_documents": lambda: sampling.q_pack_documents(
            spark, corpus, n_buckets=_pack_buckets(spark, corpus)
        ),
        "corpus_pipeline": lambda: sampling.q_corpus_pipeline(
            spark, corpus, n_buckets=_pack_buckets(spark, corpus)
        ),
        "dedup_exact": lambda: dedup.q_dedup_exact(spark, corpus),
        "dedup_ngram_jaccard": lambda: dedup.q_dedup_ngram_jaccard(spark, corpus),
        "dedup_minhash_lsh": lambda: dedup.q_dedup_minhash_lsh(spark, corpus),
        "dedup_clusters": lambda: dedup.q_dedup_clusters(spark, corpus),
        "dedup_simhash_pairs_b16": lambda: dedup.q_dedup_simhash_pairs(
            spark, corpus, band_bits=16
        ),
        "dedup_simhash64_pairs": lambda: dedup.q_dedup_simhash64_pairs(
            spark, corpus
        ),
        # key width from the documented formula 2^bits >= n/2 (bits=20 at
        # 2M vectors, 22 at 8M) so the knob tracks whatever corpus the
        # harness is pointed at
        f"dedup_embedding_lsh_b{_elsh_bits(spark, corpus)}": (
            lambda: similarity.q_dedup_embedding_lsh(
                spark, corpus, bits=_elsh_bits(spark, corpus), threshold=80000
            )
        ),
        "ann_topk": lambda: similarity.q_ann_topk(spark, corpus),
        # trainless LSH-routed ANN at the corpus-sized key width
        "ann_lsh_topk": lambda: similarity.q_ann_lsh_topk(
            spark, corpus, bits=_elsh_bits(spark, corpus)
        ),
        # amortized-index economics (VERDICT r4 #1): the one-time banding
        # index build, then the probe that consumes it — the production
        # split of ann_lsh_topk's corpus-linear cost. embidx_build MUST run
        # before ann_lsh_topk_indexed (dict order does that; `only` users
        # pass both).
        "embidx_build": lambda: _scale_index_build(spark, corpus, similarity),
        "ann_lsh_topk_indexed": lambda: similarity.q_ann_lsh_topk_indexed(
            spark, corpus, _scale_index_path(corpus),
            bits=_elsh_bits(spark, corpus),
        ),
        # the same persisted index blocks near-dup pairs — the "pays
        # twice" half of the economics
        "dedup_embedding_lsh_indexed": (
            lambda: similarity.q_dedup_embedding_lsh_indexed(
                spark, corpus, _scale_index_path(corpus),
                bits=_elsh_bits(spark, corpus), threshold=80000,
            )
        ),
        # codebook scale knobs (documented in train_codebook): K tracks
        # n/target_bucket, training runs on the vec_id % SAMPLE
        # deterministic sample — assignment math is unchanged. Defaults
        # (K=8, SAMPLE=1) reproduce the gate configuration.
        "ann_ivf_multiprobe": lambda: similarity.q_ann_ivf_multiprobe(
            spark,
            corpus,
            cents=similarity.train_codebook(
                spark,
                corpus,
                k=int(os.environ.get("OPS_SCALE_IVF_K", "8")),
                sample_mod=int(os.environ.get("OPS_SCALE_IVF_SAMPLE", "1")),
            ),
        ),
    }
    t0 = time.time()
    for name, mk in ops.items():
        if only and name not in only:
            continue
        _timed(name, mk, results)
    total = round(time.time() - t0, 1)
    print(json.dumps({"metric": "ops_scale", "corpus": corpus, "cpus": cpus,
                      "total_wall_s": total, "ops": results}))
    spark.stop()


def pair(corpus: str, lo: int, hi: int, reps: int, only: list[str]) -> None:
    """N -> 4N scaling evidence for the ops family (north-rule protocol,
    same as tools/bench_scaling.py for the KG path): both levels pinned
    with taskset to exactly their core budget, run interleaved within each
    rep in fresh subprocess JVMs, min wall per (op, level) reported,
    efficiency = (t_lo / t_hi) / (hi / lo)."""
    import subprocess

    walls: dict[tuple[str, int], float] = {}
    for rep in range(reps):
        for cpus in (lo, hi):
            out = subprocess.run(
                ["taskset", "-c", f"0-{cpus - 1}", sys.executable,
                 os.path.join(ROOT, "tools", "ops_scale.py"), "run", corpus,
                 str(cpus), *only],
                capture_output=True, text=True, check=True, timeout=3600,
            )
            line = [
                ln for ln in out.stdout.strip().splitlines()
                if ln.startswith('{"metric"')
            ][-1]
            res = json.loads(line)["ops"]
            for op, r in res.items():
                key = (op, cpus)
                walls[key] = min(walls.get(key, 1e18), r["wall_s"])
            print(f"rep {rep} local[{cpus}]: "
                  + ", ".join(f"{op}={r['wall_s']}s" for op, r in res.items()),
                  flush=True)
    report = {}
    for op in only:
        t_lo, t_hi = walls[(op, lo)], walls[(op, hi)]
        report[op] = {
            f"wall_s_local{lo}": t_lo,
            f"wall_s_local{hi}": t_hi,
            "efficiency": round((t_lo / t_hi) / (hi / lo), 3),
        }
    print(json.dumps({"metric": "ops_scale_pair", "corpus": corpus,
                      "pair": f"{lo}->{hi}", "reps": reps, "ops": report}))


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "prepare":
        prepare(
            sys.argv[2],
            int(sys.argv[3]) if len(sys.argv) > 3 else 2_000_000,
            int(sys.argv[4]) if len(sys.argv) > 4 else 2_000_000,
        )
    elif cmd == "probe":
        probe(sys.argv[2])
    elif cmd == "run":
        cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32
        run(sys.argv[2], cpus, set(sys.argv[4:]))
    elif cmd == "pair":
        lo, hi = (int(x) for x in sys.argv[3].split("-"))
        pair(sys.argv[2], lo, hi, int(sys.argv[4]), sys.argv[5:])
    else:
        raise SystemExit(f"unknown command {cmd}")
