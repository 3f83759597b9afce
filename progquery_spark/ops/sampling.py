"""Deterministic corpus sampling and sequence packing (training-data ops).

Three operations every large-scale pretraining pipeline runs between
dedup and tokenization, each expressed as pure map-side / single-shuffle
DataFrame plans with exact DuckDB oracles:

- ``assign_split``: leakage-free train/holdout assignment keyed ONLY on
  the stable document id — ``(a * (doc_id % M) + b) % M`` under the
  frozen LCG pool (hashing._A/_B), holdout iff ``key % 1000 <
  permille``. No RNG state, no ``rand()``: the split is reproducible
  across runs, engines, and cluster sizes, and re-deriving it later for
  any single doc needs no join (the property that makes contamination
  audits O(1) per example). Reference analog: deterministic program-node
  ids making re-runs attach instead of duplicate
  (CompilationScheduler.java:47-60, MERGING_ALLOWED).

- ``sample_stratified``: per-language quota sampling (the multilingual
  re-balance: down-weight the dominant language, keep low-resource ones)
  with an INDEPENDENT hash pair, so sampling composes with the split
  without correlation — a doc's holdout fate never biases its sampling
  fate. Rates are data (permille per stratum), arithmetic is the same
  field math.

- ``pack_documents``: greedy concat-and-chunk sequence packing — the
  standard pretraining shape: concatenate documents in a deterministic
  pseudo-random order, then cut at a fixed token budget; ``pack_id =
  start_off DIV budget`` via one window cumsum. Distributed form:
  documents hash into ``n_buckets`` independent streams (ONE shuffle, on
  the bucket key), each bucket packs locally under a window sort. The
  bucket count is the parallelism knob: at 10^12 tokens, n_buckets
  scales with the corpus so per-bucket state stays executor-sized, and
  the pack stream stays byte-identical for a fixed (seed pool, bucket
  count) regardless of cluster size — cross-run determinism the usual
  repartition+zipWithIndex packing does NOT have.

All three are ANSI-safe: ids are reduced into the 2^31-1 field BEFORE
the multiply, so ``a * (id % M) + b < 2^62`` for any 64-bit doc_id.

100 TB plan shapes: split and sample are pure projections (no shuffle,
no UDF — whole-stage codegen end to end; the filter pushes to the scan
column-pruned to (doc_id, lang)). Packing is one hash-partition shuffle
plus a per-bucket window sort — the same budget as any groupBy at equal
key cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..hashing import _A, _B, _M, perm_hash
from ..session import register_sf_views

# Frozen pool indices — one independent (a, b) pair per concern, so the
# three keyings are pairwise-uncorrelated permutations of the id space.
# No other id keying draws 24-26 (the minhash family uses 0-15).
# similarity._fixed_centroid_rows also reads them, among all 32 pool
# entries, but only as arithmetic seeds for a constant test-baseline
# codebook: it keys no document, so no keying shares a permutation with it.
_SPLIT_I, _SAMP_I, _PACK_I = 24, 25, 26
_SPLIT_A, _SPLIT_B = _A[_SPLIT_I], _B[_SPLIT_I]
_SAMP_A, _SAMP_B = _A[_SAMP_I], _B[_SAMP_I]
_PACK_A, _PACK_B = _A[_PACK_I], _B[_PACK_I]

#: holdout quota, permille of the corpus
HOLDOUT_PERMILLE = 50
#: per-language keep quotas, permille (multilingual re-balance: the
#: dominant language down-sampled, low-resource languages kept whole)
LANG_RATES = {"en": 300, "de": 900, "es": 900, "fr": 900, "zh": 900}
#: keep-rate for languages outside the table
DEFAULT_RATE_PERMILLE = 1000
#: tokens per packed sequence (whitespace tokens at gate scale; swap the
#: token column for a real tokenizer count in production)
PACK_BUDGET = 512
#: independent packing streams (the parallelism knob; fixed => the pack
#: assignment is identical at any cluster size)
PACK_BUCKETS = 4


def _key(id_col, pool_i: int):
    """The pool_i-th certified LCG keying of an id column: pmod-reduce
    the id into [0, M) then hashing.perm_hash — uniform deterministic,
    overflow-safe under ANSI for any 64-bit id including NEGATIVE ones
    (plain % follows the sign, which would force every negative id into
    holdout and past every quota; code-review finding). The oracle SQL
    mirrors the pmod as ((id % M + M) % M)."""
    return perm_hash(F.pmod(id_col, F.lit(_M)), pool_i)


def _key_sql(a: int, b: int) -> str:
    """The DuckDB replay of ``_key``: same field math, sign-safe inner
    reduction (a*x+b with x in [0, M) is non-negative, so the outer %
    needs no wrap)."""
    return f"(({a} * ((doc_id % {_M} + {_M}) % {_M}) + {b}) % {_M})"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_sf_views(spark, sf_dir)
    return spark.table("documents")


def passes_quality(min_tokens: int = 20):
    """Boolean Column: the text_quality band floor — drop 'low'
    (n_tokens < 20, ops.text.q_text_quality's band rule), i.e. the
    canonical too-short filter. Same token arithmetic as the gated
    text_tokens/text_quality ops, so the pipeline's quality leg is the
    already-certified expression, not a parallel definition."""
    return F.size(F.split("text", " ")) >= min_tokens


def is_holdout(holdout_permille: int = HOLDOUT_PERMILLE):
    """Boolean Column: this row's doc_id falls in the holdout quota.
    A PREDICATE, not a frame — compose it with ``filter`` so the split
    rides the scan instead of round-tripping through a self-join."""
    return _key(F.col("doc_id"), _SPLIT_I) % 1000 < holdout_permille


def keeps_stratified(rates: dict[str, int] | None = None):
    """Boolean Column: this row survives its language's permille quota
    (independent hash pair from the split — see module docstring)."""
    rates = LANG_RATES if rates is None else rates
    rate = F.lit(DEFAULT_RATE_PERMILLE)
    for lang, pm in sorted(rates.items()):
        rate = F.when(F.col("lang") == lang, F.lit(pm)).otherwise(rate)
    return _key(F.col("doc_id"), _SAMP_I) % 1000 < rate


def assign_split(docs: DataFrame, holdout_permille: int = HOLDOUT_PERMILLE) -> DataFrame:
    """(doc_id, split) with split in {'train', 'holdout'}, keyed only on
    doc_id. Pure projection — composes onto any (doc_id, ...) frame."""
    return docs.select(
        "doc_id",
        F.when(is_holdout(holdout_permille), F.lit("holdout"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def sample_stratified(
    docs: DataFrame, rates: dict[str, int] | None = None
) -> DataFrame:
    """Kept (doc_id, lang) rows under per-language permille quotas."""
    return docs.filter(keeps_stratified(rates)).select("doc_id", "lang")


def pack_documents(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    n_buckets: int = PACK_BUCKETS,
) -> DataFrame:
    """Per-document pack assignment: (doc_id, bucket, pack_id, start_off,
    n_tokens). Greedy concat-and-chunk within each of ``n_buckets``
    deterministic streams; a document straddling a budget boundary
    belongs to the pack its first token lands in (concatenate-then-cut
    semantics — the pretraining norm, not bin packing)."""
    k = _key(F.col("doc_id"), _PACK_I)
    toks = docs.select(
        "doc_id",
        (k % n_buckets).alias("bucket"),
        k.alias("okey"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("okey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return toks.select(
        "doc_id",
        "bucket",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long")).alias(
            "start_off"
        ),
    ).withColumn("pack_id", F.expr(f"start_off DIV {budget}"))


# --- registered gate queries -------------------------------------------------


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split doc and token totals — the contamination-audit view of
    the deterministic holdout assignment. The split enters as an inline
    projection, NOT a self-join of assign_split back onto the table (the
    first draft's join added exchanges to an op whose whole design point
    is riding the scan; code-review finding — same lesson as the
    corpus_pipeline predicate refactor): the only exchange left is the
    final 2-group aggregate."""
    return (
        _docs(spark, sf_dir)
        .select(
            F.when(is_holdout(), F.lit("holdout"))
            .otherwise(F.lit("train"))
            .alias("split"),
            F.size(F.split("text", " ")).cast("long").alias("t"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").alias("sum_ws_tokens"),
        )
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kept set under the language quotas — per-doc output, so the
    gate certifies every keep/drop decision, not just the totals."""
    return sample_stratified(_docs(spark, sf_dir))


def q_pack_documents(
    spark: SparkSession, sf_dir: str, n_buckets: int = PACK_BUCKETS
) -> DataFrame:
    """Pack composition: (bucket, pack_id, n_docs, sum_tokens) — the
    window cumsum and chunk arithmetic certified against DuckDB's
    (``pack_documents_sql(n_buckets)``, so a call at any bucket count has
    its oracle). ``n_buckets`` is the documented scale knob: corpus-scale
    runs must raise it so per-bucket window state stays executor-sized
    (tools/ops_scale.py tracks ~1 bucket per 50k docs)."""
    return (
        pack_documents(_docs(spark, sf_dir), n_buckets=n_buckets)
        .groupBy("bucket", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


def q_corpus_pipeline(
    spark: SparkSession, sf_dir: str, n_buckets: int = PACK_BUCKETS
) -> DataFrame:
    """The composed between-crawl-and-tokenizer chain as ONE Catalyst
    plan: exact-dedup the clone-augmented corpus (datagen's shared
    duplicate view — clones lose to their originals), drop 'low'-band
    documents (the text_quality too-short floor), keep the train side of
    the deterministic split, apply the language quotas, pack the
    survivors. Output is the final pack composition. What this gate
    certifies beyond the per-op gates: the ops COMPOSE — the packing
    stream is computed over the filtered corpus (offsets restart from
    the survivors, not the full table) and DuckDB replays the whole
    chain to the same values. Split and sample enter as PREDICATES
    (is_holdout / keeps_stratified), not self-joins, so they ride the
    scan: the chain's only wide stages are the dedup content-hash
    window, the keeper join, and the pack bucket window + final
    aggregate. Oracle: ``corpus_pipeline_sql(n_buckets)``."""
    from ..datagen import build_documents_with_dups
    from .dedup import dedup_exact_frame

    dups = build_documents_with_dups(spark, sf_dir)
    keepers = (
        dedup_exact_frame(dups).filter(~F.col("is_dup")).select("doc_id")
    )
    kept = _docs(spark, sf_dir).join(keepers, "doc_id")
    survivors = kept.filter(
        passes_quality() & ~is_holdout() & keeps_stratified()
    )
    return (
        pack_documents(survivors, n_buckets=n_buckets)
        .groupBy("bucket", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


def queries():
    return {
        "sample_split": q_sample_split,
        "sample_stratified": q_sample_stratified,
        "pack_documents": q_pack_documents,
        "corpus_pipeline": q_corpus_pipeline,
    }


def _rate_case() -> str:
    return "CASE " + " ".join(
        f"WHEN lang = '{lang}' THEN {pm}" for lang, pm in sorted(LANG_RATES.items())
    ) + f" ELSE {DEFAULT_RATE_PERMILLE} END"


def _pack_sql(docs: str, n_buckets: int) -> str:
    """DuckDB replay of ``pack_documents`` + the per-pack aggregate over
    the relation ``docs`` (doc_id, text)."""
    return f"""
        SELECT bucket, start_off // {PACK_BUDGET} AS pack_id,
               COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        FROM (
          SELECT bucket, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY bucket ORDER BY okey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS start_off
          FROM (SELECT doc_id,
                       {_key_sql(_PACK_A, _PACK_B)} AS okey,
                       {_key_sql(_PACK_A, _PACK_B)} % {n_buckets} AS bucket,
                       len(string_split(text, ' ')) AS n_tokens
                FROM {docs}))
        GROUP BY bucket, pack_id
        """


def pack_documents_sql(n_buckets: int = PACK_BUCKETS) -> str:
    """Oracle of ``q_pack_documents(..., n_buckets)``."""
    return _pack_sql("documents", n_buckets)


def corpus_pipeline_sql(n_buckets: int = PACK_BUCKETS) -> str:
    """Oracle of ``q_corpus_pipeline(..., n_buckets)``."""
    from ..datagen import documents_with_dups_select

    return f"""
        WITH dups AS ({documents_with_dups_select()}),
        keepers AS (
          SELECT doc_id FROM (
            SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS k
            FROM dups) WHERE doc_id = k
        ),
        kept AS (
          SELECT d.doc_id, d.text, d.lang
          FROM documents d JOIN keepers USING (doc_id)
        ),
        quality AS (
          SELECT * FROM kept WHERE len(string_split(text, ' ')) >= 20
        ),
        train AS (
          SELECT * FROM quality
          WHERE {_key_sql(_SPLIT_A, _SPLIT_B)} % 1000
                >= {HOLDOUT_PERMILLE}
        ),
        samp AS (
          SELECT * FROM train
          WHERE {_key_sql(_SAMP_A, _SAMP_B)} % 1000
                < ({_rate_case()})
        )
        {_pack_sql("samp", n_buckets)}"""


def oracles():
    return {
        "corpus_pipeline": corpus_pipeline_sql(),
        "sample_split": f"""
        SELECT split, COUNT(*) AS n_docs,
               CAST(SUM(t) AS BIGINT) AS sum_ws_tokens
        FROM (SELECT CASE WHEN {_key_sql(_SPLIT_A, _SPLIT_B)}
                               % 1000 < {HOLDOUT_PERMILLE}
                          THEN 'holdout' ELSE 'train' END AS split,
                     len(string_split(text, ' ')) AS t
              FROM documents)
        GROUP BY split
        """,
        "sample_stratified": f"""
        SELECT doc_id, lang FROM documents
        WHERE {_key_sql(_SAMP_A, _SAMP_B)} % 1000
              < ({_rate_case()})
        """,
        "pack_documents": pack_documents_sql(),
    }
