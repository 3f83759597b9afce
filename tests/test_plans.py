"""Physical-plan hygiene (driver brief: 'explain the plan and iterate').

These tests pin the scale-critical plan properties so a refactor that
silently loses them fails CI, not the 100 TB run:
- the kind-partitioned extraction snapshot prunes mention/triple files for
  consumers that want only one kind;
- the alias-map endpoint remap broadcasts the small side;
- the transcript scan pushes column pruning into parquet.
"""

import pyspark.sql.functions as F

from progquery_spark.extraction.extract import extract, mentions_of, triples_of
from progquery_spark.fixtures import make_fixture, to_spark


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _exact_alias_map(stats):
    """The exact-linking alias map: connected components of the
    surface<->norm alias graph, reduced to canonical keys (the identity
    map — the pipeline's alias_map stage with fuzzy linking off)."""
    from progquery_spark.canonicalize.cc import canonical_map, connected_components
    from progquery_spark.linking.exact import alias_edges_from_stats

    labels, _ = connected_components(alias_edges_from_stats(stats))
    return canonical_map(labels, stats.select("norm_key"))


def test_kind_partition_pruning(spark, tmp_path):
    tr = to_spark(spark, make_fixture(n_convs=4))
    path = str(tmp_path / "ex")
    extract(tr).write.partitionBy("kind").parquet(path)
    ex = spark.read.parquet(path)
    # each consumer's scan carries a PartitionFilter on its own kind
    # (inputFiles() reports the pre-pruning relation, so assert on the plan)
    m_plan = _plan(mentions_of(ex))
    t_plan = _plan(triples_of(ex))
    assert "PartitionFilters" in m_plan and "mention" in m_plan, m_plan
    assert "PartitionFilters" in t_plan and "triple" in t_plan, t_plan


def test_remap_broadcasts_alias_map(spark):
    """The remap joins carry NO hard broadcast hint (a hint would be
    honored even on a billion-row alias map). At fixture scale the chosen
    strategy must still be broadcast — via Catalyst's threshold when stats
    are known, else AQE's runtime conversion — so assert on the executed
    (AQE-final) plan after running the query."""
    from progquery_spark.canonicalize.remap import canonicalize_triples
    from progquery_spark.linking.exact import surface_stats

    tr = to_spark(spark, make_fixture(n_convs=4))
    ex = extract(tr)
    amap = _exact_alias_map(surface_stats(mentions_of(ex)))
    out = canonicalize_triples(triples_of(ex), amap)
    out.collect()
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan


def test_remap_falls_back_to_shuffle_without_hint(spark):
    """VERDICT r2 #1: with the broadcast threshold off, the alias-map
    joins must gracefully plan as shuffled joins — proof there is no hard
    F.broadcast() hint left that would force a broadcast regardless of
    size (the 10^12-turn OOM scenario)."""
    from progquery_spark.canonicalize.remap import canonicalize_triples
    from progquery_spark.linking.exact import surface_stats

    tr = to_spark(spark, make_fixture(n_convs=4))
    ex = extract(tr)
    amap = _exact_alias_map(surface_stats(mentions_of(ex)))
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    prev = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        out = canonicalize_triples(triples_of(ex), amap)
        out.collect()
        plan = _plan(out)
        assert "BroadcastHashJoin" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_no_cartesian_in_similarity_plans(spark):
    """VERDICT r1: no registered query may plan a cartesian product —
    embedding near-dup and IVF search must equi-join on the quantizer
    bucket."""
    from progquery_spark.ops.similarity import (
        q_ann_ivf,
        q_ann_lsh_topk,
        q_ann_lsh_topk_indexed,
        q_dedup_embedding,
        q_dedup_embedding_lsh,
        q_dedup_embedding_lsh_indexed,
    )

    for q in (
        q_dedup_embedding,
        q_ann_ivf,
        q_dedup_embedding_lsh,
        q_ann_lsh_topk,
        q_ann_lsh_topk_indexed,
        q_dedup_embedding_lsh_indexed,
    ):
        plan = _plan(q(spark, "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_no_global_sort_in_dedup_plans(spark):
    """VERDICT r1: gram-id assignment must not funnel the vocabulary
    through a single-partition window (row_number over an unpartitioned
    ORDER BY). The poly-hash gid is pure per-row arithmetic."""
    from progquery_spark.ops.dedup import (
        q_dedup_minhash_lsh,
        q_dedup_ngram_jaccard,
        q_dedup_simhash,
    )

    for q in (q_dedup_minhash_lsh, q_dedup_ngram_jaccard, q_dedup_simhash):
        plan = _plan(q(spark, "/root/testdata/sf0.001"))
        assert "row_number" not in plan, plan


def test_exact_dedup_shuffles_on_hash_not_text(spark):
    """The exact-dedup window partitions on xxhash64(text), never on the
    document body itself."""
    from progquery_spark.ops.dedup import q_dedup_exact

    plan = _plan(q_dedup_exact(spark, "/root/testdata/sf0.001"))
    assert "hashpartitioning(h#" in plan or "hashpartitioning(h " in plan, plan


def test_transcript_scan_column_pruning(spark, tmp_path):
    tr = to_spark(spark, make_fixture(n_convs=4))
    path = str(tmp_path / "tr")
    tr.write.parquet(path)
    scanned = spark.read.parquet(path).select("conv_id", "turn_idx")
    plan = _plan(scanned)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema, read_schema


def test_edges_stage_scans_mention_snapshot_exactly_once(spark, tmp_path):
    """VERDICT r3 #2: the edges stage must consume the (wide) extraction
    snapshot through ONE checkpointed mention-id projection — the final
    edges plan contains ZERO scans of the snapshot path, and the id frame
    enters as a checkpointed RDD scan. The contrast plan (no shared id
    frame) re-scans the snapshot once per mention-touching edge family,
    which is exactly the r2 stage_edges regression this gates."""
    from progquery_spark.canonicalize.remap import canonicalize_triples
    from progquery_spark.graph.materialize import build_edges
    from progquery_spark.linking.exact import (
        link_entities_from_stats,
        surface_stats,
    )
    from progquery_spark.pipeline import edges_stage_frame

    tr = to_spark(spark, make_fixture(n_convs=4))
    snap = str(tmp_path / "exsnap_gate")
    extract(tr).write.partitionBy("kind").parquet(snap)
    ex = spark.read.parquet(snap)
    mentions = mentions_of(ex)
    stats = surface_stats(mentions)
    entities = link_entities_from_stats(stats)
    amap = _exact_alias_map(stats).localCheckpoint(eager=True)
    tcanon = canonicalize_triples(triples_of(ex), amap).localCheckpoint(
        eager=True
    )

    plan = _plan(edges_stage_frame(tr, mentions, tcanon, amap, entities))
    assert plan.count("exsnap_gate") == 0, plan
    assert "ExistingRDD" in plan, plan  # the checkpointed mention-id frame

    # contrast: without the shared id frame the snapshot is re-scanned
    # per family (HAS_MENTION + REFERS_TO >= 2 scans)
    bare = _plan(build_edges(tr, mentions, tcanon, amap))
    assert bare.count("exsnap_gate") >= 2, bare


def test_no_perm_explode_in_signature_plans(spark):
    """Signature computation must not explode the gram index across
    permutations/planes (16x/32x row blow-up through two shuffles): the
    minima/parities are codegen'd aggregate columns, so the simhash plan
    has NO generator at all, and the minhash gram frame reaches its
    signature aggregate with exactly one Exchange keyed by doc_id. The
    only explodes allowed in the minhash plan operate on per-document
    rows (gram generation upstream, banding downstream)."""
    import re

    from progquery_spark.ops.dedup import _doc_gids, _docs, _lsh_buckets, _simhash

    def nodes(plan, name):
        return len(re.findall(rf"^\(\d+\) {name}\b", plan, re.M))

    dg = _doc_gids(_docs(spark, "/root/testdata/sf0.001"))

    sim_plan = _plan(_simhash(dg).groupBy().count())
    # gram generation itself is one explode; nothing else may generate
    assert nodes(sim_plan, "Generate") <= 1, sim_plan

    sig_plan = _plan(_lsh_buckets(dg))
    # aggregate shuffle (doc_id) + banding window shuffle (band, band_key)
    assert nodes(sig_plan, "Exchange") <= 2, sig_plan
    # gram generation + the 8-wide banding explode over per-doc rows
    assert nodes(sig_plan, "Generate") <= 2, sig_plan
