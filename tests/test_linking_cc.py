"""Linking + canonicalization tests (FIXTURES.md §4: t-exact-vs-cc,
t-fuzzy-pr; SURVEY.md §2.4 C2 invariant; placeholder semantics J1/J5)."""

import pyspark.sql.functions as F

from progquery_spark.canonicalize.cc import canonical_map, connected_components
from progquery_spark.canonicalize.remap import canonicalize_triples
from progquery_spark.extraction.extract import extract, mentions_of, triples_of
from progquery_spark.fixtures import make_fixture, to_spark
from progquery_spark.linking.exact import alias_edges_exact, link_entities
from progquery_spark.linking.fuzzy import fuzzy_alias_edges


def test_cc_trivial_chain(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")], ["src", "dst"]
    )
    labels, rounds = connected_components(edges)
    got = {r["id"]: r["component"] for r in labels.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f"}
    assert rounds <= 5


def test_cc_labels_and_rounds_pinned(spark):
    """Labels and round counts on the trivial-chain fixture and two
    10-vertex paths, pinned to the values of the previous convergence
    check (a separate changed-labels join per round): carrying the old
    label through the round's aggregation changes neither."""
    chain = [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")]
    # min label at one end: it needs 9 hops, the 10th round sees no change
    path = [(f"v{i}", f"v{i + 1}") for i in range(9)]
    # min label mid-path (p5-p3-p7-p1-p8-p0-p9-p2-p6-p4)
    order = ["p5", "p3", "p7", "p1", "p8", "p0", "p9", "p2", "p6", "p4"]
    mid = list(zip(order, order[1:]))
    want = {
        "chain": ({"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f"}, 3),
        "path": ({f"v{i}": "v0" for i in range(10)}, 10),
        "mid": ({p: "p0" for p in order}, 6),
    }
    for name, rows in (("chain", chain), ("path", path), ("mid", mid)):
        labels, rounds = connected_components(
            spark.createDataFrame(rows, ["src", "dst"])
        )
        got = {r["id"]: r["component"] for r in labels.collect()}
        assert (got, rounds) == want[name], name


def test_exact_vs_cc_identity(spark):
    """Case-only aliases: CC canonical map must equal the identity on norm
    keys (exact-key join output == CC output, C2)."""
    fx = make_fixture(n_convs=8)
    tr = to_spark(spark, fx)
    m = mentions_of(extract(tr))
    ents = link_entities(m)
    labels, _ = connected_components(alias_edges_exact(m))
    amap = canonical_map(labels, ents.select("norm_key"))
    non_id = amap.filter(F.col("norm_key") != F.col("canonical_key")).count()
    assert non_id == 0
    assert amap.count() == ents.count()


def test_placeholder_declaredness(spark):
    """Customers/orders declare themselves; nations/parts/suppliers are
    reference-only -> is_declared=false placeholders (J1 miss branch)."""
    fx = make_fixture(n_convs=6)
    tr = to_spark(spark, fx)
    ents = link_entities(mentions_of(extract(tr)))
    by_type = {
        r["mention_type"]: r["all_declared"]
        for r in ents.groupBy("mention_type")
        .agg(F.min(F.col("is_declared").cast("int")).alias("all_declared"))
        .collect()
    }
    assert by_type["customer"] == 1 and by_type["order"] == 1
    assert by_type["nation"] == 0 and by_type["part"] == 0
    assert by_type["supplier"] == 0


def _pr(got: set, want: set) -> tuple[float, float]:
    tp = len(got & want)
    return tp / max(len(got), 1), tp / max(len(want), 1)


def test_fuzzy_pr(spark):
    """Typo'd aliases: MinHash-LSH + CC must recover canonical triples with
    P/R >= 0.95 (BASELINE.json metric)."""
    fx = make_fixture(n_convs=12, typo_aliases=True, seed=7)
    tr = to_spark(spark, fx)
    ex = extract(tr)
    m = mentions_of(ex)
    ents = link_entities(m)
    fuzzy = fuzzy_alias_edges(ents, threshold=0.8)
    edges = alias_edges_exact(m).unionByName(fuzzy)
    labels, _ = connected_components(edges)
    amap = canonical_map(labels, ents.select("norm_key"))
    tcanon = canonicalize_triples(triples_of(ex), amap)

    # canonical key of a typo group is min(norm_key); remap expectations
    canon_of = {}
    for canonical, variants in fx.alias_groups.items():
        group_min = min([canonical, *variants])
        for v in [canonical, *variants]:
            canon_of[v] = group_min
    want = {
        (c, t, canon_of.get(s, s), p, canon_of.get(o, o))
        for (c, t, s, p, o) in fx.expected_triples
    }
    got = {
        (r["conv_id"], r["turn_idx"], r["subj"], r["pred"], r["obj"])
        for r in tcanon.collect()
    }
    p, r = _pr(got, want)
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_fuzzy_no_false_merge_without_typos(spark):
    """On clean case-only data the fuzzy layer at tau=0.8 must not merge
    distinct entities (precision guard)."""
    fx = make_fixture(n_convs=8)
    tr = to_spark(spark, fx)
    m = mentions_of(extract(tr))
    ents = link_entities(m)
    fuzzy = fuzzy_alias_edges(ents, threshold=0.8)
    # no pair may connect two different canonical groups
    assert fuzzy.count() == 0
