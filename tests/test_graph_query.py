"""Graph-query surface (graph/query.py): hop semantics vs direct joins,
carry/edge-prop plumbing, family pruning, and plan hygiene. Value-level
oracle parity for the seven registered kg_gq_* queries runs in
tools/check_correctness.py and the driver gate."""

import pytest
from pyspark.sql import functions as F

from progquery_spark import queries as Q
from progquery_spark.canonicalize.remap import canonicalize_triples
from progquery_spark.datagen import build_transcripts
from progquery_spark.extraction.extract import mentions_of, triples_of
from progquery_spark.graph.materialize import build_edges, build_nodes
from progquery_spark.graph.passes import flow_edges
from progquery_spark.graph.query import PropertyGraph
from progquery_spark.linking.exact import link_entities

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def g(spark):
    return Q._property_graph(spark, SF)


@pytest.fixture(scope="module")
def lazy_g(spark):
    """The same graph composed lazily by build_nodes/build_edges over the
    synthesized transcripts, with the extraction and alias-map stages
    standing in for materialized inputs. Family pruning is a property of
    that composition (each family subtree carries literal rel_graph /
    node_type columns); the nodes/edges stages behind ``g`` hold those
    values as data."""
    tr = build_transcripts(spark, SF)
    ex = Q._stage(spark, SF, "extraction")
    m = mentions_of(ex)
    amap = Q._stage(spark, SF, "alias_map")
    nodes = build_nodes(tr, m, link_entities(m), amap)
    tcanon = canonicalize_triples(triples_of(ex), amap)
    edges = build_edges(tr, m, tcanon, amap).unionByName(flow_edges(tr))
    return PropertyGraph(nodes, edges)


def test_match_filters_by_type_and_name(g):
    turns = g.match("TURN").df()
    assert turns.select("node_type").distinct().collect()[0][0] == "TURN"
    tools = g.match("TURN", name="tool").df()
    assert tools.filter(F.col("name") != "tool").count() == 0
    # property-predicate match
    asst = g.match("TURN", where=F.col("props")["role"] == "assistant").df()
    assert asst.count() > 0
    assert asst.filter(F.col("props")["role"] != "assistant").count() == 0


def test_out_hop_equals_direct_join(g):
    """One row per traversed edge (Cypher MATCH multiplicity): the hop's
    cardinality equals the filtered edge count, and the destination nodes
    are the edges' dst ids."""
    hop = g.match("CONVERSATION").out("HAS_TURN", rel_graph="STRUCTURE").df()
    n_edges = g.edges.filter(F.col("rel_type") == "HAS_TURN").count()
    assert hop.count() == n_edges > 0
    assert hop.select("node_type").distinct().collect()[0][0] == "TURN"


def test_in_hop_is_reverse_of_out(g):
    fwd = g.match("TURN").out("HAS_MENTION", rel_graph="STRUCTURE").df()
    rev = g.match("MENTION").in_("HAS_MENTION", rel_graph="STRUCTURE").df()
    assert fwd.count() == rev.count() > 0
    assert rev.select("node_type").distinct().collect()[0][0] == "TURN"


def test_carry_and_edge_props_columns(g):
    hop = g.match("TURN", name="tool").out(
        "TOOL_RESULT_OF", rel_graph="FLOW", carry=("conv_id",),
        edge_props=("tool", "gap_s"),
    )
    df = hop.df()
    for c in ("src_conv_id", "edge_tool", "edge_gap_s"):
        assert c in df.columns, df.columns
    row = df.filter(F.col("edge_tool") != "").limit(1).collect()
    if row:  # carried conv must equal the dst node's conv (same conversation)
        assert row[0]["src_conv_id"] == row[0]["conv_id"]


def test_carry_survives_second_hop_and_collision_raises(g):
    two = (
        g.match("CONVERSATION")
        .out("HAS_TURN", rel_graph="STRUCTURE", carry=("conv_id",))
        .out("HAS_MENTION", rel_graph="STRUCTURE")
    )
    df = two.df()
    assert "src_conv_id" in df.columns
    assert df.filter(F.col("src_conv_id") != F.col("conv_id")).count() == 0
    with pytest.raises(ValueError, match="carry collision"):
        g.match("CONVERSATION").out(
            "HAS_TURN", carry=("conv_id",)
        ).out("HAS_MENTION", carry=("conv_id",))
    # the edge-prop twin of the same failure mode
    with pytest.raises(ValueError, match="edge-prop collision"):
        g.match("TURN").out(
            "NEXT_TURN", rel_graph="FLOW", edge_props=("gap_s",)
        ).out("NEXT_TURN", rel_graph="FLOW", edge_props=("gap_s",))


def test_registered_gq_plans_are_clean(spark):
    """No cartesians / nested-loop joins anywhere in the registered
    graph-surface queries over the nodes/edges stages (the star queries
    have their own plan test). Family pruning of a lazily composed graph
    is regression-guarded by operator counts in
    test_rel_graph_and_into_literals_prune_families."""
    for fn in (Q.q_gq_tool_callers, Q.q_gq_entity_reach,
               Q.q_gq_assistant_mentions, Q.q_gq_part_early_slots,
               Q.q_gq_turn_tool_coverage):
        plan = _plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_rel_graph_and_into_literals_prune_families(lazy_g):
    """The two pruning knobs measurably shrink the physical plan:
    rel_graph folds away the SEMANTIC edge family (whose rel_type is the
    data-borne pred column and therefore survives a rel_type-only
    filter as a runtime subtree — measured: its C3-dedup aggregate and
    alias-map joins stay in the plan); ``into`` folds the non-matching
    node families out of the destination-side union, removing their
    parquet scans outright."""
    base = lazy_g.match("TURN", name="tool")
    unpruned = _plan(base.out("TOOL_RESULT_OF").df())
    by_graph = _plan(base.out("TOOL_RESULT_OF", rel_graph="FLOW").df())
    # SEMANTIC gone: fewer aggregates (the triple-dedup groupBy), fewer
    # joins (the alias-map remap), fewer union branches
    assert by_graph.count("HashAggregate") < unpruned.count("HashAggregate")
    assert by_graph.count("Union") < unpruned.count("Union")

    by_into = _plan(
        base.out("TOOL_RESULT_OF", rel_graph="FLOW", into="TURN").df()
    )
    # dst union reduced to the TURN family: base-table scans drop
    assert by_into.count("Scan parquet") < by_graph.count("Scan parquet")
    assert by_into.count("Union") < by_graph.count("Union")


def test_out_star_hop1_equals_single_hop(g):
    """At min_hops=max_hops=1 the traversal is exactly one hop with
    min-distance dedup: distinct (root, dst) pairs of a single out()."""
    star = g.match("CUSTOMER").out_star(
        rel_graph="SEMANTIC", min_hops=1, max_hops=1
    ).df()
    single = (
        g.match("CUSTOMER")
        .out(rel_graph="SEMANTIC", carry=("node_id",))
        .df()
        .select("src_node_id", "node_id")
        .distinct()
    )
    assert star.count() == single.count() > 0
    assert star.select("hops").distinct().collect()[0][0] == 1


def test_out_star_min_distance_no_dup_destinations(g):
    """One row per (start, destination) at its BFS distance — a node
    reachable at hops 1 and 2 appears once, at 1."""
    star = g.match("CUSTOMER").out_star(
        rel_graph="SEMANTIC", max_hops=2, carry=("node_id",)
    ).df()
    n = star.count()
    assert n == star.select("src_node_id", "node_id").distinct().count() > 0
    assert {r[0] for r in star.select("hops").distinct().collect()} == {1, 2}


def test_out_star_min_hops_zero_includes_starts(g):
    starts = g.match("CUSTOMER").df()
    star0 = g.match("CUSTOMER").out_star(
        rel_graph="SEMANTIC", min_hops=0, max_hops=1
    ).df()
    zero_rows = star0.filter(F.col("hops") == 0)
    assert zero_rows.count() == starts.count()
    assert zero_rows.select("node_type").distinct().collect()[0][0] == "CUSTOMER"


def test_out_star_carry_and_into(g):
    star = g.match("CUSTOMER").out_star(
        rel_graph="SEMANTIC", max_hops=2, into="PART",
        carry=("canonical_key",),
    ).df()
    assert "src_canonical_key" in star.columns
    assert star.select("node_type").distinct().collect()[0][0] == "PART"
    # parts are two semantic hops from customers (customer->order->part)
    assert star.select("hops").distinct().collect()[0][0] == 2
    assert star.filter(~F.col("src_canonical_key").startswith("customer:")).count() == 0


def test_out_star_validates_bounds_and_warns_on_truncation(g):
    with pytest.raises(ValueError, match="min_hops"):
        g.match("CUSTOMER").out_star(min_hops=2, max_hops=1)
    with pytest.raises(ValueError, match="min_hops"):
        g.match("CUSTOMER").out_star(min_hops=-1)
    # max_hops=1 leaves the order->part frontier unexpanded: loud warning
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        g.match("CUSTOMER").out_star(rel_graph="SEMANTIC", max_hops=1)
        assert any("truncated" in str(x.message) for x in w)


def test_out_star_plan_is_clean(spark):
    plan = _plan(Q.q_gq_customer_orbit(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_in_star_is_reverse_of_out_star(g):
    """PART <-[*1..2 SEMANTIC]- reaches exactly the (root, node) pairs
    that CUSTOMER -[*1..2]-> PART reaches, with roles swapped: parts are
    2 semantic hops downstream of customers (customer->order->part)."""
    fwd = (
        g.match("CUSTOMER")
        .out_star(rel_graph="SEMANTIC", max_hops=2, into="PART",
                  carry=("canonical_key",))
        .df()
        .select(
            F.col("src_canonical_key").alias("customer"),
            F.col("canonical_key").alias("part"),
        )
    )
    rev = (
        g.match("PART")
        .in_star(rel_graph="SEMANTIC", max_hops=2, into="CUSTOMER",
                 carry=("canonical_key",))
        .df()
        .select(
            F.col("canonical_key").alias("customer"),
            F.col("src_canonical_key").alias("part"),
        )
    )
    assert fwd.count() == rev.count() > 0
    assert fwd.exceptAll(rev).count() == 0


def test_in_star_registered_query_layers_and_plan(spark):
    """kg_gq_supplier_upstream: the reverse walk lands on exactly one
    node family per BFS level (part@1, order@2, customer@3 — the layered
    semantic graph), drains without a truncation warning at max_hops=3,
    and its plan has no cartesian."""
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        df = Q.q_gq_supplier_upstream(spark, SF)
        rows = df.collect()
        assert not any("truncated" in str(x.message) for x in w)
    layers = {(r["hops"], r["src_type"]) for r in rows}
    assert layers == {(1, "PART"), (2, "ORDER"), (3, "CUSTOMER")}, layers
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_match_and_into_accept_multiple_types(g):
    """Cypher's multi-label pattern (n:A|B): match over a type list is
    the union of the single-type matches, and a multi-type ``into``
    keeps exactly the matching destination families."""
    both = g.match(["CUSTOMER", "SUPPLIER"]).df()
    single = g.match("CUSTOMER").df().count() + g.match("SUPPLIER").df().count()
    assert both.count() == single > 0
    assert {r[0] for r in both.select("node_type").distinct().collect()} == {
        "CUSTOMER", "SUPPLIER",
    }
    hop = g.match("ORDER").out(
        rel_graph="SEMANTIC", into=("PART", "LITERAL")
    ).df()
    types = {r[0] for r in hop.select("node_type").distinct().collect()}
    assert types == {"PART", "LITERAL"}
    # an empty dynamic label list would silently match nothing — refuse
    with pytest.raises(ValueError, match="empty node_type"):
        g.match([])
    with pytest.raises(ValueError, match="empty node_type"):
        g.match("ORDER").out(rel_graph="SEMANTIC", into=())


def test_edge_where_filters_before_hop(g):
    """The relationship predicate restricts traversed edges: ordinal<=2
    'includes' hops are a strict subset of the unfiltered hop, and every
    surviving row crossed a qualifying edge (verified via the unfiltered
    edge frame)."""
    base = g.match("ORDER")
    all_rows = base.out("includes", rel_graph="SEMANTIC").df().count()
    low = base.out(
        "includes", rel_graph="SEMANTIC", edge_where=F.col("ordinal") <= 2
    ).df()
    n_low = low.count()
    assert 0 < n_low < all_rows
    n_edges_low = g.edges.filter(
        (F.col("rel_type") == "includes") & (F.col("ordinal") <= 2)
    ).count()
    assert n_low == n_edges_low


def test_optional_hop_keeps_unmatched_starts_once(g):
    """OPTIONAL MATCH: every start row survives; unmatched ones exactly
    once with null destination columns; matched ones once per match."""
    starts = g.match("TURN").df().count()
    opt = g.match("TURN").out(
        "TOOL_RESULT_OF", rel_graph="FLOW", carry=("name",), optional=True
    ).df()
    matched = opt.filter(F.col("node_id").isNotNull())
    unmatched = opt.filter(F.col("node_id").isNull())
    inner = g.match("TURN").out("TOOL_RESULT_OF", rel_graph="FLOW").df()
    assert matched.count() == inner.count() > 0
    assert unmatched.count() > 0
    # 1:1 per-edge multiplicity here, so rows = starts exactly
    assert opt.count() == starts
    # the carried start column survives the left join on null rows too
    assert unmatched.filter(F.col("src_name").isNull()).count() == 0
    # non-tool turns can never match
    assert unmatched.filter(F.col("src_name") == "user").count() > 0


def test_optional_hop_with_into_yields_one_null_row_per_start(g):
    """A destination filter no edge satisfies still leaves exactly one
    null row per start (not one per failed edge) — the OPTIONAL MATCH
    pattern is (edge AND destination), left-joined as a unit."""
    starts = g.match("TURN", name="tool").df().count()
    opt = g.match("TURN", name="tool").out(
        "TOOL_RESULT_OF", rel_graph="FLOW", into="CONVERSATION",
        optional=True,
    ).df()
    assert opt.count() == starts
    assert opt.filter(F.col("node_id").isNotNull()).count() == 0


def test_star_edge_where_filters_every_level(g):
    """edge_where on a star traversal restricts the BFS edge set once,
    affecting every level: excluding ordinal-bearing edges (only the
    'includes' family carries an ordinal) removes all PART destinations
    from the 2-hop customer orbit while leaving hop-1 intact."""
    full = g.match("CUSTOMER").out_star(rel_graph="SEMANTIC", max_hops=2).df()
    no_ord = g.match("CUSTOMER").out_star(
        rel_graph="SEMANTIC", max_hops=2,
        edge_where=F.col("ordinal").isNull(),
    ).df()
    assert full.filter(F.col("node_type") == "PART").count() > 0
    assert no_ord.filter(F.col("node_type") == "PART").count() == 0
    assert 0 < no_ord.count() < full.count()
    # hop-1 (placed/from_nation edges, all ordinal-less) is untouched
    assert (
        no_ord.filter(F.col("hops") == 1).count()
        == full.filter(F.col("hops") == 1).count()
    )


def test_star_refuses_map_typed_carry(g):
    """Carrying a map (legal on single hops) would die inside the BFS
    start-set dedup with a cryptic Spark set-op error — refuse clearly."""
    with pytest.raises(ValueError, match="map-typed"):
        g.match("CUSTOMER").out_star(rel_graph="SEMANTIC", carry=("props",))
    # and via an upstream single-hop carry arriving as src_props
    upstream = g.match("CONVERSATION").out(
        "HAS_TURN", rel_graph="STRUCTURE", carry=("props",)
    )
    with pytest.raises(ValueError, match="map-typed"):
        upstream.out_star(rel_graph="FLOW", max_hops=1)
