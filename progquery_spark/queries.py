"""Driver-facing correctness queries (SURVEY.md §2 operator inventory).

Each callable takes (spark, sf_dir) and returns a DataFrame whose columns /
types align exactly with the matching ``oracle.*_sql()`` DuckDB query.
Every query reads a stage snapshot of the production ``Pipeline``
(pipeline.py) — the graph is assembled once, by the same stage DAG the CLI
and the warehouse run, and each query answers over the stored stages, the
way ProgQuery builds its graph once and answers every query over it.
Nothing is special-cased for the oracle; the correctness gate's value-hash
compare therefore certifies the production code path.

Query warehouses: one ``Pipeline`` per (session, sf_dir, fuzzy) in a temp
directory, lineage off. ``_stage`` runs it resumably up to the stage a
query needs, so the pipeline manifest memoizes every stage: a session
builds each stage at most once, and parquet stages carry the statistics
AQE needs to pick broadcast joins by itself. Exact-linking queries read
the ``fuzzy=False`` warehouse — its alias map is the identity, so its
ALIAS nodes and ALIAS_OF edges are empty and its nodes/edges stages are
exactly the exact-linking graph; kg_fuzzy_pairs,
kg_triples_canonical_fuzzy and kg_link_edges read the ``fuzzy=True``
warehouse. A stage is built once per session, so an sf_dir must not change
while its warehouse lives. ``clear_query_caches()`` deletes the
warehouses: call it after rewriting an input, or between datasets in a
long-lived service (interpreter exit deletes them too).

Inventory mapping (SURVEY.md §2):
  kg_transcripts        S2/S3  source synthesis (conv reassembly input)
  kg_mentions           E1-E10 mention detection
  kg_triples_raw        E1-E10 (subj, pred, obj) emission w/ spans+ordinal
  kg_entities           J1-J4  exact linking + placeholder synthesis
  kg_alias_map          J5/C2  CC canonicalization (exact == identity)
  kg_triples_canonical  C1     endpoint remap through alias map
  kg_fuzzy_pairs        §2.3   MinHash-LSH blocking + structure verify
  kg_triples_canonical_fuzzy J5/C1-C2 remap through exact+fuzzy CC
  kg_link_edges         G3     ALIAS_OF + MAY_REFER_TO fan-out w/
                               trustable pruning (HierarchyAnalysis)
  kg_node_counts        S4/§1  node materialization (typed + hypernyms)
  kg_node_props         §1.2   analysis results as node attributes
  kg_edge_counts        S4/C3  edge materialization + dedup + flow (G1)
  kg_edge_props         §1.3   property-bearing edges (gap_s, provenance)
  kg_next_turn          G1     CFG-analog sequential threading
  kg_modality           A4/G4  consensus may/must
  kg_must_reach         G4     iterative summary-propagation fixpoint
  kg_reachability       G3/G5  iterative BFS over the entity DAG
  kg_mention_counts     §4.3.1 salted two-phase aggregation
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .extraction.extract import mentions_of, triples_of
from .graph.passes import entity_reachability, flow_edges, must_reach_fixpoint
from .graph.query import PropertyGraph
from .linking.fuzzy import alias_edges_from_scored
from .pipeline import Pipeline

# (applicationId, sf_dir, fuzzy) -> the query warehouse's Pipeline; keyed
# by session so a stopped session's Pipeline is never handed to a new one.
# The lock serializes stage builds: two threads materializing one stage
# would race on its tmp dir and the manifest file.
_PIPELINES: dict[tuple[str, str, bool], Pipeline] = {}
_LOCK = threading.Lock()


def clear_query_caches() -> None:
    """Delete the query warehouses (and the trained-codebook cache)."""
    with _LOCK:
        for pipe in _PIPELINES.values():
            shutil.rmtree(pipe.warehouse, ignore_errors=True)
        _PIPELINES.clear()
    from .ops.similarity import _CB_CACHE

    _CB_CACHE.clear()


atexit.register(clear_query_caches)


def _stage(
    spark: SparkSession, sf_dir: str, stage: str, fuzzy: bool = False
) -> DataFrame:
    """The named stage of this session's query warehouse for ``sf_dir``,
    materialized on first use (with every upstream stage it needs)."""
    key = (spark.sparkContext.applicationId, sf_dir, fuzzy)
    with _LOCK:
        pipe = _PIPELINES.get(key)
        if pipe is None:
            pipe = _PIPELINES[key] = Pipeline(
                spark, tempfile.mkdtemp(prefix="pq_query_wh_"), lineage=False
            )
        return pipe.run(sf_dir=sf_dir, resume=True, fuzzy=fuzzy, until=stage)[stage]


def q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stage(spark, sf_dir, "transcripts").select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


def q_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mentions_of(_stage(spark, sf_dir, "extraction"))


def q_triples_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triples_of(_stage(spark, sf_dir, "extraction"))


def q_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stage(spark, sf_dir, "entities")


def q_alias_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stage(spark, sf_dir, "alias_map")


def q_triples_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stage(spark, sf_dir, "triples_canonical")


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH blocking + structure-aware verify over the entity table
    (the north star's signature stage; reference analog:
    DefinitionCache.putDefinition unifying references through one key,
    DefinitionCache.java:56-74 — generalized to approximate keys): the
    accepted pairs of the fuzzy warehouse's scored-pair stage."""
    scored = _stage(spark, sf_dir, "fuzzy_pairs", fuzzy=True)
    return alias_edges_from_scored(scored).select("src", "dst")


def q_triples_canonical_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical triples with the fuzzy alias pairs unioned into the CC
    graph: typo'd supplier keys (datagen.supp_typo) collapse into their
    true entities before endpoint remapping."""
    return _stage(spark, sf_dir, "triples_canonical", fuzzy=True)


def q_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK-graph edge counts from the fuzzy layer: ALIAS_OF (accepted
    merges, J5 trace) and MAY_REFER_TO (sub-threshold fan-out with the
    trustable-pruning rule — HierarchyAnalysis.java:93-104,
    ASTAuxiliarStorage.java:48-62)."""
    return (
        _stage(spark, sf_dir, "edges", fuzzy=True)
        .filter(F.col("rel_type").isin("ALIAS_OF", "MAY_REFER_TO"))
        .groupBy("rel_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_node_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _stage(spark, sf_dir, "nodes")
    return nodes.groupBy("node_type").agg(F.count(F.lit(1)).alias("n"))


def q_node_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-property audit (§1.2 'analysis results as attributes'):
    ENTITY-family nodes carry n_mentions/n_surfaces, TURN nodes carry
    n_chars — summed per node_type so the value hash certifies the
    attribute values themselves."""
    v = F.coalesce(
        F.col("props")["n_mentions"], F.col("props")["n_chars"]
    ).cast("long")
    return (
        _stage(spark, sf_dir, "nodes")
        .filter(F.col("node_type").isin(
            "TURN", "CUSTOMER", "NATION", "ORDER", "PART", "SUPPLIER"
        ))
        .groupBy("node_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(v).alias("sum_v"))
    )


def q_edge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _stage(spark, sf_dir, "edges")
    return edges.groupBy("rel_graph", "rel_type").agg(F.count(F.lit(1)).alias("n"))


def q_edge_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-property audit (reference: property-bearing relationships,
    SURVEY.md §1.3): FLOW edges carry gap_s (seconds between endpoint
    turns), SEMANTIC edges carry first-asserting provenance
    (prov_conv, prov_turn), REFERS_TO edges carry the use/def role
    (declares | references — the G2/PDG access-classification analog,
    PDGProcessing.java:299-321). Aggregated per rel_type so the value
    hash certifies every edge's props, not just their presence; for
    REFERS_TO, sum_v = number of declaring mentions."""
    v = F.when(
        F.col("rel_type") == "REFERS_TO",
        (F.col("props")["role"] == "declares").cast("long"),
    ).otherwise(
        F.coalesce(F.col("props")["gap_s"], F.col("props")["prov_turn"]).cast(
            "long"
        )
    )
    return (
        _stage(spark, sf_dir, "edges")
        .filter(
            F.col("rel_graph").isin("FLOW", "SEMANTIC")
            | (F.col("rel_type") == "REFERS_TO")
        )
        .groupBy("rel_graph", "rel_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(v).alias("sum_v"))
    )


def q_tool_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOOL_RESULT_OF provenance audit: per tool name (carried as an edge
    prop — the exception-provenance analog, CFG_MAY_THROW edges carry
    exceptionType/methodName, ASTAuxiliarStorage.java:106-131), the edge
    count and total gap seconds. Certifies the prop VALUES, not just
    their presence."""
    tr = _stage(spark, sf_dir, "transcripts")
    e = flow_edges(tr).filter(F.col("rel_type") == "TOOL_RESULT_OF")
    return e.groupBy(F.col("props")["tool"].alias("tool")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("props")["gap_s"].cast("long")).alias("sum_gap_s"),
    )


def q_node_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypernym-category audit (§1.1): explode every node's ``categories``
    array and count per (node_type, category) — value-certifies the
    multi-label hypernym attachment itself (reference:
    DatabaseFacade.addMultiLabelHypernyms, DatabaseFacade.java:44-47;
    NodeTypes enum hypernym accumulation, NodeTypes.java:81-97)."""
    return (
        _stage(spark, sf_dir, "nodes")
        .select("node_type", F.explode("categories").alias("category"))
        .groupBy("node_type", "category")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_next_turn(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _stage(spark, sf_dir, "transcripts")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        tr.select(
            "conv_id",
            "turn_idx",
            "role",
            F.lead("turn_idx").over(w).alias("next_turn_idx"),
            F.lead("role").over(w).alias("next_role"),
        )
        .filter(F.col("next_turn_idx").isNotNull())
        .select("conv_id", "turn_idx", "next_turn_idx", "role", "next_role")
    )


def q_modality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stage(spark, sf_dir, "modality")


def q_must_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 analog: iterative summary-propagation fixpoint — transitive
    closure over 'must'-modality entity edges (semi-naive, per-round
    checkpointing; InterproceduralPDG.java:18-187)."""
    return must_reach_fixpoint(q_modality(spark, sf_dir))


def q_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3/G5 analog: BFS entity reachability from nation roots."""
    return entity_reachability(q_triples_canonical(spark, sf_dir))


def q_mention_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stage(spark, sf_dir, "mention_counts")


def _property_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    """Full property graph (all node families; structure + link + semantic
    + flow edges) wrapped in the ProgQuery-analog query surface."""
    return PropertyGraph(
        _stage(spark, sf_dir, "nodes"), _stage(spark, sf_dir, "edges")
    )


def q_gq_tool_callers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-query surface (reference parity: downstream Cypher over the
    built graph — the exception-provenance query shape, 'which methods are
    reached by CFG_MAY_THROW edges of type X', ASTAuxiliarStorage.java:
    106-131): per (tool, caller_role), how many tool results flowed back —
    match TURN(name='tool') -[TOOL_RESULT_OF {tool}]-> TURN, grouped by
    the edge's tool prop and the destination turn's role."""
    g = _property_graph(spark, sf_dir)
    # rel_graph pins the edge family: rel_type alone would also match a
    # SEMANTIC edge whose data-borne pred had the same name
    hop = g.match("TURN", name="tool").out(
        "TOOL_RESULT_OF", rel_graph="FLOW", into="TURN", edge_props=("tool",)
    )
    return (
        hop.df()
        .groupBy(
            F.col("edge_tool").alias("tool"),
            F.col("name").alias("caller_role"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_gq_entity_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-query surface: entities referenced from 2+ conversations —
    match MENTION -[REFERS_TO]-> entity, carrying the mention's conv_id
    through the hop, then count distinct conversations per canonical
    entity (the 'definition used across compilation units' query shape,
    DefinitionCache.java:20-31)."""
    g = _property_graph(spark, sf_dir)
    hop = g.match("MENTION").out(
        "REFERS_TO", rel_graph="LINK", carry=("conv_id",)
    )
    return (
        hop.df()
        .groupBy("canonical_key")
        .agg(F.countDistinct("src_conv_id").alias("n_convs"))
        .filter(F.col("n_convs") >= 2)
    )


def q_gq_assistant_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-query surface, two STRUCTURE hops with a node-prop filter:
    match CONVERSATION -[HAS_TURN]-> TURN {role: assistant}
    -[HAS_MENTION]-> MENTION, counted per conversation — mentions that
    assistant turns contributed (the scoped-containment query shape,
    'program -> class -> member' traversals over HAS_* structure edges)."""
    g = _property_graph(spark, sf_dir)
    hop = (
        g.match("CONVERSATION")
        .out("HAS_TURN", rel_graph="STRUCTURE", into="TURN")
        .where(F.col("props")["role"] == "assistant")
        .out("HAS_MENTION", rel_graph="STRUCTURE", into="MENTION")
    )
    return hop.df().groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_mentions"))


def q_gq_customer_orbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-query surface, variable-length traversal: everything within
    1..2 SEMANTIC hops of any customer entity — match CUSTOMER
    -[*1..2 {rel_graph: SEMANTIC}]-> node, counted per (hops, destination
    node type). Cypher's ``-[:R*1..k]->`` with min-distance semantics (the
    transitive-walk query shape: subtype-DAG propagation,
    HierarchyAnalysis.java:28-113). One count unit = one distinct
    (customer root, destination node) pair at its BFS distance; hop 1
    reaches nations/orders/literal props, hop 2 reaches parts + order
    literals."""
    g = _property_graph(spark, sf_dir)
    orbit = g.match("CUSTOMER").out_star(rel_graph="SEMANTIC", max_hops=2)
    return (
        orbit.df()
        .groupBy("hops", F.col("node_type").alias("dst_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_gq_supplier_upstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-query surface, variable-length traversal AGAINST edge
    direction: everything within 1..3 reverse SEMANTIC hops of any
    supplier entity — match SUPPLIER <-[*1..3 {rel_graph: SEMANTIC}]-
    node, counted per (hops, source node type). Cypher's ``<-[:R*1..k]-``
    (the reference's reverse-traversal query shape: 'which callers reach
    this definition', the backward walk over CALLS/REFERS_TO edges that
    DefinitionCache consumers issue). The semantic graph is layered
    (customer -placed-> order -includes-> part -supplied_by-> supplier),
    so the reverse frontier is PART at hop 1, ORDER at hop 2, CUSTOMER at
    hop 3 — three BFS rounds, one deeper than the forward orbit gate, and
    the frontier drains exactly at the bound (no truncation warning).
    One count unit = one distinct (supplier root, upstream node) pair at
    its min BFS distance."""
    g = _property_graph(spark, sf_dir)
    up = g.match("SUPPLIER").in_star(rel_graph="SEMANTIC", max_hops=3)
    return (
        up.df()
        .groupBy("hops", F.col("node_type").alias("src_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_gq_part_early_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-query surface, relationship predicate: parts appearing in
    the first two line slots of any order — match ORDER
    -[includes WHERE ordinal <= 2]-> PART, counted per part. Cypher's
    ``-[r:R WHERE r.p]->`` (the reference's property-qualified edge
    matches: CFG_MAY_THROW filtered by exceptionType, switch dispatch by
    caseIndex — ASTAuxiliarStorage.java:120-125, CFGVisitor.java:544-556).
    The predicate is an arbitrary Column over the edge frame applied
    BEFORE the hop joins, so it reaches the SEMANTIC family's C3-dedup
    aggregate instead of filtering post-join; one count unit = one
    materialized edge, i.e. one distinct (order, part, 'includes',
    ordinal <= 2) tuple."""
    g = _property_graph(spark, sf_dir)
    hop = g.match("ORDER").out(
        "includes",
        rel_graph="SEMANTIC",
        into="PART",
        edge_where=F.col("ordinal") <= 2,
    )
    return (
        hop.df()
        .groupBy(F.col("canonical_key").alias("part_key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_gq_turn_tool_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-query surface, OPTIONAL MATCH: per turn role, how many turns
    exist and how many of them produced a tool result — match TURN,
    OPTIONAL MATCH (turn)-[TOOL_RESULT_OF]->(prev), group by the START
    turn's role. Unmatched turns (every non-tool turn, plus a tool turn
    opening its conversation) survive as one null-destination row, so
    ``count(*)`` counts turns while ``count(node_id)`` counts matches —
    the left-join query shape the reference's consumers use for coverage
    audits ('which methods have NO incoming call edge'). The carried
    start-role column rides the left join untouched."""
    g = _property_graph(spark, sf_dir)
    hop = g.match("TURN").out(
        "TOOL_RESULT_OF", rel_graph="FLOW", into="TURN", carry=("name",),
        optional=True,
    )
    return (
        hop.df()
        .groupBy(F.col("src_name").alias("role"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count("node_id").alias("n_tool_results"),
        )
    )


def kg_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_transcripts": q_transcripts,
        "kg_mentions": q_mentions,
        "kg_triples_raw": q_triples_raw,
        "kg_entities": q_entities,
        "kg_alias_map": q_alias_map,
        "kg_triples_canonical": q_triples_canonical,
        "kg_fuzzy_pairs": q_fuzzy_pairs,
        "kg_triples_canonical_fuzzy": q_triples_canonical_fuzzy,
        "kg_link_edges": q_link_edges,
        "kg_node_counts": q_node_counts,
        "kg_node_props": q_node_props,
        "kg_node_categories": q_node_categories,
        "kg_edge_counts": q_edge_counts,
        "kg_edge_props": q_edge_props,
        "kg_next_turn": q_next_turn,
        "kg_tool_provenance": q_tool_provenance,
        "kg_modality": q_modality,
        "kg_must_reach": q_must_reach,
        "kg_reachability": q_reachability,
        "kg_mention_counts": q_mention_counts,
        "kg_gq_tool_callers": q_gq_tool_callers,
        "kg_gq_entity_reach": q_gq_entity_reach,
        "kg_gq_assistant_mentions": q_gq_assistant_mentions,
        "kg_gq_customer_orbit": q_gq_customer_orbit,
        "kg_gq_supplier_upstream": q_gq_supplier_upstream,
        "kg_gq_part_early_slots": q_gq_part_early_slots,
        "kg_gq_turn_tool_coverage": q_gq_turn_tool_coverage,
    }


def kg_oracles() -> dict[str, str]:
    from . import oracle as O

    # the oracle of every kg_<name> query is oracle.<name>_sql()
    return {name: getattr(O, f"{name[3:]}_sql")() for name in kg_queries()}
