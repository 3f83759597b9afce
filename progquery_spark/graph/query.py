"""Composable query surface over the materialized property graph — the
in-repo analog of the reference's downstream graph querying (ProgQuery's
users ask Cypher questions over the Neo4j graph it builds; the shipped
program-analysis queries are the product, the extraction is the means —
see the query evaluation and the query surface described in the
reference's README.md). SURVEY
§2 scopes this repo as the extraction pipeline; this module gives a user
switching from the reference SOMEWHERE to ask the same *kind* of
questions — match typed nodes, walk labeled edges, filter on properties —
re-expressed Spark-first instead of translated from Cypher.

Design rules (the 100 TB contract):

- Every step is a LAZY DataFrame transformation: an entire
  match -> hop -> filter -> aggregate chain compiles into one Catalyst
  plan. ``match(node_type=...)`` is a filter the optimizer pushes into
  the node scan — over a lazily composed graph, whose node frame is a
  union of per-family subtrees with a literal node_type, constant
  folding prunes every non-matching family's scan outright; over stage
  snapshots (the registered queries, queries.py) it becomes a parquet
  data filter.
- A hop is two equi-joins (node_id = src_id, then dst_id = node_id).
  AQE picks broadcast vs shuffled-hash per actual side size; there is no
  cartesian anywhere (plan-tested). On a warehouse bucketed by
  node_id/src_id the hop joins are shuffle-free.
- Multiplicity is Cypher's MATCH: one row per traversed edge (aggregate
  to dedup); ``optional=True`` is OPTIONAL MATCH (one null row per
  unmatched start, left-joining the edge+destination pattern as a unit)
  and ``edge_where`` is the relationship predicate ``-[r:R WHERE r.p]->``
  (filtered before the hop joins, so it pushes into the edge scans).
  Nothing collects to the driver; nothing is per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .passes import _bfs

#: columns every node row carries (materialize._pad's uniform schema)
_RESERVED = ("src_", "edge_")


def _filter_type(df: DataFrame, node_type) -> DataFrame:
    """node_type equality, or Cypher's multi-label ``(n:A|B)`` when given
    a list/tuple — both constant-fold literal-typed families."""
    if isinstance(node_type, (list, tuple, set)):
        if not node_type:
            # isin() of nothing folds to FALSE — an empty dynamic label
            # list would silently return zero rows, indistinguishable
            # from a legitimately empty match
            raise ValueError(
                "empty node_type list: pass None to match every type, or "
                "at least one label"
            )
        return df.filter(F.col("node_type").isin(*sorted(node_type)))
    return df.filter(F.col("node_type") == node_type)


class PropertyGraph:
    """Entry point: wraps the (nodes, edges) frames ``build_nodes`` /
    ``build_edges`` (+ ``flow_edges`` etc.) produce."""

    def __init__(self, nodes: DataFrame, edges: DataFrame):
        self.nodes = nodes
        self.edges = edges

    def match(
        self,
        node_type: str | list[str] | tuple[str, ...] | None = None,
        name: str | None = None,
        where=None,
    ) -> "NodeSet":
        """Select a starting node set by type / name / arbitrary Column
        predicate (use ``F.col("props")["k"]`` for property matches).
        ``node_type`` also takes a list/tuple — Cypher's multi-label
        pattern ``(n:A|B)``; the isin over literals constant-folds
        non-matching literal-typed families exactly like the single-type
        equality does."""
        df = self.nodes
        if node_type is not None:
            df = _filter_type(df, node_type)
        if name is not None:
            df = df.filter(F.col("name") == name)
        if where is not None:
            df = df.filter(where)
        return NodeSet(self, df)


class NodeSet:
    """A lazily-built set of (node row, carried context) rows. ``out`` /
    ``in_`` walk one edge; ``carry`` keeps columns from the CURRENT node
    into the result as ``src_<col>``; ``edge_props`` surfaces edge
    properties as ``edge_<key>``. Carried columns persist through later
    hops (they are plain columns), so multi-hop provenance is free."""

    def __init__(self, graph: PropertyGraph, df: DataFrame):
        self._g = graph
        self._df = df

    def where(self, cond) -> "NodeSet":
        return NodeSet(self._g, self._df.filter(cond))

    def out(
        self, rel_type=None, rel_graph=None, into=None, carry=(),
        edge_props=(), edge_where=None, optional=False,
    ):
        """Follow edges src -> dst; the result set is the dst nodes.

        Pass ``rel_graph`` whenever you know the family: it is a LITERAL
        in every edge-family subtree, so the filter constant-folds the
        other families' scans out of the plan. ``rel_type`` alone cannot
        prune SEMANTIC edges — their rel_type is the data-borne ``pred``
        column. Likewise pass ``into`` (the destination node_type) when
        known: structural node families carry literal types, so the
        destination-side union prunes the same way (entity-family types
        are data-borne and filter at runtime instead).

        ``edge_where`` is Cypher's relationship predicate
        (``-[r:R WHERE r.p]->``): an arbitrary Column over the edge frame
        (``ordinal``, ``props['k']``, ...) applied BEFORE the hop joins,
        so Catalyst pushes it into the edge-family scans. ``optional=True``
        is Cypher's OPTIONAL MATCH: start rows whose pattern (edge AND
        destination filters) finds no match survive as ONE row with null
        destination/edge columns — count matches with ``F.count("node_id")``
        (nulls excluded) vs rows with ``F.count(F.lit(1))``. Chaining a
        further hop off an optional result drops the null rows (the next
        hop's equi-join is null-rejecting), mirroring Cypher."""
        return self._hop(
            "src_id", "dst_id", rel_type, rel_graph, into, carry,
            edge_props, edge_where, optional,
        )

    def in_(
        self, rel_type=None, rel_graph=None, into=None, carry=(),
        edge_props=(), edge_where=None, optional=False,
    ):
        """Follow edges dst -> src (the reverse direction)."""
        return self._hop(
            "dst_id", "src_id", rel_type, rel_graph, into, carry,
            edge_props, edge_where, optional,
        )

    def out_star(
        self,
        rel_type=None,
        rel_graph=None,
        min_hops: int = 1,
        max_hops: int = 3,
        into=None,
        carry=(),
        edge_where=None,
    ) -> "NodeSet":
        """Bounded variable-length traversal — Cypher's ``-[:R*m..k]->``
        (the reference's most-used query shape: transitive AST walks,
        e.g. the subtype-DAG propagation of HierarchyAnalysis.java:28-113
        and the call-graph recursion of ASTAuxiliarStorage
        .doInitializationAnalysis:169-202, both memoized single-JVM
        recursions).

        Semantics are MIN-DISTANCE, one row per (start row, destination
        node) with an ``int hops`` column — not one row per path: path
        enumeration is exponential on branchy graphs and the reference's
        memoized recursions visit each node once, i.e. BFS. ``min_hops=0``
        includes the start nodes themselves.

        Unlike single hops this is NOT lazy: level-synchronous BFS needs
        an action per round (frontier ⋈ edges, dedup, anti-join reached,
        ``localCheckpoint`` to cut the exponential lineage). The rounds
        run in ``graph.passes._bfs``, the one semi-naive BFS loop shared
        with ``entity_reachability`` and ``must_reach_fixpoint`` (SURVEY
        §2.6 G3/G5); an ``Observation`` on each round's checkpoint counts
        the frontier, as in canonicalize.cc. Start rows are deduplicated
        to distinct (node_id, carried...) tuples first (min-distance is
        per start NODE); the BFS itself runs once per distinct node_id and
        carried context re-attaches by join afterwards, so duplicate
        contexts don't multiply traversal work. Truncation follows the
        helper's one rule: if the hop-``max_hops`` frontier is non-empty,
        one probe expansion runs and warns "truncated" only when it
        reaches unreached nodes — a walk that drains exactly at the bound
        stays silent. ``edge_where`` (Cypher's
        ``-[r:R*m..k WHERE r.p]->``) filters the edge set ONCE before the
        BFS — every traversed level crosses only predicate-passing
        edges."""
        return self._star(
            "src_id", "dst_id", rel_type, rel_graph, min_hops, max_hops,
            into, carry, edge_where,
        )

    def in_star(
        self,
        rel_type=None,
        rel_graph=None,
        min_hops: int = 1,
        max_hops: int = 3,
        into=None,
        carry=(),
        edge_where=None,
    ) -> "NodeSet":
        """Variable-length traversal AGAINST edge direction — Cypher's
        ``<-[:R*m..k]-``. Same min-distance BFS semantics as ``out_star``
        with src/dst swapped."""
        return self._star(
            "dst_id", "src_id", rel_type, rel_graph, min_hops, max_hops,
            into, carry, edge_where,
        )

    def _star(
        self, here, there, rel_type, rel_graph, min_hops, max_hops, into,
        carry, edge_where=None,
    ) -> "NodeSet":
        if not (0 <= min_hops <= max_hops) or max_hops < 1:
            raise ValueError(
                f"star hop needs 0 <= min_hops <= max_hops, >= 1 hop max; "
                f"got min_hops={min_hops}, max_hops={max_hops}"
            )
        e = self._g.edges
        if rel_type is not None:
            e = e.filter(F.col("rel_type") == rel_type)
        if rel_graph is not None:
            e = e.filter(F.col("rel_graph") == rel_graph)
        if edge_where is not None:
            e = e.filter(edge_where)
        edges = e.select(
            F.col(here).alias("src"), F.col(there).alias("dst")
        ).dropDuplicates(["src", "dst"])
        kept = [c for c in self._df.columns if c.startswith(_RESERVED)]
        for c in carry:
            if f"src_{c}" in kept:
                raise ValueError(
                    f"carry collision: src_{c} already carried by an "
                    "earlier hop — alias it before carrying again"
                )
        starts = self._df.select(
            F.col("node_id").alias("__root"),
            *[F.col(c) for c in kept],
            *[F.col(c).alias(f"src_{c}") for c in carry],
        )
        # the start-set dedup is a set operation, and Spark set ops reject
        # map-typed columns — a carried `props` (legal on single hops,
        # which never dedup) would die here with a cryptic analysis error.
        # Refuse with the fix spelled out instead.
        maps = [
            f.name
            for f in starts.schema.fields
            if f.dataType.typeName() == "map"
        ]
        if maps:
            raise ValueError(
                f"star hop cannot carry map-typed columns {maps}: the "
                "min-distance start-set dedup is a set operation, which "
                "Spark forbids on maps — carry a scalar instead, e.g. "
                "F.col(\"props\")[\"key\"] aliased via .where/.df() before "
                "the star hop"
            )
        starts = starts.dropDuplicates()
        seeds = starts.select(
            F.col("__root").alias("root"), F.col("__root").alias("node")
        ).distinct()
        # stacklevel 4: the warning names the line that called out_star /
        # in_star (-> _star -> _bfs), not a frame inside this package
        reached = _bfs(seeds, edges, 0, max_hops, stacklevel=4).select(
            F.col("root").alias("__root"), F.col("node").alias("__node"), "hops"
        )
        hits = reached.filter(F.col("hops") >= min_hops)
        dst = self._g.nodes
        if into is not None:
            dst = _filter_type(dst, into)
        joined = hits.join(starts, "__root").drop("__root")
        out = joined.join(dst, joined["__node"] == dst["node_id"]).drop(
            "__node"
        )
        return NodeSet(self._g, out)

    def _hop(
        self, here, there, rel_type, rel_graph, into, carry, edge_props,
        edge_where=None, optional=False,
    ):
        e = self._g.edges
        if rel_type is not None:
            e = e.filter(F.col("rel_type") == rel_type)
        if rel_graph is not None:
            e = e.filter(F.col("rel_graph") == rel_graph)
        if edge_where is not None:
            e = e.filter(edge_where)
        kept = [c for c in self._df.columns if c.startswith(_RESERVED)]
        for c in carry:
            if f"src_{c}" in kept:
                raise ValueError(
                    f"carry collision: src_{c} already carried by an "
                    "earlier hop — alias it before carrying again"
                )
        for p in edge_props:
            if f"edge_{p}" in kept:
                # same failure mode as the carry collision: a duplicate
                # edge_<p> column dies later with Spark's opaque
                # AMBIGUOUS_REFERENCE on first use
                raise ValueError(
                    f"edge-prop collision: edge_{p} already surfaced by "
                    "an earlier hop — alias it before requesting it again"
                )
        left = self._df.select(
            F.col("node_id").alias("__here"),
            *[F.col(c) for c in kept],
            *[F.col(c).alias(f"src_{c}") for c in carry],
        )
        esel = [F.col(here).alias("__here"), F.col(there).alias("__there")]
        esel += [F.col("props")[p].alias(f"edge_{p}") for p in edge_props]
        dst = self._g.nodes
        if into is not None:
            dst = _filter_type(dst, into)
        # edge ⋈ dst FIRST, then starts joined to the matched pattern:
        # for inner hops the associativity is a no-op (Catalyst reorders
        # anyway), but it is what makes OPTIONAL MATCH multiplicity right —
        # a start whose edges ALL fail the dst filter gets one null row,
        # not one per failed edge
        matched = e.select(*esel).join(
            dst, F.col("__there") == dst["node_id"]
        ).drop("__there")
        out = left.join(
            matched, "__here", "left" if optional else "inner"
        ).drop("__here")
        return NodeSet(self._g, out)

    def df(self) -> DataFrame:
        return self._df
