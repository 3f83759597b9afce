"""Iterative connected components over the alias graph (SURVEY.md §2.4 C2).

The reference never needs CC: its keys are exact, so "components" are single
keys and unification is the eager placeholder->definition rewiring of
``DefinitionCache.putDefinition`` (DefinitionCache.java:56-74). Fuzzy alias
pairs make components non-trivial, so we run distributed min-label
propagation:

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated to fixpoint. Properties that matter at scale:
- every round is one shuffle (edges ⋈ labels) + one aggregation;
- ``localCheckpoint()`` each round truncates lineage so the plan does not
  grow linearly with iterations (SURVEY.md §4.3.3);
- convergence is detected without an extra job: each vertex's old label
  rides through the round's aggregation (``max`` of its own-label column),
  and an ``Observation`` on the round's eager checkpoint counts the
  vertices whose label changed; rounds are bounded (alias graphs are
  near-star-shaped: diameter ~2-4, so the bound is slack, but it turns a
  pathological chain into a warning instead of a hang);
- min-id tie-breaking makes the output deterministic regardless of
  partitioning (SURVEY.md §7.3.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame, max_rounds: int = 25
) -> tuple[DataFrame, int]:
    """edges(src:string, dst:string) -> (labels(id, component), rounds).

    ``component`` is the lexicographic min vertex id of the component.

    Partitioning is sized to the *graph*, not to the session default: the
    alias graph is orders of magnitude smaller than the corpus (distinct
    surfaces vs turns), and an iterative algorithm pays per-round task
    overhead on every partition. ~250k edges per partition keeps rounds
    cheap at bench scale and still spreads a billion-edge graph at 100 TB.
    """
    # symmetrize once; dedup to keep the join small
    sized = Observation()
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .dropDuplicates(["src", "dst"])
        .observe(sized, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = sized.get["n"]
    n_parts = max(4, min(512, n_edges // 250_000 + 1))
    sym = sym.repartition(n_parts, "src").localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        # candidate label for each vertex: min over its own label and its
        # neighbors' labels; the own row also carries the old label, so the
        # same aggregation yields both sides of the changed-label test
        neighbor = (
            sym.join(labels, sym.dst == labels.id, "inner")
            .select(
                sym.src.alias("id"),
                "component",
                F.lit(None).cast("string").alias("old"),
            )
        )
        changed = Observation()
        labels = (
            labels.select("id", "component", F.col("component").alias("old"))
            .union(neighbor)
            .groupBy("id")
            .agg(F.min("component").alias("component"), F.max("old").alias("old"))
            .observe(changed, F.count_if(F.col("component") != F.col("old")).alias("n"))
            .select("id", "component")
            .localCheckpoint(eager=True)
        )
        if changed.get["n"] == 0:
            break
    return labels, rounds


def canonical_map(labels: DataFrame, norm_keys: DataFrame) -> DataFrame:
    """(labels, norm_keys(norm_key)) -> alias_map(norm_key, canonical_key).

    Canonical key of a component = min *norm* vertex in it (surface
    vertices are 's|'-namespaced and excluded). Every norm key maps
    somewhere; exact-only graphs produce the identity map — the C2
    invariant tests assert exactly that.
    """
    norm_vertices = labels.join(
        norm_keys.select(F.col("norm_key").alias("id")).distinct(), "id"
    )
    canon = norm_vertices.groupBy("component").agg(
        F.min("id").alias("canonical_key")
    )
    return (
        norm_vertices.join(canon, "component")
        .select(F.col("id").alias("norm_key"), "canonical_key")
    )
