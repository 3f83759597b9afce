"""Global graph passes (SURVEY.md §2.5-2.6 analogs).

These are the analogs of the reference's ``endAnalysis`` phase
(CompilationScheduler.java:146-154): passes that run over the *whole*
accumulated graph after per-conversation extraction — the only genuinely
multi-record computations in the system.

- G1 analog (CFG threading, CFGVisitor.java:23-729): conversational-flow
  edges — NEXT_TURN / NEXT_TURN_SAME_ROLE / REPLIES_TO / TOOL_RESULT_OF —
  via window functions over (conv_id, turn_idx). The reference threads
  CFG_NEXT_STATEMENT sequentially with a visitor; a sorted window is the
  distributed equivalent, no UDF needed.
- A4/G4 analog (consensus may/must, InterproceduralPDG.java:49-78): a
  relation between two entities is 'must' when *every* conversation that
  mentions the subject asserts it, 'may' otherwise — computed with the
  reference's count-vs-candidate-count consensus trick as a real
  distributed aggregation.
- G3/G4/G5 analogs (recursive walks): star traversals, entity
  reachability and must-reach all run one semi-naive multi-source BFS
  loop, ``_bfs``, with one stop test and one truncation rule.
- Salted two-phase aggregation for hot keys (SURVEY.md §4.3.1): nations /
  priorities are Zipf-hot; mention counting goes groupBy(key, salt) ->
  groupBy(key) so no single reducer owns a hot key's entire mention set.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from .materialize import node_id


def flow_edges(transcripts: DataFrame) -> DataFrame:
    """NEXT_TURN / NEXT_TURN_SAME_ROLE / REPLIES_TO / TOOL_RESULT_OF.

    One shuffle on conv_id; all four families come from the same window
    pass (Catalyst reuses the sort).

    Every flow edge carries ``gap_s`` (wall-clock seconds between its
    endpoints) in props — the reference's edges are property-bearing, not
    bare (exceptionType/methodName on CFG_MAY_THROW,
    ASTAuxiliarStorage.java:120-125; caseIndex/value on switch dispatch,
    CFGVisitor.java:544-556).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    w_role = Window.partitionBy("conv_id", "role").orderBy("turn_idx")
    prec = w.rowsBetween(Window.unboundedPreceding, -1)
    ts = F.unix_timestamp("ts")
    base = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        F.lead("turn_idx").over(w).alias("next_idx"),
        (F.lead(ts).over(w) - ts).alias("gap_next"),
        F.lead("turn_idx").over(w_role).alias("next_same_role_idx"),
        (F.lead(ts).over(w_role) - ts).alias("gap_same_role"),
        F.last(F.when(F.col("role") == "user", F.col("turn_idx")), ignorenulls=True)
        .over(prec)
        .alias("prev_user_idx"),
        (ts - F.last(F.when(F.col("role") == "user", ts), ignorenulls=True).over(prec))
        .alias("gap_replies"),
        F.lag("turn_idx").over(w).alias("prev_idx"),
        (ts - F.lag(ts).over(w)).alias("gap_tool"),
    )

    def _mk(src_idx: str, dst_idx: str, gap_col: str, rel: str, flt, extra=None) -> DataFrame:
        entries = [F.lit("gap_s"), F.col(gap_col).cast("string")]
        if extra:
            entries.extend(extra)
        return base.filter(flt).select(
            node_id(F.lit("turn"), "conv_id", src_idx).alias("src_id"),
            node_id(F.lit("turn"), "conv_id", dst_idx).alias("dst_id"),
            F.lit(rel).alias("rel_type"),
            F.lit("FLOW").alias("rel_graph"),
            F.lit(None).cast("int").alias("ordinal"),
            F.create_map(*entries).alias("props"),
        )

    next_turn = _mk(
        "turn_idx", "next_idx", "gap_next", "NEXT_TURN", F.col("next_idx").isNotNull()
    )
    next_same = _mk(
        "turn_idx",
        "next_same_role_idx",
        "gap_same_role",
        "NEXT_TURN_SAME_ROLE",
        F.col("next_same_role_idx").isNotNull(),
    )
    replies = _mk(
        "turn_idx",
        "prev_user_idx",
        "gap_replies",
        "REPLIES_TO",
        (F.col("role") != "user") & F.col("prev_user_idx").isNotNull(),
    )
    # TOOL_RESULT_OF carries the tool name — the exception-provenance
    # analog (reference: CFG_MAY_THROW edges carry exceptionType/methodName,
    # ASTAuxiliarStorage.java:106-131)
    tool_res = _mk(
        "turn_idx",
        "prev_idx",
        "gap_tool",
        "TOOL_RESULT_OF",
        (F.col("role") == "tool") & F.col("prev_idx").isNotNull(),
        extra=[F.lit("tool"), F.coalesce(F.col("tool"), F.lit(""))],
    )
    return next_turn.unionByName(next_same).unionByName(replies).unionByName(tool_res)


def autotune_salt_width(
    mentions: DataFrame,
    target_per_reducer: int = 2_000_000,
    max_salt: int = 256,
    sample_fraction: float = 0.01,
    seed: int = 7,
) -> int:
    """Choose the salt width from a cheap sampled pre-pass (SURVEY §4.3.1's
    commitment — width from measurement, not a hard-coded constant).

    Estimator: per-key counts on a seeded ``sample_fraction`` sample; the
    sampled max scaled by 1/fraction approximates the hottest key's row
    count; width = ceil(hot_rows / target_per_reducer), clamped to
    [1, max_salt]. At sandbox scale this correctly returns 1 (no key needs
    sharding — salting unskewed data is pure overhead); at 10^12 turns a
    hot nation key holds ~10^10 mentions and the width saturates at
    max_salt. The choice only shapes the shuffle: the two-phase count is
    value-identical for every width (equivalence-tested).
    """
    import math

    ent = mentions.filter(F.col("mention_type") != "literal")
    row = (
        ent.sample(fraction=sample_fraction, seed=seed)
        .groupBy("norm_key")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mx"))
        .first()
    )
    est_hot = (row["mx"] or 0) / sample_fraction
    return int(min(max_salt, max(1, math.ceil(est_hot / target_per_reducer))))


def salted_mention_counts(
    mentions: DataFrame, alias_map: DataFrame, n_salt: int | None = None
) -> DataFrame:
    """Per-canonical-entity mention counts via two-phase salted aggregation.

    Phase 1 shards each hot key across ``n_salt`` reducers (width
    autotuned from a sampled pre-pass when not given); phase 2 merges the
    partials. For a commutative count the result is identical to a
    one-phase groupBy — the point is the shuffle shape at 10^12 rows
    (reference has no analog: a single-JVM HashMap doesn't feel skew —
    SURVEY.md §4.3.1).
    """
    if n_salt is None:
        n_salt = autotune_salt_width(mentions)
    m = (
        mentions.filter(F.col("mention_type") != "literal")
        # alias-map join: no hard broadcast hint (see canonicalize.remap) —
        # Catalyst/AQE broadcasts when it fits, shuffles when it doesn't
        .join(alias_map, "norm_key", "left")
        .withColumn("ck", F.coalesce("canonical_key", "norm_key"))
        .withColumn("salt", F.pmod(F.xxhash64("conv_id", "turn_idx", "span_start"), F.lit(n_salt)))
    )
    partial = m.groupBy("ck", "salt").agg(F.count(F.lit(1)).alias("c"))
    return partial.groupBy("ck").agg(F.sum("c").alias("n_mentions")).select(
        F.col("ck").alias("canonical_key"), F.col("n_mentions").cast("long")
    )


def _bfs(
    frontier: DataFrame,
    edges: DataFrame,
    level: int,
    max_level: int,
    stacklevel: int = 3,
) -> DataFrame:
    """Semi-naive multi-source BFS — the one round loop behind
    ``NodeSet.out_star``/``in_star``, ``entity_reachability`` and
    ``must_reach_fixpoint``.

    ``frontier(root, node)`` holds distinct seed pairs at BFS level
    ``level``; ``edges(src, dst)`` must be deduplicated. Per round only the
    previous frontier joins the edges (new facts only — the memoization
    analog), deduplicates, anti-joins everything reached and cuts lineage
    with an eager ``localCheckpoint``; an ``Observation`` on that
    checkpoint counts the new frontier, so draining costs no extra job.
    Returns (root, node, hops), hops = min distance, seeds included.

    Truncation rule: when level ``max_level`` still has a non-empty
    frontier, one more expansion runs as a probe (its rows are not kept)
    and warns only if it reaches an unreached pair — a walk that drains
    exactly at the bound is complete and stays silent. ``stacklevel``
    points the warning at the public caller's call site.
    """
    reached = frontier.select(
        "root", "node", F.lit(level).cast("int").alias("hops")
    ).localCheckpoint(eager=True)
    frontier = reached
    for hop in range(level + 1, max_level + 2):
        step = frontier.join(edges, frontier["node"] == edges["src"]).select(
            "root", F.col("dst").alias("node")
        )
        if hop > max_level:
            # the probe needs one unreached pair, not the whole level: no
            # dedup, no checkpoint, a one-row take. Results beyond the
            # bound diverge from the unbounded recursive-CTE oracles, so
            # truncation is surfaced, never silent.
            if step.join(reached, ["root", "node"], "left_anti").take(1):
                warnings.warn(
                    f"BFS truncated at the {max_level}-hop bound: reachable "
                    "pairs beyond it are missing from the result (raise the "
                    "bound or expect oracle divergence)",
                    stacklevel=stacklevel,
                )
            break
        counted = Observation()
        frontier = (
            step.dropDuplicates(["root", "node"])
            .join(reached, ["root", "node"], "left_anti")
            .withColumn("hops", F.lit(hop).cast("int"))
            .observe(counted, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        if counted.get["n"] == 0:
            break
        reached = reached.unionByName(frontier).localCheckpoint(eager=True)
    return reached


def entity_reachability(
    canonical_triples: DataFrame, max_hops: int = 8
) -> DataFrame:
    """G3/G5 analog: BFS over the entity graph via iterative frontier joins.

    The reference's only recursive whole-graph operators are the subtype-DAG
    propagation of dynamic dispatch (HierarchyAnalysis.java:28-113) and the
    call-graph reachability of initialization analysis
    (ASTAuxiliarStorage.doInitializationAnalysis:169-202) — both memoized
    single-JVM recursions. The distributed form is level-synchronous BFS
    (``_bfs``): ``frontier ⋈ edges`` per round, anti-join against the
    reached set, until the frontier drains (SURVEY.md §2.6 G3/G5: "iterative
    join over the DAG, bounded depth").

    Transcript graph: nation -> customer (reversed ``from_nation``), then
    customer -> order (``placed``), order -> part (``includes``) — a DAG of
    depth 3, so the bound is slack. Returns (root, node, hops) with
    hops = BFS level = min distance; (root, root, 0) rows included. Warns
    "truncated" when pairs lie beyond ``max_hops``; a walk that drains
    exactly at ``max_hops`` does not warn.
    """
    t = canonical_triples
    edges = (
        t.filter(F.col("pred") == "from_nation")
        .select(F.col("obj").alias("src"), F.col("subj").alias("dst"))
        .unionByName(
            t.filter(F.col("pred") == "placed").select(
                F.col("subj").alias("src"), F.col("obj").alias("dst")
            )
        )
        .unionByName(
            t.filter(F.col("pred") == "includes").select(
                F.col("subj").alias("src"), F.col("obj").alias("dst")
            )
        )
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True)
    )
    roots = (
        edges.filter(F.col("src").startswith("nation:"))
        .select(F.col("src").alias("root"))
        .distinct()
    )
    return _bfs(roots.withColumn("node", F.col("root")), edges, 0, max_hops)


def must_reach_fixpoint(
    modality: DataFrame, max_rounds: int = 16
) -> DataFrame:
    """G4 analog — iterative summary propagation to fixpoint.

    The reference's interprocedural pass is a memoized DFS that merges
    callee summaries into callers until stable
    (InterproceduralPDG.java:18-187, driver
    ASTAuxiliarStorage.doInterproceduralPDGAnalysis:133-151): each
    method's final summary is its transitive view over must-executed
    callees. The distributed form is semi-naive transitive closure over
    the 'must'-modality entity edges (``_bfs``, seeded with every edge at
    hop 1): per round, only the previous frontier joins the edge set (new
    facts only — the memoization analog), anti-joined against everything
    reached, localCheckpoint to truncate lineage; rounds stop when no new
    pairs appear (fixpoint), bounded by max_rounds. Type structure makes
    the must-graph a DAG (customer -> {nation, order}, order -> part,
    part -> supplier), so the bound is slack.

    Returns (src, dst, hops) with hops = min must-path length >= 1, up to
    ``max_rounds``. Warns "truncated" when pairs lie beyond
    ``max_rounds`` hops; a closure that drains exactly at the bound does
    not warn.
    """
    from ..canonicalize.remap import OBJ_IS_ENTITY

    edges = (
        modality.filter(
            (F.col("modality") == "must") & F.col("pred").isin(*OBJ_IS_ENTITY)
        )
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True)
    )
    seeds = edges.select(F.col("src").alias("root"), F.col("dst").alias("node"))
    return _bfs(seeds, edges, 1, max_rounds).select(
        F.col("root").alias("src"), F.col("node").alias("dst"), "hops"
    )


def consensus_modality(canonical_triples: DataFrame) -> DataFrame:
    """A4/G4 analog: per (subj, pred, obj), 'must' iff every conversation
    mentioning the subject asserts the triple.

    Reference trick (InterproceduralPDG.java:49-78): count agreeing
    candidates, compare with candidate count; must survives only on
    unanimity. Here: n_conv_asserting == n_conv_subj_total.
    """
    per_conv = canonical_triples.select("conv_id", "subj", "pred", "obj").distinct()
    subj_convs = (
        per_conv.select("conv_id", "subj")
        .distinct()
        .groupBy("subj")
        .agg(F.count(F.lit(1)).alias("n_conv_subj"))
    )
    asserting = per_conv.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).alias("n_conv_asserting")
    )
    return asserting.join(subj_convs, "subj").select(
        "subj",
        "pred",
        "obj",
        "n_conv_asserting",
        "n_conv_subj",
        F.when(F.col("n_conv_asserting") == F.col("n_conv_subj"), F.lit("must"))
        .otherwise(F.lit("may"))
        .alias("modality"),
    )
