"""Benchmark harness — one JSON line on stdout.

Runs the headline KG-construction pipeline end-to-end at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints:

    {"metric": "kg_pipeline_e2e", "value": <sec>, "unit": "sec",
     "queries": {...per-stage/per-op sec...}, "sf": <dir>,
     "turns": N, "turns_per_sec": X, "cpus": C}

Extra env knobs:
    SPARK_GRAFT_CPUS      parallelism (default: all cores)
    SPARK_GRAFT_SF_DIR    input scale dir
    BENCH_WAREHOUSE       checkpoint dir (default: tmp, removed after)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from progquery_spark.session import get_spark
    from progquery_spark.datagen import build_transcripts
    from progquery_spark.pipeline import Pipeline

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)
    timings: dict[str, float] = {}

    # input cardinality (cheap count; excluded from the timed window)
    transcripts = build_transcripts(spark, sf_dir)
    n_turns = transcripts.count()

    tmp_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    warehouse = os.environ.get("BENCH_WAREHOUSE") or tempfile.mkdtemp(
        prefix="pq_bench_", dir=tmp_root
    )
    cleanup = "BENCH_WAREHOUSE" not in os.environ
    try:
        # lineage on, the CLI default: stage rows come from an
        # Observation and lineage rows from file footers, so it adds no
        # Spark job to the timed build
        t0 = time.time()
        pipe = Pipeline(spark, warehouse)
        pipe.run(sf_dir=sf_dir, resume=False)
        e2e = time.time() - t0
        for stage, rec in pipe.manifest.state["stages"].items():
            if not stage.startswith("_"):
                timings[f"stage_{stage}"] = round(rec["wall_ms"] / 1000.0, 3)

        # individual headline queries, forced through a noop sink (a
        # count() can prune projection-only work). Registered queries
        # read the stages of a per-session query warehouse, so each row
        # times the stage builds it triggers first (q_extract: transcripts
        # + extraction; q_canonical: linking through triples_canonical;
        # q_modality: nodes, edges, modality) plus the stage read; the
        # graph-query row reads the already-built nodes/edges stages.
        from progquery_spark import queries as Q
        from progquery_spark.ops import force

        for name, fn in (
            ("q_extract", Q.q_triples_raw),
            ("q_canonical", Q.q_triples_canonical),
            ("q_modality", Q.q_modality),
            # graph-query surface: a FLOW hop with edge props through
            # graph/query.py over the nodes/edges stages
            ("q_gq_tool_callers", Q.q_gq_tool_callers),
        ):
            t = time.time()
            force(fn(spark, sf_dir))
            timings[name] = round(time.time() - t, 3)

        # training-data ops, if present (added in later rounds)
        try:
            from progquery_spark.ops import bench_ops

            timings.update(bench_ops(spark, sf_dir))
        except ImportError:
            pass
    finally:
        if cleanup:
            shutil.rmtree(warehouse, ignore_errors=True)
        spark.stop()

    print(
        json.dumps(
            {
                "metric": "kg_pipeline_e2e",
                "value": round(e2e, 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf_dir,
                "turns": n_turns,
                "turns_per_sec": round(n_turns / e2e, 1),
                "cpus": cpus,
            }
        )
    )


if __name__ == "__main__":
    main()
