"""One scaling-run datapoint: the KG-construction chain (extract -> link ->
CC -> canonicalize) at a given parallelism over a shared prepared input.

Usage: python tools/scaling_job.py <cpus> <input_parquet> [shuffle_partitions]
Prints one JSON line {"cpus": N, "turns": T, "wall_sec": W, "turns_per_sec": X}.

The job is the compute-bound core of the pipeline (no per-stage
materialization, single count action at the end) so the measurement reflects
scalable work, not fixed checkpoint I/O. Input is prepared once by
bench_scaling.py and shared verbatim between parallelism levels (the
"same job, same input, two cluster sizes" protocol of the north rule).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:

    cpus = int(sys.argv[1])
    input_path = sys.argv[2]
    # fixed partition count across parallelism levels: a scaling comparison
    # varies CORES with the same plan shape (as adding executors to a real
    # cluster does), otherwise partition-count effects pollute the signal
    shuffle = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    # SCALING_BUCKETED=1: input is conversation-bucketed in storage (how
    # bench_scaling prepares it, and how a production Iceberg
    # bucket(conv_id) table lays it out) -> zero-shuffle extraction.
    # maxPartitionBytes must exceed the largest input file so no file is
    # split mid-conversation (whole-file packing is fine).
    bucketed = os.environ.get("SCALING_BUCKETED", "0") == "1"

    sys.path.insert(0, ROOT)
    from progquery_spark.session import get_spark
    from progquery_spark.canonicalize.cc import canonical_map, connected_components
    from progquery_spark.canonicalize.remap import canonicalize_triples
    from progquery_spark.extraction.extract import extract, mentions_of, triples_of
    from progquery_spark.linking.exact import (
        alias_edges_from_stats,
        link_entities_from_stats,
        surface_stats,
    )

    extra_conf = {}
    if bucketed:
        # one whole file (~10 MB here) per scan split: files must never be
        # split (conv completeness), and ~1 file/split keeps task count =
        # n_files = 64 at every level
        extra_conf["spark.sql.files.maxPartitionBytes"] = str(16 * 1024 * 1024)
        extra_conf["spark.sql.files.openCostInBytes"] = str(8 * 1024 * 1024)
    spark = get_spark(
        f"scaling-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=shuffle,
        extra_conf=extra_conf,
    )
    tr = spark.read.parquet(input_path)
    n_turns = tr.count()  # warm the file index; not part of the timed chain

    t0 = time.time()
    # materialize extraction exactly like the pipeline does (parquet stage
    # snapshot); .persist() deliberately avoided — building a deserialized
    # cache of the full extraction is serialization-bound and anti-scales
    ex_path = f"{input_path}._ex_{cpus}"
    extract(tr, pre_bucketed=bucketed).write.mode("overwrite").partitionBy(
        "kind"
    ).parquet(ex_path)
    ex = spark.read.parquet(ex_path)
    m = mentions_of(ex)
    # one corpus-sized shuffle for the whole linking phase; small result,
    # checkpointed so CC's per-round actions reuse it
    stats = surface_stats(m).localCheckpoint(eager=True)
    ents = link_entities_from_stats(stats)
    labels, _ = connected_components(alias_edges_from_stats(stats))
    amap = canonical_map(labels, ents.select("norm_key"))
    n_triples = canonicalize_triples(triples_of(ex), amap).count()
    wall = time.time() - t0
    spark.stop()

    print(
        json.dumps(
            {
                "cpus": cpus,
                "turns": n_turns,
                "triples": n_triples,
                "wall_sec": round(wall, 2),
                "turns_per_sec": round(n_turns / wall, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
