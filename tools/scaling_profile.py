"""Per-phase wall-clock profile of the scaling job at one parallelism level.

Usage: python tools/scaling_profile.py <cpus> <input_parquet>
Prints one JSON line with a phase->seconds map. Used to locate the
non-scaling fixed cost that caps scaling efficiency.
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
    shuffle = int(sys.argv[3]) if len(sys.argv) > 3 else 64

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

    spark = get_spark(
        f"scaling-prof-{cpus}", master=f"local[{cpus}]", shuffle_partitions=shuffle
    )
    tr = spark.read.parquet(input_path)
    n_turns = tr.count()

    phases: dict[str, float] = {}

    def tick(name, t0):
        phases[name] = round(time.time() - t0, 2)
        return time.time()

    t0 = time.time()
    ex_path = f"{input_path}._ex_{cpus}"
    extract(tr).write.mode("overwrite").partitionBy("kind").parquet(ex_path)
    t0 = tick("extract_write", t0)
    ex = spark.read.parquet(ex_path)
    m = mentions_of(ex)
    stats = surface_stats(m).localCheckpoint(eager=True)
    t0 = tick("surface_stats", t0)
    ents = link_entities_from_stats(stats).localCheckpoint(eager=True)
    t0 = tick("link_entities", t0)
    ae = alias_edges_from_stats(stats).localCheckpoint(eager=True)
    t0 = tick("alias_edges", t0)
    labels, rounds = connected_components(ae)
    t0 = tick("cc", t0)
    amap = canonical_map(labels, ents.select("norm_key"))
    amap = amap.localCheckpoint(eager=True)
    t0 = tick("canonical_map", t0)
    n_triples = canonicalize_triples(triples_of(ex), amap).count()
    t0 = tick("canon_triples_count", t0)

    total = sum(phases.values())
    print(
        json.dumps(
            {
                "cpus": cpus,
                "turns": n_turns,
                "triples": n_triples,
                "cc_rounds": rounds,
                "phases": phases,
                "total": round(total, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
