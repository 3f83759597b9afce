"""spark-submit CLI driver (SURVEY.md §2.1 S1, §3.2).

The reference's user surface is a hand-rolled argument parser
(ProgQueryParameters.parseArguments, ProgQueryParameters.java:1-242:
-user/-program/-neo4j_* + javac option strings). The Spark-native analog is
an argparse driver wrapping ``Pipeline.run`` — the entry point the north
rule's ``spark-submit --py-files`` invocation targets:

    spark-submit --master local[32] --py-files progquery_spark.zip \\
        -m progquery_spark.run --input /data/sf --warehouse /wh
    # or locally:
    python -m progquery_spark.run --input /root/testdata/sf0.001 \\
        --warehouse /tmp/wh --until triples_canonical

Prints one JSON line: {"run_id": ..., "stages": {stage: rows}, "wall_sec": N}.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from .pipeline import STAGES, Pipeline
from .session import get_spark


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="progquery_spark.run",
        description="Transcript knowledge-graph construction pipeline",
    )
    src = ap.add_argument_group("input (one required unless resuming)")
    src.add_argument(
        "--input",
        help="scale-factor dir of parquet base tables (transcripts synthesized)",
    )
    src.add_argument(
        "--transcripts",
        help="parquet path of a prebuilt transcripts table "
        "(conv_id, turn_idx, role, text, tool, ts)",
    )
    ap.add_argument("--warehouse", required=True, help="stage-snapshot dir")
    ap.add_argument(
        "--resume",
        action=argparse.BooleanOptionalAction,
        default=True,
        help="skip stages already completed in the warehouse manifest",
    )
    ap.add_argument(
        "--fuzzy",
        action=argparse.BooleanOptionalAction,
        default=True,
        help="MinHash-LSH fuzzy linking stage",
    )
    ap.add_argument(
        "--lineage",
        action=argparse.BooleanOptionalAction,
        default=True,
        help="per-file lineage rows (parquet footer counts) in <warehouse>/_lineage",
    )
    ap.add_argument(
        "--until",
        choices=STAGES,
        help="stop after materializing this stage",
    )
    ap.add_argument(
        "--merge",
        metavar="PARQUET",
        help="parquet path of a new/re-compiled conversation batch to merge "
        "into an EXISTING warehouse (C4 incremental path)",
    )
    ap.add_argument(
        "--extraction",
        metavar="PARQUET",
        help="seed the extraction stage from a precomputed extraction "
        "parquet — the handoff from --stream mode's "
        "<warehouse>/extraction_stream into the batch global passes "
        "(skips the mapInPandas extraction; requires --transcripts or "
        "--input for the transcript-derived stages)",
    )
    ap.add_argument(
        "--stream",
        metavar="TURNS_DIR",
        help="S3 'listen' mode: drain a directory of arriving turn parquet "
        "files through the stateful streaming extractor into a "
        "checkpointed parquet file sink at <warehouse>/extraction_stream "
        "— the sink commit log and source checkpoint advance together, so "
        "re-drains and crash-restarts are exactly-once per input file",
    )
    ap.add_argument(
        "--replay-dead-letters",
        metavar="TURNS_DIR",
        help="re-ingest conversations parked as kind='dead_letter' rows in "
        "an EXISTING warehouse: their turns are re-read in full from "
        "TURNS_DIR (the listen dir, read as a batch — by replay time the "
        "late turns sit next to the context that was missing) and pushed "
        "through the C4 replace-by-conversation merge",
    )
    ap.add_argument(
        "--stream-idle-timeout-ms",
        type=int,
        default=60_000,
        help="flush latency for conversations that never see a final turn",
    )
    ap.add_argument(
        "--count-total",
        action="store_true",
        help="with --stream: also report rows_total, a full count over the "
        "accumulated sink (an audit scan that grows with sink history; the "
        "default output counts only the rows THIS drain committed)",
    )
    ap.add_argument("--master", help="spark master (default local[$SPARK_GRAFT_CPUS])")
    ap.add_argument("--shuffle-partitions", type=int)
    return ap


def main(argv: list[str] | None = None) -> int:
    import re

    args = build_parser().parse_args(argv)
    if (
        args.merge is None
        and args.replay_dead_letters is None
        and args.input is None
        and args.transcripts is None
    ):
        if not args.resume:
            build_parser().error("--input or --transcripts required without --resume")
    if args.merge is not None and args.extraction is not None:
        # ADVICE r4: the merge branch would silently drop the seed
        build_parser().error(
            "--merge and --extraction are mutually exclusive: --merge "
            "re-extracts its batch from raw turns (C4), --extraction seeds "
            "a full run. Merge the drained batch first, or seed a fresh run."
        )
    if args.replay_dead_letters is not None and (
        args.merge is not None
        or args.extraction is not None
        or args.stream
        or args.input is not None
        or args.transcripts is not None
        or args.until is not None
    ):
        build_parser().error(
            "--replay-dead-letters is its own mode (a C4 merge sourced "
            "from the warehouse's parked rows, with turns re-read from its "
            "TURNS_DIR argument); --merge/--extraction/--stream/--input/"
            "--transcripts/--until would be silently ignored — drop them."
        )
    if args.stream and (
        args.merge is not None
        or args.extraction is not None
        or args.input is not None
        or args.transcripts is not None
        or args.until is not None
    ):
        # round-5 self-review: same silent-drop class as --merge/--extraction
        # — the stream branch returns before any batch flag is read, so a
        # user combining them would believe the batch work happened
        build_parser().error(
            "--stream is its own mode (drain the listen dir into "
            "<warehouse>/extraction_stream); batch flags (--merge/"
            "--extraction/--input/--transcripts/--until) would be silently "
            "ignored. Drain first, then run the batch pass, e.g. with "
            "--extraction <warehouse>/extraction_stream."
        )
    if args.count_total and not args.stream:
        build_parser().error(
            "--count-total only applies to --stream (it opts into the "
            "full-sink audit count after a drain)."
        )
    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", args.warehouse):
        # ADVICE r4: the warehouse Manifest and the stream sink's
        # _spark_metadata bookkeeping use local open()/isdir — a remote URI
        # would silently skip the v1-layout refusal and report 0 rows
        build_parser().error(
            "--warehouse must be a local filesystem path (the stage "
            "manifest and stream-sink commit-log checks read it with local "
            "file APIs); mount or sync remote warehouses locally."
        )

    spark = get_spark(
        "progquery-run",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    t0 = time.time()
    if args.stream:
        # the reference's listen mode: extraction fires as units complete
        # (GetStructuresAfterAnalyze.java:60-108); here a bounded drain of
        # whatever turn files have arrived, written through a checkpointed
        # parquet FILE sink — never a memory sink (a collect-to-driver) and
        # never a driver-side rewrite (an at-most-once crash window).
        # Checkpoint dir is versioned: the GroupState schema gained ctx_key
        # in r3 and applyInPandasWithState state schemas are not
        # evolution-safe, so a v1 checkpoint must not be resumed (ADVICE r3).
        import os

        from .extraction.extract import EXTRACTION_SCHEMA
        from .streaming.kg_stream import (
            run_streaming_extract_to_parquet,
            sink_committed_files,
            sink_log_names,
        )

        out_path = os.path.join(args.warehouse, "extraction_stream")
        if os.path.isdir(out_path) and not os.path.isdir(
            os.path.join(out_path, "_spark_metadata")
        ):
            # a pre-file-sink (v1) drain left plain parquet here; the file
            # sink's _spark_metadata would make metadata-aware reads HIDE
            # those rows while glob readers double-count — refuse loudly
            # instead of silently splitting the dataset
            build_parser().error(
                f"{out_path} holds parquet from the pre-v2 (driver-rewrite) "
                "stream path, which the file sink's commit log would shadow. "
                "Move it aside (it remains valid plain parquet) and re-drain."
            )
        before_names = sink_log_names(out_path)
        before = sink_committed_files(out_path)
        run_streaming_extract_to_parquet(
            spark,
            args.stream,
            os.path.join(args.warehouse, "_stream_checkpoint_v2"),
            out_path,
            idle_timeout_ms=args.stream_idle_timeout_ms,
        )
        # rows THIS drain committed: diff the sink commit log and count
        # only the new data files — O(this drain), not O(sink history)
        # (VERDICT r4 #3). Set difference survives log compaction (a
        # N.compact rewrites old entries; they were in `before`, parsed
        # once pre-drain — the post-drain side reads only the log files
        # this drain added). Explicit schema: a cold-start drain commits
        # zero files, where schema inference would raise instead of
        # reporting rows_drained=0.
        new_names = sink_log_names(out_path) - before_names
        new_files = sorted(
            sink_committed_files(out_path, only_names=new_names) - before
        )
        n_drained = (
            spark.read.schema(EXTRACTION_SCHEMA).parquet(*new_files).count()
            if new_files
            else 0
        )
        report = {
            "mode": "stream",
            "rows_drained": n_drained,
            "out": out_path,
            "wall_sec": round(time.time() - t0, 2),
        }
        if args.count_total:
            # audit-only full-sink count (reads honor _spark_metadata, so
            # this is the exactly-once row set across every drain)
            report["rows_total"] = (
                spark.read.schema(EXTRACTION_SCHEMA).parquet(out_path).count()
                if os.path.isdir(out_path)
                else 0
            )
        print(json.dumps(report))
        spark.stop()
        return 0
    pipe = Pipeline(spark, args.warehouse, lineage=args.lineage)
    if args.replay_dead_letters:
        from .schemas import TRANSCRIPT_SCHEMA

        turns = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
            args.replay_dead_letters
        )
        out = pipe.replay_dead_letters(turns, fuzzy=args.fuzzy)
        if out is None:
            print(
                json.dumps(
                    {
                        "mode": "replay_dead_letters",
                        "replayed": False,
                        "reason": "no dead letters in warehouse",
                        "wall_sec": round(time.time() - t0, 2),
                    }
                )
            )
            spark.stop()
            return 0
    elif args.merge:
        batch = spark.read.parquet(args.merge)
        pipe.merge_new_conversations(batch, fuzzy=args.fuzzy)
    else:
        tr = spark.read.parquet(args.transcripts) if args.transcripts else None
        ex = spark.read.parquet(args.extraction) if args.extraction else None
        pipe.run(
            sf_dir=args.input,
            transcripts=tr,
            resume=args.resume,
            fuzzy=args.fuzzy,
            until=args.until,
            extraction=ex,
        )
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "run_id": pipe.manifest.run_id,
                "stages": {
                    s: rec["rows"]
                    for s, rec in pipe.manifest.state["stages"].items()
                    if not s.startswith("_")
                },
                "wall_sec": round(wall, 2),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
