"""Checkpointable stage sinks + run manifest (SURVEY.md §2.1 S4-S6, §3.3).

The reference buffers the whole graph in RAM and flushes once, chunked into
80k-op transactions (InfoToInsert.java:17-63,
DriverLazyInsertionService.java:24-63). Its resumability story is the
MERGING_ALLOWED re-attach (CompilationScheduler.java:33,47-60). Ours is
stronger and explicit per the north rule: each stage materializes to an
atomic snapshot; a manifest records completed stages so a killed run
resumes at the first incomplete stage.

Sink format: Iceberg when the runtime catalog is configured (the production
path — atomic snapshot commits, hidden bucket(conv_id) partitioning,
MERGE INTO for the re-compile path C4); otherwise a plain-parquet warehouse
with the same atomicity contract, achieved by staging into ``<path>._tmp``
and renaming — rename-as-commit. The sandbox has no Iceberg jars, so tests
exercise the parquet path; the Iceberg branch is the same three lines with
``writeTo(...)``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _has_iceberg(spark: SparkSession) -> bool:
    try:
        return (
            spark.conf.get("spark.sql.catalog.pq", None) is not None
        )
    except Exception:
        return False


def write_stage(df: DataFrame, path: str, partition_by: list[str] | None = None) -> int:
    """Atomic stage write: stage to tmp dir, then rename into place.

    Returns the rows written, counted by an ``Observation`` on the written
    frame: the write job itself reports it, so no count job follows."""
    spark = df.sparkSession
    written = Observation()
    df = df.observe(written, F.count(F.lit(1)).alias("rows"))
    if _has_iceberg(spark) and not path.startswith("/"):
        # Iceberg table identifier (e.g. "pq.db.nodes"): atomic by snapshot
        df.writeTo(path).createOrReplace()
    else:
        tmp = path + "._tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
    return written.get["rows"]


def read_stage(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """A stage snapshot as a DataFrame. With ``schema`` (the one recorded
    at commit) the read runs no Spark job; without it, parquet schema
    inference reads a footer in a job of its own."""
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def file_row_counts(path: str) -> list[int]:
    """Row count of every data file of a parquet snapshot, from the file
    footers (driver-side reads, no Spark job), in sorted relative-path
    order — partition subdirectories included."""
    import pyarrow.parquet as pq

    files = sorted(
        os.path.relpath(os.path.join(root, name), path)
        for root, _, names in os.walk(path)
        for name in names
        if name.endswith(".parquet") and not name.startswith(("_", "."))
    )
    return [pq.read_metadata(os.path.join(path, f)).num_rows for f in files]


def iceberg_merge_statements(
    table: str, staging_view: str, key: str = "conv_id"
) -> list[str]:
    """The C4 replace-by-conversation merge as executable Iceberg SQL —
    the statements ``Pipeline.merge_new_conversations`` runs when the
    warehouse is an Iceberg catalog (reference semantics:
    CompilationScheduler MERGING_ALLOWED re-attach + re-declaration
    replacement, CompilationScheduler.java:33,47-60,
    DefinitionCache.java:40-54).

    Deliberately NOT a row-level ``MERGE INTO`` and NOT dynamic partition
    overwrite, although both look tempting:
    - a re-compiled conversation carries MANY rows per key on both sides,
      and SQL MERGE raises on a source row matching multiple target rows
      (and vice versa the update semantics are undefined) — conversation
      replacement is a GROUP-level operation;
    - dynamic partition overwrite on the ``bucket(conv_id)`` layout would
      clobber unrelated conversations that hash into the same bucket.
    The correct form is a keyed delete then an append — two Iceberg
    snapshots. Atomicity across the pair comes from the pipeline
    manifest: the merge stage is marked done only after both commit, and
    the PAIR is a fixpoint under re-run (tested) — a crash between the
    snapshots resumes by re-running the whole pair, never the append
    alone.

    No Iceberg jars exist in this sandbox, so the statements cannot be
    executed against a real catalog here; their SEMANTICS are pinned by
    tests/test_pipeline.py::test_iceberg_merge_statements_semantics,
    which executes them in DuckDB and asserts equality with the parquet
    path's anti-join + union."""
    return [
        f"DELETE FROM {table} WHERE {key} IN "
        f"(SELECT DISTINCT {key} FROM {staging_view})",
        f"INSERT INTO {table} SELECT * FROM {staging_view}",
    ]


class Manifest:
    """``_pipeline_state`` manifest: stage name -> {rows, wall_ms, at} plus,
    for pipeline stages, the snapshot's ``schema`` (StructType JSON)."""

    def __init__(self, warehouse: str, run_id: str | None = None):
        self.warehouse = warehouse
        self.path = os.path.join(warehouse, "_pipeline_state.json")
        os.makedirs(warehouse, exist_ok=True)
        self.state: dict = {"run_id": run_id or uuid.uuid4().hex[:12], "stages": {}}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.state = json.load(f)

    @property
    def run_id(self) -> str:
        return self.state["run_id"]

    def done(self, stage: str) -> bool:
        return stage in self.state["stages"]

    def record(self, stage: str, rows: int, wall_ms: int, extra: dict | None = None) -> None:
        self.state["stages"][stage] = {
            "rows": rows,
            "wall_ms": wall_ms,
            "at": time.time(),
            **(extra or {}),
        }
        self._flush()

    def invalidate(self, stage: str) -> None:
        """Drop a stage's completion record (merge path: downstream stages
        of a changed input must recompute)."""
        if stage in self.state["stages"]:
            del self.state["stages"][stage]
            self._flush()

    def _flush(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.state, f, indent=1)
        os.replace(tmp, self.path)

    def reset(self) -> None:
        self.state["stages"] = {}
        if os.path.exists(self.path):
            os.remove(self.path)
