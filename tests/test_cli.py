"""CLI driver smoke (S1 analog — ProgQueryParameters.java:1-242): the
spark-submit entry point runs end-to-end in a subprocess, honors --until,
and resumes."""

import json
import subprocess
import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])


def _run(args):
    out = subprocess.run(
        [sys.executable, "-m", "progquery_spark.run", *args],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def test_cli_until_and_resume(tmp_path):
    wh = str(tmp_path / "wh")
    first = _run(
        [
            "--input", "/root/testdata/sf0.001",
            "--warehouse", wh,
            "--until", "surface_stats",
            "--no-lineage",
            "--shuffle-partitions", "8",
        ]
    )
    assert set(first["stages"]) == {"transcripts", "extraction", "surface_stats"}
    assert first["stages"]["extraction"] > 0

    # resume finishes the remaining stages without redoing the first three
    second = _run(
        [
            "--input", "/root/testdata/sf0.001",
            "--warehouse", wh,
            "--no-lineage",
            "--shuffle-partitions", "8",
        ]
    )
    assert second["run_id"] == first["run_id"]
    assert "mention_counts" in second["stages"]
    assert second["stages"]["extraction"] == first["stages"]["extraction"]


def test_cli_stream_mode(tmp_path):
    """S3 'listen' mode: --stream drains arriving turn files through the
    stateful streaming extractor into a checkpointed parquet FILE sink in
    the warehouse (VERDICT r3 #1). The default report counts ONLY the rows
    this drain committed (VERDICT r4 #3: O(this drain), not O(sink
    history)); --count-total adds the audit full-sink count. A re-drain of
    the same input commits nothing (exactly-once per input file via the
    shared sink commit log / source checkpoint)."""
    import os
    import sys as _sys

    import pandas as pd

    _sys.path.insert(0, ROOT)
    from progquery_spark.fixtures import make_fixture

    pdf = pd.DataFrame(make_fixture(n_convs=3).rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    # Spark's parquet reader rejects pandas' default ns timestamps
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    d = tmp_path / "turns"
    d.mkdir()
    pdf.to_parquet(d / "part0.parquet", index=False)

    wh = str(tmp_path / "wh")
    args = [
        "--stream", str(d),
        "--warehouse", wh,
        "--stream-idle-timeout-ms", "3000",
        "--shuffle-partitions", "4",
    ]
    out = _run(args)
    assert out["mode"] == "stream" and out["rows_drained"] > 0
    assert "rows_total" not in out  # the audit scan is opt-in
    assert os.path.isdir(out["out"])
    # the sink is a real checkpointed file sink, not a driver rewrite
    assert os.path.isdir(os.path.join(out["out"], "_spark_metadata"))
    assert os.path.isdir(os.path.join(wh, "_stream_checkpoint_v2"))

    # re-drain: already-committed input files are skipped, nothing new
    again = _run(args)
    assert again["rows_drained"] == 0

    # a NEW file of NEW conversations arrives: the default report counts
    # only that batch, while --count-total audits the accumulated sink
    pdf2 = pdf.copy()
    pdf2["conv_id"] = pdf2["conv_id"] + "-b"
    pdf2.to_parquet(d / "part1.parquet", index=False)
    third = _run([*args, "--count-total"])
    assert third["rows_drained"] == out["rows_drained"]  # same convs, new ids
    assert third["rows_total"] == 2 * out["rows_drained"]


def test_cli_stream_cold_start_empty_dir(tmp_path):
    """Code-review finding (round 4): a cold-start drain against a listen
    dir with no turn files yet must report rows_total=0, not crash on
    schema inference over a sink with zero committed data files."""
    d = tmp_path / "turns_empty"
    d.mkdir()
    out = _run(
        [
            "--stream", str(d),
            "--warehouse", str(tmp_path / "wh"),
            "--stream-idle-timeout-ms", "2000",
            "--shuffle-partitions", "4",
            "--count-total",
        ]
    )
    assert out["mode"] == "stream"
    assert out["rows_drained"] == 0 and out["rows_total"] == 0


def test_cli_stream_path_has_no_memory_sink():
    """VERDICT r3 #1 regression gate: the shipped --stream path must go
    through the parquet file sink; format("memory") (a collect-to-driver)
    is allowed only in the test helper."""
    import pathlib
    import sys as _sys

    _sys.path.insert(0, ROOT)
    # resolve sources from the imported package, not hardcoded absolute
    # paths, so the gate checks THIS checkout wherever it lives (ADVICE r4)
    import progquery_spark.run as _run_mod
    import progquery_spark.streaming.kg_stream as _ks_mod

    run_src = pathlib.Path(_run_mod.__file__).read_text()
    assert 'format("memory")' not in run_src and "'memory'" not in run_src
    assert "run_streaming_extract_to_parquet" in run_src

    ks_src = pathlib.Path(_ks_mod.__file__).read_text()
    # the parquet drain itself must not reference the memory format
    parquet_fn = ks_src.split("def run_streaming_extract_to_parquet")[1]
    assert 'format("memory")' not in parquet_fn


def test_spark_submit_pyfiles(tmp_path):
    """The north rule's literal invocation: ``spark-submit --py-files
    progquery_spark.zip`` with no repo checkout on the driver's path — the
    package must resolve from the shipped archive (cwd is a scratch dir and
    PYTHONPATH is stripped)."""
    import os
    import shutil

    sys.path.insert(0, f"{ROOT}/tools")
    from build_zip import build

    zip_path = build(str(tmp_path / "progquery_spark.zip"))
    main_py = str(tmp_path / "submit_main.py")
    shutil.copy(f"{ROOT}/tools/submit_main.py", main_py)

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    wh = str(tmp_path / "wh")
    out = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--py-files", zip_path,
            main_py,
            "--input", "/root/testdata/sf0.001",
            "--warehouse", wh,
            "--until", "surface_stats",
            "--no-lineage",
            "--master", "local[4]",
            "--shuffle-partitions", "8",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(tmp_path),
        env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    res = json.loads(line)
    assert set(res["stages"]) == {"transcripts", "extraction", "surface_stats"}
    assert res["stages"]["extraction"] > 0


def test_cli_requires_input(tmp_path):
    out = subprocess.run(
        [
            sys.executable, "-m", "progquery_spark.run",
            "--warehouse", str(tmp_path / "wh"),
            "--no-resume",
        ],
        capture_output=True,
        text=True,
        timeout=60,
        cwd=ROOT,
    )
    assert out.returncode != 0
    assert "--input or --transcripts" in out.stderr


def _expect_parser_error(args, needle):
    out = subprocess.run(
        [sys.executable, "-m", "progquery_spark.run", *args],
        capture_output=True,
        text=True,
        timeout=60,
        cwd=ROOT,
    )
    assert out.returncode != 0
    assert needle in out.stderr, out.stderr[-2000:]


def test_cli_replay_dead_letters_noop(tmp_path):
    """--replay-dead-letters on a warehouse with nothing parked reports
    replayed=false and skips the merge (VERDICT r4 #8; the end-to-end
    replay equivalence lives in test_streaming)."""
    wh = str(tmp_path / "wh")
    _run(
        [
            "--input", "/root/testdata/sf0.001",
            "--warehouse", wh,
            "--until", "extraction",
            "--no-lineage",
            "--shuffle-partitions", "8",
        ]
    )
    out = _run(
        [
            "--warehouse", wh,
            "--replay-dead-letters", f"{wh}/transcripts",
            "--shuffle-partitions", "8",
        ]
    )
    assert out["mode"] == "replay_dead_letters" and out["replayed"] is False


def test_cli_rejects_merge_plus_extraction(tmp_path):
    """ADVICE r4: --merge used to silently win over --extraction, dropping
    the user's seed with no warning — now an explicit parser error."""
    _expect_parser_error(
        [
            "--warehouse", str(tmp_path / "wh"),
            "--merge", str(tmp_path / "batch.parquet"),
            "--extraction", str(tmp_path / "seed.parquet"),
        ],
        "mutually exclusive",
    )


def test_cli_rejects_stream_with_batch_flags(tmp_path):
    """Round-5 self-review: the stream branch returns before any batch
    flag is read, so --stream + --merge (or --extraction/--input/
    --transcripts/--until) used to silently drop the batch work — the
    same silent-drop class as the --merge/--extraction bug."""
    for extra in (
        ["--merge", str(tmp_path / "batch.parquet")],
        ["--extraction", str(tmp_path / "seed.parquet")],
        ["--transcripts", str(tmp_path / "t.parquet")],
        ["--until", "entities"],
    ):
        _expect_parser_error(
            [
                "--stream", str(tmp_path / "listen"),
                "--warehouse", str(tmp_path / "wh"),
                *extra,
            ],
            "silently ignored",
        )


def test_cli_rejects_replay_with_input_flags(tmp_path):
    """--replay-dead-letters re-reads turns from its own TURNS_DIR; a
    --transcripts/--input/--until alongside it was silently ignored."""
    for extra in (
        ["--transcripts", str(tmp_path / "t.parquet")],
        ["--input", str(tmp_path / "sf")],
        ["--until", "entities"],
    ):
        _expect_parser_error(
            [
                "--replay-dead-letters", str(tmp_path / "listen"),
                "--warehouse", str(tmp_path / "wh"),
                *extra,
            ],
            "silently ignored",
        )


def test_cli_rejects_count_total_without_stream(tmp_path):
    """--count-total is a stream-drain audit knob; passing it to a batch
    run would be silently ignored — refuse instead."""
    _expect_parser_error(
        [
            "--input", "/root/testdata/sf0.001",
            "--warehouse", str(tmp_path / "wh"),
            "--count-total",
        ],
        "only applies to --stream",
    )


def test_cli_rejects_remote_warehouse_uri(tmp_path):
    """ADVICE r4: the Manifest and stream-sink commit-log checks use local
    file APIs; a URI warehouse would silently skip the v1-layout refusal
    and misreport rows — refuse it loudly."""
    _expect_parser_error(
        [
            "--warehouse", "s3a://bucket/wh",
            "--input", "/root/testdata/sf0.001",
        ],
        "local filesystem path",
    )
