"""Pipeline orchestration tests (FIXTURES.md §4: t-idempotent-resume,
t-skew-smoke) + salted-agg equivalence."""

import json
import shutil
import uuid

import pyspark.sql.functions as F

from progquery_spark.fixtures import make_fixture, to_spark
from progquery_spark.pipeline import Pipeline


def _counts(out):
    return {k: v.count() for k, v in out.items()}


def test_idempotent_resume(spark, tmp_path):
    fx = make_fixture(n_convs=8)
    tr = to_spark(spark, fx)
    wh = str(tmp_path / "wh")
    p = Pipeline(spark, wh, lineage=False)
    base = _counts(p.run(transcripts=tr, resume=False))

    # kill between every stage pair: strip suffixes of the manifest and
    # resume; outputs must match the uninterrupted run
    stages = [s for s in p.manifest.state["stages"] if not s.startswith("_")]
    for cut in range(1, len(stages)):
        m = json.load(open(f"{wh}/_pipeline_state.json"))
        for st in stages[cut:]:
            m["stages"].pop(st, None)
            shutil.rmtree(f"{wh}/{st}", ignore_errors=True)
        json.dump(m, open(f"{wh}/_pipeline_state.json", "w"))
        p2 = Pipeline(spark, wh, lineage=False)
        got = _counts(p2.run(transcripts=tr, resume=True))
        assert got == base, f"resume after {stages[:cut]} diverged"


def test_rerun_is_noop(spark, tmp_path):
    fx = make_fixture(n_convs=4)
    tr = to_spark(spark, fx)
    wh = str(tmp_path / "wh")
    p = Pipeline(spark, wh, lineage=False)
    first = _counts(p.run(transcripts=tr, resume=False))
    again = _counts(Pipeline(spark, wh, lineage=False).run(transcripts=tr, resume=True))
    assert first == again


def test_skew_smoke_and_lineage(spark, tmp_path):
    """Zipf conversation lengths: pipeline completes; lineage rows exist
    for every stage with positive row counts."""
    fx = make_fixture(n_convs=12, zipf_lengths=True, seed=3)
    tr = to_spark(spark, fx)
    wh = str(tmp_path / "wh")
    p = Pipeline(spark, wh, lineage=True)
    out = p.run(transcripts=tr, resume=False)
    assert out["triples_canonical"].count() > 0
    lin = spark.read.parquet(f"{wh}/_lineage")
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert "extraction" in stages and "edges" in stages
    assert lin.filter(F.col("rows_out") <= 0).count() == 0

    # lineage rows are file-footer counts: per stage they sum to the
    # manifest's Observation-counted rows
    recs = {
        s: r for s, r in p.manifest.state["stages"].items() if not s.startswith("_")
    }
    sums = {
        r["stage"]: r["n"]
        for r in lin.groupBy("stage").agg(F.sum("rows_out").alias("n")).collect()
    }
    assert {s: sums.get(s, 0) for s in recs} == {s: r["rows"] for s, r in recs.items()}

    # the recorded schema is the one inference would find
    for st in recs:
        assert p._load(st).schema == spark.read.parquet(f"{wh}/{st}").schema, st

    # an older warehouse (records without ``schema``) resumes by inference
    m = json.load(open(f"{wh}/_pipeline_state.json"))
    for rec in m["stages"].values():
        rec.pop("schema", None)
    json.dump(m, open(f"{wh}/_pipeline_state.json", "w"))
    resumed = Pipeline(spark, wh, lineage=True).run(transcripts=tr, resume=True)
    assert _counts(resumed) == {s: r["rows"] for s, r in recs.items()}


def _jobs_in_group(spark, fn) -> int:
    """Spark jobs ``fn`` launches, read from the status tracker under a job
    group of its own."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_resume_and_lineage_launch_no_jobs(spark, tmp_path):
    """A resume reads recorded schemas (zero jobs); lineage reads file
    footers on the driver (a lineage-on build launches exactly the jobs of
    a lineage-off build of the same input)."""
    tr = to_spark(spark, make_fixture(n_convs=6, seed=5))
    jobs = {
        lineage: _jobs_in_group(
            spark,
            lambda: Pipeline(spark, str(tmp_path / f"wh{lineage}"), lineage).run(
                transcripts=tr, resume=False
            ),
        )
        for lineage in (False, True)
    }
    assert jobs[True] == jobs[False] > 0
    wh = str(tmp_path / "whTrue")
    out = {}
    resume_jobs = _jobs_in_group(
        spark,
        lambda: out.update(
            Pipeline(spark, wh).run(transcripts=tr, resume=True, until="edges")
        ),
    )
    assert resume_jobs == 0
    assert "edges" in out and "modality" not in out


def test_incremental_merge_equivalence(spark, tmp_path):
    """C4 analog (CompilationScheduler.java:33,47-60): append three new
    conversations AND re-compile one existing conversation (fewer turns),
    reconcile into the warehouse — the result must be stage-for-stage
    identical to a from-scratch run on the merged transcript set."""
    fx = make_fixture(n_convs=10, seed=7)
    tr = to_spark(spark, fx)
    old = tr.filter(F.col("conv_id").isin([f"conv-{i}" for i in range(7)]))
    new = tr.filter(F.col("conv_id").isin(["conv-7", "conv-8", "conv-9"]))
    # the re-compiled conversation drops its tool turns (re-declaration)
    recompiled = tr.filter(
        (F.col("conv_id") == "conv-3") & (F.col("role") != "tool")
    )
    batch = new.unionByName(recompiled)

    wh1 = str(tmp_path / "wh1")
    p1 = Pipeline(spark, wh1, lineage=False)
    p1.run(transcripts=old, resume=False)
    merged = p1.merge_new_conversations(batch)

    final_tr = old.filter(F.col("conv_id") != "conv-3").unionByName(batch)
    wh2 = str(tmp_path / "wh2")
    scratch = Pipeline(spark, wh2, lineage=False).run(
        transcripts=final_tr, resume=False
    )

    assert _counts(merged) == _counts(scratch)

    def triple_set(df):
        return {
            tuple(r)
            for r in df.select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
        }

    assert triple_set(merged["triples_canonical"]) == triple_set(
        scratch["triples_canonical"]
    )


def test_salted_agg_equivalence(spark):
    """Salted two-phase mention counts == plain groupBy counts."""
    from progquery_spark.extraction.extract import extract, mentions_of
    from progquery_spark.graph.passes import salted_mention_counts
    from progquery_spark.canonicalize.cc import canonical_map, connected_components
    from progquery_spark.linking.exact import alias_edges_exact, link_entities

    fx = make_fixture(n_convs=10)
    tr = to_spark(spark, fx)
    m = mentions_of(extract(tr))
    ents = link_entities(m)
    labels, _ = connected_components(alias_edges_exact(m))
    amap = canonical_map(labels, ents.select("norm_key"))
    salted = {
        (r["canonical_key"], r["n_mentions"])
        for r in salted_mention_counts(m, amap, n_salt=8).collect()
    }
    autotuned = {
        (r["canonical_key"], r["n_mentions"])
        for r in salted_mention_counts(m, amap).collect()  # autotuned width
    }
    plain = {
        (r["norm_key"], r["cnt"])
        for r in m.filter(F.col("mention_type") != "literal")
        .groupBy("norm_key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert salted == plain
    assert autotuned == plain


def test_iceberg_merge_statements_semantics():
    """S5: the Iceberg C4 merge is a keyed delete + append
    (io.sinks.iceberg_merge_statements). No Iceberg jars exist here, so
    execute the SAME statements in DuckDB (ANSI row semantics shared with
    Iceberg-on-Spark) and assert equality with the parquet path's
    anti-join + union on a batch that both REPLACES an existing
    conversation (different row count) and APPENDS a new one."""
    import duckdb

    from progquery_spark.io.sinks import iceberg_merge_statements

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE warehouse(conv_id VARCHAR, turn_idx INT, text VARCHAR)"
    )
    con.execute(
        "INSERT INTO warehouse VALUES"
        " ('c1', 0, 'old a'), ('c1', 1, 'old b'), ('c1', 2, 'old c'),"
        " ('c2', 0, 'keep a'), ('c2', 1, 'keep b')"
    )
    con.execute("CREATE TABLE staging(conv_id VARCHAR, turn_idx INT, text VARCHAR)")
    con.execute(
        "INSERT INTO staging VALUES"
        " ('c1', 0, 'new a'), ('c1', 1, 'new b'),"  # re-compile: 3 rows -> 2
        " ('c3', 0, 'add a')"  # brand-new conversation
    )
    # the parquet path's semantics: anti-join on conv_id, then union
    expected = con.execute(
        """
        SELECT * FROM warehouse
        WHERE conv_id NOT IN (SELECT DISTINCT conv_id FROM staging)
        UNION ALL SELECT * FROM staging
        ORDER BY conv_id, turn_idx
        """
    ).fetchall()
    for stmt in iceberg_merge_statements("warehouse", "staging"):
        con.execute(stmt)
    merged = con.execute(
        "SELECT * FROM warehouse ORDER BY conv_id, turn_idx"
    ).fetchall()
    assert merged == expected
    assert ("c2", 0, "keep a") in merged  # untouched conversation survives
    assert len([r for r in merged if r[0] == "c1"]) == 2  # replaced, not merged
    # idempotence under re-run (the crash-between-snapshots resume story):
    # re-running the DELETE alone removes the just-inserted rows, so resume
    # must re-run the PAIR — verify the pair is a fixpoint
    for stmt in iceberg_merge_statements("warehouse", "staging"):
        con.execute(stmt)
    assert (
        con.execute("SELECT * FROM warehouse ORDER BY conv_id, turn_idx").fetchall()
        == expected
    )
