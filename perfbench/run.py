"""Benchmark of the knowledge-graph pipeline and its graph-query surface.

Usage (from the repository root):

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 30 --trace 0

Workloads:
  warehouse    build the warehouse with ``Pipeline.run`` (fuzzy linking and
               lineage on, the CLI defaults) from a seeded 98% of the
               conversations, then ``merge_new_conversations`` the held-out
               2% plus a re-submitted 2%; check the merged canonical triples
               against the DuckDB oracle.
  graph_query  the 7 registered ``kg_gq_*`` queries in a fixed order per
               round, each forced by collecting its (small) result; every
               result is checked against its ``kg_oracles()`` SQL.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it is a ``record``
object: environment, host probe, process-tree CPU/wall and the
workload's own named timings. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
import traceback
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
SHUFFLE_PARTITIONS = 2 * CORES
DRIVER_MEM = "2g"
SETUP_REPS = 3
ORDERS = {"warehouse": 3000, "graph_query": 1500}
HOLD_OUT = 0.02  # share of conversations the build does not see (new)
RESUBMIT = 0.02  # share of built conversations the merge re-compiles

# the variable-length (star BFS) queries: the heavy part of a round
GQ_STAR = ("kg_gq_customer_orbit", "kg_gq_supplier_upstream")
GQ_NAMES = (
    "kg_gq_tool_callers",
    "kg_gq_entity_reach",
    "kg_gq_assistant_mentions",
    "kg_gq_customer_orbit",
    "kg_gq_supplier_upstream",
    "kg_gq_part_early_slots",
    "kg_gq_turn_tool_coverage",
)
# pipeline stage -> the package module (layer) that computes it
STAGE_LAYER = {
    "transcripts": "io.sinks",
    "extraction": "extraction",
    "surface_stats": "linking.exact",
    "entities": "linking.exact",
    "fuzzy_pairs": "linking.fuzzy",
    "alias_map": "canonicalize.cc",
    "triples_canonical": "canonicalize.remap",
    "nodes": "graph.materialize",
    "edges": "graph.materialize",
    "modality": "graph.passes",
    "mention_counts": "graph.passes",
}
STAGE_FIELDS = {
    "wall_s": "s",
    "rows": "count",
    "cpu_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
}
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "heavy_s": "s",
    "light_s": "s",
    "precision": "ratio",
    "recall": "ratio",
    "ok_share": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {}
    for stage, layer in STAGE_LAYER.items():
        for field, unit in STAGE_FIELDS.items():
            units[f"{layer}.{stage}.{field}"] = unit
    for stage, layer in STAGE_LAYER.items():
        units[f"merge.{layer}.{stage}.wall_s"] = "s"
    for name in GQ_NAMES:
        units[f"graph.query.{name}.p50_s"] = "s"
        units[f"graph.query.{name}.cpu_s"] = "s"
        units[f"graph.query.{name}.shuffle_mb"] = "MB"
    units.update({
        "canonicalize.cc_rounds": "count",
        "linking.fuzzy_accepted": "count",
        "linking.fuzzy_scored": "count",
        "linking.fuzzy_accept_ratio": "ratio",
        "pipeline.lineage_s": "s",
        "session.cpu_per_wall": "ratio",
        "session.peak_rss_mb": "MB",
        "trace.overhead_s": "s",
    })
    return units


# -- run bookkeeping ---------------------------------------------------------


class Ledger:
    """Operations attempted / failed, and row overlap of the output checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.matched = self.n_got = self.n_want = 0
        self.notes: list[str] = []

    def timed(self, name: str, fn) -> tuple[float, object] | None:
        """(wall seconds, result) of one operation, or None if it raised;
        a raised error counts as a failed operation."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            self.failed += 1
            self.notes.append(f"{name}: error")
            traceback.print_exc(file=sys.stderr)
            return None
        return time.perf_counter() - t0, result

    def check(self, name: str, verdict_fn) -> None:
        """One output check; ``verdict_fn`` returns a ``checks.compare``
        verdict. A raised error counts as a failed check."""
        self.attempted += 1
        try:
            verdict = verdict_fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            verdict = None
        if verdict is None or not verdict["ok"]:
            self.failed += 1
            self.notes.append(f"{name}: mismatch {verdict}")
        if verdict is not None:
            self.matched += verdict["matched"]
            self.n_got += verdict["n_got"]
            self.n_want += verdict["n_want"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("warehouse", "graph_query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--orders", type=int, help="input size (default per workload)")
    ap.add_argument(
        "--expect",
        action="append",
        default=[],
        metavar="CHECK=MD5",
        help="replace a check's expected value hash (tests plant wrong ones)",
    )
    return ap.parse_args(argv)


def configure_env(work: str) -> dict[str, str]:
    """Point every temp/scratch location at the run dir, size the driver
    for this host, and let Python workers import the package."""
    for sub in ("tmp", "jtmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    jvm_files = f"-Djava.io.tmpdir={os.path.join(work, 'jtmp')} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_files  # spark-submit's launcher JVM
    return {
        # a fixed heap size: heap resizing moved run times between runs
        "spark.driver.extraJavaOptions": f"{jvm_files} -Xms{DRIVER_MEM}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }


def environment(spark, work: str) -> dict:
    import platform

    import pyarrow

    return {
        "cores": CORES,
        "host_cpus": os.cpu_count(),
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "local_dir": os.environ["SPARK_GRAFT_LOCAL_DIR"],
        "warehouse_dir": os.path.join(work, "wh"),
        "spark": spark.version,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
    }


def stop_spark(spark) -> None:
    """Stop the session, end the driver JVM and wait until the JVM and the
    Python workers it started have exited."""
    import telemetry as T
    from pyspark import SparkContext

    started = T.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    left = T.wait_gone(started)
    if left:
        print(f"perfbench: processes still running: {sorted(left)}", file=sys.stderr)


def fits(seconds: float, passes: list[float]) -> bool:
    """Whether another pass is due: the first always is; a further one only
    if it should end within ``seconds`` of measured time (whole passes)."""
    return not passes or sum(passes) + passes[-1] <= seconds


# -- warehouse ---------------------------------------------------------------


def split_conversations(n_orders: int, seed: int) -> tuple[list[str], list[str]]:
    """(held-out conv ids, re-submitted conv ids), both seeded."""
    keys = list(range(n_orders))
    random.Random(seed).shuffle(keys)
    n_new = max(1, round(n_orders * HOLD_OUT))
    n_re = max(1, round(n_orders * RESUBMIT))
    ids = [f"conv-{k}" for k in keys]
    return ids[:n_new], ids[n_new:n_new + n_re]


def check_triples(args, con, wh: str) -> dict:
    """Merged canonical triples against the fuzzy-linking oracle."""
    import checks
    from progquery_spark.oracle import triples_canonical_fuzzy_sql

    want = checks.oracle_lines(con, triples_canonical_fuzzy_sql())
    got = checks.parquet_lines(con, os.path.join(wh, "triples_canonical"), want[0])
    return checks.compare(got, want, expected(args, "triples_canonical"))


def check_turns(wh: str, n_full: int) -> dict:
    """The merged transcript snapshot holds every input turn."""
    with open(os.path.join(wh, "_pipeline_state.json")) as f:
        rows = json.load(f)["stages"]["transcripts"]["rows"]
    return {"ok": rows == n_full, "matched": 0, "n_got": 0, "n_want": 0}


def run_warehouse(spark, args, work, ledger, setup_timer) -> dict:
    import checks
    import gen
    import telemetry as T
    from progquery_spark.datagen import build_transcripts
    from progquery_spark.pipeline import STAGES, Pipeline
    from pyspark.sql import functions as F

    n_orders = args.orders or ORDERS["warehouse"]
    in_dir = os.path.join(work, "input")
    tr_path = os.path.join(work, "transcripts.parquet")

    def setup():
        gen.write_tables(in_dir, n_orders, args.seed)
        build_transcripts(spark, in_dir).write.mode("overwrite").parquet(tr_path)

    setup_timer(setup)
    full = spark.read.parquet(tr_path)
    new, resubmitted = split_conversations(n_orders, args.seed)
    base = full.filter(~F.col("conv_id").isin(new))
    batch = full.filter(F.col("conv_id").isin(new + resubmitted))
    n_full, n_base, n_batch = (df.count() for df in (full, base, batch))
    con = checks.oracle_connection(in_dir, os.environ["TMPDIR"])

    sc = spark.sparkContext
    wh = os.path.join(work, "wh")
    builds, merges, layer = [], [], {}
    with T.CpuWindow() as cpu:
        while fits(args.seconds, [b + m for b, m in zip(builds, merges)]):
            shutil.rmtree(wh, ignore_errors=True)
            pipe = Pipeline(spark, wh)  # lineage on, like the CLI
            if args.trace:
                b = ledger.timed("build", lambda: traced_build(spark, pipe, base, STAGES, layer))
                sc.setJobGroup("merge", "merge")
            else:
                b = ledger.timed("build", lambda: pipe.run(transcripts=base, resume=False))
            m = b and ledger.timed("merge", lambda: pipe.merge_new_conversations(batch))
            if m is None:
                break
            builds.append(b[0])
            merges.append(m[0])
            ledger.check("triples_canonical", lambda: check_triples(args, con, wh))
            ledger.check("merged_turns", lambda: check_turns(wh, n_full))
            if args.trace:
                for stage, rec in pipe.manifest.state["stages"].items():
                    if stage in STAGE_LAYER:
                        layer[f"merge.{STAGE_LAYER[stage]}.{stage}.wall_s"] = rec["wall_ms"] / 1e3
                traced_counts(spark, pipe, layer)
    con.close()
    if not builds:
        return {}
    named = {
        "build_s": T.median(builds),
        "merge_s": T.median(merges),
        "build_turns_per_s": n_base / T.median(builds),
        "turns": n_full,
        "build_turns": n_base,
        "merge_turns": n_batch,
        "passes": len(builds),
    }
    return {
        "pass_s": T.median([b + m for b, m in zip(builds, merges)]),
        "heavy_s": T.median(builds),
        "light_s": T.median(merges),
        "cpu_per_wall": cpu.cpu_per_wall,
        "named": named,
        "layer": layer,
    }


def traced_build(spark, pipe, base, stages, layer) -> None:
    """Build one stage per call (``until=<stage>``), each in its own Spark
    job group, and read the group's executor metrics from the status store.

    After each step the same call is repeated: it only reloads completed
    snapshots, so its time is the stepping cost. Step wall minus the stage's
    own manifest wall minus that reload is the lineage job time."""
    import telemetry as T

    sc = spark.sparkContext
    overhead = lineage = 0.0
    for i, stage in enumerate(stages):
        sc.setJobGroup(f"build.{stage}", stage)
        t0 = time.perf_counter()
        pipe.run(transcripts=base, resume=i > 0, until=stage)
        step = time.perf_counter() - t0
        sc.setJobGroup("trace.reload", "reload")
        t0 = time.perf_counter()
        pipe.run(transcripts=base, resume=True, until=stage)
        reload = time.perf_counter() - t0
        t0 = time.perf_counter()
        g = T.group_metrics(spark, f"build.{stage}")
        overhead += reload + (time.perf_counter() - t0)
        rec = pipe.manifest.state["stages"][stage]
        own = rec["wall_ms"] / 1e3
        lineage += max(0.0, step - own - reload)
        pfx = f"{STAGE_LAYER[stage]}.{stage}"
        layer.update({
            f"{pfx}.wall_s": own,
            f"{pfx}.rows": float(rec["rows"]),
            f"{pfx}.cpu_s": g["cpu_s"],
            f"{pfx}.shuffle_mb": g["shuffle_mb"],
            f"{pfx}.spill_mb": g["spill_mb"],
            f"{pfx}.task_skew": g["task_skew"],
        })
    layer["pipeline.lineage_s"] = lineage
    layer["trace.overhead_s"] = overhead
    layer["canonicalize.cc_rounds"] = float(
        pipe.manifest.state["stages"].get("_cc_rounds", {}).get("rows", 0)
    )


def traced_counts(spark, pipe, layer) -> None:
    """Fuzzy-linking accept ratio from the built ``fuzzy_pairs`` snapshot."""
    from progquery_spark.io.sinks import read_stage
    from progquery_spark.linking.fuzzy import alias_edges_from_scored

    spark.sparkContext.setJobGroup("trace.counts", "counts")
    scored = read_stage(spark, os.path.join(pipe.warehouse, "fuzzy_pairs"))
    n_scored = scored.count()
    n_accepted = alias_edges_from_scored(scored).count()
    layer["linking.fuzzy_scored"] = float(n_scored)
    layer["linking.fuzzy_accepted"] = float(n_accepted)
    layer["linking.fuzzy_accept_ratio"] = n_accepted / n_scored if n_scored else 0.0


# -- graph_query ---------------------------------------------------------------


def run_graph_query(spark, args, work, ledger, setup_timer) -> dict:
    import checks
    import gen
    import telemetry as T
    from progquery_spark import queries as Q

    n_orders = args.orders or ORDERS["graph_query"]
    in_dir = os.path.join(work, "input")
    registry = Q.kg_queries()
    oracles = Q.kg_oracles()

    def setup():
        gen.write_tables(in_dir, n_orders, args.seed)
        Q.clear_query_caches()
        # fills the extraction and alias-map caches every query reuses
        registry["kg_alias_map"](spark, in_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    setup_timer(setup)

    # every result is collected inside the timed window (that forces every
    # column, like a noop sink) and checked against its oracle outside it
    con = checks.oracle_connection(in_dir, os.environ["TMPDIR"])
    want = {name: checks.oracle_lines(con, oracles[name]) for name in GQ_NAMES}
    con.close()

    def query(name):
        df = registry[name](spark, in_dir)
        return df.columns, df.collect()

    sc = spark.sparkContext
    samples: dict[str, list[float]] = {n: [] for n in GQ_NAMES}
    tele: dict[str, list[dict]] = {n: [] for n in GQ_NAMES}
    rounds: list[dict[str, float]] = []  # query -> seconds, per round
    overhead = 0.0
    with T.CpuWindow() as cpu:
        while fits(args.seconds, [sum(r.values()) for r in rounds]):
            times = {}
            for name in GQ_NAMES:
                group = f"query.{name}.{len(rounds)}"
                if args.trace:
                    sc.setJobGroup(group, name)
                out = ledger.timed(name, lambda: query(name))
                if out is None:
                    continue
                samples[name].append(out[0])
                times[name] = out[0]
                got = checks.row_lines(*out[1])
                ledger.check(
                    name, lambda: checks.compare(got, want[name], expected(args, name))
                )
                if args.trace:
                    t0 = time.perf_counter()
                    tele[name].append(T.group_metrics(spark, group))
                    overhead += time.perf_counter() - t0
            rounds.append(times)
    whole = [r for r in rounds if len(r) == len(GQ_NAMES)]
    if not whole:
        return {}
    layer = {}
    if args.trace:
        for name in GQ_NAMES:
            pfx = f"graph.query.{name}"
            layer[f"{pfx}.p50_s"] = T.median(samples[name])
            layer[f"{pfx}.cpu_s"] = T.median([g["cpu_s"] for g in tele[name]])
            layer[f"{pfx}.shuffle_mb"] = T.median([g["shuffle_mb"] for g in tele[name]])
        layer["trace.overhead_s"] = overhead
    named = {
        "query_round_s": T.median([sum(r.values()) for r in whole]),
        "query_p50_s": T.median([s for v in samples.values() for s in v]),
        "query_samples": sum(len(v) for v in samples.values()),
        **{f"{n}_s": T.median(v) for n, v in samples.items()},
    }
    heavy = [sum(r[n] for n in GQ_STAR) for r in whole]
    return {
        "pass_s": named["query_round_s"],
        "heavy_s": T.median(heavy),
        "light_s": T.median([sum(r.values()) - h for r, h in zip(whole, heavy)]),
        "cpu_per_wall": cpu.cpu_per_wall,
        "named": named,
        "layer": layer,
    }


def expected(args, name: str) -> str | None:
    for item in args.expect:
        key, _, value = item.partition("=")
        if key == name:
            return value
    return None


# -- main ----------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import progquery_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import telemetry as T

    warnings.filterwarnings("ignore", message="star hop truncated")
    probe = T.host_probe()
    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    extra_conf = configure_env(work)
    ledger = Ledger()
    spark = None
    try:
        with T.RssSampler() as rss:
            from progquery_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark(
                "perfbench",
                master=f"local[{CORES}]",
                shuffle_partitions=SHUFFLE_PARTITIONS,
                extra_conf=extra_conf,
            )
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            setups: list[float] = []

            def setup_timer(fn):
                for _ in range(SETUP_REPS):
                    t = time.perf_counter()
                    fn()
                    setups.append(time.perf_counter() - t)

            run = run_warehouse if args.workload == "warehouse" else run_graph_query
            out = run(spark, args, work, ledger, setup_timer)
            env = environment(spark, work)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if not out:
        print("perfbench: no timed operation completed", file=sys.stderr)
        return 1
    setup_s = session_s + T.median(setups)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "orders": args.orders or ORDERS[args.workload],
        "env": env,
        "host_probe": probe,
        "cpu_per_wall": out["cpu_per_wall"],
        "session_s": session_s,
        "peak_rss_mb": rss.peak_bytes / 1e6,
        "peak_jvm_rss_mb": rss.peak_process_bytes / 1e6,
        "setup_reps_s": setups,
        "failed_share": ledger.failed / max(ledger.attempted, 1),
        "notes": ledger.notes,
        **out["named"],
    }
    print(json.dumps({"record": record}))
    if args.trace:
        values = dict(out["layer"])
        values["session.cpu_per_wall"] = out["cpu_per_wall"]
        values["session.peak_rss_mb"] = rss.peak_bytes / 1e6
        units = per_layer_units()
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": out["pass_s"],
            "heavy_s": out["heavy_s"],
            "light_s": out["light_s"],
            "precision": ledger.matched / ledger.n_got if ledger.n_got else 0.0,
            "recall": ledger.matched / ledger.n_want if ledger.n_want else 0.0,
            "ok_share": 1.0 - ledger.failed / max(ledger.attempted, 1),
        }
        units = END_TO_END
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
