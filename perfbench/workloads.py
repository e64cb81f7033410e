"""The two workloads: the medallion pipeline in both variants (a batch
full rewrite and an incremental round taking one arrival) and a read-only
pass over headline suite queries.

Each workload generates its inputs from the seed before set-up, times only
calls into the package, and checks every warm unit's output outside the
timed region. Every warm unit of a workload does the same work, so units
and runs compare like for like. Metrics come back as
``{name: (value, unit)}``.
"""

from __future__ import annotations

import random
import shutil
import statistics
from contextlib import nullcontext
from pathlib import Path

from harness import Bench, RssSampler, dir_bytes, engine_cpu_s, wall_s
from movies import MovieGenerator, Truth
from spans import fold_event_logs, job_sum

CLOCK_UTC = "2024-01-01 00:00:00"
BUDGET_FLOOR = 100_000.0
STAGES = ("raw_to_bronze", "bronze_to_silver", "silver_update", "silver_to_gold")

# medallion: a base raw zone and one arrival of fresh movies plus re-sends of
# already-loaded payloads, the same arrival in every warm unit
BASE_MOVIES, BASE_FILES = 1_600, 4
ARRIVAL_MOVIES, ARRIVAL_RESENDS, ARRIVAL_FILES = 120, 24, 2
# headline_queries: the bench.HEADLINE queries that fit the run budget:
# relational, JSON, window, streaming-twin, dedup, sketch, text and the
# similarity kernel that runs Python (Arrow) UDFs
QUERIES = (
    "tpch_q1", "star_join", "window_topk_per_group", "from_json_props",
    "sessionize", "dedup_minhash_lsh", "sim_topk_ivf", "text_tfidf_topk",
    "stream_tumbling_window", "sketch_hll_distinct",
)
ORACLE_PER_RUN = 4


def _layer_names() -> list[tuple[str, str]]:
    names = [
        ("fsutil.rewrite_parquet.calls", "count"),
        ("fsutil.rewrite_parquet.s", "s"),
        ("fsutil.rewrite_parquet.bytes_written", "bytes"),
    ]
    for st in STAGES:
        names += [(f"plans.{st}.s", "s"), (f"plans.{st}.jobs", "count")]
    names += [
        ("plans.tasks", "count"), ("plans.executor_cpu_s", "s"),
        ("plans.executor_run_s", "s"), ("plans.shuffle_write_bytes", "bytes"),
        ("plans.spill_bytes", "bytes"), ("plans.bytes_written", "bytes"),
    ]
    names += [(f"streaming.{st}.s", "s") for st in STAGES + ("current_status",)]
    names += [
        ("streaming.jobs_per_round", "count"), ("streaming.microbatches", "count"),
        ("streaming.input_rows", "count"), ("streaming.ledger_bytes", "bytes"),
        ("streaming.checkpoint_files", "count"), ("streaming.executor_cpu_s", "s"),
        ("streaming.bytes_written", "bytes"),
        ("sources.read_multiline_json.s", "s"), ("sources.read_multiline_json.jobs", "count"),
        ("sources.read_parquet.calls", "count"), ("sources.read_parquet.s", "s"),
        ("operators.write_partitioned.s", "s"), ("operators.write_partitioned.jobs", "count"),
        ("operators.write_partitioned.rows", "count"),
        ("operators.upsert_insert_missing.s", "s"), ("operators.upsert_update.s", "s"),
        ("suite.build_s", "s"), ("suite.build_jobs", "count"), ("suite.exec_s", "s"),
        ("suite.exec_jobs", "count"), ("suite.stages", "count"),
        ("suite.single_task_stage_frac", "ratio"), ("suite.executor_run_s", "s"),
        ("suite.executor_cpu_s", "s"), ("suite.shuffle_write_bytes", "bytes"),
        ("suite.spill_bytes", "bytes"), ("suite.tmp_dirs_leaked", "count"),
    ]
    for q in QUERIES:
        names += [(f"q.{q}.s", "s"), (f"q.{q}.jobs", "count")]
    names += [
        ("functions.python_worker_s", "s"), ("session.build_s", "s"),
        ("unit.wall_s", "s"), ("trace.overhead_s", "s"),
    ]
    return names


LAYER_METRICS = _layer_names()


# -- tracing targets -------------------------------------------------------------
def _function_targets() -> list[tuple[object, str, str]]:
    """The public functions of sources, operators and fsutil, patched where
    plans.medallion and streaming.incremental look them up."""
    from movie_genre_data_pipeline_spark import fsutil
    from movie_genre_data_pipeline_spark.plans import medallion
    from movie_genre_data_pipeline_spark.sources import batch as sources_batch
    from movie_genre_data_pipeline_spark.streaming import incremental

    targets = [
        (fsutil, "rewrite_parquet", "fsutil.rewrite_parquet"),
        (medallion, "upsert_update", "operators.upsert_update"),
        # incremental.silver_to_gold imports read_parquet at call time
        (sources_batch, "read_parquet", "sources.read_parquet"),
    ]
    for module in (medallion, incremental):
        targets += [
            (module, "read_multiline_json", "sources.read_multiline_json"),
            (module, "read_parquet", "sources.read_parquet"),
            (module, "write_partitioned", "operators.write_partitioned"),
            (module, "upsert_insert_missing", "operators.upsert_insert_missing"),
        ]
    return targets


def _run_unit(b: Bench, call, traced: bool, warm: bool, stage_spans=()):
    """Time ``call()`` as one unit span, with the engine's CPU seconds in it.
    With ``traced`` the pipeline stages and the layer functions get spans
    too, and every span tags its Spark jobs. Returns (span, result)."""
    targets = (list(stage_spans) + _function_targets()) if traced else []
    tracing = b.tracer.traced(b.spark.sparkContext) if traced else nullcontext()
    cpu = engine_cpu_s()
    with b.tracer.patched(targets), tracing, b.tracer.span("unit", warm=warm) as rec:
        result = call()
    rec["cpu_s"] = engine_cpu_s() - cpu
    return rec, result


# -- output checks -----------------------------------------------------------------
def _lake_rows(spark, cfg) -> dict[str, list]:
    """Silver and gold tables of one lake as sorted row lists."""
    from pyspark.sql import functions as F
    from movie_genre_data_pipeline_spark.sources.batch import read_parquet

    movie = read_parquet(spark, cfg.silver_path("movie")).select(
        "Id", "Title", "RunTime", "Budget", F.col("p_CreatedDate").cast("string"),
        "Genres_Id", "Language_Id")
    frames = {"movie": movie}
    for table in ("genres", "language"):
        frames[table] = read_parquet(spark, cfg.silver_path(table))
    for mart in ("genre_revenue", "language_revenue"):
        frames[mart] = read_parquet(spark, cfg.gold_path(mart))
    return {name: sorted((tuple(r) for r in df.collect()), key=repr)
            for name, df in frames.items()}


def _truth_problems(lake: dict[str, list], truth: Truth, bronze_rows: int,
                    not_loaded: int) -> list[str]:
    checks = [
        ("bronze rows", bronze_rows, truth.bronze_rows),
        ("records not loaded", not_loaded, 0),
        ("silver movie Ids", sorted(r[0] for r in lake["movie"]), sorted(truth.ids)),
        ("silver RunTime < 0", sum(r[2] < 0 for r in lake["movie"]), 0),
        ("silver Budget below floor", sum(r[3] < BUDGET_FLOOR for r in lake["movie"]), 0),
        ("silver genres", sorted(r[0] for r in lake["genres"]), sorted(truth.genre_ids)),
        ("silver languages", sorted(r[1] for r in lake["language"]), sorted(truth.languages)),
        ("gold genre rows", len(lake["genre_revenue"]), len(truth.genre_ids)),
        ("gold language rows", len(lake["language_revenue"]), len(truth.languages)),
    ]
    return [f"{what}: got {str(got)[:200]}, expected {str(want)[:200]}"
            for what, got, want in checks if got != want]


# -- per-layer metrics ---------------------------------------------------------------
class _Fold:
    """Traced spans and the jobs each one covers, per traced unit."""

    def __init__(self, b: Bench):
        self.tracer = b.tracer
        jobs = fold_event_logs(b.event_log)
        self.inclusive = self.tracer.attribute(jobs)
        self.traced = [s for s in self.tracer.spans if s["traced"] and s["end"] is not None]
        self.n = max(1, sum(s["name"] == "unit" for s in self.traced))

    def spans(self, name: str) -> list[dict]:
        return [s for s in self.traced if s["name"] == name]

    def secs(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans(name)) / self.n

    def calls(self, name: str) -> float:
        return len(self.spans(name)) / self.n

    def jobs(self, *names: str) -> list[dict]:
        return [j for name in names for s in self.spans(name)
                for j in self.inclusive.get(s["id"], [])]

    def per_unit(self, jobs: list[dict], field: str | None = None) -> float:
        return (len(jobs) if field is None else job_sum(jobs, field)) / self.n


def _medallion_layers(f: _Fold) -> dict[str, float]:
    out: dict[str, float] = {}
    rewrite = f.jobs("fsutil.rewrite_parquet")
    out["fsutil.rewrite_parquet.calls"] = f.calls("fsutil.rewrite_parquet")
    out["fsutil.rewrite_parquet.s"] = f.secs("fsutil.rewrite_parquet")
    out["fsutil.rewrite_parquet.bytes_written"] = f.per_unit(rewrite, "bytes_written")
    for st in STAGES:
        out[f"plans.{st}.s"] = f.secs(f"plans.{st}")
        out[f"plans.{st}.jobs"] = f.per_unit(f.jobs(f"plans.{st}"))
        out[f"streaming.{st}.s"] = f.secs(f"streaming.{st}")
    batch = f.jobs("plans.run")
    for name, field in (("tasks", "tasks"), ("executor_cpu_s", "cpu_s"),
                        ("executor_run_s", "run_s"),
                        ("shuffle_write_bytes", "shuffle_write_bytes"),
                        ("spill_bytes", "spill_bytes"), ("bytes_written", "bytes_written")):
        out[f"plans.{name}"] = f.per_unit(batch, field)
    rounds = f.jobs("streaming.run")
    out["streaming.current_status.s"] = f.secs("streaming.current_status")
    out["streaming.jobs_per_round"] = f.per_unit(rounds)
    out["streaming.input_rows"] = f.per_unit(f.jobs("streaming.raw_to_bronze"), "records_written")
    out["streaming.executor_cpu_s"] = f.per_unit(rounds, "cpu_s")
    out["streaming.bytes_written"] = f.per_unit(rounds, "bytes_written")
    out["sources.read_multiline_json.s"] = f.secs("sources.read_multiline_json")
    out["sources.read_multiline_json.jobs"] = f.per_unit(f.jobs("sources.read_multiline_json"))
    out["sources.read_parquet.calls"] = f.calls("sources.read_parquet")
    out["sources.read_parquet.s"] = f.secs("sources.read_parquet")
    writes = f.jobs("operators.write_partitioned")
    out["operators.write_partitioned.s"] = f.secs("operators.write_partitioned")
    out["operators.write_partitioned.jobs"] = f.per_unit(writes)
    out["operators.write_partitioned.rows"] = f.per_unit(writes, "records_written")
    out["operators.upsert_insert_missing.s"] = f.secs("operators.upsert_insert_missing")
    out["operators.upsert_update.s"] = f.secs("operators.upsert_update")
    return out


def _result(b: Bench, e2e: dict, layers: dict[str, float], plain: list[dict],
            traced: list[dict]) -> dict:
    if not b.trace:
        return e2e
    layers["session.build_s"] = statistics.median(b.build_s)
    layers["unit.wall_s"] = wall_s(plain[0])
    # the traced unit against the untraced unit right before it
    layers["trace.overhead_s"] = wall_s(traced[-1]) - wall_s(plain[-1])
    units = dict(LAYER_METRICS)
    return {name: (layers.get(name, 0.0), unit) for name, unit in units.items()}


# -- workloads ---------------------------------------------------------------------
def medallion(b: Bench) -> dict:
    """Every warm unit does the same work on the same files: a batch full
    rewrite of the whole raw zone (base plus one arrival) into a fresh lake,
    and one incremental round that takes the arrival into a lake holding the
    base. The incremental pipeline reads its own raw directory, which holds
    only the base until the cold unit ends. The cold unit runs the batch
    rewrite and the incremental round that loads the base; then the
    incremental lake is kept and the arrival lands, and each warm unit starts
    from a copy of that lake. Both lakes are checked against the generator's
    ground truth and against each other after every warm unit."""
    from movie_genre_data_pipeline_spark.config import Clock, PipelineConfig
    from movie_genre_data_pipeline_spark.plans.medallion import MedallionPipeline
    from movie_genre_data_pipeline_spark.sources.batch import read_parquet
    from movie_genre_data_pipeline_spark.streaming.incremental import (
        IncrementalMedallionPipeline,
    )

    gen = MovieGenerator(b.seed)
    raw_all, raw_inc, staged = b.work / "raw", b.work / "raw-incremental", b.work / "arrival"
    gen.land(str(raw_inc), BASE_MOVIES, BASE_FILES, prefix="base")
    gen.land(str(staged), ARRIVAL_MOVIES, ARRIVAL_FILES, resend=ARRIVAL_RESENDS,
             prefix="arrival")
    shutil.copytree(raw_inc, raw_all)
    for f in staged.iterdir():
        shutil.copy(f, raw_all / f.name)
    truth = gen.truth
    clock = Clock(fixed_utc=CLOCK_UTC)
    inc_cfg = PipelineConfig(root=str(b.work / "incremental"), clock=clock)
    base_lake = b.work / "incremental-base"
    checkpoints = Path(inc_cfg.checkpoint_path("x")).parent
    stage_spans = [(MedallionPipeline, m, f"plans.{m}") for m in STAGES] + [
        (IncrementalMedallionPipeline, m, f"streaming.{m}")
        for m in STAGES + ("current_status",)
    ]
    traced_state: dict[str, list[float]] = {"microbatches": [], "ledger": [], "ckpt": []}
    space_amp: list[float] = []

    def commits() -> int:
        return sum(1 for _ in checkpoints.glob("*/commits/[0-9]*"))

    def unit(i: int, traced: bool):
        if i > 0:  # back to the lake that holds only the base
            shutil.rmtree(inc_cfg.root)
            shutil.copytree(base_lake, inc_cfg.root)
        batch_cfg = PipelineConfig(root=str(b.work / f"batch{i}"), clock=clock)
        batch = MedallionPipeline(b.spark, batch_cfg)
        inc = IncrementalMedallionPipeline(b.spark, inc_cfg)
        before = commits()

        def both():
            with b.tracer.span("plans.run"):
                counts = batch.run(str(raw_all))
            with b.tracer.span("streaming.run"):
                inc.run(str(raw_inc))
            return counts

        rec, counts = _run_unit(b, both, traced, i > 0, stage_spans)
        if i == 0:
            shutil.copytree(inc_cfg.root, base_lake)
            for f in staged.iterdir():
                shutil.copy(f, raw_inc / f.name)
            shutil.rmtree(batch_cfg.root)
            return rec
        if traced:
            traced_state["microbatches"].append(commits() - before)
            traced_state["ledger"].append(dir_bytes(Path(inc.ledger_path)))
            traced_state["ckpt"].append(sum(1 for p in checkpoints.rglob("*") if p.is_file()))

        def check():
            statuses = dict(read_parquet(b.spark, batch_cfg.bronze_path)
                            .groupBy("status").count().collect())
            batch_lake = _lake_rows(b.spark, batch_cfg)
            problems = _truth_problems(batch_lake, truth, sum(statuses.values()),
                                       sum(statuses.values()) - statuses.get("loaded", 0))
            want = {"quarantined": len(truth.quarantined_ids),
                    "repaired": len(truth.quarantined_ids),
                    "gold_genres": len(truth.genre_ids)}
            problems += [f"batch {k}: got {counts.get(k)}, expected {v}"
                         for k, v in want.items() if counts.get(k) != v]
            # the incremental lake must hold the same tables as the batch one
            inc_lake = _lake_rows(b.spark, inc_cfg)
            problems += [f"{t} differs between batch and incremental"
                         for t in batch_lake if batch_lake[t] != inc_lake[t]]
            if read_parquet(b.spark, inc_cfg.bronze_path).count() != truth.bronze_rows:
                problems.append("incremental bronze rows")
            if inc.current_status().filter("status != 'loaded'").count():
                problems.append("incremental records not loaded")
            return problems

        failed = b.op(f"unit {i}", check)
        lakes = dir_bytes(Path(batch_cfg.root)) + dir_bytes(Path(inc_cfg.root))
        space_amp.append(lakes / (2 * truth.raw_bytes))
        shutil.rmtree(batch_cfg.root)
        b.mark(f"unit {i} checked: {wall_s(rec):.2f} s, {rec['cpu_s']:.2f} cpu s")
        return None if failed else rec

    with RssSampler() as rss:
        b.setup()
        b.mark("set-up")
        rss.phase = "cold"
        first = unit(0, False)
        b.mark(f"cold unit: {wall_s(first):.2f} s")
        rss.phase = "warm"
        plain, traced = b.timed_units(unit)
    b.stop()
    e2e = b.e2e(wall_s(first), plain, statistics.median(space_amp), rss)
    layers = {}
    if b.trace:
        layers = _medallion_layers(_Fold(b))
        for name, key in (("microbatches", "microbatches"), ("ledger_bytes", "ledger"),
                          ("checkpoint_files", "ckpt")):
            layers[f"streaming.{name}"] = statistics.mean(traced_state[key])
    return _result(b, e2e, layers, plain, traced)


def headline_queries(b: Bench) -> dict:
    import bench
    from tables import generate

    data = b.work / "data"
    table_bytes = generate(str(data), b.seed)
    order = [q for q in bench.HEADLINE if q in QUERIES]
    missing = set(QUERIES) - set(order)
    if missing:
        raise SystemExit(f"queries not in bench.HEADLINE: {sorted(missing)}")
    random.Random(b.seed).shuffle(order)
    expected_rows: dict[str, int] = {}
    leaked: dict[bool, list[tuple[int, int]]] = {False: [], True: []}

    def unit(i: int, traced: bool):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from movie_genre_data_pipeline_spark.suite import all_queries

        specs = all_queries()
        before = set(b.tmp.iterdir())
        observed: dict[str, Observation] = {}

        def one_pass():
            for name in order:
                with b.tracer.span(f"q.{name}"):
                    with b.tracer.span("suite.build"):
                        df = specs[name].fn(b.spark, str(data))
                    observed[name] = Observation(name)
                    with b.tracer.span("suite.exec"):
                        (df.observe(observed[name], F.count(F.lit(1)).alias("rows"))
                         .write.format("noop").mode("overwrite").save())

        rec, _ = _run_unit(b, one_pass, traced, i > 0)
        # temp dirs the suite left behind: count and size them, then remove
        # only those, so disk growth cannot drift later passes
        new = [p for p in b.tmp.iterdir() if p.is_dir() and p not in before]
        if i > 0:
            leaked[traced].append((len(new), sum(dir_bytes(p) for p in new)))
        for p in new:
            shutil.rmtree(p, ignore_errors=True)

        ok = True
        for name in order:
            rows = observed[name].get["rows"]
            want = expected_rows.setdefault(name, rows)
            problem = None if rows > 0 and rows == want else f"{rows} rows (expected {want}, > 0)"
            ok &= not b.op(f"{name} pass {i}", lambda: problem)
        return rec if ok else None

    def oracle():
        """DuckDB agreement for ORACLE_PER_RUN queries, a window over QUERIES
        that moves with the seed, so consecutive seeds cover them all."""
        from tools.verify_local import verify_queries

        start = b.seed % len(QUERIES)
        names = {QUERIES[(start + k) % len(QUERIES)] for k in range(ORACLE_PER_RUN)}
        failures = verify_queries(b.spark, str(data), names=names)
        for name, errs in failures.items():
            b.op(f"oracle {name}", lambda: errs)
        b.attempted += len(names) - len(failures)

    with RssSampler() as rss:
        b.setup()
        b.mark("set-up")
        rss.phase = "cold"
        first = unit(0, False)
        b.mark(f"cold pass: {wall_s(first):.2f} s" if first else "cold pass failed")
        rss.phase = "warm"
        plain, traced = b.timed_units(unit)
        b.mark("warm passes: " + ", ".join(f"{wall_s(u):.2f} s" for u in plain + traced))
        oracle()
        b.mark("oracle")
    b.stop()
    leak_bytes = statistics.median(nbytes for _, nbytes in leaked[False])
    e2e = b.e2e(wall_s(first) if first else 0.0, plain,
                (table_bytes + leak_bytes) / table_bytes, rss)
    layers: dict[str, float] = {}
    if b.trace:
        f = _Fold(b)
        build, execute = f.jobs("suite.build"), f.jobs("suite.exec")
        every = build + execute
        stages = job_sum(every, "stages")
        layers.update({
            "suite.build_s": f.secs("suite.build"),
            "suite.build_jobs": f.per_unit(build),
            "suite.exec_s": f.secs("suite.exec"),
            "suite.exec_jobs": f.per_unit(execute),
            "suite.stages": stages / f.n,
            "suite.single_task_stage_frac": job_sum(every, "single_task_stages") / max(1, stages),
            "suite.executor_run_s": f.per_unit(every, "run_s"),
            "suite.executor_cpu_s": f.per_unit(every, "cpu_s"),
            "suite.shuffle_write_bytes": f.per_unit(every, "shuffle_write_bytes"),
            "suite.spill_bytes": f.per_unit(every, "spill_bytes"),
            "suite.tmp_dirs_leaked": statistics.mean(n for n, _ in leaked[True]),
            "functions.python_worker_s": sum(
                j["run_s"] - j["cpu_s"] for j in every if j["python"]) / f.n,
        })
        for q in QUERIES:
            layers[f"q.{q}.s"] = f.secs(f"q.{q}")
            layers[f"q.{q}.jobs"] = f.per_unit(f.jobs(f"q.{q}"))
    return _result(b, e2e, layers, plain, traced)


WORKLOADS = {
    "medallion": medallion,
    "headline_queries": headline_queries,
}
