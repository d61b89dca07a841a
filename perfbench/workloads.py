"""The benchmark's workloads.

Each workload is a class with four hooks the runner calls: ``inputs``
(generate or reuse the seeded inputs; not timed), ``setup`` (program work
done before the first timed op), ``op`` (one timed unit of work, traced or
not; returns its wall time) and ``check`` (output checks, outside the
timed window). Ops that raise and failed checks count as failures.

Every call into the program goes through its public functions; the traced
variants open one span around each call and persist+materialize at the
boundary, because Spark would otherwise fuse the layers into one job.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import gen
import checks

GHCN_OUTPUTS = ("silver", "monthly", "yearly", "normals", "ml_features")
# the registry's tables at scale factor 0.01, as the repository's oracle
# tests read them (deterministic, seed 42), kept with the benchmark
TABLES_DIR = Path(__file__).resolve().parent / "data" / "sf0.01"
# registry tag -> operator family, first match wins
FAMILIES = ("cdc", "llm", "reshape", "window", "join", "agg")


def _noop(df) -> None:
    """Run a plan to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _reset(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.parent.mkdir(parents=True, exist_ok=True)
    return path


class Workload:
    name = ""
    check_first = False  # check before the timed window, not after
    repeats = 1  # untraced runs: fresh processes per run, medians reported

    def __init__(self, seed: int, size: str, work: Path, tracer):
        self.seed = seed
        self.size = size
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.layer: dict[str, list[float]] = {}  # per-layer samples, traced runs
        self.recording = False  # keep per-layer samples from this pass

    def record(self, metric: str, value: float) -> None:
        if self.recording:
            self.layer.setdefault(metric, []).append(value)

    def record_layout(self, path: Path) -> None:
        """File count and sizes of what the writers left under ``path``."""
        files, size = checks.dir_bytes(path)
        self.record("writers.files_written", files)
        self.record("writers.bytes_written", size)
        self.record("writers.mean_file_kb", size / max(files, 1) / 1024)

    def span_self(self, spans_before: int, name: str, metric: str) -> None:
        """Record the self time of every ``name`` span opened since
        ``spans_before`` under ``metric``."""
        from spans import self_times

        selfs = self_times(self.tracer.spans)
        for s in self.tracer.spans[spans_before:]:
            if s["name"] == name:
                self.record(metric, selfs[s["id"]])

    # hooks ------------------------------------------------------------
    def inputs(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        self.spark = spark

    def op(self, traced: bool) -> float:
        raise NotImplementedError

    def check(self) -> checks.Tally:
        return checks.Tally()

    def storage_ratio(self) -> float:
        raise NotImplementedError

    def ops_per_pass(self) -> int:
        return 1

    def expectations(self) -> list[dict]:
        """The expected-value dicts the checks read."""
        return [self.expected]


# ------------------------------------------------------------ ghcn_medallion

class GhcnMedallion(Workload):
    """Raw .dly files -> bronze -> silver (size-gated cache) -> four gold
    marts, every output written partitioned. One op = one full build."""

    name = "ghcn_medallion"

    def inputs(self) -> None:
        self.paths, self.stations, self.expected = gen.ghcn(self.seed, self.size)
        self.out = self.work / "out" / "ghcn"

    def _build(self) -> None:
        from ghcn_d_etl_project_spark.pipelines.ghcn import run_pipeline
        from ghcn_d_etl_project_spark.sources.writers import pick_partition_columns, write_partitioned

        marts = run_pipeline(self.spark, self.paths, self.stations)
        for name in GHCN_OUTPUTS:
            df = marts[name]
            write_partitioned(df, str(self.out / name), partition_by=pick_partition_columns(df.columns))
        self.spark.catalog.clearCache()

    def op(self, traced: bool) -> float:
        _reset(self.out)
        if not traced:
            t0 = time.perf_counter()
            self._build()
            return time.perf_counter() - t0
        return self._traced_build()

    def _traced_build(self) -> float:
        from ghcn_d_etl_project_spark.operators.common import maybe_cache
        from ghcn_d_etl_project_spark.pipelines import ghcn
        from ghcn_d_etl_project_spark.sources.readers import read_fixed_width
        from ghcn_d_etl_project_spark.sources.writers import pick_partition_columns, write_partitioned

        tr, spark = self.tracer, self.spark
        first = len(tr.spans)
        t0 = time.perf_counter()
        with tr.span("op.ghcn_build"):
            with tr.span("ghcn.bronze"):
                bronze = ghcn.bronze_from_dly(spark, self.paths).persist()
                n_bronze = bronze.count()
            with tr.span("ghcn.silver"):
                stations = ghcn.read_stations(spark, self.stations)
                silver = ghcn.silver_from_bronze(bronze, stations)
                with tr.span("common.maybe_cache"):
                    silver = maybe_cache(silver, min_rows=1000)
                n_silver = silver.count()
            outputs = {"silver": silver}
            for name, fn in (
                ("monthly", ghcn.gold_monthly), ("yearly", ghcn.gold_yearly),
                ("normals", ghcn.gold_normals), ("ml_features", ghcn.gold_ml_features),
            ):
                with tr.span(f"ghcn.gold_{name}"):
                    outputs[name] = fn(silver).persist()
                    outputs[name].count()
            with tr.span("writers.ghcn_write"):
                for name in GHCN_OUTPUTS:
                    df = outputs[name]
                    write_partitioned(df, str(self.out / name), partition_by=pick_partition_columns(df.columns))
        wall = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        # the bare fixed-width scan, after the build so it warms nothing for it
        with tr.span("readers.dly_scan"):
            _noop(read_fixed_width(spark, self.paths, ghcn.DLY_HEADER))
        for span, metric in (
            ("readers.dly_scan", "readers.dly_scan_s"), ("ghcn.bronze", "ghcn.bronze_s"),
            ("ghcn.silver", "ghcn.silver_s"), ("common.maybe_cache", "common.maybe_cache_s"),
            ("ghcn.gold_monthly", "ghcn.gold_monthly_s"), ("ghcn.gold_yearly", "ghcn.gold_yearly_s"),
            ("ghcn.gold_normals", "ghcn.gold_normals_s"),
            ("ghcn.gold_ml_features", "ghcn.gold_ml_features_s"),
            ("writers.ghcn_write", "writers.ghcn_write_s"),
        ):
            self.span_self(first, span, metric)
        self.record("ghcn.bronze_rows", n_bronze)
        self.record("ghcn.silver_rows", n_silver)
        self.record("ghcn.slot_keep_ratio", n_bronze / (self.expected["lines"] * 31))
        self.record_layout(self.out)
        return wall

    def check(self) -> checks.Tally:
        return checks.ghcn_outputs(self.out, self.expected)

    def storage_ratio(self) -> float:
        return checks.dir_bytes(self.out)[1] / self.expected["raw_bytes"]


# --------------------------------------------------------------- analytic_mix

class AnalyticMix(Workload):
    """One closed-loop client issuing a seeded permutation of the registry's
    interactive queries over the sf0.01 tables, every second one followed
    by a point lookup (one station's months) or a range scan (one year)
    over a gold mart set-up wrote."""

    name = "analytic_mix"
    check_first = True

    def inputs(self) -> None:
        import random

        from ghcn_d_etl_project_spark.plans.registry import all_queries

        self.sf_dir = str(TABLES_DIR)
        self.mart_src = gen.ghcn(self.seed, "tiny")
        self.marts = self.work / "out" / "marts"
        rng = random.Random(self.seed)
        queries = [
            q for q in all_queries().values()
            if q.bench and not ({"pipeline", "persists"} & q.tags)
        ]
        rng.shuffle(queries)
        exp = self.mart_src[2]
        stations = sorted(exp["station_months"])
        years = sorted(exp["year_rows"])
        self.plan = []
        for i, q in enumerate(queries):
            self.plan.append(("query", q))
            if i % 4 == 0:
                self.plan.append(("point", rng.choice(stations)))
            elif i % 4 == 2:
                self.plan.append(("range", int(rng.choice(years))))
        self.cursor = 0

    def ops_per_pass(self) -> int:
        return len(self.plan)

    def expectations(self) -> list[dict]:
        return [self.mart_src[2]]

    def setup(self, spark) -> None:
        from ghcn_d_etl_project_spark.pipelines.ghcn import run_pipeline
        from ghcn_d_etl_project_spark.sources.writers import write_partitioned

        super().setup(spark)
        paths, stations, _ = self.mart_src
        first = len(self.tracer.spans)
        with self.tracer.span("writers.ghcn_write"):
            monthly = run_pipeline(spark, paths, stations)["monthly"]
            write_partitioned(monthly, str(_reset(self.marts) / "monthly.parquet"),
                              partition_by=["year", "month"])
        spark.catalog.clearCache()
        if self.tracer.enabled:
            self.span_self(first, "writers.ghcn_write", "writers.ghcn_write_s")
            self.record_layout(self.marts)

    def _lookup(self, kind: str, key):
        from pyspark.sql import functions as F

        from ghcn_d_etl_project_spark.sources.readers import load_table

        monthly = load_table(self.spark, str(self.marts), "monthly")
        if kind == "point":
            return monthly.filter(F.col("ID") == key)
        return monthly.filter(F.col("year") == key)

    @staticmethod
    def family(q) -> str:
        return next(f for f in FAMILIES if f in q.tags)

    def op(self, traced: bool) -> float:
        kind, arg = self.plan[self.cursor]
        self.cursor = (self.cursor + 1) % len(self.plan)
        tr = self.tracer if traced else None
        t0 = time.perf_counter()
        if kind == "query":
            if tr is None:
                _noop(arg.fn(self.spark, self.sf_dir))
                return time.perf_counter() - t0
            with tr.span("op.query", query=arg.name):
                with tr.span("plans.build"):
                    df = arg.fn(self.spark, self.sf_dir)
                with tr.span("plans.exec"):
                    _noop(df)
            wall = time.perf_counter() - t0
            build = tr.spans[-2]
            self.record("plans.build_s", build["end"] - build["start"])
            self.record("plans.build_jobs", build["jobs"])
            self.record("plans.exec_s", tr.spans[-1]["end"] - tr.spans[-1]["start"])
            self.record(f"operators.{self.family(arg)}_s", wall)
            return wall
        if tr is None:
            _noop(self._lookup(kind, arg))
            return time.perf_counter() - t0
        with tr.span("readers.mart_lookup", kind=kind):
            _noop(self._lookup(kind, arg))
        wall = time.perf_counter() - t0
        self.record("readers.mart_lookup_s", wall)
        return wall

    def check(self) -> checks.Tally:
        ops = dict.fromkeys(self.plan)  # each distinct op once
        tally = checks.registry_oracles(self.spark, [a for k, a in ops if k == "query"], self.sf_dir)
        exp = self.mart_src[2]
        for kind, arg in ops:
            if kind != "query":
                want = exp["station_months"][arg] if kind == "point" else exp["year_rows"][str(arg)]
                tally.expect(f"{kind} lookup {arg} rows", self._lookup(kind, arg).count(), want)
        return tally

    def storage_ratio(self) -> float:
        return checks.dir_bytes(self.marts)[1] / self.mart_src[2]["raw_bytes"]



# ------------------------------------------------------------ corpus_curation

class CorpusCuration(Workload):
    """The sf0.1 documents plus planted exact and near copies ->
    profile/gate -> exact dedup -> MinHash-LSH near dedup (connected
    components) -> chunks, written partitioned by (split, lang). One op =
    one full curation build. A run makes two cold builds in two fresh
    processes: one 18 s build averages too little of a shared host's
    swings in speed, and the builds that follow a cold one in the same JVM
    are still warming (each faster than the last for ten builds), so they
    do not time the same thing."""

    name = "corpus_curation"
    repeats = 2

    def inputs(self) -> None:
        self.docs, self.expected = gen.corpus(self.seed, self.size)
        self.out = self.work / "out" / "corpus"
        self.funnels: list[dict] = []  # stage counts of traced builds
        self.stages = None  # the last untraced build's persisted stages

    def _release(self) -> None:
        if self.stages is not None:
            self.stages.release()
            self.stages = None

    def op(self, traced: bool) -> float:
        self._release()
        _reset(self.out)
        if traced:
            return self._traced_build()
        from ghcn_d_etl_project_spark.pipelines.corpus import corpus_prep, write_corpus

        t0 = time.perf_counter()
        stages = corpus_prep(self.spark, self.docs)
        write_corpus(stages, str(self.out))
        wall = time.perf_counter() - t0
        self.stages = stages  # its funnel is counted by check(), after the window
        return wall

    def _traced_build(self) -> float:
        from ghcn_d_etl_project_spark.pipelines import corpus
        from ghcn_d_etl_project_spark.plans._util import t

        tr, cfg = self.tracer, corpus.CorpusPrepConfig()
        first = len(tr.spans)
        held = []
        t0 = time.perf_counter()
        with tr.span("op.corpus_build"):
            with tr.span("corpus.profile"):
                base, handle = corpus.profiled_persisted(t(self.spark, self.docs, "documents"), cfg)
                held.append(handle)
                n_filtered = base.count()
            with tr.span("corpus.exact_dedup"):
                exact = corpus.exact_dedup_keep_min(base).persist()
                held.append(exact)
                n_exact = exact.count()
            with tr.span("corpus.lsh_pairs"):
                pairs = corpus.neardup_pairs(exact, cfg, release_into=held).persist()
                held.append(pairs)
                n_pairs = pairs.count()
            with tr.span("corpus.components"):
                survivors, _ = corpus.neardup_survivors(exact, pairs)
                survivors = survivors.persist()
                held.append(survivors)
                n_survivors = survivors.count()
            with tr.span("corpus.chunk"):
                chunks = corpus.chunk_documents(survivors, cfg, carry=("pred_lang",)).persist()
                held.append(chunks)
                n_chunks = chunks.count()
            with tr.span("writers.corpus_write"):
                corpus.write_corpus({"chunks": chunks}, str(self.out))
        wall = time.perf_counter() - t0
        for df in held:
            df.unpersist()
        for span, metric in (
            ("corpus.profile", "corpus.profile_s"), ("corpus.exact_dedup", "corpus.exact_dedup_s"),
            ("corpus.lsh_pairs", "corpus.lsh_pairs_s"), ("corpus.components", "corpus.components_s"),
            ("corpus.chunk", "corpus.chunk_s"), ("writers.corpus_write", "writers.corpus_write_s"),
        ):
            self.span_self(first, span, metric)
        self.record("corpus.components_jobs", tr.by_name("corpus.components")[-1]["jobs"])
        self.record("corpus.pairs", n_pairs)
        self.record("corpus.survivor_ratio", n_survivors / self.expected["docs"])
        self.record_layout(self.out)
        self.funnels.append({"filtered": n_filtered, "exact_deduped": n_exact,
                             "survivors": n_survivors, "chunks": n_chunks, "pairs": n_pairs})
        return wall

    def check(self) -> checks.Tally:
        tally = checks.corpus_outputs(self.out, self.expected)
        if self.stages is not None:
            self.funnels.append({k: self.stages[k].count()
                                 for k in ("filtered", "exact_deduped", "survivors", "chunks")})
            self._release()
        for f in self.funnels:
            tally.add(checks.funnel(f, self.expected))
        return tally

    def storage_ratio(self) -> float:
        return checks.dir_bytes(self.out)[1] / self.expected["input_bytes"]


WORKLOADS = {w.name: w for w in (GhcnMedallion, AnalyticMix, CorpusCuration)}
