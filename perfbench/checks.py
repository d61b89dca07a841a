"""Output checks. All of them run outside the timed windows and read the
program's outputs back with DuckDB, so the expected side never goes
through the engine under test. Registry queries are compared with their
DuckDB oracles by the repository's own comparator
(``tests/oracle_check.py``), floats exactly.

Each check returns a ``Tally``: how many comparisons it made and a
description of every one that failed.
"""

from __future__ import annotations

from pathlib import Path

import duckdb

CHECK_THREADS = 3


class Tally:
    def __init__(self):
        self.checked = 0
        self.problems: list[str] = []

    def expect(self, what: str, got, want) -> None:
        self.checked += 1
        if got != want:
            self.problems.append(f"{what}: got {got}, expected {want}")

    def add(self, other: "Tally") -> None:
        self.checked += other.checked
        self.problems += other.problems


def registry_oracles(spark, queries, sf_dir: str) -> Tally:
    """Each registry query's rows against its DuckDB ``oracle_sql()``.

    The engine side runs ``CHECK_THREADS`` queries at a time: the check is
    not timed, and serially it would cost more than the timed window."""
    from concurrent.futures import ThreadPoolExecutor

    from tests.conftest import make_duck
    from tests.oracle_check import compare_frames

    def collect(q):
        try:
            return q.fn(spark, sf_dir).toPandas()
        except Exception as e:  # a query that raises fails its check
            return f"{type(e).__name__}: {e}"

    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        frames = list(pool.map(collect, queries))
    duck = make_duck(sf_dir)
    p = Tally()
    for q, got in zip(queries, frames):
        problems = [got] if isinstance(got, str) else compare_frames(got, duck.execute(q.oracle).df())
        p.expect(f"{q.name} vs its oracle", "; ".join(problems) or None, None)
    return p


def _scan(path: Path) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def ghcn_outputs(out_dir: Path, expected: dict) -> Tally:
    """Row counts and integer checksums of the five written outputs."""
    con = duckdb.connect()
    p = Tally()
    silver = con.execute(
        f"SELECT count(*), count(TMAX), CAST(sum(round(TMAX * 10)) AS BIGINT), "
        f"count(PRCP), CAST(sum(round(PRCP * 10)) AS BIGINT), "
        f"count(DISTINCT (ID, DATE)) FROM {_scan(out_dir / 'silver')}"
    ).fetchone()
    p.expect("silver rows", silver[0], expected["silver_rows"])
    p.expect("silver distinct (ID, DATE)", silver[5], expected["silver_rows"])
    p.expect("silver TMAX count", silver[1], expected["tmax_n"])
    p.expect("silver TMAX tenths sum", silver[2], expected["tmax_tenths_sum"])
    p.expect("silver PRCP count", silver[3], expected["prcp_n"])
    p.expect("silver PRCP tenths sum", silver[4], expected["prcp_tenths_sum"])
    for mart, count_col in (
        ("monthly", "record_count"), ("yearly", "record_count"), ("normals", "total_observations"),
    ):
        n, total = con.execute(
            f"SELECT count(*), CAST(sum({count_col}) AS BIGINT) FROM {_scan(out_dir / mart)}"
        ).fetchone()
        p.expect(f"{mart} rows", n, expected[f"{mart}_rows"])
        p.expect(f"{mart} sum({count_col})", total, expected["silver_rows"])
    n, tmax = con.execute(
        f"SELECT count(*), CAST(sum(round(TMAX * 10)) AS BIGINT) FROM {_scan(out_dir / 'ml_features')}"
    ).fetchone()
    p.expect("ml_features rows", n, expected["silver_rows"])
    p.expect("ml_features TMAX tenths sum", tmax, expected["tmax_tenths_sum"])
    return p


def corpus_outputs(out_dir: Path, expected: dict) -> Tally:
    """Chunk count, token total and split/lang layout of the written corpus."""
    con = duckdb.connect()
    p = Tally()
    n, toks, docs, langs, splits = con.execute(
        f"SELECT count(*), CAST(sum(n_tokens) AS BIGINT), count(DISTINCT doc_id), "
        f"count(DISTINCT lang), count(DISTINCT split) FROM {_scan(out_dir)}"
    ).fetchone()
    p.expect("chunks", n, expected["chunks"])
    p.expect("chunk tokens", toks, expected["chunk_tokens"])
    p.expect("chunked docs", docs, expected["survivors"])
    p.expect("langs", langs, 1)
    p.expect("splits", splits, 3)
    return p


def funnel(counts: dict, expected: dict) -> Tally:
    """Stage counts of one corpus build against the planted funnel."""
    p = Tally()
    for stage in ("filtered", "exact_deduped", "survivors", "chunks"):
        p.expect(f"funnel {stage}", counts[stage], expected[stage])
    if "pairs" in counts:
        p.expect("near-dup pairs >= planted", counts["pairs"] >= expected["min_pairs"], True)
    return p


def dir_bytes(path: Path) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker files."""
    files = [f for f in Path(path).rglob("*") if f.is_file() and not f.name.startswith((".", "_"))]
    return len(files), sum(f.stat().st_size for f in files)
