"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_bench.py -q

The span arithmetic tests are instant. The smoke tests run every workload
end to end on tiny inputs (a JVM each, about a minute apiece): once traced,
checking every per-layer metric is reported and the outputs pass their
checks, and once with deliberately wrong expected values, checking the
output check catches them.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import END_TO_END, PER_LAYER, tail  # noqa: E402
from spans import Tracer, covered, self_times  # noqa: E402


def span(sid, parent, start, end):
    return {"id": sid, "name": f"s{sid}", "parent": parent, "start": start, "end": end}


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(1, 3), (2, 5), (7, 8)], 2, 7.5) == 3.5
    assert covered([], 0, 10) == 0
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 1.0, 4.0),
        span(2, 0, 3.0, 6.0),  # overlaps its sibling: covered once
        span(3, 1, 1.5, 2.5),  # grandchild: counts against span 1 only
    ]
    selfs = self_times(spans + [span(4, 0, 7.0, None)])  # still open: skipped
    assert 4 not in selfs
    assert selfs[0] == pytest.approx(10.0 - 5.0)
    assert selfs[1] == pytest.approx(3.0 - 1.0)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[3] == pytest.approx(1.0)


def test_tracer_nests_and_disabled_records_nothing():
    tr = Tracer("t", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0]
    rep = {s["name"]: s for s in tr.report()}
    assert rep["outer"]["self"] <= rep["outer"]["end"] - rep["outer"]["start"]
    off = Tracer("t", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_tail_picks_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 34)]
    value, label = tail(xs)
    assert label == "p69"
    assert sum(x > value for x in xs) >= 10 and sum(x > value + 1 for x in xs) < 10
    assert tail([1.0, 3.0, 2.0]) == (3.0, "max")


def test_benchmark_json_matches_the_runner():
    from workloads import WORKLOADS as RUNNABLE

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(RUNNABLE)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )


def test_python_funnel_reproduces_the_sf01_documents_funnel():
    """The generator's engine-free funnel, on the unmodified sf0.1
    documents, gives the counts the program's own docs record for them
    (4,554 documents pass the gates; 12,314 chunks)."""
    import pyarrow.parquet as pq

    sys.path.insert(0, str(HERE.parent))
    import gen

    docs = pq.read_table(gen.DOCUMENTS).to_pylist()
    funnel = gen._Curation().funnel(docs)
    assert (funnel["docs"], funnel["filtered"], funnel["chunks"]) == (5000, 4554, 12314)
    assert funnel["survivors"] < funnel["exact_deduped"] < funnel["filtered"]


def run_bench(workload: str, *extra: str) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "0", "--size", "tiny", *extra],
        cwd=HERE.parent, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


WORKLOADS = ("ghcn_medallion", "analytic_mix", "corpus_curation")
# layer metrics each workload must move off zero (the rest may be bypassed)
EXERCISED = {
    "ghcn_medallion": ("readers.dly_scan_s", "ghcn.bronze_s", "ghcn.gold_ml_features_s",
                       "common.maybe_cache_s", "writers.ghcn_write_s", "writers.files_written"),
    "analytic_mix": ("readers.mart_lookup_s", "plans.build_s", "plans.exec_s",
                     "operators.join_s", "writers.ghcn_write_s", "writers.files_written"),
    "corpus_curation": ("corpus.profile_s", "corpus.lsh_pairs_s", "corpus.components_s",
                        "corpus.pairs", "writers.corpus_write_s", "writers.files_written"),
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced_run_reports_every_layer_metric(workload):
    res = run_bench(workload, "--trace", "1")
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == set(PER_LAYER)
    assert all(m["unit"] == PER_LAYER[k] for k, m in res["metrics"].items())
    assert all(res["metrics"][k]["value"] > 0 for k in ("session.start_s", *EXERCISED[workload]))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_wrong_expected_value_fails_the_check(workload):
    res = run_bench(workload, "--trace", "0", "--wrong-expected")
    assert not res["correct"] and res["failed"] > 0
    assert set(res["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())
