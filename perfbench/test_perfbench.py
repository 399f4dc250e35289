"""Self-tests of the benchmark: generator determinism, checkers that
reject planted wrong outputs, and one traced job per workload with a
span for every layer the workload exercises.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import check, gen
from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS, PmE2E

SMALL_PM = dict(periods=3, sites=3, cells=4, bursts=2, burst_align=3)
SMALL_PM_FILES_PER_TRIGGER = 3  # bursts of 3 and 6 files: 3 micro-batches


def _snapshot(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_pm_generator_is_byte_identical_per_seed(tmp_path):
    root = str(tmp_path / "pm")
    gen.gen_pm(root, 7, **SMALL_PM)
    first = _snapshot(root)
    gen.gen_pm(root, 7, **SMALL_PM)
    assert _snapshot(root) == first
    gen.gen_pm(root, 8, **SMALL_PM)
    assert _snapshot(root) != first


def test_corpus_generator_is_byte_identical_per_seed(tmp_path):
    root = str(tmp_path / "corpus")
    truth = gen.gen_corpus(root, 7, docs=200, clusters=20)
    first = _snapshot(root)
    assert gen.gen_corpus(root, 7, docs=200, clusters=20) == truth
    assert _snapshot(root) == first
    assert len(truth["survivors"]) < len(truth["exact_survivors"]) < truth["docs"]


def test_pm_truth_keys_unique_per_period(tmp_path):
    truth = gen.gen_pm(str(tmp_path / "pm"), 3, **SMALL_PM)
    cell = truth["tables"]["CELL_STATS"]
    assert len(cell["base"]) == SMALL_PM["periods"]
    for period in cell["base"].values():
        assert period["rows"] == SMALL_PM["sites"] * SMALL_PM["cells"]
    # every ladder level keeps the base totals
    total = sum(p["sums"]["CALLS"] for p in cell["base"].values())
    for level in cell["ladder"].values():
        assert sum(w["sums"]["CALLS"] for w in level.values()) == total


# ---------------------------------------------------------------------------
# checks against real engine output
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.run import start_session

    s = start_session(str(tmp_path_factory.mktemp("spark")))
    yield s
    s.stop()


@pytest.fixture(scope="module")
def pm_job(spark, tmp_path_factory):
    """One untraced pm_e2e job on a small drop: (workload, out, result)."""
    wl = PmE2E(str(tmp_path_factory.mktemp("work")))
    wl.shape = SMALL_PM
    wl.max_files_per_trigger = SMALL_PM_FILES_PER_TRIGGER
    wl.prepare(5)
    out = str(tmp_path_factory.mktemp("out") / "job")
    result = wl.run(spark, out)
    return wl, out, result


def test_checker_accepts_engine_output(pm_job):
    wl, out, result = pm_job
    assert wl.check(out, result) == []


def _rewrite_first_part(table_dir: str, edit) -> None:
    part = sorted(glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True))[0]
    t = pq.read_table(part)
    pq.write_table(edit(t), part)


def _copy(out: str, tmp_path) -> str:
    bad = str(tmp_path / "bad")
    shutil.copytree(out, bad)
    return bad


def test_checker_rejects_dropped_row(pm_job, tmp_path):
    wl, out, result = pm_job
    bad = _copy(out, tmp_path)
    _rewrite_first_part(os.path.join(bad, "batch", "CELL_STATS_15M"), lambda t: t.slice(1))
    errs = wl.check(bad, result)
    assert any("rows" in e for e in errs), errs


def test_checker_rejects_counter_past_tolerance(pm_job, tmp_path):
    wl, out, result = pm_job
    bad = _copy(out, tmp_path)

    def nudge(t: pa.Table) -> pa.Table:
        i = t.column_names.index("DROPS")
        vals = t.column(i).to_pylist()
        vals[0] += 0.001  # round(x, 3) tells these apart
        return t.set_column(i, "DROPS", pa.array(vals, pa.float64()))

    _rewrite_first_part(os.path.join(bad, "stream", "CELL_STATS_15M"), nudge)
    errs = wl.check(bad, result)
    assert any("sum(DROPS)" in e for e in errs), errs


@pytest.mark.parametrize("column", ["REGION", "LABEL"])
def test_checker_rejects_wrong_derived_key(pm_job, tmp_path, column):
    # a lookup or fallback template that writes a wrong value keeps row
    # counts and sums, and both intakes agree on it, so only the key
    # sets tell
    wl, out, result = pm_job
    bad = _copy(out, tmp_path)

    def rewrite(t: pa.Table) -> pa.Table:
        i = t.column_names.index(column)
        vals = t.column(i).to_pylist()
        vals[0] = "UNK" if vals[0] != "UNK" else "NORTH"
        return t.set_column(i, column, pa.array(vals, pa.string()))

    for intake in ("batch", "stream"):
        _rewrite_first_part(os.path.join(bad, intake, "CELL_STATS_15M"), rewrite)
    errs = wl.check(bad, result)
    assert any("CELL_STATS_15M" in e and "keys differ" in e for e in errs), errs


def test_checker_rejects_dropped_counter_column(pm_job, tmp_path):
    wl, out, result = pm_job
    bad = _copy(out, tmp_path)
    table = os.path.join(bad, "batch", "CELL_STATS_15M")
    for part in glob.glob(os.path.join(table, "**", "*.parquet"), recursive=True):
        pq.write_table(pq.read_table(part).drop(["SETUPS"]), part)
    errs = wl.check(bad, result)
    assert any("columns" in e for e in errs), errs


def test_pm_bursts_have_the_same_sizes_on_every_seed(tmp_path):
    # with maxFilesPerTrigger 8: 5 micro-batches on every seed
    assert PmE2E.max_files_per_trigger == 8
    for seed in range(6):
        root = str(tmp_path / str(seed))
        gen.gen_pm(root, seed, **dict(PmE2E.shape, cells=1))
        sizes = sorted(len(os.listdir(os.path.join(root, "staged", b)))
                       for b in ("burst_000", "burst_001"))
        assert sizes == [16, 24]


def test_checker_rejects_failed_verdict(pm_job):
    from chill_spark.report import build_report

    wl, out, result = pm_job
    rep = result["reports"][0]
    rep.diffs = [("S001", "c00001", "2024-03-31 22:00:00", "CALLS", "1.0", "2.0")]
    try:
        broken = dict(result, report=build_report(result["reports"]))
        errs = wl.check(out, broken)
    finally:
        rep.diffs = []
    assert any("not clean" in e for e in errs) and any("verdict" in e for e in errs)


def test_dedup_checker_rejects_missing_survivor(tmp_path):
    truth = {"exact_survivors": [1, 2, 3], "survivors": [1, 3]}
    for name, ids in (("exact", [1, 2, 3]), ("kept", [1])):
        os.makedirs(tmp_path / name)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}),
                       str(tmp_path / name / "part-0.parquet"))
    errs = check.check_dedup(str(tmp_path), truth)
    assert len(errs) == 1 and "kept survivors" in errs[0]


# ---------------------------------------------------------------------------
# traced jobs: a span for every layer each workload exercises
# ---------------------------------------------------------------------------

LAYER_SPANS = {
    "pm_e2e": {
        "config.load", "streaming.run", "sources.scan", "sources.tags",
        "dsl.compile", "derive.apply", "pipeline.transform",
        "pipeline.run_batch", "writers.write_fact", "rollup.build_ladder",
        "reconcile.compare", "report.build",
    },
    "corpus_dedup": {
        "llm_ops.exact", "llm_ops.shingle", "llm_ops.candidates",
        "llm_ops.verify", "llm_ops.components",
    },
}
SMALL = {"pm_e2e": SMALL_PM, "corpus_dedup": dict(docs=300, clusters=20)}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_traced_job_has_a_span_per_layer(spark, tmp_path, name):
    from perfbench import layers

    wl = WORKLOADS[name](str(tmp_path / "work"))
    wl.shape = SMALL[name]
    if name == "pm_e2e":
        wl.max_files_per_trigger = SMALL_PM_FILES_PER_TRIGGER
    wl.prepare(9)
    tracer = Tracer(spark, "t")
    out = str(tmp_path / "out")
    result = wl.run(spark, out, tracer=tracer)
    assert wl.check(out, result) == []
    tracer.finish()
    names = {s["name"] for s in tracer.spans}
    assert LAYER_SPANS[name] <= names
    for s in tracer.spans:
        assert s["self_s"] >= -1e-6 and {"jobs", "tasks", "gc_ms"} <= set(s["spark"])
    m = layers.job_metrics(tracer, result, 1.0)
    assert set(m) == set(layers.PER_LAYER)
    if name == "pm_e2e":
        assert m["dsl.native_fields"] and m["dsl.lookup_fields"] and m["dsl.fallback_fields"]
        assert m["reconcile.spark_jobs"] > 0 and m["rollup.build_ladder_s"] > 0
        files = [b["rows"] for b in result["batches"]]
        assert max(files) <= SMALL_PM_FILES_PER_TRIGGER and len(files) == 3
        assert m["streaming.batches"] == len(files) and m["streaming.spark_jobs"] > 0
        assert m["sources.files"] == sum(files)
    if name == "corpus_dedup":
        assert 0 < m["llm_ops.verified_pairs"] <= m["llm_ops.candidate_pairs"]
    spark.catalog.clearCache()


def test_benchmark_json_matches_the_code():
    import json

    from perfbench import layers

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == (
        layers.PER_LAYER
    )
    assert {m["name"] for m in spec["end_to_end"]} == {"setup_s", "job_s", "peak_rss_mb"}
