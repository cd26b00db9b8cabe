"""Smoke tests of the benchmark at small sizes (a 3x3 lattice, 500 docs).

    python3 -m pytest perfbench -q -p no:cacheprovider

One Spark session (event log on) serves every test; each job runs on its
own workdir.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

SEED = 7


@pytest.fixture(scope="module")
def session():
    run_dir = run.SCRATCH / "smoke"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    spark, session_s = run.start_session(run_dir, trace=True)
    yield spark, session_s, run_dir
    spark.stop()
    shutil.rmtree(run_dir, ignore_errors=True)


@pytest.fixture(scope="module")
def results(session):
    """Every smoke workload measured untraced and traced, in one session."""
    spark, session_s, run_dir = session
    out = {}
    for name, workload in workloads.SMOKE.items():
        for trace in (0, 1):
            case_dir = run_dir / f"{name}-{trace}"
            untraced = (1.0, True) if trace else None
            # a fresh process per run has nothing cached; the shared
            # session must not let the second run read the first's caches
            spark.catalog.clearCache()
            out[name, trace] = run.measure(spark, workload, SEED, case_dir,
                                           session_s, untraced,
                                           run_dir / "eventlog")
    return out


@pytest.mark.parametrize("trace", [0, 1])
def test_every_declared_metric_is_emitted_with_its_unit(results, trace):
    units = run.declared_units(bool(trace))
    for name in workloads.SMOKE:
        res = results[name, trace]
        assert res["problems"] == [], res["problems"]
        assert set(res["metrics"]) >= set(units)
        assert all(isinstance(v, (int, float)) for v in res["metrics"].values())
        assert res["info"]["failed_share"][1] == "ratio"
    assert run.declared_units(False) == {
        "wall_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}


def test_layers_see_their_work(results):
    build = results["build_k4", 1]["metrics"]
    assign = results["assign_4k", 1]["metrics"]
    assert build["faces.python_s"] > 0 and build["merge.jobs"] > 0
    assert build["graph_build.planarize_calls"] == 2
    assert build["knn.calls"] == build["spatial_join.calls"] == 0
    assert assign["spatial_join.python_s"] > 0 and assign["knn.stages"] > 0
    assert assign["faces.calls"] == assign["merge.calls"] == 0
    for m in (build, assign):
        assert m["lineage.files_written"] > 0
        assert 0 <= m["spark.no_task_s"] <= m["trace.wall_s"]
        layers_self = sum(m[f"{la}.self_s"] for la in spans.LAYERS)
        assert layers_self == pytest.approx(m["trace.wall_s"], rel=0.01)


@pytest.mark.parametrize("name,key", [("build_k4", "faces"),
                                      ("assign_4k", "assign_digest")])
def test_check_fails_on_perturbed_expectation(session, name, key):
    spark, _, run_dir = session
    workload = workloads.SMOKE[name]
    case_dir = run_dir / f"perturb-{name}"
    inputs = workload.inputs(spark, SEED, case_dir / "input")
    workdir = str(case_dir / "work")
    workload.run(spark, inputs, workdir)
    want = workload.expected(inputs, SEED)
    assert workload.check(spark, inputs, SEED, workdir, want) == []
    bad = dict(want)
    bad[key] = bad[key] + 1 if isinstance(bad[key], int) else "0" * 16
    problems = workload.check(spark, inputs, SEED, workdir, bad)
    assert len(problems) == 1 and problems[0].startswith(key)


def test_spans_have_parents_and_nonnegative_self_time(session):
    spark, _, run_dir = session
    workload = workloads.SMOKE["build_k4"]
    inputs = workload.inputs(spark, SEED, run_dir / "spans-input")
    tracer = spans.Tracer(spark.sparkContext)
    tracer.install(type(spark.range(1)))
    try:
        with tracer.span("job", spans.ROOT_LAYER):
            workload.run(spark, inputs, str(run_dir / "spans-work"))
    finally:
        tracer.uninstall()
    ids = {s.id for s in tracer.spans}
    assert tracer.spans[0].parent == 0
    assert all(s.parent in ids for s in tracer.spans[1:])
    assert all(s.self_s >= 0 for s in tracer.spans)
    assert {s.layer for s in tracer.spans} >= {
        "graph_build", "faces", "landuse_join", "merge", "mvt", "lineage"}
    # uninstall restored the originals
    from urbanistic_polygons_spark.operators import graph_build
    assert not hasattr(graph_build.planarize_edges, "__wrapped__")


def test_idle_time_is_the_uncovered_part_of_the_window():
    assert spans._idle_s([(2, 4), (3, 6), (8, 9)], 0, 10) == 10 - 5
    assert spans._idle_s([], 0, 10) == 10
