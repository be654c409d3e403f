"""Checks of the benchmark itself.

Run from the root of a checkout:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import time
import types
from collections import Counter

import pytest

import datagen
import probes
import run
from workloads import WORKLOADS

workload, get_spark = run.import_engine()

# Operators that `df.count()` plans away and the timed action keeps
# ("Exchange" counts shuffle and broadcast exchanges together).
DROPPED_BY_COUNT = {
    "q140_incremental_dedup": {"MapInPandas": 5, "SortMergeJoin": 1},
    "q154_psi": {"Exchange": 16},
    "q241_fingerprint_dedup": {"BroadcastHashJoin": 4, "Exchange": 7},
}

_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s+)?([A-Za-z]\w*)")


def operators(physical_plan) -> Counter:
    """Operator names in a physical plan's tree string."""
    names = (_NODE.match(line) for line in physical_plan.toString().splitlines())
    ops = Counter(m.group(1) for m in names if m)
    ops["Exchange"] += ops["BroadcastExchange"]
    return ops


def test_workload_lists_are_registered_checked_and_disjoint():
    registry, oracles = workload.queries(), workload.oracles()
    owner: dict[str, str] = {}
    for name, wl in WORKLOADS.items():
        assert wl.queries, name
        for q in wl.queries:
            assert q in registry, f"{name}: {q} is not a registered query"
            assert q in oracles, f"{name}: {q} has no DuckDB oracle"
            assert q not in owner, f"{q} is in both {owner[q]} and {name}"
            owner[q] = name


def test_tail_percentile_leaves_ten_samples_above():
    for n in (11, 12, 27, 48, 100, 1000):
        p = run.tail_percentile(n)
        values = list(range(n))
        assert n - 1 - run.percentile(values, p) >= run.TAIL_SAMPLES
        assert n - 1 - run.percentile(values, p + 1) < run.TAIL_SAMPLES
    assert run.tail_percentile(run.TAIL_SAMPLES) is None


def test_counts_that_do_not_repeat_are_named():
    setups = [{"import_s": 0.1, "get_spark_s": 1.0, "warmup_s": 2.0}] * 3

    def one_pass(traced, jobs):
        return {"traced": traced, "wall_s": 1.0, "queries": [
            {"name": "qa", "spark.jobs": jobs}, {"name": "qb", "spark.jobs": 3}]}

    passes = [one_pass(False, 0), one_pass(True, 2), one_pass(False, 0), one_pass(True, 4)]
    assert run.per_layer(setups, passes)[1] == ["qa:spark.jobs"]
    passes[3] = one_pass(True, 2)
    assert run.per_layer(setups, passes)[1] == []


def test_spans_record_self_time_calls_and_jobs():
    """Nested spans: the outer layer's self time excludes the inner
    call, and each job is charged to the innermost span."""
    jobs = [0]
    pkg = "fakeengine"
    inner_mod = types.ModuleType(f"{pkg}.sources.io")
    outer_mod = types.ModuleType(f"{pkg}.operators.op")

    def table():
        jobs[0] += 1
        time.sleep(0.02)

    def operate():
        time.sleep(0.02)
        jobs[0] += 2
        outer_mod.table()

    table.__module__, operate.__module__ = inner_mod.__name__, outer_mod.__name__
    inner_mod.table, outer_mod.operate, outer_mod.table = table, operate, table
    sys.modules.update({inner_mod.__name__: inner_mod, outer_mod.__name__: outer_mod})
    spans = probes.Spans(pkg, lambda: jobs[0])
    try:
        spans.install()
        outer_mod.operate()
        spans.uninstall()
    finally:
        del sys.modules[inner_mod.__name__], sys.modules[outer_mod.__name__]
    assert outer_mod.operate is operate and outer_mod.table is table
    assert spans.calls == {"operators": 1, "streaming": 0, "sources": 1, "pipelines": 0}
    assert spans.jobs["operators"] == 2 and spans.jobs["sources"] == 1
    assert 0.015 < spans.self_s["operators"] < 0.035
    assert 0.015 < spans.self_s["sources"] < 0.035


@pytest.fixture(scope="module")
def spark_and_data():
    work = os.path.join(run.ROOT, ".perfbench", f"test-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = run.prepare(work)
    data_dir = datagen.write_tables(0, os.path.join(work, "data"))
    spark = get_spark("perfbench-test", extra_conf=conf)
    try:
        yield spark, data_dir
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


@pytest.mark.parametrize("name", sorted(DROPPED_BY_COUNT))
def test_timed_plan_keeps_what_count_drops(spark_and_data, name):
    spark, data_dir = spark_and_data
    df = workload.queries()[name](spark, data_dir)
    timed = operators(run.plan(df).executedPlan())
    counted = operators(df.groupBy().count()._jdf.queryExecution().executedPlan())
    for op, n in DROPPED_BY_COUNT[name].items():
        assert timed[op] - counted[op] >= n, (op, timed[op], counted[op])
