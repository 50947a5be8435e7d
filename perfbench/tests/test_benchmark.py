"""Tests for the benchmark's own code. Run: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import eventlog  # noqa: E402
from stats import tail  # noqa: E402
from workloads import (  # noqa: E402
    LAYERS,
    WORKLOADS,
    layer_of,
    per_layer_metric_names,
    permute,
)

LOG_DIR = os.path.join(HERE, "data")


# --- percentile / sample-count rule -------------------------------------


def test_tail_leaves_ten_samples_beyond():
    values = [float(v) for v in range(1, 101)]  # 1..100
    value, pct, n = tail(values)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(v > value for v in values) == 10


def test_tail_is_order_insensitive_and_uses_nearest_rank():
    values = [float(v) for v in range(30, 0, -1)]  # 30..1
    value, pct, n = tail(values)
    assert n == 30
    assert value == 20.0
    assert pct == 66.6
    assert sum(v > value for v in values) == 10


@pytest.mark.parametrize("n", [1, 5, 10])
def test_tail_without_enough_samples_is_the_maximum(n):
    values = [float(v) for v in range(n)]
    assert tail(values) == (float(n - 1), 100.0, n)


def test_tail_smallest_qualifying_count():
    value, pct, n = tail([float(v) for v in range(11)])
    assert (value, n) == (0.0, 11)
    assert pct == 9.0


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        tail([])


# --- seed permutation ----------------------------------------------------


def test_seed_zero_is_the_listed_order():
    for wl in WORKLOADS.values():
        assert permute(wl.queries, 0) == list(wl.queries)


def test_permutation_is_deterministic_per_seed():
    qs = WORKLOADS["pipelines_1x"].queries
    for seed in (1, 2, 7, 12345):
        a, b = permute(qs, seed), permute(qs, seed)
        assert a == b
        assert sorted(a) == sorted(qs)


def test_seeds_give_different_orders():
    qs = WORKLOADS["pipelines_1x"].queries
    orders = {tuple(permute(qs, s)) for s in range(10)}
    assert len(orders) > 5


# --- layers -----------------------------------------------------------------


def test_layer_of_modules():
    pkg = "repcheck_data_integration_spark"
    assert layer_of(f"{pkg}.sources.file_sources") == "sources"
    assert layer_of(f"{pkg}.plans.tpch_more") == "plans"
    assert layer_of(f"{pkg}.streaming.batch_windows") == "streaming"
    assert layer_of(f"{pkg}.operators.graph") == "operators.graph"
    assert layer_of(f"{pkg}.operators.statsml5") == "operators.statsml"
    with pytest.raises(ValueError):
        layer_of(f"{pkg}.functions.scalar_queries")


def test_every_layer_has_a_query():
    from repcheck_data_integration_spark import registry

    registry.load_all_modules()
    measured = {
        layer_of(registry.QUERIES[q].__module__)
        for wl in WORKLOADS.values()
        for q in wl.queries
    }
    assert measured == set(LAYERS)


def test_per_layer_metric_names_fit_the_limit():
    names = per_layer_metric_names()
    assert len(names) == len(set(names)) == 6 * len(LAYERS) + 5 <= 128


# --- event-log parsing -----------------------------------------------------


def test_event_log_groups_jobs_and_task_metrics():
    groups = eventlog.by_group(eventlog.parse_dir(LOG_DIR))
    assert set(groups) == {
        "wl:llm_summarize:build",
        "wl:llm_summarize:exec",
        "wl:tpch_q3_shipping_priority:build",
        "wl:tpch_q3_shipping_priority:exec",
    }
    q3b = groups["wl:tpch_q3_shipping_priority:build"]
    q3e = groups["wl:tpch_q3_shipping_priority:exec"]
    assert (q3b["jobs"], q3e["jobs"]) == (7, 3)
    assert q3b["shuffle_bytes"] == 2979749
    assert q3e["shuffle_bytes"] == 12054
    assert q3b["spill_bytes"] == q3e["spill_bytes"] == 0


def test_event_log_python_worker_time():
    groups = eventlog.by_group(eventlog.parse_dir(LOG_DIR))
    # "time to run Python workers" is a task-level SQL metric in ms
    assert groups["wl:llm_summarize:exec"]["python_s"] == pytest.approx(2.005)
    assert groups["wl:llm_summarize:build"]["python_s"] == 0.0
    assert groups["wl:tpch_q3_shipping_priority:exec"]["python_s"] == 0.0


def test_event_log_time_window():
    trace = eventlog.parse_dir(LOG_DIR)
    # jobs 9-11 (q3 exec) were submitted from 1792205422481 ms on
    groups = eventlog.by_group(trace, from_ms=1792205422481)
    assert set(groups) == {"wl:tpch_q3_shipping_priority:exec"}
    assert eventlog.by_group(trace, to_ms=1792205406700) == {}


def test_event_log_counts_a_shared_stage_once():
    line_job = '{"Event":"SparkListenerJobStart","Job ID":%d,"Submission Time":%d,"Stage IDs":[%s],"Properties":{"spark.jobGroup.id":"g"}}'
    task = (
        '{"Event":"SparkListenerTaskEnd","Stage ID":1,"Task Info":{"Accumulables":'
        '[{"Name":"time to run Python workers","Update":"250"}]},"Task Metrics":'
        '{"Executor Run Time":5,"Disk Bytes Spilled":7,'
        '"Shuffle Write Metrics":{"Shuffle Bytes Written":100}}}'
    )
    trace = eventlog.parse_lines([line_job % (0, 1, "1"), line_job % (1, 2, "1,2"), task])
    g = eventlog.by_group(trace)["g"]
    assert (g["jobs"], g["shuffle_bytes"], g["spill_bytes"]) == (2, 100, 7)
    assert g["python_s"] == pytest.approx(0.25)


# --- generated tables against the repository's fixtures -------------------


def _fixture_dir() -> str:
    from repcheck_data_integration_spark import tables

    return os.path.join(os.path.dirname(tables.DEFAULT_SF_DIR), "sf0.01")


@pytest.mark.skipif(not os.path.isdir(_fixture_dir()), reason="sf0.01 fixtures not installed")
def test_generated_tables_match_the_fixtures():
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import datagen

    for name, gen in datagen._base_tables(0.01).items():
        ref = pq.read_table(os.path.join(_fixture_dir(), f"{name}.parquet"))
        assert ref.num_rows == gen.num_rows, name
        assert ref.schema.names == gen.schema.names, name
        for field in ref.schema:
            a, b = ref.column(field.name), gen.column(field.name)
            t = field.type
            if pa.types.is_list(t):
                assert pa.types.is_list(b.type) and b.type.value_type == t.value_type
                continue
            assert b.type == t, (name, field.name)
            da, db = pc.count_distinct(a).as_py(), pc.count_distinct(b).as_py()
            assert db == pytest.approx(da, rel=0.05, abs=2), (name, field.name)
            if pa.types.is_integer(t) or pa.types.is_floating(t):
                for stat in (pc.min, pc.max, pc.mean):
                    assert stat(b).as_py() == pytest.approx(stat(a).as_py(), rel=0.1, abs=1), (
                        name,
                        field.name,
                        stat.__name__,
                    )
