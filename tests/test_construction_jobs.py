"""Jobs fired while query factories build their DataFrames.

- ``catalog.load_table`` infers a parquet schema once per file version
  (one job) and reuses it afterwards (no job); a rewritten file is
  inferred again.
- Query construction stays within its job budget, counted with
  ``statusTracker`` job groups: the set-cover queries pay their
  materialization plus one job per greedy round, and the LSH plane
  construction one aggregate.
- q281's work-dir shingle store is gone once the query returns or fails.
"""

from __future__ import annotations

import os
import shutil
from itertools import count

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from batchprocessingetl_spark.catalog import load_table
from batchprocessingetl_spark.workload.textops import SETCOVER_K
from tests.conftest import SF_SMOKE

# shingle_frame's hash repartition (one shuffle-map job) plus the
# checkpoint or store write that consumes it
MATERIALIZE_JOBS = 2

_group_ids = count()


def jobs_fired(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"construction-jobs-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_a_file_fires_no_job(spark, tmp_path):
    shutil.copy(f"{SF_SMOKE}/documents.parquet", tmp_path / "documents.parquet")
    first, cold = jobs_fired(spark, lambda: load_table(spark, str(tmp_path), "documents"))
    second, warm = jobs_fired(spark, lambda: load_table(spark, str(tmp_path), "documents"))
    assert cold >= 1
    assert warm == 0
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_rewritten_table_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [7], "r_name": ["C"], "r_comment": ["new"]}), path
    )
    again = load_table(spark, str(tmp_path), "region")
    assert again.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [tuple(r) for r in again.collect()] == [(7, "C", "new")]


@pytest.mark.parametrize(
    "write_opts",
    [{"coerce_timestamps": "us", "allow_truncated_timestamps": True}, {}],
    ids=["micros", "nanos"],
)
def test_events_ts_is_micros_timestamp_when_cache_is_warm(spark, tmp_path, write_opts):
    """Both parquet timestamp units of events.ts (the NANOS one reads
    through the nanosAsLong branch) come back as a microsecond
    timestamp, truncated, from a warm-cache load."""
    ts = [1704067798778549123, 1704067798778549999, 1704067800000000001]
    pq.write_table(
        pa.table({"event_id": [1, 2, 3], "ts": pa.array(ts, pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
        **write_opts,
    )
    load_table(spark, str(tmp_path), "events")
    ev, jobs = jobs_fired(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 0
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = ev.selectExpr("unix_micros(ts) AS us").orderBy("event_id").collect()
    assert [r.us for r in got] == [n // 1000 for n in ts]


@pytest.mark.parametrize(
    "query, budget",
    [
        # materialization + one map-only job per greedy round
        ("q275_setcover_selection", MATERIALIZE_JOBS + SETCOVER_K),
        # store write + one map-only job per greedy round
        ("q281_stochastic_setcover", MATERIALIZE_JOBS + SETCOVER_K),
        # one count + plane-rows aggregate
        ("q346_ann_recall_audit", 2),
    ],
)
def test_query_construction_job_budget(spark, query, budget):
    from batchprocessingetl_spark.workload import collect_extra_queries, collect_queries

    factory = {**collect_queries(), **collect_extra_queries()}[query]
    factory(spark, SF_SMOKE)  # warm the catalog's schema cache
    _, jobs = jobs_fired(spark, lambda: factory(spark, SF_SMOKE))
    assert jobs <= budget


def test_q281_removes_its_shingle_store(spark, monkeypatch):
    from batchprocessingetl_spark.session import work_dir
    from batchprocessingetl_spark.workload import textops

    store = work_dir(spark, "sgcover")
    assert textops.q281_stochastic_setcover(spark, SF_SMOKE).count() > 0
    assert not os.path.exists(store)

    def failing_round(*_args, **_kwargs):
        assert os.path.isdir(store)  # written before the rounds start
        raise RuntimeError("round failed")

    monkeypatch.setattr(textops, "_greedy_cover", failing_round)
    with pytest.raises(RuntimeError, match="round failed"):
        textops.q281_stochastic_setcover(spark, SF_SMOKE)
    assert not os.path.exists(store)
