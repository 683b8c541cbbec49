"""Session-scoped parquet schema memo of read_parquet_normalized, and the
Spark jobs it saves.

Reading parquet without a schema runs one footer-merge job. The memo
infers a file's schema once per session, so a warm read runs no job and
building a query on warm tables runs none either. The build+action job
counts of q1/q3/q5 are pinned, so a change that adds a job fails here.
"""

import itertools
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

from __spark_entry__ import SMOKE_SF_DIR
from cartodb_importer_spark.queries import QUERIES, read_parquet_normalized

_groups = itertools.count()


def _jobs(spark, fn) -> int:
    """Number of Spark jobs fn launches, counted through a job group on
    this thread and the status tracker."""
    sc = spark.sparkContext
    group = f"test-schema-memo-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_second_read_of_a_file_runs_no_job(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), p)
    assert _jobs(spark, lambda: read_parquet_normalized(spark, p)) == 1
    assert _jobs(spark, lambda: read_parquet_normalized(spark, p)) == 0
    df = read_parquet_normalized(spark, p)
    assert df.schema.simpleString() == "struct<a:bigint>"
    assert sorted(r.a for r in df.collect()) == [1, 2, 3]


def test_rewritten_file_is_reinferred(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), p)
    read_parquet_normalized(spark, p)
    pq.write_table(pa.table({"a": [4], "b": ["x"]}), p)
    assert _jobs(spark, lambda: read_parquet_normalized(spark, p)) == 1
    df = read_parquet_normalized(spark, p)
    assert df.schema.simpleString() == "struct<a:bigint,b:string>"
    assert [tuple(r) for r in df.collect()] == [(4, "x")]


def test_inference_conf_change_is_reinferred(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], type=pa.binary())}), p)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_parquet_normalized(spark, p).dtypes == [("b", "binary")]
        spark.conf.set(key, "true")
        assert read_parquet_normalized(spark, p).dtypes == [("b", "string")]
    finally:
        spark.conf.set(key, before)


def test_memo_is_per_session(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1]}), p)
    read_parquet_normalized(spark, p)
    other = spark.newSession()
    assert _jobs(other, lambda: read_parquet_normalized(other, p)) == 1
    assert _jobs(other, lambda: read_parquet_normalized(other, p)) == 0
    assert _jobs(spark, lambda: read_parquet_normalized(spark, p)) == 0


def test_concurrent_reads_share_the_memo(spark, tmp_path):
    """Threads of one session (fleet imports, maintenance, foreachBatch)
    read through one memo: each read gets its own file's schema, and
    every file ends up memoized."""
    paths = []
    for i in range(4):
        p = str(tmp_path / f"t{i}.parquet")
        pq.write_table(pa.table({f"c{i}": [i]}), p)
        paths.append(p)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as ex:
            futs = [
                ex.submit(lambda p=p: read_parquet_normalized(spark, p).columns)
                for p in paths * 4
            ]
            got = [f.result(timeout=120) for f in futs]
    finally:
        sys.setswitchinterval(interval)
    assert got == [[f"c{i}"] for i in range(4)] * 4
    for p in paths:
        assert _jobs(spark, lambda: read_parquet_normalized(spark, p)) == 0


def test_directory_dataset_is_not_memoized(spark, tmp_path):
    d = tmp_path / "ds"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    read_parquet_normalized(spark, str(d))
    assert _jobs(spark, lambda: read_parquet_normalized(spark, str(d))) == 1


def test_warm_q5_build_runs_no_job(spark):
    q5 = QUERIES["q5_nation_revenue"]
    q5(spark, SMOKE_SF_DIR)
    assert _jobs(spark, lambda: q5(spark, SMOKE_SF_DIR)) == 0


#: build + noop-write jobs on a warm session over the sf0.001 test tables
PINNED_JOBS = {
    "q1_pricing_summary": 2,
    "q3_top_revenue_orders": 4,
    "q5_nation_revenue": 9,
}


def test_headline_job_counts_pinned(spark):
    got = {}
    for name in PINNED_JOBS:
        fn = QUERIES[name]
        _noop(fn(spark, SMOKE_SF_DIR))
        got[name] = _jobs(spark, lambda: _noop(fn(spark, SMOKE_SF_DIR)))
    assert got == PINNED_JOBS
