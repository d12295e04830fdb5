"""Engine behavior tests against live Spark (reference parity points
that the DuckDB oracle gate can't express — naming, case rules,
registration lifecycle, now()/today()).

Reference citations: /root/reference/dataframe_sql/tests/
pandas_sql_functionality_test.py unless noted.
"""

from __future__ import annotations

import datetime

import pandas as pd
import pytest


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_register_query_remove_roundtrip(engine):
    # ref sql_select_query.py:15-61
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    engine.register_temp_table(pdf, "roundtrip_t")
    out = engine.query_pandas("select a from roundtrip_t where a > 1")
    assert sorted(out["a"].tolist()) == [2, 3]
    engine.remove_temp_table("roundtrip_t")
    with pytest.raises(Exception):
        engine.query("select * from roundtrip_t")


def test_pandas_frame_materialized_once_at_registration(engine):
    # A registered pandas frame is stored rows, not a driver-side
    # LocalRelation that every query re-evaluates in the optimizer and
    # re-ships to the executors.
    pdf = pd.DataFrame({"a": range(1000), "b": [f"s{i % 7}" for i in range(1000)]})
    engine.register_temp_table(pdf, "mat_t")
    df = engine.query("select a, b from mat_t where a % 10 = 3")
    assert len(df.collect()) == 100
    plan = _executed_plan(df)
    assert "LocalTableScan" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    engine.remove_temp_table("mat_t")


def test_pandas_frame_stored_in_partitions_by_size(engine):
    # The stored copy is split like a file of the same bytes: a frame
    # well under maxPartitionBytes is one partition, not one per core.
    spark = engine.spark
    pdf = pd.DataFrame({"a": range(5000), "b": [f"s{i % 7}" for i in range(5000)]})
    engine.register_temp_table(pdf, "split_t")
    assert spark.table("split_t")._jdf.rdd().getNumPartitions() == 1
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "4k")
    try:
        engine.register_temp_table(pdf, "split_t")
    finally:
        spark.conf.set(key, old)
    parts = spark.table("split_t")._jdf.rdd().getNumPartitions()
    assert 1 < parts <= spark.sparkContext.defaultParallelism
    out = engine.query_pandas("select a from split_t order by a")
    assert out["a"].tolist() == list(range(5000))
    engine.remove_temp_table("split_t")


def _plan_nodes(plan):
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_pandas_frame_decoded_on_executors(engine, monkeypatch):
    # Registration hands the Arrow batches to the executors: the frame
    # it stores holds no driver-side LocalRelation of the rows.
    import dataframe_sql_spark.engine as engine_mod

    handed = []
    real = engine_mod.truncate_lineage

    def capture(df, *args, **kwargs):
        handed.append(df)
        return real(df, *args, **kwargs)

    monkeypatch.setattr(engine_mod, "truncate_lineage", capture)
    pdf = pd.DataFrame({"a": range(1000), "b": [f"s{i % 7}" for i in range(1000)]})
    engine.register_temp_table(pdf, "exec_t")
    [df] = handed
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" not in analyzed, analyzed
    assert engine.query_pandas("select count(*) as n from exec_t")["n"][0] == 1000
    engine.remove_temp_table("exec_t")


def test_pandas_frame_keeps_size_estimate_and_broadcasts(engine):
    # The stored copy has the estimate a LocalRelation of the rows has
    # (rows × (8 + default row size)) and an exact row count, so a small
    # registered frame is the static broadcast side of a join.
    pdf = pd.DataFrame({"k": range(1, 6), "tag": [f"t{i}" for i in range(5)]})
    engine.register_temp_table(pdf, "dim_t")
    jdf = engine.spark.table("dim_t")._jdf
    stats = jdf.queryExecution().optimizedPlan().stats()
    assert int(str(stats.sizeInBytes())) == 5 * (8 + jdf.schema().defaultSize())
    assert int(str(stats.rowCount().get())) == 5
    df = engine.query("select l_orderkey, tag from lineitem join dim_t on l_linenumber = k")
    initial = df._jdf.queryExecution().executedPlan().initialPlan()  # before AQE
    [bx] = [n for n in _plan_nodes(initial) if n.nodeName() == "BroadcastExchange"]
    assert "Scan ExistingRDD" in bx.toString(), initial.toString()
    assert "FileScan" not in bx.toString(), initial.toString()
    engine.remove_temp_table("dim_t")


@pytest.mark.parametrize("caller", [None, "10m"])
def test_registration_restores_local_relation_threshold(engine, caller):
    # The threshold is set for registration's createDataFrame only; the
    # caller's value (or its absence) is back when the call returns.
    spark = engine.spark
    key = "spark.sql.execution.arrow.localRelationThreshold"
    before = spark.conf.get(key, None)
    if caller is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, caller)
    try:
        engine.register_temp_table(pd.DataFrame({"a": [1, 2]}), "conf_t")
        assert spark.conf.get(key, None) == caller
        small = spark.createDataFrame(pd.DataFrame({"a": [1, 2, 3]}))
        assert "LocalRelation" in small._jdf.queryExecution().analyzed().toString()
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    engine.remove_temp_table("conf_t")


def test_concurrent_registrations_restore_threshold(engine):
    # Registrations racing on one session must not leave the 0 set:
    # each one's restore sees the caller's value, not another's swap.
    import sys
    from concurrent.futures import ThreadPoolExecutor

    spark = engine.spark
    key = "spark.sql.execution.arrow.localRelationThreshold"
    before = spark.conf.get(key, None)
    spark.conf.unset(key)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [
                pool.submit(
                    engine.register_temp_table, pd.DataFrame({"a": [i, i + 1]}), f"race_{i}"
                )
                for i in range(16)
            ]
            for f in futures:
                f.result(timeout=120)
        assert spark.conf.get(key, None) is None
    finally:
        sys.setswitchinterval(interval)
        if before is not None:
            spark.conf.set(key, before)
    for i in range(16):
        assert engine.query_pandas(f"select a from race_{i}")["a"].tolist() == [i, i + 1]
        engine.remove_temp_table(f"race_{i}")


def test_zero_row_pandas_frame_registers(engine):
    # createDataFrame cannot infer a schema from a frame with no rows;
    # registration still stores it, with the schema the same dtypes get
    # when the frame has rows.
    pdf = pd.DataFrame(
        {
            "i": [1],
            "f": [1.5],
            "s": pd.array(["x"], dtype="string"),
            "b": [True],
            "ts": pd.to_datetime(["2020-01-01"]),
            "ni": pd.array([1], dtype="Int64"),
        }
    )
    engine.register_temp_table(pdf.iloc[:0], "empty_t")
    out = engine.query("select * from empty_t")
    assert out.count() == 0
    assert out.schema == engine.spark.createDataFrame(pdf).schema
    engine.remove_temp_table("empty_t")


def test_query_built_before_remove_still_evaluates(engine):
    # Queries are lazy; removing the view must not pull the stored
    # rows out from under a DataFrame that already references them.
    pdf = pd.DataFrame({"k": [1, 2, 2, 3], "v": [1.0, 2.0, 3.0, 4.0]})
    engine.register_temp_table(pdf, "lazy_rm_t")
    df = engine.query("select k, sum(v) as s from lazy_rm_t group by k")
    engine.remove_temp_table("lazy_rm_t")
    out = df.toPandas().sort_values("k")
    assert out["k"].tolist() == [1, 2, 3]
    assert out["s"].tolist() == [1.0, 5.0, 4.0]


def test_spark_frame_registration_stays_lazy(engine):
    # A Spark DataFrame is registered as a view, never materialized:
    # at 100 TB a parquet view must not be copied at registration.
    from tests.conftest import SF_DIR

    spark = engine.spark
    df = spark.read.parquet(f"{SF_DIR}/nation.parquet")  # schema read may run a job
    group = "register-spark-frame"
    spark.sparkContext.setJobGroup(group, group)
    try:
        engine.register_temp_table(df, "lazy_nation")
    finally:
        spark.sparkContext.setJobGroup(None, None)
    assert list(spark.sparkContext.statusTracker().getJobIdsForGroup(group)) == []
    plan = _executed_plan(engine.query("select n_name from lazy_nation"))
    assert "FileScan parquet" in plan, plan
    engine.remove_temp_table("lazy_nation")


def test_pandas_registration_schema_unchanged(engine):
    # Materializing at registration must keep exactly the schema (types
    # and nullability) and the values createDataFrame gives the frame.
    pdf = pd.DataFrame(
        {
            "i": [1, 2, 3],
            "f": [1.5, float("nan"), 3.0],
            "s": ["x", None, "z"],
            "b": [True, False, True],
            "ts": pd.to_datetime(["2020-01-01 00:00", "2021-06-15 12:30", None]),
            "ni": pd.array([1, None, 3], dtype="Int64"),
        }
    )
    engine.register_temp_table(pdf, "schema_t")
    expected = engine.spark.createDataFrame(pdf)
    assert engine.spark.table("schema_t").schema == expected.schema
    pd.testing.assert_frame_equal(
        engine.query_pandas("select * from schema_t"), expected.toPandas()
    )
    engine.remove_temp_table("schema_t")


def test_comma_from_star_unknown_table_raises_analysis_error(engine):
    # The star expansion skips an unknown table; Spark itself reports it.
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        engine.query("select * from nation, table_that_never_was").collect()


def test_remove_unregistered_raises(engine):
    # ref sql_select_query.py:42-61 raises on unknown table
    with pytest.raises(KeyError):
        engine.remove_temp_table("no_such_table_xyz")


def test_explain_returns_physical_plan(engine):
    plan = engine.explain("select l_orderkey from lineitem where l_quantity > 45")
    assert "Physical Plan" in plan and "PushedFilters" in plan


def test_query_unknown_table_raises_analysis_error(engine):
    # SURVEY §5: the reference's historical error-path tests covered
    # unknown-table queries (performance_tests.py DONT_TEST names)
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        engine.query("select * from table_that_never_was").collect()


def test_query_invalid_syntax_raises_parse_error(engine):
    from pyspark.errors import ParseException

    with pytest.raises(ParseException):
        engine.query("select select group from from").collect()


def test_table_name_case_insensitive(engine):
    # ref :43-50 test_case_insensitivity
    pdf = pd.DataFrame({"v": [1]})
    engine.register_temp_table(pdf, "case_test")
    assert engine.query_pandas("select * from CASE_test")["v"].tolist() == [1]
    engine.remove_temp_table("case_test")


def test_column_case_as_typed(engine):
    # ref :487-494 test_maintain_case_in_query: output named as typed
    pdf = pd.DataFrame({"Wind": [1.0], "RH": [2.0]})
    engine.register_temp_table(pdf, "case_cols")
    out = engine.query_pandas("select wind, rh from case_cols")
    assert list(out.columns) == ["wind", "rh"]
    out2 = engine.query_pandas("select Wind, RH from case_cols")
    assert list(out2.columns) == ["Wind", "RH"]
    engine.remove_temp_table("case_cols")


def test_colN_naming_live(engine):
    # ref :262-279
    out = engine.query_pandas("select min(l_quantity), max(l_quantity) from lineitem")
    assert list(out.columns) == ["_col0", "_col1"]


def test_now_today_columns(engine):
    # ref :1000-1015: now()/today() keep their spelling as column names
    out = engine.query_pandas("select now(), today() from nation")
    assert list(out.columns) == ["now()", "today()"]
    assert isinstance(out["now()"].iloc[0], (pd.Timestamp, datetime.datetime))
    today = out["today()"].iloc[0]
    assert pd.Timestamp(today).date() == datetime.datetime.now(datetime.timezone.utc).date()


def test_comma_join_collision_prefix(engine):
    # ref :434-453 + utils:48-89: colliding output columns prefixed table.col
    left = pd.DataFrame({"id": [1, 2], "lval": ["a", "b"]})
    right = pd.DataFrame({"id": [10], "rval": ["z"]})
    engine.register_temp_table(left, "cp_left")
    engine.register_temp_table(right, "cp_right")
    out = engine.query_pandas("select * from cp_left, cp_right")
    assert sorted(out.columns) == ["cp_left.id", "cp_right.id", "lval", "rval"]
    assert len(out) == 2
    engine.remove_temp_table("cp_left")
    engine.remove_temp_table("cp_right")


def test_multiple_aliases_of_one_column(engine):
    # ref :1040-1058
    out = engine.query_pandas(
        "select l_quantity as a, l_quantity as b, l_quantity as c from lineitem limit 5"
    )
    assert list(out.columns) == ["a", "b", "c"]


def test_case_first_match_wins(engine):
    # ref :1022-1037: duplicate conditions, first wins
    pdf = pd.DataFrame({"x": [1, 2]})
    engine.register_temp_table(pdf, "case_dup")
    out = engine.query_pandas(
        "select case when x > 0 then 'first' when x > 0 then 'second' else 'no' end as r "
        "from case_dup"
    )
    assert out["r"].tolist() == ["first", "first"]
    engine.remove_temp_table("case_dup")


def test_distinct_dedups(engine):
    pdf = pd.DataFrame({"x": [1, 1, 2, 2, 3]})
    engine.register_temp_table(pdf, "dist_t")
    out = engine.query_pandas("select distinct x from dist_t")
    assert sorted(out["x"].tolist()) == [1, 2, 3]
    engine.remove_temp_table("dist_t")


def test_float16_and_category_promoted(engine):
    # SURVEY §7 hard part 2: float16→FLOAT, category→STRING divergence
    pdf = pd.DataFrame({"x": [1.5, 2.5], "c": ["a", "b"]})
    engine.register_temp_table(pdf, "promo_t")
    out = engine.query("select cast(x as float16) as f, cast(c as category) as s from promo_t")
    types = dict(out.dtypes)
    assert types["f"] == "float" and types["s"] == "string"
    engine.remove_temp_table("promo_t")


def test_lazy_dataframe_returned(engine):
    df = engine.query("select * from lineitem")
    # no job should have run; plan must be analyzable
    assert df.schema.fieldNames()[0] == "l_orderkey"


def test_engine_cache_is_per_session_and_weak(spark):
    # VERDICT r1 #4: id(spark) cache could alias a new session onto a
    # dead engine. WeakKeyDictionary keyed on the session object gives
    # one engine per live session and drops entries on collection.
    from dataframe_sql_spark.registry import _ENGINES, engine_for

    sf = "/root/testdata/sf0.001"
    e1 = engine_for(spark, sf)
    assert engine_for(spark, sf) is e1  # cached
    other = spark.newSession()  # distinct session object, same JVM
    e2 = engine_for(other, sf)
    assert e2 is not e1
    assert e2.spark is other
    import gc

    del other, e2
    gc.collect()
    assert all(s is not None for s in _ENGINES)  # no dead keys retained


def test_engine_confs_applied_to_foreign_session(spark):
    # The driver hands in its own session; engine_for must make it able
    # to read events.parquet (nanos) and use UTC semantics.
    fresh = spark.newSession()
    fresh.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    fresh.conf.set("spark.sql.session.timeZone", "America/New_York")
    from dataframe_sql_spark.registry import engine_for

    eng = engine_for(fresh, "/root/testdata/sf0.001")
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert fresh.conf.get("spark.sql.session.timeZone") == "UTC"
    assert eng.spark.table("events").count() > 0
    # honest scan-size estimates (r12: the default factor of 1.0 let a
    # column-pruned fact scan broadcast — OOM-class at 100 TB); a
    # dropped factor must fail here, on the foreign-session path too
    assert (
        fresh.conf.get("spark.sql.sources.fileCompressionFactor") == "3.0"
    )
    # the measured SHJ lever (r13): sort-free hash joins where a side's
    # honest estimate fits the per-partition build; a dropped conf
    # reverts every unhinted big join to two extra sort passes
    assert fresh.conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    assert (
        fresh.conf.get(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
        )
        == "64MB"
    )


def test_get_spark_applies_every_runtime_conf(spark):
    # get_spark builds the session from _RUNTIME_CONFS; a new session
    # of the same context (which tune_session never saw) carries them.
    from dataframe_sql_spark.session import _RUNTIME_CONFS

    fresh = spark.newSession()
    assert {k: fresh.conf.get(k) for k in _RUNTIME_CONFS} == _RUNTIME_CONFS


def test_engine_for_keeps_caller_shuffle_partitions(spark):
    # A value the session's owner set is theirs; only a session with no
    # explicit value gets the local core count.
    import os

    from dataframe_sql_spark.registry import engine_for
    from tests.conftest import SF_DIR as sf

    mine = spark.newSession()
    mine.conf.set("spark.sql.shuffle.partitions", "7")
    engine_for(mine, sf)
    assert mine.conf.get("spark.sql.shuffle.partitions") == "7"

    unset = spark.newSession()
    unset.conf.unset("spark.sql.shuffle.partitions")
    engine_for(unset, sf)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    assert unset.conf.get("spark.sql.shuffle.partitions") == cpus


def test_pivot_dynamic_cardinality_guard(spark):
    # A pivot column with unbounded cardinality must fail fast instead
    # of collecting the world onto the driver.
    from dataframe_sql_spark.registry_ext import _pivot_dynamic

    with pytest.raises(ValueError, match="cardinality"):
        _pivot_dynamic(spark, "/root/testdata/sf0.001", max_columns=2)
