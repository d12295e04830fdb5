"""The three benchmark workloads: their operation mixes and the oracle
each operation's output is checked against.

An operation is one call a notebook or pipeline user makes and waits
for. Kinds:

- ``query``: dialect SQL through ``SparkSqlEngine.query``, result to
  pandas;
- ``catalog``: a ``registry.spark_queries()`` runner, result to pandas;
- ``ingest`` / ``remove``: ``register_temp_table`` of a pandas frame /
  ``remove_temp_table``;
- ``probe``: ``ivfpq_topk_indexed`` against the run's index, result to
  pandas.
"""

from __future__ import annotations

from dataclasses import dataclass

LLM_CATALOG = [
    "dd_minhash_pairs",
    "dd_prefix_pairs",
    "dd_semantic",
    "txt_lm_score",
    "x_dsir_weights",
]
PROBES_PER_PASS = 2
IVFPQ = {"n_cells": 8, "n_sub": 4, "n_codes": 16, "dim": 64}
PROBE = {"k": 10, "n_probe": 4, "rerank": 100}


@dataclass(frozen=True)
class Op:
    name: str
    kind: str
    sql: str | None = None  # dialect SQL (query)
    table: str | None = None  # frame name (ingest/remove)
    probe: int | None = None  # query-vector index (probe)


@dataclass(frozen=True)
class PandasQuery:
    """A reference-corpus-shaped query, its DuckDB twin over the same
    frames, and — where the dialect fixes output names — the expected
    column names. ``volatile`` columns (now()/today()) are checked
    against the wall clock instead of the oracle."""

    name: str
    sql: str
    duck: str
    columns: tuple[str, ...] | None = None
    volatile: tuple[str, ...] = ()


PANDAS_QUERIES = [
    PandasQuery(
        "p_select_filter",
        "select * from forest_fires where month = 'mar' and temp > 30",
        "select * from forest_fires where month = 'mar' and temp > 30",
    ),
    PandasQuery(
        "p_case_preserved",
        "select temp, rh from forest_fires where day = 'fri' and wind > 8",
        "select temp, RH from forest_fires where day = 'fri' and wind > 8",
        ("temp", "rh"),
    ),
    PandasQuery(
        "p_pandas_casts",
        "select cast(RH as float64) as rh_f, cast(X as object) as x_s, "
        "cast(Y as int32) as y_i from forest_fires where DMC < 20",
        "select cast(RH as double) as rh_f, cast(X as varchar) as x_s, "
        "cast(Y as integer) as y_i from forest_fires where DMC < 20",
        ("rh_f", "x_s", "y_i"),
    ),
    PandasQuery(
        "p_colN_aggs",
        "select min(temp), max(temp), avg(RH), max(wind) from forest_fires",
        "select min(temp), max(temp), avg(RH), max(wind) from forest_fires",
        ("_col0", "_col1", "_col2", "_col3"),
    ),
    PandasQuery(
        "p_groupby_having",
        "select month, count(*) as n, sum(RH) as s from forest_fires "
        "group by month having sum(RH) > 100",
        "select month, count(*) as n, sum(RH) as s from forest_fires "
        "group by month having sum(RH) > 100",
    ),
    PandasQuery(
        "p_case_when",
        "select day, case when wind > 5 then 'strong' when wind = 5 then 'mid' "
        "else 'weak' end from forest_fires where month = 'aug'",
        "select day, case when wind > 5 then 'strong' when wind = 5 then 'mid' "
        "else 'weak' end from forest_fires where month = 'aug'",
        ("day", "_col1"),
    ),
    PandasQuery(
        "p_union",
        "select month from forest_fires where temp > 32 "
        "union select month from forest_fires where rain > 6",
        "select month from forest_fires where temp > 32 "
        "union select month from forest_fires where rain > 6",
    ),
    PandasQuery(
        "p_join",
        "select digimon_mon_list.Number, digimon_move_list.Power "
        "from digimon_mon_list inner join digimon_move_list "
        "on digimon_mon_list.Attribute = digimon_move_list.Attribute",
        "select m.Number, v.Power from digimon_mon_list m "
        "join digimon_move_list v on m.Attribute = v.Attribute",
    ),
    PandasQuery(
        "p_left_join_renamed_keys",
        "select digimon_mon_list.Digimon, digimon_move_list.Move "
        "from digimon_mon_list left join digimon_move_list "
        "on digimon_mon_list.mon_attribute = digimon_move_list.move_attribute "
        "where digimon_mon_list.Memory > 18",
        "select m.Digimon, v.Move from digimon_mon_list m "
        "left join digimon_move_list v on m.mon_attribute = v.move_attribute "
        "where m.Memory > 18",
    ),
    PandasQuery(
        "p_comma_from_collisions",
        "select * from digimon_mon_list, digimon_move_list "
        "where digimon_mon_list.Number < 4",
        'select m.Number, m.Digimon, m.Stage, m.Type, m.Attribute, m.Memory, '
        'm."Equip Slots", m."Lv 50 HP", m."Lv50 SP", m."Lv50 Atk", '
        'm."Lv50 Def", m."Lv50 Int", m."Lv50 Spd", m.mon_attribute, '
        'v.Move, v."SP Cost", v.Type, v.Power, v.Attribute, v.Inheritable, '
        "v.Description, v.move_attribute "
        "from digimon_mon_list m, digimon_move_list v where m.Number < 4",
        (
            "Number", "Digimon", "Stage", "digimon_mon_list.Type",
            "digimon_mon_list.Attribute", "Memory", "Equip Slots", "Lv 50 HP",
            "Lv50 SP", "Lv50 Atk", "Lv50 Def", "Lv50 Int", "Lv50 Spd",
            "mon_attribute", "Move", "SP Cost", "digimon_move_list.Type",
            "Power", "digimon_move_list.Attribute", "Inheritable",
            "Description", "move_attribute",
        ),
    ),
    PandasQuery(
        "p_spaced_names",
        'select Digimon, "Equip Slots", "Lv 50 HP" from digimon_mon_list '
        "where Stage = 'Mega'",
        'select Digimon, "Equip Slots", "Lv 50 HP" from digimon_mon_list '
        "where Stage = 'Mega'",
        ("Digimon", "Equip Slots", "Lv 50 HP"),
    ),
    PandasQuery(
        "p_now_today",
        "select X, Y, now(), today() from forest_fires "
        "where X = 1 and Y = 2 and month = 'jan'",
        "select X, Y from forest_fires where X = 1 and Y = 2 and month = 'jan'",
        ("X", "Y", "now()", "today()"),
        ("now()", "today()"),
    ),
    PandasQuery(
        "p_window_rank",
        "select day, wind, dense_rank() over (partition by day order by wind desc) "
        "as r from forest_fires where month = 'dec' and temp > 25",
        "select day, wind, dense_rank() over (partition by day order by wind desc) "
        "as r from forest_fires where month = 'dec' and temp > 25",
        ("day", "wind", "r"),
    ),
    PandasQuery(
        "p_math_precedence",
        "select temp, 1 + 2 * 3 as my_number, temp * wind + rain / 2 as expr2 "
        "from forest_fires where month = 'sep' and day = 'sun'",
        "select temp, 1 + 2 * 3 as my_number, temp * wind + rain / 2 as expr2 "
        "from forest_fires where month = 'sep' and day = 'sun'",
        ("temp", "my_number", "expr2"),
    ),
    PandasQuery(
        "p_numeric_names_datetime",
        'select avocado_id, cast(Date as datetime64) as d, "Total Volume", '
        '"4046" + "4225" as bags from avocado where year = 2016 and region = \'Boston\'',
        'select avocado_id, cast(Date as timestamp) as d, "Total Volume", '
        '"4046" + "4225" as bags from avocado where year = 2016 and region = \'Boston\'',
        ("avocado_id", "d", "Total Volume", "bags"),
    ),
    PandasQuery(
        "p_subquery",
        "select * from (select area, rain from forest_fires where X = 9) rain_area "
        "where rain > 0",
        "select * from (select area, rain from forest_fires where X = 9) rain_area "
        "where rain > 0",
    ),
]
PANDAS_TABLES = ["forest_fires", "digimon_mon_list", "digimon_move_list", "avocado"]


def mix(workload: str) -> list[Op]:
    """One pass over the workload's operation mix, in canonical order
    (each pass runs it in a seeded shuffled order)."""
    if workload == "sql_tpch":
        import bench  # bench.py's query lists are reused, not copied

        return [Op(n, "query", sql=s) for n, s in bench.QUERIES.items()] + [
            Op(n, "catalog") for n in bench.TPCH_SHAPES
        ]
    if workload == "pandas_sql":
        # A cycle: ingest every frame, query, drop every frame. Only the
        # queries are shuffled; the cycle's lifecycle order is fixed.
        return (
            [Op(f"ingest:{t}", "ingest", table=t) for t in PANDAS_TABLES]
            + [Op(q.name, "query", sql=q.sql) for q in PANDAS_QUERIES]
            + [Op(f"remove:{t}", "remove", table=t) for t in PANDAS_TABLES]
        )
    if workload == "llm_pipeline":
        return [Op(n, "catalog") for n in LLM_CATALOG] + [
            Op(f"probe:{i}", "probe", probe=i) for i in range(PROBES_PER_PASS)
        ]
    raise ValueError(f"unknown workload {workload!r}")


def shuffled_pass(workload: str, rng, first: bool = False) -> list[Op]:
    ops = mix(workload)
    if workload == "pandas_sql":
        head = [o for o in ops if o.kind == "ingest"]
        body = [o for o in ops if o.kind == "query"]
        tail = [o for o in ops if o.kind == "remove"]
        rng.shuffle(body)
        return head + body + tail
    rng.shuffle(ops)
    if first:
        # the index is built before the first probe: in the first pass
        # probes go last, so the build runs in a session already warm
        ops.sort(key=lambda o: o.kind == "probe")
    return ops


WORKLOADS = ("sql_tpch", "pandas_sql", "llm_pipeline")
