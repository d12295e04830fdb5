"""Unit tests for the dialect shim (no Spark session needed).

Each case pins a behavior from the reference test corpus
(/root/reference/dataframe_sql/tests/pandas_sql_functionality_test.py,
cited per test).
"""

from __future__ import annotations

import pytest

from dataframe_sql_spark.dialect.shim import translate


def test_select_star_passthrough():
    assert translate("select * from forest_fires") == "select * from forest_fires"


def test_cast_type_mapping():
    # ref :65-94, :1062-1111
    out = translate("select cast(wind as int64), cast(t as object), cast(x as float16) from f")
    assert "BIGINT" in out and "STRING" in out and "FLOAT" in out
    assert "int64" not in out and "object" not in out


def test_cast_alias_not_mangled():
    # alias after a cast must not be treated as a type name
    out = translate("select cast(x as int64) as string_thing from f")
    assert "string_thing" in out


def test_colN_positional_naming():
    # ref :262-279: four aggregates become _col0.._col3
    out = translate("select min(t), max(t), avg(t), max(w) from f")
    for n in range(4):
        assert f"`_col{n}`" in out


def test_count_star_is_col():
    out = translate("select count(*) from f")
    assert "`_col0`" in out


def test_literal_naming():
    # ref :1012-1014: now()/today() keep spelling, literals become _literalN
    out = translate("select now(), today(), timestamp('2019-01-31', '23:20:32')")
    assert "`now()`" in out and "`today()`" in out and "`_literal2`" in out
    assert "current_timestamp" in out and "current_date" in out
    assert "to_timestamp" in out


def test_pure_literal_expression():
    out = translate("select 1 + 2 * 3")
    assert "`_literal0`" in out


def test_case_preservation_bare_columns():
    # ref :487-494: output named as typed in the query
    out = translate("select wind, RH from forest_fires")
    assert "wind AS `wind`" in out and "RH AS `RH`" in out


def test_explicit_alias_untouched():
    out = translate("select rain as water from f")
    assert "`_col" not in out and "water" in out


def test_implicit_alias_untouched():
    out = translate("select rain water from f")
    assert out == "select rain water from f"


def test_comma_from_becomes_cross_join():
    # ref :434-453
    out = translate("select * from t1, t2")
    assert "CROSS JOIN" in out and "," not in out.split("from")[1]


def test_comma_from_with_aliases():
    # ref :456-484 (self cross join, xfail in reference)
    out = translate("select t1.a as x from f t1, f t2 where t1.a = t2.a")
    assert "CROSS JOIN" in out


def test_star_expansion_collision_prefix():
    # ref utils.py:48-89: colliding columns prefixed table.col
    lookup = {"t1": ["id", "name"], "t2": ["id", "val"]}.__getitem__
    out = translate("select * from t1, t2", schema_lookup=lookup)
    assert "`t1.id`" in out and "`t2.id`" in out
    assert "`t1`.`name`" in out and "`name` AS" not in out  # non-colliding keeps plain name
    assert "`t2`.`val`" in out


def test_star_expansion_lookup_error_propagates():
    # Only an unknown-table analysis error may skip the expansion; any
    # other lookup failure would silently drop the collision prefixes.
    def lookup(name):
        raise RuntimeError(f"catalog unavailable: {name}")

    with pytest.raises(RuntimeError, match="catalog unavailable"):
        translate("select * from t1, t2", schema_lookup=lookup)


def test_case_when_aliased_colN():
    out = translate("select case when w > 5 then 'a' else 'b' end from f")
    assert "`_col0`" in out


def test_nested_subquery_each_select_rewritten():
    out = translate("select a from (select a, cast(b as int64) as c from f) sub")
    assert "BIGINT" in out and "a AS `a`" in out


def test_window_over_not_broken():
    sql = "select wind, rank() over (partition by day order by wind desc) as r from f"
    out = translate(sql)
    assert "rank () over" in out and "`_col" not in out


def test_between_in_passthrough():
    sql = "select * from f where a between 1 and 2 and b in ('x', 'y')"
    out = translate(sql)
    assert "between 1 and 2" in out and "in ('x', 'y')" in out


def test_comments_stripped():
    out = translate("select a from f -- trailing comment\n")
    assert "comment" not in out


def test_string_literal_with_quotes():
    out = translate("select 'it''s' as s from f")
    assert "'it''s'" in out


def test_lambda_arrow_survives_translation():
    # higher-order lambdas: `->` must stay one token, not split to `- >`
    out = translate("select size(filter(e, x -> x > 0)) as n from t")
    assert "->" in out and "- >" not in out


def test_hint_comment_survives_translation():
    # /*+ ... */ is semantic (join strategy / repartition control) and
    # must reach Catalyst; plain comments are still stripped
    out = translate("select /*+ BROADCAST(n) */ a -- trailing\nfrom t /* note */")
    assert "/*+ BROADCAST(n) */" in out
    assert "trailing" not in out and "note" not in out
