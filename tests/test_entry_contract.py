"""Mirror of the driver's correctness gate: run every queries() entry
and its oracle_sql() twin side-by-side and compare row count, column
names, and order-insensitive values."""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entrymod

from tests.conftest import SF_SMOKE


def _canon(df):
    cols = sorted(df.columns)
    rows = []
    for row in df[cols].itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(round(v, 6))
            else:
                vals.append(v)
        rows.append(tuple(vals))
    rows.sort(key=lambda r: tuple(str(x) for x in r))
    return cols, rows


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, duck_smoke, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    spdf = q(spark, SF_SMOKE).toPandas()
    if sql is None:
        assert len(spdf) >= 0  # rows-only check for non-SQL ops
        return
    odf = duck_smoke.sql(sql).df()
    scols, srows = _canon(spdf)
    ocols, orows = _canon(odf)
    assert scols == ocols, f"{name}: column mismatch {scols} vs {ocols}"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} vs {len(orows)}"
    for a, b in zip(srows, orows):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                assert (
                    (isinstance(x, float) and math.isnan(x))
                    and (isinstance(y, float) and math.isnan(y))
                ) or x == pytest.approx(y, abs=1e-6), f"{name}: {a} vs {b}"
            else:
                assert x == y, f"{name}: {a} vs {b}"


def test_exactly_fifty_entries_all_oracle_checked():
    """The driver caps CORRECTNESS at 50 rows: more entries silently
    fall out of the oracle check (the r4 regression). Pin the contract
    at exactly 50, every one with a SQL twin."""
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    assert len(qs) == 50, f"queries() must stay at the 50-row cap, got {len(qs)}"
    assert set(qs) == set(osql), "every entry needs an oracle_sql twin"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"qid", "doc_id", "score", "rank"}


def test_maxscore_entry_takes_spark_route(spark, monkeypatch):
    """The driver row index_search_maxscore_k1000 exists to cover
    MaxScore's pruned Spark scan — it must reach term_major_top from
    search_maxscore_fused (not the driver route, which
    index_search_maxscore_fused_k1000 covers, nor the df-guard
    fallback through search_fused)."""
    from splade_spark.operators import maxscore as ms

    calls = []
    real = ms.term_major_top

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(ms, "term_major_top", spy)
    df = entrymod.queries()["index_search_maxscore_k1000"](spark, SF_SMOKE)
    assert calls == [1], "index_search_maxscore_k1000 did not run the pruned Spark scan"
    assert df.count() > 0
