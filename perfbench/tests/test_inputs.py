"""Seeded inputs: the same seed gives the same tables, another seed does not."""

import datetime
import itertools

import duckdb

from perfbench import inputs


def table_rows(path):
    with duckdb.connect() as con:
        return {
            t: con.execute(f"SELECT * FROM '{path}/{t}.parquet' ORDER BY ALL").fetchall()
            for t in inputs.TABLES
        }


def test_same_seed_same_tables(tmp_path):
    counts = inputs.generate_base(str(tmp_path / "a"), 5, 0.0005, threads=2)
    inputs.generate_base(str(tmp_path / "b"), 5, 0.0005, threads=1)
    inputs.generate_base(str(tmp_path / "c"), 6, 0.0005, threads=2)
    a, b, c = (table_rows(tmp_path / x) for x in "abc")
    assert a == b
    assert a["lineitem"] != c["lineitem"] and a["events"] != c["events"]
    assert {t: len(rows) for t, rows in a.items()} == counts
    assert counts["supplier"] == 10 and counts["lineitem"] == 3000


def test_day_cut_keeps_rows_up_to_the_day(tmp_path):
    base = str(tmp_path / "base")
    inputs.generate_base(base, 5, 0.0005, threads=2)
    day = next(inputs.day_sequence(5))
    con = inputs.connect(2)
    try:
        inputs.cut_day(con, base, str(tmp_path / "d"), day)
    finally:
        con.close()
    rows = table_rows(tmp_path / "d")
    full = table_rows(base)
    ship = [r[-1] for r in rows["lineitem"]]
    assert max(ship) <= datetime.datetime.combine(day, datetime.time())
    assert len(ship) == sum(1 for r in full["lineitem"] if r[-1].date() <= day)
    assert rows["orders"] == full["orders"]


def test_day_sequence_is_seeded_and_consecutive():
    a = list(itertools.islice(inputs.day_sequence(3), 4))
    assert a == list(itertools.islice(inputs.day_sequence(3), 4))
    assert all((y - x).days == 1 for x, y in zip(a, a[1:]))
    last = inputs.FIRST_SHIP + datetime.timedelta(days=inputs.SHIP_DAYS - 1)
    assert last - datetime.timedelta(days=60) < a[0] <= last
