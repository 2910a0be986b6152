"""Seeded benchmark inputs.

``generate_base`` writes the ten testdata tables (the schema of TESTDATA.md:
a TPC-H-ish star schema plus ``events``, ``documents`` and ``embeddings``)
at a given scale factor. Every value is a function of ``(seed, table, row,
column)`` through DuckDB's ``hash``, so the same seed gives byte-identical
tables on any thread count. Distributions follow the repository's fixtures:
independent uniform keys, 2-decimal money, an exponential event value and
unit-norm 64-dim float32 embeddings.

The benchmark generates one base per run from a fixed generator seed and
lets ``--seed`` pick the as-of days, so seeds differ in the days they read,
not in the data's distribution.

``cut_day`` derives one as-of trading day's input directory from the base:
``lineitem`` keeps the rows shipped on or before the day (the engine derives
the ``prices`` series from it, one symbol per supplier), ``events`` keeps the
rows up to an hour offset derived from the day, and the other tables are
copied. Each op of a workload reads its own day, so no plan memo or persisted
view keyed on the input path is reused across ops.
"""

from __future__ import annotations

import datetime
import os
import random
import shutil

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

FIRST_SHIP = datetime.date(1995, 1, 2)
SHIP_DAYS = 2499  # l_shipdate spans FIRST_SHIP .. 2001-11-04
EVENTS_START = datetime.datetime(2024, 1, 1)
EVENTS_SECONDS = 30 * 86400

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_ADJ = ["blue", "cold", "hot", "large", "red", "small", "green", "dark"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]


def _sql_list(items) -> str:
    return "[" + ", ".join(f"'{w}'" for w in items) + "]"


def _u(seed: int, key: str, salt: str) -> str:
    """SQL for a uniform double in [0, 1) keyed on (seed, row key, salt).
    The key is hashed as one string: DuckDB's multi-argument ``hash`` mixes
    its arguments by XOR, which makes columns differing only in the salt
    strongly correlated."""
    parts = ", ".join(f"{k.strip()}::VARCHAR" for k in key.split(","))
    return (
        f"((hash(concat_ws(':', {parts}, '{seed}', '{salt}')) % 4294967296)::DOUBLE"
        " / 4294967296.0)"
    )


def _pick(seed: int, key: str, salt: str, items) -> str:
    return f"{_sql_list(items)}[1 + floor({_u(seed, key, salt)} * {len(items)})::INT]"


def _int(seed: int, key: str, salt: str, lo: int, n: int) -> str:
    """SQL for a uniform integer in [lo, lo + n)."""
    return f"({lo} + floor({_u(seed, key, salt)} * {n})::BIGINT)"


def table_sql(seed: int, sf: float) -> dict[str, str]:
    """One SELECT per table; row counts scale with ``sf`` like the fixtures."""
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    u = lambda salt, key="i": _u(seed, key, salt)  # noqa: E731
    pick = lambda salt, items: _pick(seed, "i", salt, items)  # noqa: E731
    rint = lambda salt, lo, n: _int(seed, "i", salt, lo, n)  # noqa: E731
    money = lambda salt, lo, hi: f"round({lo} + {u(salt)} * {hi - lo}, 2)"  # noqa: E731
    day = lambda salt, start, n: (  # noqa: E731
        f"(DATE '{start}' + {rint(salt, 0, n)}::INT)::TIMESTAMP"
    )
    # Box-Muller normal per (row, dim) for the embedding vectors
    normal = (
        f"sqrt(-2 * ln(1 - {_u(seed, 'i, d', 'e1')})) "
        f"* cos(2 * pi() * {_u(seed, 'i, d', 'e2')})"
    )
    return {
        "region": """
            SELECT i::INT AS r_regionkey,
                   ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name,
                   (i % 5)::INT AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                   {rint('cn', 0, 25)}::INT AS c_nationkey,
                   {money('cb', -999.99, 9999.99)} AS c_acctbal,
                   {pick('cs', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])}
                       AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                   {rint('sn', 0, 25)}::INT AS s_nationkey,
                   {money('sb', -999.99, 9999.99)} AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   {pick('pa', _ADJ)} || ' ' || {pick('pn', _NOUN)} AS p_name,
                   'Brand#' || {rint('pb', 1, 25)} AS p_brand,
                   {pick('pt', ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])}
                       AS p_type,
                   {rint('ps', 1, 50)}::INT AS p_size,
                   round(900 + (i % 1000) / 10, 1) AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey, {rint('oc', 0, n_cust)} AS o_custkey,
                   {pick('os', ['F', 'O', 'P'])} AS o_orderstatus,
                   {money('ot', 1000, 500000)} AS o_totalprice,
                   {day('od', '1995-01-01', 2404)} AS o_orderdate,
                   {pick('op', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}
                       AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""
            SELECT {rint('lo', 0, n_ord)} AS l_orderkey,
                   {rint('lp', 0, n_part)} AS l_partkey,
                   {rint('ls', 0, n_supp)} AS l_suppkey,
                   {rint('ll', 1, 7)}::INT AS l_linenumber,
                   {rint('lq', 1, 50)}::DOUBLE AS l_quantity,
                   {money('le', 900, 105000)} AS l_extendedprice,
                   {rint('ld', 0, 11)} / 100.0 AS l_discount,
                   {rint('lt', 0, 9)} / 100.0 AS l_tax,
                   {pick('lr', ['A', 'N', 'R'])} AS l_returnflag,
                   {pick('lst', ['F', 'O'])} AS l_linestatus,
                   {day('lsd', FIRST_SHIP.isoformat(), SHIP_DAYS)} AS l_shipdate
            FROM range({n_line}) t(i)""",
        # event_id follows event time, as in the fixtures
        "events": f"""
            SELECT (row_number() OVER (ORDER BY off, i) - 1)::BIGINT AS event_id,
                   TIMESTAMP '{EVENTS_START}' + to_microseconds(off) AS ts,
                   user_id, event_type, value, props
            FROM (SELECT i,
                         floor({u('eo')} * {EVENTS_SECONDS * 1_000_000})::BIGINT AS off,
                         {rint('eu', 0, n_users)} AS user_id,
                         {pick('et', ['click', 'error', 'purchase', 'signup', 'view'])} AS event_type,
                         round(-50 * ln(1 - {u('ev')}), 2) AS value,
                         '{{"k": ' || {rint('ek', 0, 100)} || '}}' AS props
                  FROM range({n_ev}) t(i))""",
        "documents": f"""
            SELECT i AS doc_id, text, lang, source, length(text)::BIGINT AS n_chars
            FROM (
                SELECT i,
                       array_to_string(list_transform(
                           range({rint('dn', 10, 90)}),
                           w -> {_sql_list(_WORDS)}[1 + floor({_u(seed, 'i, w', 'dw')} * {len(_WORDS)})::INT]
                       ), ' ') || CASE WHEN {u('dd')} < 0.05 THEN ' dup' ELSE '' END AS text,
                       CASE WHEN {u('dl')} < 0.44 THEN 'en'
                            ELSE {pick('dl2', ['de', 'es', 'fr', 'zh'])} END AS lang,
                       'src' || (i % 20) AS source
                FROM range({n_docs}) t(i))""",
        "embeddings": f"""
            SELECT i AS vec_id,
                   list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT)
                       AS embedding,
                   {rint('el', 0, 10)}::INT AS label
            FROM (SELECT i, list(({normal})) AS v
                  FROM range({n_emb}) t(i), range(64) r(d) GROUP BY i)""",
    }


def connect(threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET preserve_insertion_order = true")
    return con


def _copy(con, select: str, path: str) -> None:
    con.execute(f"COPY ({select}) TO '{path}' (FORMAT parquet)")


def generate_base(out_dir: str, seed: int, sf: float, threads: int) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; return row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    # a stable row order keeps the files (and Spark's splits) seeded
    order = {"events": "event_id", "embeddings": "vec_id", "documents": "doc_id"}
    con = connect(threads)
    try:
        for name, select in table_sql(seed, sf).items():
            sel = f"SELECT * FROM ({select}) ORDER BY {order[name]}" if name in order else select
            _copy(con, sel, os.path.join(out_dir, f"{name}.parquet"))
        return {
            t: con.execute(
                f"SELECT count(*) FROM '{os.path.join(out_dir, t)}.parquet'"
            ).fetchone()[0]
            for t in TABLES
        }
    finally:
        con.close()


def day_sequence(seed: int, choices: int = 10):
    """Consecutive as-of trading days from one of ``choices`` seeded start
    days about six weeks before the end of the price history, so every seed
    sees nearly the same input size."""
    day = FIRST_SHIP + datetime.timedelta(
        days=SHIP_DAYS - 40 + random.Random(seed).randrange(choices)
    )
    while True:
        yield day
        day += datetime.timedelta(days=1)


def cut_day(con, base_dir: str, out_dir: str, day: datetime.date) -> None:
    """Materialize the as-of ``day`` input directory from the base tables."""
    os.makedirs(out_dir, exist_ok=True)
    hours = (day - FIRST_SHIP).days % 48
    ev_end = EVENTS_START + datetime.timedelta(seconds=EVENTS_SECONDS) - datetime.timedelta(
        hours=48 - hours
    )
    for t in TABLES:
        src = os.path.join(base_dir, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if t == "lineitem":
            _copy(con, f"SELECT * FROM '{src}' WHERE l_shipdate <= DATE '{day}'", dst)
        elif t == "events":
            _copy(con, f"SELECT * FROM '{src}' WHERE ts <= TIMESTAMP '{ev_end}'", dst)
        else:
            shutil.copyfile(src, dst)
