"""Query-suite workload: the headline catalog queries against DuckDB twins.

Each catalog entry is a Spark plan plus an oracle SQL string. The oracle
answers are computed once with DuckDB, before the Spark session starts and
outside every timed region; each timed execution is then checked by row
count and an order-insensitive digest of its canonicalised rows (columns
sorted by name, floats rounded to 9 places, timestamps in ISO form — the
same canonical form the repository's driver-contract test uses).
"""

from __future__ import annotations

import decimal
import hashlib
from pathlib import Path

from perfbench.querydata import TABLES


def _canon(value):
    if isinstance(value, decimal.Decimal):
        return int(value) if value == int(value) else float(value)
    if isinstance(value, float):
        return round(value, 9)
    if hasattr(value, "isoformat"):
        return value.isoformat()[:26]
    if isinstance(value, (list, tuple)):
        return tuple(_canon(v) for v in value)
    return value


def answer(columns: list[str], records) -> tuple[int, str]:
    """(row count, digest) of a result in canonical form."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    rows = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in records)
    h = hashlib.sha256()
    for row in rows:
        h.update(row.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def oracle_answers(data_dir: Path, names: list[str]) -> dict[str, tuple[int, str]]:
    import duckdb

    from crawler_spark.plans.queries import CATALOG

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / f'{t}.parquet'}'")
        out = {}
        for name in names:
            res = con.execute(CATALOG[name][1]).fetch_arrow_table()
            out[name] = answer(res.column_names,
                               [tuple(r.values()) for r in res.to_pylist()])
        return out
    finally:
        con.close()


def run_query(spark, data_dir: Path, name: str) -> tuple[int, str]:
    """Plan and fully collect one catalog query; returns its answer."""
    from crawler_spark.plans.queries import CATALOG

    df = CATALOG[name][0](spark, str(data_dir))
    return answer(df.columns, df.collect())
