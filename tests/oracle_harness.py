"""Driver-mimic parity harness: run a registered query on Spark AND its
DuckDB oracle, compare row count + schema-width + order-insensitive values.

Used by test_oracle_parity.py and runnable standalone:
    python tests/oracle_harness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the testdata tables. DuckDB shares this process
    with the Spark driver's collects, so it gets a quarter of physical
    memory (its default is 80%, which the sf0.1 sweep outgrew) and the
    cores Spark is told to use."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    threads = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    con = duckdb.connect(
        config={"memory_limit": f"{ram // 4 // 2**20}MB", "threads": int(threads)}
    )
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # driver testdata is a flat file per table; locally generated
        # rehearsal data (tools/gen_scaled_testdata.py) is a Spark output
        # DIRECTORY of part files — support both so oracle parity can be
        # checked at rehearsal scale too
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0/0.0 and representation noise below round-trip level
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _row_multiset(rows, col_order):
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in col_order))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


_DUCK_TO_SPARK_TYPE = {
    "INTEGER": "int",
    "BIGINT": "bigint",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "TIMESTAMP": "timestamp",
    "DATE": "date",
    "HUGEINT": "decimal(38,0)",
}


def _duck_schema(con, sql: str) -> dict[str, str]:
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    out = {}
    for r in rows:
        t = r[1].upper()
        if t.endswith("[]"):  # list type → spark array<...>
            inner = _DUCK_TO_SPARK_TYPE.get(t[:-2], t[:-2].lower())
            out[r[0].lower()] = f"array<{inner}>"
        else:
            out[r[0].lower()] = _DUCK_TO_SPARK_TYPE.get(t, t.lower())
    return out


def compare(spark_df, con, sql: str, name: str) -> list[str]:
    """Returns a list of mismatch descriptions (empty = pass)."""
    errors: list[str] = []
    s_cols = [c.lower() for c in spark_df.columns]
    s_types = {c.lower(): t for c, t in spark_df.dtypes}
    s_rows = [tuple(r) for r in spark_df.collect()]
    d = con.execute(sql)
    d_cols = [c[0].lower() for c in d.description]
    d_rows = d.fetchall()

    if sorted(s_cols) != sorted(d_cols):
        errors.append(f"{name}: column mismatch spark={s_cols} duck={d_cols}")
        return errors
    # declared-type parity (the driver checks schema, not just values)
    d_types = _duck_schema(con, sql)
    for c in s_cols:
        if s_types[c] != d_types.get(c):
            errors.append(
                f"{name}: type mismatch on '{c}': spark={s_types[c]} "
                f"duck={d_types.get(c)}"
            )
    if errors:
        return errors
    if len(s_rows) != len(d_rows):
        errors.append(f"{name}: rowcount spark={len(s_rows)} duck={len(d_rows)}")
        return errors

    s_order = [s_cols.index(c) for c in sorted(s_cols)]
    d_order = [d_cols.index(c) for c in sorted(d_cols)]
    sm = _row_multiset(s_rows, s_order)
    dm = _row_multiset(d_rows, d_order)
    if sm != dm:
        n_bad = sum(1 for a, b in zip(sm, dm) if a != b)
        for a, b in list(zip(sm, dm))[:2000]:
            if a != b:
                errors.append(f"{name}: first diff spark={a} duck={b} ({n_bad} rows differ)")
                break
        else:
            errors.append(f"{name}: multiset mismatch (structural)")
    return errors


def run_all(sf_dir: str, only: list[str] | None = None) -> dict[str, list[str]]:
    from data_integration_spark.queries import ORACLES, QUERIES, load_all
    from data_integration_spark.session import get_spark

    load_all()
    spark = get_spark(app_name="oracle_harness", shuffle_partitions=8)
    con = duck_connection(sf_dir)
    results: dict[str, list[str]] = {}
    names = only or sorted(QUERIES)
    for name in names:
        fn = QUERIES[name]
        try:
            df = fn(spark, sf_dir)
            if name in ORACLES:
                results[name] = compare(df, con, ORACLES[name], name)
            else:
                n = df.count()
                results[name] = [] if n >= 0 else [f"{name}: count failed"]
                results[name] += [] if len(df.columns) > 0 else [f"{name}: no cols"]
        except Exception as e:  # noqa: BLE001
            results[name] = [f"{name}: EXCEPTION {type(e).__name__}: {e}"]
    return results


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None
    res = run_all(sf, only)
    n_fail = 0
    for name in sorted(res):
        errs = res[name]
        status = "PASS" if not errs else "FAIL"
        if errs:
            n_fail += 1
        print(f"[{status}] {name}")
        for e in errs:
            print(f"    {e[:500]}")
    print(f"\n{len(res) - n_fail}/{len(res)} pass")
    sys.exit(1 if n_fail else 0)
