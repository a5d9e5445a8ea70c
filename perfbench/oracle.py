"""Output gate: every workload's output is checked against DuckDB.

The oracle is independent of ``wrangler_spark``. Entry queries
(``recipe_batch``, the ``curation_pass`` operators) use the SQL of
``__spark_entry__.oracle_sql()``; the interactive sessions use the
hand-written SQL built by :func:`session_sql` from the same seeded
literals the session typed. Results are compared inside DuckDB as
multisets of canonical rows, with the cell rules of the repository's
parity tool (floats to six significant digits, nulls as one marker).
"""

from __future__ import annotations

import duckdb

NULL = "∅"


def _canon_expr(col: str, typ: str) -> str:
    """SQL for one canonical cell: a kind tag plus the value as text.
    Whole floats stay exact, other floats keep six significant digits
    (the ``%.6g`` rule), null and NaN become one marker, and an int
    never equals a float, as in the repository's parity tool."""
    q = f'"{col}"'
    t = typ.upper()
    if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
        x = f"CAST({q} AS DOUBLE)"
        scale = f"pow(10, 5 - floor(log10(abs({x}))))"
        return (
            f"CASE WHEN {x} IS NULL OR isnan({x}) THEN '{NULL}' "
            f"WHEN isinf({x}) OR ({x} = trunc({x}) AND abs({x}) < 1e15) "
            f"THEN 'f' || CAST({x} + 0.0 AS VARCHAR) "
            f"ELSE 'f' || CAST(round({x} * {scale}) / {scale} AS VARCHAR) END"
        )
    tag = "i" if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT") else t[:1].lower()
    return f"coalesce('{tag}' || CAST({q} AS VARCHAR), '{NULL}')"


def _canon_select(con, relation: str) -> tuple[list[str], str]:
    desc = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    cols = sorted((r[0], r[1]) for r in desc)
    select = ", ".join(f'{_canon_expr(c, t)} AS "{c}"' for c, t in cols)
    return [c for c, _ in cols], f"SELECT {select} FROM {relation}"


def compare(con, actual, expected: str) -> str | None:
    """Compare ``actual`` (a pandas frame or Arrow table) with the
    relation ``expected`` (a table or view name on ``con``) as multisets
    of canonical rows. None when equal, else the first difference."""
    con.register("__actual", actual)
    try:
        a_cols, a_sql = _canon_select(con, "__actual")
        e_cols, e_sql = _canon_select(con, expected)
        if a_cols != e_cols:
            return f"columns {a_cols} vs {e_cols}"
        na = con.execute("SELECT count(*) FROM __actual").fetchone()[0]
        ne = con.execute(f"SELECT count(*) FROM {expected}").fetchone()[0]
        if na != ne:
            return f"rowcount {na} vs {ne}"
        only_a = con.execute(f"{a_sql} EXCEPT ALL {e_sql} LIMIT 1").fetchall()
        only_e = con.execute(f"{e_sql} EXCEPT ALL {a_sql} LIMIT 1").fetchall()
        if not only_a and not only_e:
            return None
        return f"values differ: spark {only_a[:1]} vs oracle {only_e[:1]}"
    finally:
        con.unregister("__actual")


def connect(tables: dict[str, str]):
    """A DuckDB connection with one view per ``name -> parquet path``."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def expect(con, name: str, sql: str) -> str:
    """Materialize the oracle result once as table ``name``."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {sql}")
    return name


# ---------------------------------------------------------------- sessions
def _mask_sql(e: str, pattern: str) -> str:
    parts, i = [], 0
    while i < len(pattern):
        j = i
        while j < len(pattern) and pattern[j] == pattern[i]:
            j += 1
        if pattern[i] == "#":
            parts.append(f"coalesce(substr(CAST({e} AS VARCHAR), {i + 1}, {j - i}), '')")
        else:
            parts.append(f"'{'x' * (j - i)}'")
        i = j
    return f"CASE WHEN {e} IS NULL THEN NULL ELSE {' || '.join(parts)} END"


def session_sql(steps: list[tuple], table: str = "sample") -> str:
    """DuckDB SQL for a session's directive list over the CSV sample.

    ``steps`` are the structured forms of the directives (see
    ``workloads.session_steps``); each is mirrored by hand here, not by
    asking the engine, so the gate is independent of it."""
    cols: dict[str, str] = {"body": "body"}
    where: list[str] = []
    for step in steps:
        kind = step[0]
        if kind == "parse-csv":
            for i in range(1, step[1] + 1):
                cols[f"body_{i}"] = f"string_split(body, ',')[{i}]"
        elif kind == "drop":
            del cols[step[1]]
        elif kind == "set-headers":
            renamed = {}
            for (old, e), new in zip(list(cols.items()), step[1]):
                renamed[new] = e
            cols = renamed | {k: v for k, v in list(cols.items())[len(step[1]):]}
        elif kind == "double":
            cols[step[1]] = f"TRY_CAST({cols[step[1]]} AS DOUBLE)"
        elif kind == "fill":
            e = cols[step[1]]
            cols[step[1]] = f"CASE WHEN {e} IS NULL OR length({e}) = 0 THEN '{step[2]}' ELSE {e} END"
        elif kind in ("upper", "lower"):
            cols[step[1]] = f"{kind}({cols[step[1]]})"
        elif kind == "mask":
            cols[step[1]] = _mask_sql(cols[step[1]], step[2])
        elif kind == "filter-gt":
            where.append(f"NOT (({cols[step[1]]}) > {step[2]})")
        elif kind == "revenue":
            price, disc = cols["l_extendedprice"], cols["l_discount"]
            cols[step[1]] = f"({price}) * (1.0 - ({disc})) * {step[2]}"
        else:
            raise ValueError(f"unknown step {kind}")
    select = ", ".join(f'{e} AS "{c}"' for c, e in cols.items())
    sql = f"SELECT {select} FROM {table}"
    if where:
        sql += " WHERE " + " AND ".join(where)
    return sql
