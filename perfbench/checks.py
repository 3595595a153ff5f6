"""Output checks. Every check is untimed and duplicate-sensitive: a result
that repeats or drops a row fails it.

- registry queries: the collected rows against the query's DuckDB
  ``oracle_sql`` on the same input files, as sorted multisets of canonical
  cells;
- weather table: the invariants of the reference's partition upsert, read
  with DuckDB straight from the parquet files;
- weather queries: Q1, Q2, Q3 and the corrected Q2 recomputed with DuckDB.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pyarrow as pa


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def canonical(rows, cols) -> tuple:
    """Columns sorted by name, cells canonicalised, rows sorted: two results
    are equal as multisets iff their canonical forms are equal."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return tuple(sorted(cols)), tuple(out)


class Oracle:
    """DuckDB over the same parquet files the program reads."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]):
        self.con = duckdb.connect()
        self.rows: dict[str, int] = {}
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                 f"read_parquet('{path}')")
                self.rows[t] = self.con.execute(
                    f"SELECT count(*) FROM {t}").fetchone()[0]
        self._expected: dict[str, tuple] = {}

    def expected(self, name: str, sql: str) -> tuple:
        if name not in self._expected:
            cur = self.con.execute(sql)
            cols = [c[0] for c in cur.description]
            self._expected[name] = canonical(cur.fetchall(), cols)
        return self._expected[name]

    def input_rows(self, sql: str) -> int:
        """Rows of every fixture table the query's SQL names."""
        words = set(sql.replace("(", " ").replace(",", " ").split())
        return sum(n for t, n in self.rows.items() if t in words)

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------- weather

def _table_glob(table: str) -> str:
    return f"read_parquet('{table}/**/*.parquet', hive_partitioning=true)"


def partition_digests(table: str) -> dict[str, str]:
    """Digest of every data file's name and bytes, per partition dir."""
    out: dict[str, str] = {}
    for dirpath, _dirs, files in os.walk(table):
        data = sorted(f for f in files if f.endswith(".parquet"))
        if not data:
            continue
        h = hashlib.blake2b(digest_size=16)
        for f in data:
            h.update(f.encode())
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())
        out[os.path.relpath(dirpath, table)] = h.hexdigest()
    return out


def batch_partitions(rows: list[dict]) -> set[str]:
    """Partition dirs an upsert of ``rows`` may rewrite."""
    out = set()
    for r in rows:
        island, loc = r["location"].split("/", 1)
        y, m = int(r["date"][:4]), int(r["date"][5:7])
        out.add(f"island={island}/location_name={loc}/year={y}/month={m}")
    return out


def check_table(table: str, expected: dict) -> tuple[list[str], dict]:
    """The clean table holds exactly one row per expected (location, date),
    carrying the newest delivery's values. Also returns DuckDB's answers
    to the weather queries over the same files."""
    con = duckdb.connect()
    try:
        keys, vals = list(expected), list(expected.values())
        con.register("exp_raw", pa.table({
            "location": [k[0] for k in keys], "d": [k[1] for k in keys],
            "sun": [v[0] for v in vals], "uv": [v[1] for v in vals]}))
        con.execute(f"CREATE TABLE t AS SELECT * FROM {_table_glob(table)}")
        n, n_keys = con.execute(
            "SELECT count(*), count(DISTINCT (location, date)) FROM t"
        ).fetchone()
        wrong = con.execute(
            "SELECT count(*) FROM exp_raw e LEFT JOIN t ON t.location ="
            " e.location AND t.date = CAST(e.d AS DATE) WHERE"
            " t.sunshine_duration IS DISTINCT FROM e.sun OR"
            " t.uvindex IS DISTINCT FROM e.uv").fetchone()[0]
        answers = {q: con.execute(sql).fetchall()
                   for q, (sql, _) in WEATHER_ORACLE.items()}
    finally:
        con.close()
    problems = []
    if n != len(expected):
        problems.append(f"rows {n} != stations x days {len(expected)}")
    if n_keys != n:
        problems.append(f"{n - n_keys} duplicate (location, date) rows")
    if wrong:
        problems.append(f"{wrong} rows missing or not the newest delivery")
    return problems, answers


def check_untouched(before: dict, after: dict, batch: set[str]) -> list[str]:
    changed = [p for p, d in before.items()
               if p not in batch and after.get(p) != d]
    return [f"{len(changed)} partitions outside the batch changed"] \
        if changed else []


# The reference's queries, restated for DuckDB (ROUND as Spark's HALF_UP
# on a double may differ in the last place, so numbers compare with a
# tolerance of one rounding step).
WEATHER_ORACLE = {
    "q1": ("SELECT location, AVG(sunshine_duration) / 3600 AS v FROM t "
           "GROUP BY location", 0.011),
    # every group: the top 10 are compared by value below, since groups
    # whose rounded averages tie may fill the last places either way
    "q2": ("SELECT location, month, AVG(sunshine_duration) / 3600 AS v "
           "FROM t GROUP BY location, month", 0.011),
    "q3": ("SELECT month, AVG(uvindex) AS v FROM t WHERE location_name = "
           "'Las_Palmas_de_Gran_Canaria' GROUP BY month", 0.11),
    "q2_corrected": (
        "SELECT month, arg_max(location, s) AS location, "
        "max(s) / 3600 AS v FROM (SELECT month, location, "
        "AVG(sunshine_duration) AS s FROM t GROUP BY month, location) "
        "GROUP BY month", 0.011),
}


def check_weather_query(name: str, rows: list, want: list) -> list[str]:
    """Keys must match exactly and each value within one rounding step."""
    tol = WEATHER_ORACLE[name][1]
    got = sorted((tuple(r[:-1]), r[-1]) for r in rows)
    want = sorted((tuple(w[:-1]), w[-1]) for w in want)
    if name == "q2":
        # Q2 is LIMIT 10: each returned group must carry its own average,
        # and the ten averages must be the ten largest
        groups = dict(want)
        top = sorted((v for _, v in want), reverse=True)[:10]
        vals = sorted((v for _, v in got), reverse=True)
        if (len(got) != len(top) or len({k for k, _ in got}) != len(got)
                or any(abs(v - groups.get(k, float("inf"))) > tol
                       for k, v in got)
                or any(abs(a - b) > tol for a, b in zip(vals, top))):
            return [f"q2: {got} is not the top 10"]
        return []
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    bad = [g for g, w in zip(got, want)
           if g[0] != w[0] or abs(g[1] - w[1]) > tol]
    return [f"{name}: {len(bad)} rows differ, first {bad[0]}"] if bad else []
