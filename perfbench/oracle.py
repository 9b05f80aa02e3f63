"""Independent answers for every benchmark op, computed with DuckDB over the
same generated files the engine reads. Nothing here imports the engine."""

from __future__ import annotations

import itertools
import math
import re

import duckdb

PATTERN = re.compile(r"(^|[^\\])[\*\?\$\^]")


def _lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def predicate(query: dict, array_cols: frozenset = frozenset()) -> str:
    """SQL for an intake-esm search: OR within a column, AND across columns;
    None is IS NULL, a string with an unescaped * ? $ ^ is a regex search,
    and a value against an array column is membership."""
    parts = []
    for col, values in query.items():
        values = values if isinstance(values, (list, tuple)) else [values]
        ors = []
        for v in values:
            if col in array_cols:
                ors.append(f"list_contains({col}, {_lit(v)})")
            elif v is None:
                ors.append(f"{col} IS NULL")
            elif isinstance(v, str) and PATTERN.search(v):
                ors.append(f"regexp_matches({col}, {_lit(v)})")
            else:
                ors.append(f"{col} = {_lit(v)}")
        parts.append("(" + " OR ".join(ors) + ")")
    return " AND ".join(parts) if parts else "FALSE"


class CatalogOracle:
    """Answers for the catalog query ops over the catalog parquet file."""

    ARRAY_COLS = frozenset({"realms"})

    def __init__(self, catalog_path: str, groupby: list[str]):
        self.db = duckdb.connect()
        self.db.execute(
            f"CREATE TABLE cat AS SELECT * FROM read_parquet('{catalog_path}')")
        self.groupby = groupby
        self.columns = [r[0] for r in self.db.execute("DESCRIBE cat").fetchall()]
        self.rows = self.db.execute("SELECT count(*) FROM cat").fetchone()[0]

    def _where(self, query: dict) -> str:
        return predicate(query, self.ARRAY_COLS)

    def count(self, query: dict) -> int:
        return self.db.execute(
            f"SELECT count(*) FROM cat WHERE {self._where(query)}").fetchone()[0]

    def division_count(self, query: dict, require_all_on: list[str]) -> int:
        """Rows of the searched frame whose ``require_all_on`` group holds
        every combination of the other query columns' values."""
        keys = [c for c in query if c not in require_all_on]
        lists = [v if isinstance(v, (list, tuple)) else [v]
                 for v in (query[k] for k in keys)]
        n_combos = len(set(itertools.product(*lists)))
        rao = ", ".join(require_all_on)
        where = self._where(query)
        return self.db.execute(
            f"""SELECT count(*) FROM cat WHERE {where} AND ({rao}) IN (
                  SELECT ({rao}) FROM cat WHERE {where}
                  GROUP BY {rao}
                  HAVING count(DISTINCT ({", ".join(keys)})) = {n_combos})"""
        ).fetchone()[0]

    def keys(self, query: dict) -> list[str]:
        key = " || '.' || ".join(f"CAST({a} AS VARCHAR)" for a in self.groupby)
        rows = self.db.execute(
            f"SELECT DISTINCT {key} FROM cat WHERE {self._where(query)}"
        ).fetchall()
        return sorted(r[0] for r in rows)

    def nunique(self, query: dict) -> dict[str, int]:
        out = {}
        where = self._where(query)
        for c in self.columns:
            expr = f"unnest({c})" if c in self.ARRAY_COLS else c
            out[c] = self.db.execute(
                f"SELECT count(DISTINCT v) FROM (SELECT {expr} AS v FROM cat "
                f"WHERE {where})").fetchone()[0]
        return out

    def unique(self, query: dict) -> dict[str, list]:
        out = {}
        where = self._where(query)
        for c in self.columns:
            expr = f"unnest({c})" if c in self.ARRAY_COLS else c
            rows = self.db.execute(
                f"SELECT DISTINCT v FROM (SELECT {expr} AS v FROM cat "
                f"WHERE {where}) WHERE v IS NOT NULL").fetchall()
            out[c] = sorted(r[0] for r in rows)
        return out


class AssemblyOracle:
    """Answers for the asset assembly ops: every asset file joined to its
    catalog row, reduced per dataset key, time and variable."""

    def __init__(self, catalog_path: str, asset_glob: str, derived: tuple):
        self.db = duckdb.connect()
        self.derived, self.deps = derived[0], list(derived[1])
        self.db.execute(
            f"CREATE TABLE cat AS SELECT * FROM read_parquet('{catalog_path}')")
        self.db.execute(
            f"""CREATE TABLE vals AS
                SELECT c.source_id, c.experiment_id, c.member_id,
                       c.variable_id, a.variable, epoch_us(a.time) AS t,
                       a.lat, a.lon, a.value
                FROM read_parquet('{asset_glob}', filename = true) a
                JOIN cat c ON c.path = a.filename""")

    def selection(self, query: dict) -> str:
        """SQL predicate on (source_id, experiment_id, member_id,
        variable_id) for the catalog rows a search returns, including the
        derived variable's dependency expansion; an empty query is the
        whole catalog (``to_dataframe`` on the unsearched datastore)."""
        if not query:
            return "TRUE"
        sel = predicate(query)
        variables = query.get("variable_id")
        variables = [variables] if isinstance(variables, str) else variables
        if variables and self.derived in variables:
            dep_q = {**query, "variable_id": self.deps}
            sel = f"({sel}) OR ({predicate(dep_q)})"
        return sel

    def applies_derived(self, query: dict) -> bool:
        variables = query.get("variable_id")
        variables = [variables] if isinstance(variables, str) else variables
        return variables is None or self.derived in variables

    def catalog_rows(self, query: dict) -> int:
        return self.db.execute(
            f"SELECT count(*) FROM cat WHERE {self.selection(query)}").fetchone()[0]

    def reduce(self, query: dict, by_key_only: bool = False,
               derived: bool = True) -> dict:
        """{(key, t, variable): (count, sum)} for a search's datasets; with
        ``by_key_only`` the time is dropped (the whole-catalog reduce)."""
        sel = self.selection(query)
        base = f"SELECT * FROM vals WHERE {sel}"
        union = f"SELECT source_id, experiment_id, t, variable, value FROM ({base})"
        if derived and self.applies_derived(query):
            a, b = self.deps
            union += f""" UNION ALL
              SELECT source_id, experiment_id, t, '{self.derived}',
                     sqrt(x * x + y * y)
              FROM (SELECT source_id, experiment_id, member_id, t, lat, lon,
                           max(value) FILTER (WHERE variable = '{a}') AS x,
                           max(value) FILTER (WHERE variable = '{b}') AS y
                    FROM ({base}) WHERE variable IN ('{a}', '{b}')
                    GROUP BY ALL)
              WHERE (source_id, experiment_id) IN (
                SELECT (source_id, experiment_id) FROM ({base})
                GROUP BY ALL
                HAVING count(DISTINCT variable) FILTER (
                  WHERE variable IN ('{a}', '{b}')) = 2)"""
        t = "NULL" if by_key_only else "t"
        rows = self.db.execute(
            f"""SELECT source_id || '.' || experiment_id, {t}, variable,
                       count(*), sum(value)
                FROM ({union}) GROUP BY ALL""").fetchall()
        return {(k, tt, v): (n, s) for k, tt, v, n, s in rows}

    def written(self, out_dir: str) -> tuple[int, float]:
        return self.db.execute(
            f"SELECT count(*), sum(value) FROM "
            f"read_parquet('{out_dir}/**/*.parquet')").fetchone()


def close(a: float | None, b: float | None, rel: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-6)


def same_reduce(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        got[k][0] == want[k][0] and close(got[k][1], want[k][1]) for k in want)
