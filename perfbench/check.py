"""Output check: compare a face's collected result with its DuckDB oracle.

Columns and types are normalised exactly as ``tests/oracle_harness.py``
does. Rows and non-double values must match exactly; doubles (also inside
arrays) must match to a relative 1e-9. A face without an oracle (an ML fit
whose output depends on an iterative solver) is checked for its schema and
a row count that is the same on every run.
"""

from __future__ import annotations

import math

from tests.oracle_harness import _norm_type, _norm_value, duckdb_connect

REL_TOL = 1e-9
# face -> (normalised schema, row count) for faces without a DuckDB oracle;
# both hold at every fixture scale (a 5-class confusion matrix).
ORACLE_LESS = {
    "rf_confusion_matrix": (["label:double", "n:long", "prediction:double"], 25),
}


def _sort_key(row: tuple) -> tuple:
    # Doubles sort numerically so that rows differing only in the last
    # digits still pair up; everything else sorts by its normalised text.
    key = []
    for v in row:
        if isinstance(v, float) and not math.isnan(v):
            key.append((1, v, ""))
        else:
            key.append((0 if v is None else 2, 0.0, _norm_value(v)))
    return tuple(key)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or math.isclose(a, b, rel_tol=REL_TOL, abs_tol=0.0)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return _norm_value(a) == _norm_value(b)


class OutputChecker:
    """Checks faces of one fixture directory; keeps no DuckDB state between
    checks, so a check costs one connection and one oracle query."""

    def __init__(self, sf_dir: str, oracles: dict[str, str]):
        self.sf_dir = sf_dir
        self.oracles = oracles

    def check(self, name: str, df, rows: list) -> str | None:
        """Return None when the output is correct, else why it is not."""
        schema = sorted(f"{c}:{_norm_type(t)}" for c, t in df.dtypes)
        if name not in self.oracles:
            if name not in ORACLE_LESS:
                return "no DuckDB oracle and no recorded schema"
            want_schema, want_rows = ORACLE_LESS[name]
            if schema != want_schema:
                return f"schema {schema} != recorded {want_schema}"
            if len(rows) != want_rows:
                return f"{len(rows)} rows != recorded {want_rows}"
            return None
        con = duckdb_connect(self.sf_dir)
        try:
            sql = self.oracles[name]
            res = con.execute(sql)
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
            duck_types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
        finally:
            con.close()
        duck_schema = sorted(f"{c}:{_norm_type(duck_types[c])}" for c in duck_cols)
        if schema != duck_schema:
            return f"schema {schema} != oracle {duck_schema}"
        if len(rows) != len(duck_rows):
            return f"{len(rows)} rows != oracle {len(duck_rows)}"
        at = [duck_cols.index(c) for c in df.columns]
        got = sorted((tuple(r) for r in rows), key=_sort_key)
        want = sorted((tuple(r[i] for i in at) for r in duck_rows), key=_sort_key)
        for g, w in zip(got, want):
            if not _same(g, w):
                return f"row {g!r} != oracle {w!r}"
        return None
