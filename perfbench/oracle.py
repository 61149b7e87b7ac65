"""Independent DuckDB oracle: an LSN-ordered last-writer-wins fold of
the staged change events, and the canonical row form both sides are
compared in."""

from __future__ import annotations

import calendar
import datetime as dt
import json
from collections import Counter

import duckdb

from picsure_dictionary_etl_spark.cdc.normalize import NORMALIZE_TEXT_SQL, VALID_EVENT_SQL

KEYS = ("conv_id", "turn_idx")


def _sentinel(col: str) -> str:
    return f"CASE WHEN lower(trim({col})) IN ('', 'null') THEN NULL ELSE {col} END"


def canon(value):
    """One comparable form for values from Spark rows and DuckDB rows."""
    if isinstance(value, dt.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return calendar.timegm(value.timetuple()) * 1_000_000 + value.microsecond
    if isinstance(value, (list, dict)):
        return json.dumps(value, sort_keys=True, default=str)
    if hasattr(value, "asDict"):  # pyspark Row inside a nested column
        return canon(value.asDict(recursive=True))
    return value


def canon_rows(rows, cols) -> list[tuple]:
    out = []
    for r in rows:
        d = r.asDict(recursive=True) if hasattr(r, "asDict") else dict(zip(cols, r))
        out.append(tuple(canon(d[c]) for c in cols))
    return out


class LwwOracle:
    """Folds the staged parquet files matching ``events_glob`` with DuckDB.

    ``normalize=True`` applies the engine's documented normalization
    (dead-letter validity, sentinel nulls, text cleanup) — the CdcRunner
    contract; ``False`` folds raw events — the sink contract."""

    def __init__(self, events_glob: str, payload: list[str], normalize: bool):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.glob = events_glob
        self.cols = [*KEYS, *payload]
        self.normalize = normalize
        self._cache: dict[tuple, list[tuple]] = {}

    def _select(self) -> str:
        if not self.normalize:
            return ", ".join(self.cols)
        out = []
        for c in self.cols:
            if c == "role":
                out.append(f"lower(trim({_sentinel('role')})) AS role")
            elif c == "tool":
                out.append(f"{_sentinel('tool')} AS tool")
            elif c == "text":
                out.append(NORMALIZE_TEXT_SQL.format(col="text") + " AS text")
            else:
                out.append(c)
        return ", ".join(out)

    def rows(self, max_lsn: int, conv_id: str | None = None) -> list[tuple]:
        """Live rows at ``lsn <= max_lsn`` (of one conversation, if given),
        in canonical form."""
        if (max_lsn, conv_id) in self._cache:
            return self._cache[max_lsn, conv_id]
        where = [f"_lsn <= {int(max_lsn)}"]
        if self.normalize:
            where.append(VALID_EVENT_SQL.format(lsn="_lsn", op="_op"))
        params = []
        if conv_id is not None:
            where.append("conv_id = ?")
            params.append(conv_id)
        sql = f"""
            WITH w AS (
              SELECT *, row_number() OVER (
                  PARTITION BY conv_id, turn_idx ORDER BY _lsn DESC) AS rn
              FROM read_parquet('{self.glob}')
              WHERE {" AND ".join(where)})
            SELECT {self._select()} FROM w WHERE rn = 1 AND _op <> 'D'
        """
        out = canon_rows(self.con.execute(sql, params).fetchall(), self.cols)
        self._cache[max_lsn, conv_id] = out
        return out

    def close(self) -> None:
        self.con.close()


def fold_changes(state: dict[tuple, tuple], changes, cols) -> None:
    """Apply one change-feed span (``_change`` I/U/D rows) to a key ->
    row map in place."""
    for r in changes:
        d = r.asDict(recursive=True)
        row = tuple(canon(d[c]) for c in cols)
        key = row[: len(KEYS)]
        if d["_change"] == "D":
            state.pop(key, None)
        else:
            state[key] = row


def mismatches(got: list[tuple], want: list[tuple]) -> int:
    """Size of the multiset symmetric difference of two row lists."""
    diff = Counter(got)
    diff.subtract(Counter(want))
    return sum(abs(n) for n in diff.values())
