"""Independent DuckDB adjudication of the benchmark's outputs.

CDC: last-writer-wins over the staged feed files (verbatim
redeliveries, stragglers and tombstones included), compared row for
row with the engine's final state. Text: the registered ``oracle_sql()``
texts run over the generated corpus.
"""

from __future__ import annotations

import duckdb

STATE_COLS = "conv_id, turn_idx, role, text, tool, ts, lsn"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def feed_view(con, paths: list[str], name: str = "feed") -> None:
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet({_files(paths)})")


def lww_sql(feed: str = "feed", lsn_above: int | None = None, live_only: bool = True) -> str:
    """Per key, the highest-LSN event; optionally only events above an
    LSN watermark, optionally dropping keys whose winner is a delete."""
    where = f"WHERE lsn > {int(lsn_above)}" if lsn_above is not None else ""
    live = "AND op <> 'D'" if live_only else ""
    return f"""
        SELECT * FROM (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS _rn
          FROM {feed} {where})
        WHERE _rn = 1 {live}"""


def diff_rows(con, left_sql: str, right_sql: str, cols: str = STATE_COLS) -> int:
    """Rows in either side that the other side lacks (multiset)."""
    return con.execute(
        f"""
        WITH l AS (SELECT {cols} FROM ({left_sql})),
             r AS (SELECT {cols} FROM ({right_sql}))
        SELECT (SELECT COUNT(*) FROM (SELECT * FROM l EXCEPT ALL SELECT * FROM r))
             + (SELECT COUNT(*) FROM (SELECT * FROM r EXCEPT ALL SELECT * FROM l))
        """
    ).fetchone()[0]


def delta_summary(con, lsn_above: int, feed: str = "feed") -> tuple[int, int]:
    """(rows, sum of lsn) a ``changes_since(lsn_above)`` read must return:
    one row per key with any event above the watermark, tombstones
    included."""
    n, s = con.execute(
        f"SELECT COUNT(*), COALESCE(SUM(lsn), 0) FROM ({lww_sql(feed, lsn_above, live_only=False)})"
    ).fetchone()
    return int(n), int(s)


def state_summary(con, feed: str = "feed") -> tuple[int, int]:
    n, s = con.execute(f"SELECT COUNT(*), COALESCE(SUM(lsn), 0) FROM ({lww_sql(feed)})").fetchone()
    return int(n), int(s)


def max_lsn(con, feed: str = "feed") -> int:
    return int(con.execute(f"SELECT MAX(lsn) FROM {feed}").fetchone()[0])


def rows_of(con, sql: str) -> list[tuple]:
    return [tuple(r) for r in con.execute(sql).fetchall()]
