"""Independent DuckDB oracles for the benchmark workloads.

Each oracle reads the generated parquet directly and computes the
expected output one-shot, with no engine code on its path.  Outputs are
compared as sorted multisets of plain Python tuples; timestamps are
compared as epoch microseconds so no time-zone conversion sits between
the two sides.
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence

import duckdb


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def _paths_sql(paths: Sequence[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


# Latest image per key, deletes removed: the changelog's table state.
# -U rows are retraction images and never the final state.
_LATEST_SQL = """
    SELECT * EXCLUDE (rn, _op, _seq) FROM (
        SELECT *, row_number() OVER (PARTITION BY {key} ORDER BY _seq DESC) AS rn
        FROM {src} WHERE _op <> '-U'
    ) WHERE rn = 1 AND _op <> '-D'
"""


def diff(got: Iterable[tuple], want: Iterable[tuple]) -> Optional[str]:
    """None when the two multisets are equal, else a short description."""
    g = sorted(got)
    w = sorted(want)
    if len(g) != len(w):
        return f"row count: got {len(g)}, want {len(w)}"
    for i, (a, b) in enumerate(zip(g, w)):
        if a != b:
            return f"sorted row {i}: got {a}, want {b}"
    return None


def keyed_table(log_path: str) -> list[tuple]:
    """``(id, g, v)`` rows of the table the keyed log materializes to."""
    con = _connect()
    sql = _LATEST_SQL.format(key="id", src=f"read_parquet('{log_path}')")
    return [tuple(map(int, r)) for r in con.execute(f"SELECT id, g, v FROM ({sql})").fetchall()]


def fact_dim(paths: Sequence[str]) -> dict[str, list[tuple]]:
    """Both maintained sinks of the fact/dimension stream over the
    change files in ``paths``: the grouped aggregate and the equi-join,
    plus the live row counts of the two tables."""
    con = _connect()
    con.execute(f"CREATE VIEW log AS SELECT * FROM read_parquet({_paths_sql(paths)})")
    con.execute(
        "CREATE VIEW fact AS "
        + _LATEST_SQL.format(key="id", src="(SELECT id, dk, g, v, _op, _seq FROM log WHERE _tbl = 'f')")
    )
    con.execute(
        "CREATE VIEW dim AS "
        + _LATEST_SQL.format(key="dk", src="(SELECT dk, attr, _op, _seq FROM log WHERE _tbl = 'd')")
    )
    agg = con.execute(
        "SELECT g, CAST(SUM(v) AS BIGINT), COUNT(*), MIN(v), MAX(v) FROM fact GROUP BY g"
    ).fetchall()
    join = con.execute(
        "SELECT f.id, f.g, f.v, d.attr FROM fact f JOIN dim d ON f.dk = d.dk"
    ).fetchall()
    live = con.execute("SELECT (SELECT COUNT(*) FROM fact) + (SELECT COUNT(*) FROM dim)").fetchone()[0]
    return {
        "agg": [tuple(map(int, r)) for r in agg],
        "join": [tuple(map(int, r)) for r in join],
        "live_rows": int(live),
    }


def match_recognize(events_path: str, event_id_end: int, oracle_sql: str) -> list[tuple]:
    """The registered gaps-and-islands oracle over the events with
    ``event_id < event_id_end`` (the consumed prefix), as
    ``(u, a_ts_us, n_clicks, max_click, c_ts_us)``."""
    con = _connect()
    con.execute(
        "CREATE VIEW events AS SELECT event_id, user_id, event_type, value, "
        f"CAST(ts AS TIMESTAMP) AS ts FROM read_parquet('{events_path}') "
        f"WHERE event_id < {int(event_id_end)}"
    )
    rows = con.execute(
        "SELECT u, epoch_us(a_ts), n_clicks, max_click, epoch_us(c_ts) "
        f"FROM ({oracle_sql})"
    ).fetchall()
    return [(int(u), int(a), int(n), float(m), int(c)) for u, a, n, m, c in rows]
