"""Independent checks of every output the benchmark times.

Batch outputs are compared with the repo's DuckDB oracle SQL over the
same input file (DuckDB shares no code with the Spark plans); the
stream is compared with the batch engine over the same rows, the
contract its sink-side merge promises. Each check returns an empty
string when the output is right, else what differed.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import numpy as np
import pandas as pd


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _multiset_diff(con, got_sql: str, want_sql: str) -> str:
    n_got = con.execute(f"SELECT count(*) FROM ({got_sql})").fetchone()[0]
    n_want = con.execute(f"SELECT count(*) FROM ({want_sql})").fetchone()[0]
    missing = con.execute(
        f"SELECT count(*) FROM (({want_sql}) EXCEPT ALL ({got_sql}))"
    ).fetchone()[0]
    extra = con.execute(
        f"SELECT count(*) FROM (({got_sql}) EXCEPT ALL ({want_sql}))"
    ).fetchone()[0]
    if n_want == 0:
        return "oracle found no rows: the input exercises nothing"
    if missing or extra:
        return f"rows got={n_got} want={n_want} missing={missing} extra={extra}"
    return ""


def check_incidents(sink_dir: Path, events_file: Path, oracle_sql: str) -> str:
    """REST job sink (parquet) against an incident oracle over the job's
    own events file."""
    con = _connect()
    con.execute(
        "CREATE VIEW events AS SELECT user_id, event_type, value, ts::TIMESTAMP AS ts "
        f"FROM read_parquet('{events_file}')"
    )
    got = (
        "SELECT pattern_id::BIGINT AS pattern_id, user_id::BIGINT AS user_id, "
        "epoch_ms(from_ts)::BIGINT AS from_ms, epoch_ms(to_ts)::BIGINT AS to_ms "
        f"FROM read_parquet('{sink_dir}/*.parquet')"
    )
    want = (
        "SELECT pattern_id::BIGINT, user_id::BIGINT, from_ms::BIGINT, "
        f"to_ms::BIGINT FROM ({oracle_sql})"
    )
    try:
        return _multiset_diff(con, got, want)
    finally:
        con.close()


def row_count(out_dir: Path) -> int:
    con = _connect()
    try:
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{out_dir}/*.parquet')"
        ).fetchone()[0]
    finally:
        con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frames_differ(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """Exact, order-insensitive comparison (NaN equals NaN)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns got={sorted(got.columns)} want={sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows got={len(got)} want={len(want)}"
    if len(want) == 0:
        return "oracle found no rows: the input exercises nothing"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        gv, wv = g[c], w[c]
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            gv = gv.astype(float).to_numpy()
            wv = wv.astype(float).to_numpy()
            eq = (gv == wv) | (np.isnan(gv) & np.isnan(wv))
        else:
            eq = ((gv == wv) | (gv.isna() & wv.isna())).to_numpy()
        if not eq.all():
            return f"column {c}: {int((~eq).sum())} values differ"
    return ""


def check_table(out_dir: Path, docs_file: Path, oracle_sql: str) -> str:
    """A pipeline operator's written output against its oracle over the
    documents file."""
    con = _connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_file}')")
    try:
        want = con.execute(oracle_sql).df()
        got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").df()
    finally:
        con.close()
    return frames_differ(got, want)
