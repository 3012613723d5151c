"""Correctness gate: a query's Spark result against its DuckDB oracle.

The comparison is the oracle mirror's (``tests/test_oracle_mirror.py``):
same column set, same row count, the same canonicalized multiset of
values with no float tolerance, a non-empty result, and compatible
pandas dtype kinds. The row canonicalizer is imported from the mirror so
the two can never drift apart.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re

import duckdb
import pandas as pd

from sigma_rx7_spark.io import events_data_path
from tests.test_oracle_mirror import MAY_BE_EMPTY, _canon


def connect(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    """DuckDB views over ``sf_dir``, with ``events`` resolved the way the
    engine resolves it (one file, or the glob of drop files)."""
    con = duckdb.connect()
    for t in tables:
        path = (events_data_path(sf_dir) if t == "events"
                else os.path.join(sf_dir, f"{t}.parquet"))
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _fingerprint(sql: str, sf_dir: str, tables: tuple[str, ...]) -> str:
    """Digest of the oracle SQL, DuckDB's version and (path, size, mtime)
    of every file the oracle can read: the tables and any parquet path
    named in the SQL itself."""
    h = hashlib.sha256(f"{duckdb.__version__}\0{sql}".encode())
    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in tables]
    paths += re.findall(r"read_parquet\('([^']+)'\)", sql)
    for pattern in paths:
        for f in sorted(glob.glob(pattern)) or [pattern]:
            files = (sorted(glob.glob(os.path.join(f, "**"), recursive=True))
                     if os.path.isdir(f) else [f])
            for g in files:
                if os.path.isfile(g):
                    st = os.stat(g)
                    h.update(f"{g}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def oracle_frame(spec, sf_dir: str, tables: tuple[str, ...],
                 con: duckdb.DuckDBPyConnection,
                 cache_dir: str | None) -> pd.DataFrame:
    """The oracle's result over ``sf_dir``.

    With ``cache_dir`` the result is kept across runs, keyed by
    ``_fingerprint``: a reference over unchanged inputs is the same
    every time, and some oracles (the all-pairs Jaccard one) take
    minutes in DuckDB at sf0.1. The Spark side is always recomputed."""
    sql = spec.oracle_for(sf_dir)
    if cache_dir is None:
        return con.execute(sql).df()
    path = os.path.join(
        cache_dir, f"{spec.name}-{_fingerprint(sql, sf_dir, tables)}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    frame = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    frame.to_pickle(tmp)
    os.replace(tmp, path)
    return frame


def mismatch(name: str, s_pd: pd.DataFrame, k_pd: pd.DataFrame) -> str | None:
    """None when the Spark and oracle frames agree, else the first
    difference found, in the mirror's order of checks."""
    s_cols, d_cols = list(s_pd.columns), list(k_pd.columns)
    if sorted(s_cols) != sorted(d_cols):
        return f"column mismatch spark={s_cols} duck={d_cols}"
    s_rows = list(s_pd.itertuples(index=False, name=None))
    d_rows = list(k_pd.itertuples(index=False, name=None))
    if len(s_rows) != len(d_rows):
        return f"row count spark={len(s_rows)} duck={len(d_rows)}"
    _, sr = _canon(s_cols, s_rows)
    _, dr = _canon(d_cols, d_rows)
    bad = [(a, b) for a, b in zip(sr, dr) if a != b]
    if bad:
        return (f"{len(bad)}/{len(sr)} rows differ; first: "
                f"spark={bad[0][0]!r} duck={bad[0][1]!r}")
    if not s_rows and name not in MAY_BE_EMPTY:
        return "unexpectedly empty result"
    numeric = {"i", "u", "f"}
    for col in sorted(s_cols):
        sk, dk = s_pd[col].dtype.kind, k_pd[col].dtype.kind
        if {sk, dk} == {"i", "f"} and (
                s_pd[col].isna().any() or k_pd[col].isna().any()):
            continue
        compatible = sk == dk or (sk in {"i", "u"} and dk in {"i", "u"})
        if not compatible and (sk in numeric or dk in numeric):
            return f"{col}: pandas dtype kind spark={sk} duck={dk}"
    return None
