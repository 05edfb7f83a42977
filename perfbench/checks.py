"""Canonical result digests.

A result is canonicalised with the engine's oracle comparison
(``tests/oracle_compare.canonicalize``: columns sorted by name, every
value stringified with ``repr``, NULL and NaN as the empty string, rows
sorted). Before that, the representations two readers disagree on are
unified — arrays become lists, numpy scalars Python scalars, timestamps
naive UTC, decimals floats — so a frame read back from parquet, a
DuckDB result and a Spark ``toPandas`` hash alike. The digest is the
SHA-256 of the header and the rows, one ``\x1f``-joined line each.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib

import numpy as np
import pandas as pd

from tests.oracle_compare import canonicalize


def _plain(v):
    if v is None:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.to_pydatetime()
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and v != v:
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def canonical_rows(df: pd.DataFrame) -> list[str]:
    plain = pd.DataFrame({c: [_plain(v) for v in df[c]] for c in df.columns}, dtype=object)
    canon = canonicalize(plain)
    return ["\x1f".join(canon.columns),
            *("\x1f".join(r) for r in canon.itertuples(index=False, name=None))]


def digest(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for line in canonical_rows(df):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def read_parquet_dir(path: str) -> pd.DataFrame:
    """A Spark parquet output directory as one pandas frame."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    return pq.read_table(path).to_pandas()
