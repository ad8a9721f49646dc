"""Order-independent result checksums for query outputs.

A result is summarized as its row count, a row hash, and one entry per
column.  Columns are of two kinds:

- ``exact``: integers, strings, booleans, timestamps, nested values, and
  float columns whose values are all whole numbers.  Each value is
  normalized (whole numbers as ints, floats nested in arrays or structs
  rounded to 9 significant digits) and the column is summarized by the
  sum of the CRC32s of its values' reprs.
- ``float``: every other floating-point column, summarized by a weighted
  sum compared with a relative tolerance, so summation order does not
  matter.  Each row's weight is taken from the CRC32 of its exact values.

The row hash is the sum over rows of the CRC32 of each row's exact
values.  It and the weights tie the columns of a row together, so values
that land on the wrong rows (predictions swapped between ids, a probe
paired with the wrong match) change the summary even when every column
keeps its multiset of values.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
import zlib

import numpy as np
import pandas as pd

_MASK = (1 << 61) - 1
_WEIGHTS = 1021


def _norm(v):
    if v is None:
        return None
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return None
        return float(f"{f:.9g}") + 0.0   # +0.0 folds -0.0 into 0.0
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (pd.Timestamp, _dt.datetime, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dict):
        return tuple((k, _norm(x)) for k, x in sorted(v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "asDict"):       # pyspark Row
        return _norm(v.asDict())
    return v


def _is_null(v) -> bool:
    if v is None:
        return True
    if isinstance(v, (list, tuple, dict, np.ndarray)):
        return False
    return bool(pd.isna(v))


def _exact_key(v) -> str:
    """Normalized repr of one exact-kind value; whole floats read as ints,
    so an integer column typed as float in one engine matches."""
    if _is_null(v):
        return "None"
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if abs(f - round(f)) <= 1e-6 * max(1.0, abs(f)):
            return repr(int(round(f)))
    return repr(_norm(v))


def _crc(key: str) -> int:
    return zlib.crc32(key.encode())


def _is_fraction(v) -> bool:
    return (isinstance(v, (float, np.floating, decimal.Decimal))
            and not _is_null(v) and float(v) != round(float(v)))


def column_kinds(pdf: pd.DataFrame) -> dict[str, str]:
    """``float`` for columns of floats or decimals holding a non-whole
    value, ``exact`` for every other column."""
    kinds = {}
    for col in pdf.columns:
        s = pdf[col]
        scalar = pd.api.types.is_float_dtype(s.dtype) or (
            s.dtype == object and all(
                _is_null(v) or isinstance(v, (float, decimal.Decimal))
                for v in s.tolist()))
        kinds[col] = ("float" if scalar and any(map(_is_fraction, s.tolist()))
                      else "exact")
    return kinds


def summarize(pdf: pd.DataFrame, kinds: dict[str, str] | None = None) -> dict:
    """Summary of a result.  ``kinds`` fixes each column's kind (as the
    expected summary has it), so both sides of a comparison summarize a
    column the same way; columns it does not name are classified."""
    kinds = {**column_kinds(pdf), **(kinds or {})}
    cols = sorted(pdf.columns)
    exact = [c for c in cols if kinds[c] == "exact"]
    keys = {c: [_exact_key(v) for v in pdf[c].tolist()] for c in exact}
    row_crc = np.array([_crc(repr(k)) for k in zip(*(keys[c] for c in exact))]
                       if exact else [0] * len(pdf), dtype=np.int64)
    weights = 1.0 + (row_crc % _WEIGHTS) / _WEIGHTS
    out: dict = {"rows": int(len(pdf)),
                 "row_hash": int(row_crc.sum()) & _MASK, "columns": {}}
    for col in cols:
        if kinds[col] == "exact":
            h = sum(_crc(k) for k in keys[col]) & _MASK
            out["columns"][col] = {"hash": h}
            continue
        vals = pd.to_numeric(pdf[col], errors="coerce").to_numpy(
            dtype=float, na_value=np.nan)
        nulls = np.isnan(vals)
        w = np.where(nulls, 0.0, weights)
        x = np.where(nulls, 0.0, vals)
        out["columns"][col] = {"weighted_sum": float((w * x).sum()),
                               "weighted_abs": float((w * np.abs(x)).sum()),
                               "nulls": int(nulls.sum())}
    return out


def kinds_of(summary: dict) -> dict[str, str]:
    """The column kinds a summary was made with."""
    return {c: "float" if "weighted_sum" in e else "exact"
            for c, e in summary["columns"].items()}


def compare(got: dict, want: dict, rel_tol: float = 1e-6) -> list[str]:
    """Differences between two summaries; empty when they agree."""
    diffs = []
    if got["rows"] != want["rows"]:
        diffs.append(f"rows {got['rows']} != {want['rows']}")
    if sorted(got["columns"]) != sorted(want["columns"]):
        diffs.append(f"columns {sorted(got['columns'])} != "
                     f"{sorted(want['columns'])}")
        return diffs
    if got["row_hash"] != want["row_hash"]:
        diffs.append("row hash differs")
    for col, w in want["columns"].items():
        g = got["columns"][col]
        if "weighted_sum" in w and "weighted_sum" in g:
            scale = max(g["weighted_abs"], w["weighted_abs"])
            if g["nulls"] != w["nulls"] or abs(
                    g["weighted_sum"] - w["weighted_sum"]) > \
                    rel_tol * scale + 1e-9:
                diffs.append(f"{col}: {g} != {w}")
        elif g != w:
            diffs.append(f"{col}: {g} != {w}")
    return diffs
