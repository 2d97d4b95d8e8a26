"""Output checks: order-insensitive value digests and comparisons.

``frame_digest`` follows the DuckDB-oracle harness in
``tests/test_oracle_parity.py``: columns sorted by name, rows sorted by
value, floats compared by their exact IEEE-754 bit pattern (``-0.0``
folded into ``0.0``), ints kept apart from floats, and the dtype *kind*
(not width) of every column recorded.
"""

from __future__ import annotations

import hashlib
import math
import struct

import numpy as np


def canon(v):
    """One cell in a form whose ``repr`` is the same for equal values
    whichever engine produced them."""
    if v is None:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return None
        return struct.pack("<d", v + 0.0 if v != 0 else 0.0)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def normalize(df) -> list[tuple]:
    """Rows of ``df`` (columns in name order) canonicalized and sorted."""
    import pandas as pd

    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        rows.append(tuple(
            None if (not isinstance(v, (list, tuple, np.ndarray))
                     and v is not None and pd.isna(v))
            else canon(v)
            for v in row
        ))
    return sorted(rows, key=repr)


def dtype_kinds(df) -> dict[str, str]:
    """Column -> dtype kind ('i', 'f', 'b', 'M' or 'O'), width-blind."""
    out = {}
    for c in sorted(df.columns):
        d = df[c].dtype
        s = str(d)
        k = getattr(d, "kind", None) or s
        if s in ("string", "object"):
            k = "O"
        elif s.startswith(("Int", "UInt")):
            k = "i"
        elif s.startswith("Float"):
            k = "f"
        elif s == "boolean":
            k = "b"
        out[c] = {"u": "i", "S": "O", "U": "O"}.get(k, k)
    return out


def frame_digest(df) -> dict:
    rows = normalize(df)
    return {
        "cols": sorted(df.columns),
        "kinds": dtype_kinds(df),
        "rows": len(rows),
        "sha": hashlib.sha1(repr(rows).encode()).hexdigest(),
    }


def diff(got: dict, want: dict) -> str | None:
    """None when two digests agree, else the first differing field."""
    for key in ("cols", "kinds", "rows", "sha", "digest", "nonnull"):
        if key in want and got.get(key) != want[key]:
            return f"{key}: got {got.get(key)!r}, want {want[key]!r}"
    return None
