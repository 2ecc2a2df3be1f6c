"""Stock content parsers (the engine's UDF surface).

The reference's only UDF hook is ``DataParser.parse``
(``fields/_fields.py:9-12``) — a row-at-a-time Python callable. Here
parsers are Arrow-batched pandas functions: one call per batch, not
per row. These stock parsers cover the reference examples
(``examples/easy_example.py:36-40`` reads a float from the file).

Note on scale: these open files directly inside the UDF, which is
fine for metadata-sized sidecar files (the reference's use case). For
bulk content at 100 TB, join ``binaryFile.content`` in and parse the
content column instead (SURVEY §7.4) — ``parse_float_content`` below
is that variant.
"""

from __future__ import annotations

import pandas as pd


def read_float_file(paths: pd.Series) -> pd.Series:
    """Read a small text file per path and parse a float (easy_example
    metric semantics). Unreadable/invalid → NULL."""
    out = []
    for p in paths:
        try:
            with open(p) as f:
                out.append(float(f.read().strip()))
        except (OSError, ValueError, TypeError):
            out.append(None)
    return pd.Series(out, dtype="float64")


def parse_float_content(content: pd.Series) -> pd.Series:
    """Content-column variant: parse floats from bytes/str already
    loaded by Spark (``binaryFile.content`` join) — no file I/O in
    the UDF, locality and retries stay with Spark."""
    def _one(v):
        try:
            if isinstance(v, (bytes, bytearray)):
                v = v.decode("utf-8", "replace")
            return float(v.strip())
        except (ValueError, AttributeError, TypeError):
            return None

    return content.map(_one).astype("float64")
