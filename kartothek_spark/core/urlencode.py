"""Storage-key codec: hive-style ``K=V`` path segments with URL encoding.

Behavioral parity with the reference's path layout
(``kartothek/core/urlencode.py``, ``docs/spec/format_specification.rst:49-228``
in /root/reference): partition-key values are URL-quoted into path segments
``<uuid>/<table>/K1=V1/K2=V2/<partition_uuid>.parquet`` and reconstructed,
typed, from the path on read.
"""

from __future__ import annotations

import urllib.parse
from typing import Any

# quote() with safe="" so "/" and "=" inside values round-trip
def quote(value: Any) -> str:
    if isinstance(value, bytes):
        return urllib.parse.quote_from_bytes(value, safe="")
    return urllib.parse.quote(str(value), safe="")


def unquote(value: str) -> str:
    # surrogateescape keeps non-UTF8 BYTES reversible through the str
    # round-trip: a binary partition value decodes to surrogates here and
    # _typed_value re-encodes them to the exact original bytes (the
    # default errors='replace' would corrupt them to U+FFFD). For valid
    # UTF-8 (every other dtype's rendering) this is byte-for-byte
    # identical to the default behavior.
    return urllib.parse.unquote(value, errors="surrogateescape")


def decode_file_uri_column(col):
    """Runtime file path (``input_file_name()`` / ``_metadata.file_path``)
    → plain filesystem path, as a Spark Column.

    Spark reports scan paths as ``file:``-scheme URIs with URI percent
    encoding applied ON TOP of whatever bytes are on disk — a partition dir
    like ``d=2020-01-01%2010%3A00`` (our hive quoting) arrives as
    ``d=2020-01-01%252010%253A00`` and a literal space as ``%20``. Joining
    that raw string against ``os.path.abspath(manifest.file_path(lbl))``
    silently drops every file whose path contains URI-special bytes, which
    corrupts secondary indices and last-wins lineage. One ``url_decode``
    undoes exactly the URI layer. ``url_decode`` follows www-form semantics
    ('+' → space), so literal '+' is protected first."""
    from pyspark.sql import functions as F

    path = F.regexp_replace(col, "^file:/+", "/")
    return F.url_decode(F.regexp_replace(path, r"\+", "%2B"))


def parse_partition_values(label: str, partition_keys: list[str]) -> dict[str, str]:
    """Parse ``K=V`` segments out of a partition label. The values stay
    percent-quoted, as in the path: unquoting and typed casting against
    the dataset schema happen in one place, ``core.manifest._decode_value``."""
    out: dict[str, str] = {}
    for seg in label.split("/"):
        if "=" in seg:
            k, _, v = seg.partition("=")
            if k in partition_keys:
                out[k] = v
    missing = [k for k in partition_keys if k not in out]
    if missing:
        raise ValueError(f"partition label {label!r} lacks keys {missing}")
    return out
