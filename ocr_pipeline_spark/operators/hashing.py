"""The one md5 key recipe: how a string becomes a portable hash key.

Every cross-engine key (MinHash shingles, LSH bands, token and gram
keys, split shards, sketch and bloom cells, fingerprints) is a prefix of
md5 over the UTF-8 bytes: ``n_hex`` hex chars as a string key, or read
base-16 as a bigint key. md5 rather than xxhash64 because every engine
has it — DuckDB replays a key as ``substr(md5(s), 1, n)`` or
``('0x' || substr(md5(s), 1, n))::BIGINT``. Mergeable state merges only
when every producer hashes alike, so this module is the only code that
spells the recipe (tests/test_hashing.py pins each form to ``hashlib``
and fails on an inline copy elsewhere in the package).

Integer keys take at most 15 hex chars: ``conv`` reads the prefix
unsigned, and 16 chars overflow a signed bigint.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["md5_hex", "md5_int", "hex_int", "md5_int_py"]

# Hex chars of md5_int's key: 48 bits.
INT_KEY_HEX = 12


def md5_hex(col: Column, n_hex: int = 32) -> Column:
    """First ``n_hex`` md5 hex chars of ``col`` (the whole digest by
    default). NULL in, NULL out."""
    h = F.md5(F.encode(col, "UTF-8"))
    return h if n_hex == 32 else F.substring(h, 1, n_hex)


def hex_int(hex_col: Column, n_hex: int) -> Column:
    """Bigint of the first ``n_hex`` chars of a hex column — for an md5
    already staged as its own column."""
    return F.conv(F.substring(hex_col, 1, n_hex), 16, 10).cast("long")


def md5_int(col: Column) -> Column:
    """Bigint of the first ``INT_KEY_HEX`` md5 hex chars of ``col``."""
    return hex_int(md5_hex(col), INT_KEY_HEX)


def md5_int_py(s: str, n_hex: int = INT_KEY_HEX) -> int:
    """Python twin of ``md5_int``: same bytes, same bits."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:n_hex], 16)
