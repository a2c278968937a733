"""Scalar function layer (reference §2.7 C1-C18).

Everything here is either a built-in `pyspark.sql.functions` composition
(JVM-side, codegen'd) or — only where 128-bit integer rendering forces it —
an Arrow-batched pandas UDF.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def seq_hash_py(seq: str, n: int = 32) -> str:
    """C1 `seq_hasher` (ref app.py:86-94): decimal-rendered MD5 prefix.
    `str(int(md5(seq).hexdigest(), 16))[:n]` — kept byte-compatible so IDs
    match the reference's across systems."""
    m = hashlib.md5(seq.encode("utf-8"))
    return str(int(m.hexdigest(), 16))[:n]


@F.pandas_udf(T.StringType())
def seq_hash_udf(s: pd.Series) -> pd.Series:
    """C1 as an Arrow-batched pandas UDF. The 128-bit hex→decimal rendering
    exceeds Spark's 64-bit `conv`, hence the (vectorized) Python path; at
    100 TB this runs once per distinct sequence, not per row — apply after
    dedup where possible."""
    return s.map(lambda x: None if x is None else seq_hash_py(x))


def release_undotted(release: Column) -> Column:
    """C4 (ref load.cyp:94): strip dots — '3.56.0' → '3560'."""
    return F.regexp_replace(release, "\\.", "")


def version_dotted(release: Column) -> Column:
    """C5 (ref app.py:550-555): '3540' → '3.54.0'; 3-digit '390' → '3.9.0'."""
    return F.when(
        F.length(release) == 3,
        F.concat_ws(
            ".",
            F.substring(release, 1, 1),
            F.substring(release, 2, 1),
            F.substring(release, 3, 1),
        ),
    ).otherwise(
        F.concat_ws(
            ".",
            F.substring(release, 1, 1),
            F.substring(release, 2, 2),
            F.substring(release, 4, 1),
        )
    )


def null_sentinel(col: Column, sentinel: str = "none") -> Column:
    """C8 (ref app.py:260): null/empty → sentinel string."""
    return F.when(col.isNull() | (col == ""), F.lit(sentinel)).otherwise(col)
