"""IEEE-754 bit-pattern utilities.

The reference's double codec operates on ``f64::to_bits()``
(``src/double_stream.rs:34``). Spark has no built-in double→bits
reinterpret, so this is one of the few sanctioned Pandas-UDF paths
(Arrow-batched, numpy zero-copy ``view``; ~memory-bandwidth speed).
Everything downstream of the bit extraction (XOR, leading zeros,
aggregations) stays JVM-side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType

# Ship this module by value: the pandas UDFs below are module-level, so
# cloudpickle would otherwise serialize them by reference and executors
# would need gibbon_spark importable (not guaranteed under the driver).
try:  # pragma: no cover
    from pyspark.cloudpickle import register_pickle_by_value as _rpbv
except ImportError:  # pragma: no cover - older cloudpickle
    pass
else:
    import sys as _sys

    _rpbv(_sys.modules[__name__])


@F.pandas_udf(LongType())
def double_bits(values: pd.Series) -> pd.Series:
    """Reinterpret float64 as int64 (two's-complement of the IEEE bits),
    matching ``f64::to_bits`` up to signedness. Nulls propagate."""
    import numpy as np

    arr = values.to_numpy(dtype="float64", na_value=float("nan"))
    bits = arr.view("int64")
    out = pd.Series(bits)
    out[values.isna()] = None
    return out


@F.pandas_udf(DoubleType())
def bits_to_double(bits: pd.Series) -> pd.Series:
    """Inverse of :func:`double_bits`.

    CALLER CONTRACT: the input column must be null-free (``coalesce``
    nulls away and mask the result instead). Arrow hands a nullable
    int64 batch to pandas as float64 + NaN, which silently destroys
    the low bits of any pattern above 2^53 — the round-trip then
    "almost" works (observed: 9.64 → 9.639999999999418), the worst
    kind of wrong. This guard turns that silent corruption loud."""
    if bits.isna().any():
        raise ValueError(
            "bits_to_double received nulls; coalesce them away first "
            "(nullable int64 reaches pandas as float64 and loses bits)"
        )
    arr = bits.to_numpy(dtype="int64")
    return pd.Series(arr.view("float64"))
