"""User-defined extension surface beyond scalar Arrow UDFs: a Python
UDTF (table function, used via SQL LATERAL) and a grouped-aggregate
Arrow UDAF.

The reference has no extension surface at all (SURVEY.md §2.2 UDF
row); these are north-star additions that exercise the remaining two
UDF shapes Spark offers:

- UDTF: one input row -> many output rows, schema declared up front.
  Runs as a Python worker per partition — the per-row fan-out happens
  distributed, never on the driver.
- GROUPED_AGG Arrow UDF: the whole group's column arrives as ONE
  Arrow array per group (no partial aggregation) — use only when the
  aggregate genuinely can't be expressed with built-ins, and keep the
  kernel order-insensitive (here: a median over integers, exact).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.functions import arrow_udf, udtf


@udtf(returnType="start int, chunk_tok int")
class ChunkUDTF:
    """Emit (start, chunk_tok) for each size-128/stride-96 context
    window of a token count — the chunking rule of
    operators/curation.py:chunk_audit as a table function.  eval()
    receives one row's n_tok and yields its chunks; Spark runs it
    inside the scan stage, so the fan-out is distributed exactly like
    the explode() form."""

    SIZE = 128
    STRIDE = 96

    def eval(self, n_tok: int):  # noqa: A003 - UDTF contract name
        if n_tok is None or n_tok < 1:
            return
        start = 1
        while start <= n_tok:
            yield start, min(self.SIZE, n_tok - start + 1)
            start += self.STRIDE


@arrow_udf("double")
def median_agg(v: pa.Array) -> float:
    """Exact median as a grouped-agg Arrow UDF.  Order-insensitive by
    construction (sorting is internal to the median), exact over
    integer inputs — safe to hash-compare against a SQL oracle's
    median()."""
    return pc.quantile(v, q=0.5)[0].as_py()
