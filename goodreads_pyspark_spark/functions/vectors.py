"""Vector-column expressions for similarity search.

Embeddings are ``array<float>`` columns. ``explode_vector`` is their
long form, one (id, pos, v) row per element, for work that aggregates
per dimension (sign-LSH planes, centroids); exact cosines fold each row's
array instead (``similarity/ann.py``). Both sum in decimal rather than a
Python UDF: because float addition is not associative, the decimal
accumulation makes results independent of partitioning, which both the
DuckDB oracle and any re-run at different parallelism require.

For dense brute-force at larger scale, a Pandas-UDF BLAS path would be
faster per-core; see ``similarity/ann.py`` for where that trade-off is
taken and why the LSH route is the real 100 TB answer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Decimal type wide enough for sums of |v|<~1e3 products at 12 dp.
_ACC = "decimal(38,12)"


def explode_vector(df: DataFrame, id_col: str, vec_col: str = "embedding") -> DataFrame:
    """(id, pos, v:double) long-form view of a vector column."""
    return df.select(
        F.col(id_col),
        F.posexplode(vec_col).alias("pos", "v"),
    ).withColumn("v", F.col("v").cast("double"))

