"""Order-independent exact numeric aggregation helpers.

Spark and any SQL oracle (DuckDB) may sum doubles in different association
orders (partial aggregation, segment trees), so raw ``SUM(double)`` is not
bit-reproducible.  Every aggregate this engine exposes therefore works in
**decimal space**: cast the *source columns* to exact ``DECIMAL``, do the
arithmetic (multiply/sum -- exact, order-independent) in decimal, and cast
the final total back to double (deterministic nearest rounding).  This is
also the right call at 100 TB: results stop depending on partitioning, AQE
decisions, or retry order.

CRITICAL portability rule, established empirically against DuckDB: cast
**raw input columns** to decimal, never *computed* doubles.  Spark converts
double->decimal via the double's shortest decimal representation
(``BigDecimal.valueOf``), DuckDB rounds at ~15 significant digits; on noisy
products (e.g. ``147.89 * 26 = 3845.1399999999994``) they disagree in the
last ulp.  Clean source data (currency-like, few significant digits)
converts identically; decimal x decimal arithmetic is then exact in both
engines.

Inputs are ``DECIMAL(18, s)`` so products stay within the 38-digit cap:
(18,6) x (18,0) -> (37,6); (18,6) x (18,6) -> (37,12).

SECOND portability rule: the final decimal -> double conversion must be
exact, i.e. ``|total| * 10^scale < 2^53``.  DuckDB converts decimal->double
as (int128 -> double) / 10^scale -- two roundings -- while Spark rounds the
exact value once; they can land on adjacent doubles when the decimal
carries >15 significant digits.  So pass each column's TRUE scale (the
driver data is 2-dp money, integer quantities), not a paranoid-wide one.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: Column | str, scale: int = 6) -> Column:
    """Cast a *source* column to an exact decimal (see module rule)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def exact_sum(col: Column | str, scale: int = 6) -> Column:
    """``SUM`` that is bit-identical regardless of evaluation order."""
    return F.sum(dec(col, scale)).cast("double")

