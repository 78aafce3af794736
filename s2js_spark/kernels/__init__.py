"""Vectorized NumPy S2 building blocks.

``hilbert`` holds the Hilbert-curve lookup tables that the scalar
``geometry.cellid_scalar`` port, the SQL encode (``spark.sqlkernels``)
and the DuckDB oracle (``tools/duckdb_s2.py``) share; ``stuv`` holds
the coordinate transforms over NumPy arrays. Semantics match the
reference S2 library bit-for-bit (see per-function citations).
"""

from . import hilbert, stuv  # noqa: F401
