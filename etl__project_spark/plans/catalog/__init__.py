"""Query catalog: every implemented operator exposed as a named query with a
DuckDB oracle (driver contract, ``__spark_entry__.py``).

Naming maps to SURVEY.md §2 operator ids:

- ``vs_*``   reference VideoStart pipeline (F1/F1b/F2, C1-C8, A1/A3/A4,
             I1, J1, J2, J3) over the deterministic video_data synth
             (``refdata.py``)
- ``tpch_*`` analytic join/agg workloads on the TPC-H-ish fixtures
             (engine capability + bench headliners)
- ``ev_*``   event-stream analytics (rollups, sessionization, JSON props)
- ``doc_*``  text / dedup pipeline (documents table)
- ``emb_*``  embedding similarity (embeddings table)

Conventions for oracle parity (the driver hash-compares values after
sorting columns by name): every computed column is aliased identically in
Spark and SQL; ints are cast to BIGINT on both sides; doubles that result
from arithmetic are rounded to a fixed number of decimals on both sides;
timestamps are emitted as formatted strings.
"""

from __future__ import annotations

from etl__project_spark.plans.catalog._registry import ORACLES, QUERIES, query  # noqa: F401
# the two private helpers tests import through the package
from etl__project_spark.plans.catalog._shared import _parsed, _zexpr  # noqa: F401
from etl__project_spark.sources import load_table  # noqa: F401

# Registration order: family modules execute their @query decorators on
# import. The driver window is pinned by __spark_entry__._PRIORITY_R{N},
# so only the head order matters; the tail is family-grouped.
from etl__project_spark.plans.catalog import (  # noqa: E402,F401
    vs,
    tpch,
    ev,
    doc,
    emb,
)
