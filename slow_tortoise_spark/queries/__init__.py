"""Query catalog package: one Spark callable + one DuckDB oracle per
operator (SURVEY.md section 2 plus the training-data extensions).

Each family module registers its queries in ``_shared.REGISTRY``;
``catalog`` is imported last and splits the registry into the driver
and verifier tiers.  Tiers come from ``catalog.DRIVER_CATALOG``; rotate
by editing it.  Every name of the family modules is re-exported, so
``from slow_tortoise_spark.queries import ...`` serves the driver
(__spark_entry__), bench.py, the oracle harness, and the tests.
"""

from __future__ import annotations

from slow_tortoise_spark.queries import _shared as _m_shared
from slow_tortoise_spark.queries import star as _m_star
from slow_tortoise_spark.queries import datacube as _m_datacube
from slow_tortoise_spark.queries import tiles as _m_tiles
from slow_tortoise_spark.queries import training as _m_training
from slow_tortoise_spark.queries import extended as _m_extended
from slow_tortoise_spark.queries import verifier_base as _m_verifier_base
from slow_tortoise_spark.queries import verifier_core as _m_verifier_core
from slow_tortoise_spark.queries import verifier_iterative as _m_verifier_iterative
from slow_tortoise_spark.queries import verifier_scalarops as _m_verifier_scalarops
from slow_tortoise_spark.queries import verifier_stats as _m_verifier_stats
from slow_tortoise_spark.queries import snapshot as _m_snapshot
from slow_tortoise_spark.queries import catalog as _m_catalog

# Re-export the full surface of the former single module: every public
# and underscore-prefixed name (tests import e.g. _hyperplanes), later
# modules shadowing earlier ones exactly as later code did in one file.
for _m in (_m_shared, _m_star, _m_datacube, _m_tiles, _m_training,
           _m_extended, _m_verifier_base, _m_verifier_core,
           _m_verifier_iterative, _m_verifier_scalarops,
           _m_verifier_stats, _m_snapshot, _m_catalog):
    for _k, _v in vars(_m).items():
        if not _k.startswith("__"):
            globals()[_k] = _v
del _m, _k, _v
