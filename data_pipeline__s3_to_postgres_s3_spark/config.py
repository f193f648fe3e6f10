"""Engine configuration.

The reference pipeline hardcodes two temporal constants that define its
semantics (SURVEY.md Q2/F3):

- ``CURRENT_DATE`` used as ``ingestion_date`` on every analytics row
  (/root/reference/sql/transformation.sql:24,63,127);
- the as-of date ``'2022-09-05'`` in the undelivered-items predicate
  (/root/reference/sql/transformation.sql:65) — the max order_date of its
  sample data.

For reproducible differential testing both are pinned here, mapped onto the
driver testdata's date range (orders span 1995-01-01..2001-08-01).
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # Pinned "today" stamped on analytics outputs (reference: CURRENT_DATE).
    run_date: dt.date = dt.date(1998, 12, 31)
    # As-of date for the undelivered predicate (reference: DATE '2022-09-05',
    # the max order_date in its data; ours is the testdata max order_date).
    as_of_date: dt.date = dt.date(2001, 8, 1)
    # The reference filters holidays to year_num = 2022
    # (transformation.sql:42); 1998 is the analogous in-range year here.
    holiday_year: int = 1998
    # Calendar dimension coverage (superset of orders/lineitem dates).
    calendar_start: dt.date = dt.date(1995, 1, 1)
    calendar_end: dt.date = dt.date(2002, 12, 31)
    # Deterministic mapping of testdata keys onto the reference's product
    # domain; see catalog.py. Must match oracles/mappings.py.
    product_mod: int = 100
    # Incremental-load watermark simulation: the "already loaded" target
    # holds orders with order_id < watermark_seed (catalog-independent).
    watermark_seed: int = 1000


DEFAULT_CONFIG = EngineConfig()


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` when set (a deployment setting), else the
    cores this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))
