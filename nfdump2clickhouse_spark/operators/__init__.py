"""SURVEY §2 operator inventory, one module per key family.

Importing this package registers every query key in the registry. Import
order carries no meaning: the correctness sweep's base order is the
``registry.SWEEP_ORDER`` table, and ``registry._sweep_order`` rotates it
on the certification evidence.

``wave5``, ``wave10``, ``wave12`` and ``wave18`` only re-export names that
certified key bodies import by those module paths.
"""

from . import (  # noqa: F401
    aggregations,
    ann,
    dedup_extra,
    events,
    flows,
    joins,
    ml,
    relational,
    scalar_funcs,
    scans,
    stats,
    text,
    udfs,
    windows,
)
