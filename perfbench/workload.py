"""What every workload provides to the runner.

A workload class takes ``(spark, work_dir, sf, seed)`` and has ``setup(tr)``
(inputs from the seed, part of ``setup_s``), ``templates()``,
``input_bytes`` / ``written_bytes`` for the write-amplification counter,
and ``interactive``. An interactive workload is a long-lived session: it
draws a seeded template order per cycle, warms up on its own inputs and
keeps whatever the library caches between ops. Any other workload is a
pipeline: it keeps the template order, warms up on a smoke-size copy of
its inputs, and every pass starts with Spark's cache cleared, so each pass
computes everything it needs as a fresh batch job would.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

# input sizes: "full" is the measured size, "smoke" runs every op and every
# output check in seconds (the benchmark's own tests)
SIZES = {"full": 0.1, "smoke": 0.001}

# the Hilbert layout spatial_ingest_knn writes and spatial_sql reads:
# world extent, key level, directory (coarse) level
WORLD = (-180.0, -90.0, 180.0, 90.0)
LAYOUT = (12, 2)


@dataclass(frozen=True)
class Template:
    """One kind of user operation.

    ``draw`` picks the op's literals from the run's generator, ``run`` is
    the timed part (DataFrame build through collect or write, every
    library call routed through the tracer), ``check`` verifies the output
    against values computed without the library and returns False on a
    wrong result, ``rows`` is the number of input rows the op consumes."""

    name: str
    draw: Callable[[np.random.Generator], dict]
    run: Callable[[Any, dict], Any]
    check: Callable[[dict, Any], bool]
    rows: Callable[[dict], int]


def close(a, b, rel: float = 1e-9, abs_: float = 1e-9) -> bool:
    return bool(np.allclose(np.asarray(a, float), np.asarray(b, float), rtol=rel, atol=abs_))


def collect_knn(tr, knn) -> list:
    """Collect a kNN result and note its resolution counters."""
    rows = tr.collect(knn)
    tr.note("spatial_knn.rows", len(rows))
    tr.note("spatial_knn.resolved", sum(bool(r.resolved) for r in rows))
    tr.note("spatial_knn.calls", 1)
    return rows
