"""Operational utilities mirrored from the reference's runtime contract.

* ``retry_call`` — the reference wraps every download/ETL/upload step in a
  3-attempt, 5-second-delay retry (``pipelines/etl_utils.py:39-53``,
  ``common/loader.py:81,150``).  In Spark, *task*-level faults are retried
  by the scheduler; this covers the same driver-side job-level transient
  failures the reference saw (sink I/O, flaky FS).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from typing import TypeVar

log = logging.getLogger(__name__)

T = TypeVar("T")


def retry_call(
    fn: Callable[[], T],
    *,
    attempts: int = 3,
    delay_s: float = 5.0,
    strict: bool = True,
) -> T | None:
    """Call ``fn`` with up to ``attempts`` tries and ``delay_s`` between.

    ``strict=True`` re-raises the last error (fail the job loudly);
    ``strict=False`` reproduces the reference's ``return False``-style
    swallow (returns None) so an orchestration loop can continue to the
    next pipeline (``run_all_template.py:23-67``).
    """
    last: Exception | None = None
    for attempt in range(1, attempts + 1):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - mirrored contract
            last = exc
            log.warning("attempt %d/%d failed: %s", attempt, attempts, exc)
            if attempt < attempts:
                time.sleep(delay_s)
    if strict:
        assert last is not None
        raise last
    return None

