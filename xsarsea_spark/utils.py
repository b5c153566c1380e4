"""Engine utilities: timing instrumentation.

Parity target: xsarsea ``utils.py:100-123`` (``@timing`` — wall time
and RSS delta per operator call).
"""

from __future__ import annotations

import functools
import logging
import resource
import time

logger = logging.getLogger("xsarsea_spark")

__all__ = ["timing"]


def timing(logger_fn=logger.debug):
    """Wall-clock + max-RSS-delta instrumentation (utils.py:100-123).

    Driver-side only: distributed work is measured by Spark's own
    task metrics; this wraps plan construction and driver actions.
    """

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                drss = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                        - rss0) / 1024.0
                logger_fn(
                    f"timing {fn.__module__}.{fn.__qualname__}: "
                    f"{dt:.3f}s, rss+{drss:.1f}MB")

        return wrapper

    return deco
