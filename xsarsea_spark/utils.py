"""Engine utilities: timing instrumentation + user config.

Parity targets: xsarsea ``utils.py:100-123`` (``@timing`` — wall time
and RSS delta per operator call) and ``utils.py:27-43``
(``_load_config`` — user config overriding packaged defaults).
"""

from __future__ import annotations

import functools
import json
import logging
import os
import resource
import time

logger = logging.getLogger("xsarsea_spark")

__all__ = ["timing", "load_config", "DEFAULT_CONFIG"]

DEFAULT_CONFIG = {
    "data_dir": "/tmp/xsarsea_spark_data",
}

_CONFIG_PATH = os.path.expanduser("~/.xsarsea_spark/config.json")


def load_config(path: str | None = None) -> dict:
    """Packaged defaults overridden by the user's JSON config
    (the YAML-config analog of utils.py:27-43; JSON because no YAML
    parser ships in this environment — gate one behind import-try)."""
    cfg = dict(DEFAULT_CONFIG)
    p = path or _CONFIG_PATH
    if os.path.exists(p):
        with open(p) as f:
            cfg.update(json.load(f))
    else:
        try:
            import yaml  # noqa: F401

            ypath = os.path.splitext(p)[0] + ".yml"
            if os.path.exists(ypath):
                with open(ypath) as f:
                    cfg.update(yaml.safe_load(f))
        except ImportError:
            pass
    return cfg


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
