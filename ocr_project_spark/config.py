"""Layered job configuration — the S6 source.

The reference layers engine settings as hardcoded defaults ->
default.yaml -> engines.yaml -> custom dict, deep-merged with a dotted
getter (/root/reference/src/advanced_ocr/utils/config.py:63-185).  The
Spark-native analog layers, lowest to highest precedence:

    1. ENGINE_DEFAULTS (below)
    2. <config_dir>/default.yaml     (whole-job settings)
    3. <config_dir>/engines.yaml     (per-classifier/engine settings)
    4. an explicit --config file     (yaml or json)
    5. CLI/programmatic overrides    (dotted "a.b.c=value" strings)

and exposes the result to job.py plus a ``spark_conf()`` view whose
``spark.*`` subtree is applied to the session builder — config is data,
not code, so a cluster job ships one yaml next to --py-files.
"""

from __future__ import annotations

import json
import os
from typing import Any

ENGINE_DEFAULTS: dict[str, Any] = {
    "extract": {
        "normalize": None,            # K4-K6 tier or "auto"
        "retry_threshold": 0.3,       # PSM-retry gate (fuse_with_retry)
        "chunk_mega_docs": False,
        "mega_span_threshold": 256,   # salt threshold (task balance)
        "chunk_width": 65536,         # spans/chunk; ~1e5 measured crossover
    },
    "partitioning": {
        "n_buckets": 64,
        "bucket_batch_size": 8,
    },
    "classifiers": {
        "density": {"enabled": True},
    },
    # recognizer engines contributing media candidates (the reference's
    # engines.yaml enabled flags, config.py:84-96): fusion consumes
    # only candidates from enabled engines (F6/F7 availability filter)
    "engines": {
        "rec_a": {"enabled": True},
        "rec_b": {"enabled": True},
        "rec_c": {"enabled": True},
        "rec_d": {"enabled": True},
    },
    # spark.* defaults live in session.get_spark (machine-sized); this
    # subtree is for per-deployment overrides from the yaml layers.
    "spark": {},
}


def deep_merge(base: dict, override: dict) -> dict:
    """Pure deep merge (override wins); inputs are not mutated."""
    out = dict(base)
    for k, v in override.items():
        if isinstance(out.get(k), dict) and isinstance(v, dict):
            out[k] = deep_merge(out[k], v)
        else:
            out[k] = v
    return out


def _load_file(path: str) -> dict:
    with open(path) as f:
        if path.endswith(".json"):
            data = json.load(f)
        else:
            import yaml

            data = yaml.safe_load(f)
    if data is None:
        return {}
    if not isinstance(data, dict):
        from ocr_project_spark.errors import ConfigurationError

        raise ConfigurationError(f"config file {path!r} must contain a mapping")
    return data


def _parse_override(item: str) -> dict:
    """'a.b.c=value' -> nested single-entry dict, value via yaml scalar
    rules (so '8' is an int, 'true' a bool, 'auto' a string)."""
    key, _, raw = item.partition("=")
    if not _ or not key:
        from ocr_project_spark.errors import ConfigurationError

        raise ConfigurationError(
            f"override {item!r} is not of the form key.path=value"
        )
    import yaml

    value: Any = yaml.safe_load(raw) if raw != "" else None
    node: dict = {}
    cur = node
    parts = key.split(".")
    for p in parts[:-1]:
        cur[p] = {}
        cur = cur[p]
    cur[parts[-1]] = value
    return node


class Config:
    """Merged view with the reference's dotted getter."""

    def __init__(self, data: dict):
        self._data = data

    def get(self, dotted: str, default: Any = None) -> Any:
        cur: Any = self._data
        for part in dotted.split("."):
            if not isinstance(cur, dict) or part not in cur:
                return default
            cur = cur[part]
        return cur

    def as_dict(self) -> dict:
        return self._data

    def spark_conf(self) -> dict[str, str]:
        """The spark.* subtree as session conf (values stringified)."""
        return {k: str(v) for k, v in (self.get("spark") or {}).items()}


def load_config(
    config_dir: str | None = None,
    config_file: str | None = None,
    overrides: list[str] | None = None,
) -> Config:
    """Build the layered configuration (see module docstring).  Missing
    layer files are skipped silently, exactly like the reference's
    fallback chain; a missing explicit ``config_file`` is an error."""
    merged = ENGINE_DEFAULTS
    if config_dir:
        for name in ("default.yaml", "engines.yaml"):
            p = os.path.join(config_dir, name)
            if os.path.exists(p):
                merged = deep_merge(merged, _load_file(p))
    if config_file:
        merged = deep_merge(merged, _load_file(config_file))
    for item in overrides or []:
        merged = deep_merge(merged, _parse_override(item))
    return Config(merged)
