"""Config loading with environment-variable interpolation.

Capability parity with the reference's config loader
(reference config_loader.py:14-97): YAML file -> dict, with ``${VAR}``
and ``${VAR:default}`` substitution applied recursively to every string
value. Undefined variables without a default raise, matching the
reference's fail-fast behavior.
"""

from __future__ import annotations

import math
import os
import re
from pathlib import Path
from typing import Any

import yaml

# ${VAR} or ${VAR:default} (reference config_loader.py:96 pattern)
_ENV_PATTERN = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)(?::([^}]*))?\}")


class ConfigError(Exception):
    """Invalid or incomplete configuration."""


def interpolate(value: str) -> str:
    """Substitute ``${VAR}`` / ``${VAR:default}`` from the environment."""

    def _sub(m: re.Match[str]) -> str:
        var, default = m.group(1), m.group(2)
        if var in os.environ:
            return os.environ[var]
        if default is not None:
            return default
        raise ConfigError(f"environment variable {var!r} is not set and has no default")

    return _ENV_PATTERN.sub(_sub, value)


def _walk(node: Any) -> Any:
    if isinstance(node, str):
        substituted = interpolate(node)
        # If the WHOLE scalar was one ${...} placeholder, re-parse the
        # substituted value with YAML scalar rules so numeric/bool env
        # values come back typed (scan_interval: ${INTERVAL} -> int).
        if substituted != node and _ENV_PATTERN.fullmatch(node.strip()):
            return yaml.safe_load(substituted)
        return substituted
    if isinstance(node, dict):
        return {k: _walk(v) for k, v in node.items()}
    if isinstance(node, list):
        return [_walk(v) for v in node]
    return node


DEFAULTS: dict[str, Any] = {
    "orchestrator": {
        "scan_interval": 30,
        "max_concurrent_loads": 1,
        "max_retries": 3,
        "retry_backoff_base": 2,
        "shutdown_timeout": 300,
        "max_databases": 50,
        "heap_threshold_percent": 85,
        "keep_count": 2,
    },
}


def load_config(path: str | Path | None = None, overrides: dict[str, Any] | None = None) -> dict[str, Any]:
    """Load YAML config, interpolate env vars, merge onto defaults."""
    merged: dict[str, Any] = {k: dict(v) for k, v in DEFAULTS.items()}
    if path is not None:
        raw = yaml.safe_load(Path(path).read_text()) or {}
        if not isinstance(raw, dict):
            raise ConfigError(f"config root must be a mapping, got {type(raw).__name__}")
        for section, values in _walk(raw).items():
            if isinstance(values, dict):
                merged.setdefault(section, {}).update(values)
            else:
                merged[section] = values
    if overrides:
        for section, values in overrides.items():
            if isinstance(values, dict):
                merged.setdefault(section, {}).update(values)
            else:
                merged[section] = values
    validate_config(merged)
    return merged


def validate_config(config: dict[str, Any]) -> None:
    """Fail fast on nonsensical orchestrator settings (reference
    orchestrator.py:500-521 validates the same fields)."""
    orch = config.get("orchestrator", {})
    for key in ("scan_interval", "shutdown_timeout"):
        val = orch.get(key)
        if not _finite(val) or val < 0:
            raise ConfigError(f"orchestrator.{key} must be a non-negative number, got {val!r}")
    # counts the orchestrator slices and compares with: a float or a
    # string here fails every load, and a negative keep_count slices
    # from the wrong end
    for key in ("max_concurrent_loads", "max_retries", "max_databases", "keep_count"):
        val = orch.get(key)
        if isinstance(val, bool) or not isinstance(val, int) or val < 0:
            raise ConfigError(f"orchestrator.{key} must be a non-negative int, got {val!r}")
    pct = orch.get("heap_threshold_percent")
    if isinstance(pct, bool) or not isinstance(pct, (int, float)) or not 0 < pct <= 100:
        raise ConfigError(f"orchestrator.heap_threshold_percent must lie in (0, 100], got {pct!r}")
    base = orch.get("retry_backoff_base", 2)
    if not _finite(base) or base < 1:
        raise ConfigError(f"orchestrator.retry_backoff_base must be a number >= 1, got {base!r}")


def _finite(val: Any) -> bool:
    """An int or a finite float, for the times the orchestrator sleeps
    and schedules retries by: a bool would silently mean 0 or 1, NaN
    never compares and infinity never wakes."""
    if isinstance(val, float):
        return math.isfinite(val)
    return isinstance(val, int) and not isinstance(val, bool)
