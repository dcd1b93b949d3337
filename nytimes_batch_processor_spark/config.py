"""Externalized engine configuration (O5, SURVEY.md §2.1).

The reference externalizes source URLs and DB credentials through typed
``@ConfigurationProperties`` layered over properties files and env vars
(``NytimesBatchProcessorApplication.kt:210-212``,
``application.properties:1-8``, ``deploy/deploy.sh:18-22``). This is the
engine's equivalent: one frozen, typed config object resolved from
(lowest to highest precedence) built-in defaults -> a properties file ->
environment variables — so a deployment never edits code to retarget
data dirs, parallelism, or memory.

Scale notes: ``shuffle_partitions`` defaults to the core count locally;
on a cluster set it ~2-3x total executor cores via the same env/file
knobs. No credential ever lands in this file — like the reference, the
secret-bearing values arrive only through the environment.
"""

from __future__ import annotations

import os
import typing
from collections.abc import Mapping
from dataclasses import dataclass

ENV_PREFIX = "SPARK_GRAFT_"
# Deployments point this at a java-style properties file to use the
# middle config layer without touching code (the reference's
# application.properties, deploy.sh:18-22 pattern).
PROPERTIES_ENV = "SPARK_GRAFT_PROPERTIES"


def _coerce(raw: str, typ: object):
    """Coerce a string setting to the field's REAL type (resolved via
    typing.get_type_hints, never the string annotation — `from
    __future__ import annotations` makes every annotation a string, so
    comparing ``field.type == "int"`` silently stops coercing the moment
    a field becomes ``int | None`` or the import is dropped)."""
    args = [a for a in typing.get_args(typ) if a is not type(None)]
    if args:  # Optional[X] / X | None -> coerce to X
        typ = args[0]
    if typ is bool:  # must precede int: bool is an int subclass
        low = raw.strip().lower()
        if low in ("true", "1", "yes", "on"):
            return True
        if low in ("false", "0", "no", "off"):
            return False
        raise ValueError(f"not a boolean: {raw!r}")
    if typ is int:
        return int(raw)
    if typ is float:
        return float(raw)
    return raw


def load_properties(path: str) -> dict[str, str]:
    """Parse a java-style ``key=value`` properties file (the reference's
    application.properties format): blank lines and '#' comments
    ignored, values may contain '='."""
    out: dict[str, str] = {}
    with open(path) as f:
        for raw in f:
            line = raw.strip()
            if not line or line.startswith("#"):
                continue
            key, sep, value = line.partition("=")
            if sep:
                out[key.strip()] = value.strip()
    return out


@dataclass(frozen=True)
class EngineConfig:
    """Typed engine settings. Fields mirror the knobs the reference
    externalized (sources, runtime) plus the Spark-specific ones
    every deployment must own."""

    sf_dir: str = "/root/testdata/sf0.1"  # fixture/source data root
    cpus: int = 0  # 0 = auto (os.cpu_count)
    shuffle_partitions: int = 0  # 0 = match cpus
    driver_memory: str = "8g"

    @classmethod
    def resolve(
        cls,
        properties_file: str | None = None,
        env: Mapping[str, str] | None = None,
    ) -> "EngineConfig":
        """defaults < properties file < SPARK_GRAFT_* env vars.

        ``properties_file`` defaults to $SPARK_GRAFT_PROPERTIES when
        set, so the file layer is reachable from a deployment without
        any code path passing it explicitly (get_spark calls resolve()
        bare)."""
        env = os.environ if env is None else env
        if properties_file is None:
            properties_file = env.get(PROPERTIES_ENV) or None
        layered: dict[str, str] = {}
        if properties_file is not None:
            layered.update(load_properties(properties_file))
        for field_name in cls.__dataclass_fields__:
            env_key = ENV_PREFIX + field_name.upper()
            if env_key in env:
                layered[field_name] = env[env_key]
        hints = typing.get_type_hints(cls)
        kwargs: dict[str, object] = {
            field_name: _coerce(raw, hints[field_name])
            for field_name, raw in layered.items()
            if field_name in cls.__dataclass_fields__
        }
        return cls(**kwargs)

    def effective_cpus(self) -> int:
        return self.cpus or os.cpu_count() or 4

    def effective_shuffle_partitions(self) -> int:
        return self.shuffle_partitions or max(self.effective_cpus(), 4)
