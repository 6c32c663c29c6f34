"""Env-driven engine configuration.

Mirrors the reference's dotenv-based config surface (utils/config.py:25-77,
.env.example:1-15) without any proprietary endpoints: everything is a plain
environment variable with a local-friendly default, so the full test suite
runs against the local filesystem with zero external services.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env(name: str, default: str) -> str:
    return os.environ.get(name, default)


@dataclass(frozen=True)
class EngineConfig:
    """The knobs the default session reads.

    cpus          local parallelism for the default session.
    shuffle_partitions
                  spark.sql.shuffle.partitions. On a real cluster size this
                  to ~2-3x total cores or rely on AQE coalescing; 32 locally.
    """

    cpus: int = field(default_factory=lambda: int(_env("SPARK_GRAFT_CPUS", "32")))
    shuffle_partitions: int = field(
        default_factory=lambda: int(_env("ENGINE_SHUFFLE_PARTITIONS", "32"))
    )


def load_config() -> EngineConfig:
    return EngineConfig()
