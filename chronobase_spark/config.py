"""File-based engine configuration — Spark-native analog of the
reference's JSON config (reference internal/config/config.go:11-42
``Config``, :154-170 ``LoadConfig``, :173-208 ``SaveConfig``/``Validate``).

The reference validates storage-engine knobs (tablet size, block size,
buffer pool…) that have no direct meaning on Spark; SURVEY.md §4 maps
each onto the session/config surface that *does* govern the same
behavior here:

=====================  ==============================================
reference knob         Spark-native effect (``to_spark_conf``)
=====================  ==============================================
compression_type/lvl   spark.sql.parquet.compression.codec
block_size             spark.sql.files.maxPartitionBytes (scan split)
max_tablet_size        target output file size (writers roll files)
query_concurrency      spark.sql.shuffle.partitions
max_memory_usage       spark.driver.memory (local mode single JVM)
flush_interval         streaming trigger interval (ingest jobs)
merge/maintenance/...  batch-job schedule hints (external scheduler)
=====================  ==============================================

Durations accept Go-style strings (``"10m"``, ``"1h30m"``, ``"45s"``)
or raw numbers (seconds), mirroring the reference's Duration JSON codec
(config.go:49-76, which takes strings or numbers).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import asdict, dataclass, field

_DUR_RE = re.compile(r"(\d+(?:\.\d+)?)(ms|h|m|s)")
_DUR_SECONDS = {"h": 3600.0, "m": 60.0, "s": 1.0, "ms": 0.001}


def parse_duration(value: float | int | str) -> float:
    """Duration → seconds. Accepts numbers (seconds) or Go-style strings."""
    if isinstance(value, (int, float)):
        return float(value)
    s = value.strip()
    if not s:
        raise ValueError("empty duration")
    pos, total = 0, 0.0
    for m in _DUR_RE.finditer(s):
        if m.start() != pos:
            break
        total += float(m.group(1)) * _DUR_SECONDS[m.group(2)]
        pos = m.end()
    if pos != len(s):
        raise ValueError(f"invalid duration: {value!r}")
    return total


def format_duration(seconds: float) -> str:
    """Seconds → compact Go-style string (inverse of :func:`parse_duration`).

    Fractional seconds render fixed-point, never scientific notation —
    ``f"{1e-05}s"`` would produce ``"1e-05s"``, which the parser rejects
    and which would make a saved config unreadable."""
    if seconds == int(seconds):
        n = int(seconds)
        if n % 3600 == 0 and n:
            return f"{n // 3600}h"
        if n % 60 == 0 and n:
            return f"{n // 60}m"
        return f"{n}s"
    return f"{seconds:.9f}".rstrip("0") + "s"


@dataclass
class EngineConfig:
    """Engine configuration with the reference's field surface
    (config.go:11-42) and its defaults (config.go:79-113) translated to
    the Spark posture (zstd over gzip — columnar zstd dominates the
    reference's per-block gzip on ratio and scan speed)."""

    # basic
    data_dir: str = "./data"
    max_tablet_size: int = 256 * 1024 * 1024
    block_size: int = 128 * 1024 * 1024  # scan-split granularity on Spark
    flush_interval_s: float = 600.0
    merge_interval_s: float = 3600.0
    # compression
    compression_enabled: bool = True
    compression_type: str = "zstd"
    compression_level: int = 3
    # performance
    max_memory_usage: int = 8 * 1024 * 1024 * 1024
    max_open_files: int = 1000
    buffer_pool_size: int = 128 * 1024 * 1024
    concurrent_merges: int = 2
    query_concurrency: int = 32
    # maintenance
    maintenance_interval_s: float = 3600.0
    max_file_age_s: float = 30 * 24 * 3600.0
    backup_interval_s: float = 24 * 3600.0
    backup_retention: int = 7
    # logging
    log_level: str = "WARN"
    log_file: str = "db.log"
    enable_metrics: bool = True
    # passthrough for any raw spark conf the user pins
    extra_spark_conf: dict[str, str] = field(default_factory=dict)

    def validate(self) -> None:
        """Mirror of the reference's Validate (config.go:173-208): every
        size/count positive, durations non-negative, known codec."""
        if not self.data_dir:
            raise ValueError("data_dir is required")
        for name in (
            "max_tablet_size",
            "block_size",
            "max_open_files",
            "buffer_pool_size",
            "concurrent_merges",
            "query_concurrency",
            "max_memory_usage",
            "backup_retention",
        ):
            if getattr(self, name) <= 0:
                raise ValueError(f"{name} must be positive")
        for name in (
            "flush_interval_s",
            "merge_interval_s",
            "maintenance_interval_s",
            "max_file_age_s",
            "backup_interval_s",
        ):
            if getattr(self, name) < 0:
                raise ValueError(f"{name} must be non-negative")
        if self.compression_type not in ("zstd", "snappy", "gzip", "lz4", "none"):
            raise ValueError(f"unknown compression_type {self.compression_type!r}")

    def to_spark_conf(self) -> dict[str, str]:
        """The session configuration this config implies (fed to
        ``session.get_spark(extra_conf=...)``)."""
        codec = self.compression_type if self.compression_enabled else "uncompressed"
        conf = {
            "spark.sql.parquet.compression.codec": codec,
            "spark.sql.files.maxPartitionBytes": str(self.block_size),
            "spark.sql.shuffle.partitions": str(self.query_concurrency),
            "spark.driver.memory": f"{max(self.max_memory_usage // (1024**2), 512)}m",
        }
        if self.compression_type == "zstd":
            conf["spark.io.compression.zstd.level"] = str(self.compression_level)
        conf.update(self.extra_spark_conf)
        return conf


_DURATION_FIELDS = {
    "flush_interval": "flush_interval_s",
    "merge_interval": "merge_interval_s",
    "maintenance_interval": "maintenance_interval_s",
    "max_file_age": "max_file_age_s",
    "backup_interval": "backup_interval_s",
}


def load_config(path: str) -> EngineConfig:
    """Load + validate a JSON config file, unknown-key tolerant, defaults
    applied for absent keys (reference LoadConfig, config.go:154-170)."""
    with open(path) as fh:
        raw = json.load(fh)
    if not isinstance(raw, dict):
        raise ValueError("config root must be a JSON object")
    cfg = EngineConfig()
    known = set(asdict(cfg))
    for key, value in raw.items():
        if key in _DURATION_FIELDS:
            setattr(cfg, _DURATION_FIELDS[key], parse_duration(value))
        elif key in known:
            if key.endswith("_s"):
                value = parse_duration(value)
            setattr(cfg, key, value)
        # unknown keys ignored: forward-compatible, like json.Unmarshal
    cfg.validate()
    return cfg


def save_config(cfg: EngineConfig, path: str) -> None:
    """Validate + write (reference SaveConfig, config.go:173-193).
    Durations serialize as Go-style strings for round-trip parity."""
    cfg.validate()
    raw = asdict(cfg)
    for json_key, attr in _DURATION_FIELDS.items():
        raw[json_key] = format_duration(raw.pop(attr))
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(raw, fh, indent=4, sort_keys=True)
