"""Typed job configuration.

The reference drives its single pipeline from a YAML file with
``input.{source_type,path}`` / ``output.path`` /
``processing.{group_by_column,target_metric,top_n}``
(reference ``config/config_prod.yaml:3-13``, loader
``src/utils/config_helper.py:4-7``). This module is the typed,
validated version of that contract, generalized so the same config
shape can drive any grouped top-N (and, via ``plans.builder``, a
whole declarative pipeline).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, fields
from typing import Any

try:  # PyYAML is optional in this environment; JSON configs always work.
    import yaml  # type: ignore

    _HAVE_YAML = True
except Exception:  # pragma: no cover
    _HAVE_YAML = False

import json


@dataclass(frozen=True)
class IOConfig:
    path: str
    source_type: str = "file"  # 'file' | 's3' | 'hive' — reader registry key
    format: str = "parquet"  # parquet | csv | json
    options: dict[str, str] = field(default_factory=dict)


@dataclass(frozen=True)
class ProcessingConfig:
    group_by_column: str
    target_metric: str
    top_n: int = 3
    tiebreak_column: str | None = None  # deterministic tie-break (asc)


@dataclass(frozen=True)
class JobConfig:
    env: str
    input: IOConfig
    output: IOConfig | None
    processing: ProcessingConfig
    # optional declarative input-quality gate (operators/quality.py
    # check specs); a failing check aborts before anything is written
    quality: tuple[dict[str, Any], ...] = ()

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "JobConfig":
        inp = d.get("input") or {}
        out = d.get("output")
        proc = d.get("processing") or {}
        required = ("group_by_column", "target_metric")
        missing = [k for k in required if k not in proc]
        if missing:
            raise ValueError(f"processing config missing keys: {missing}")
        # a misspelled key (``tiebreak``, ``topN``) must not silently
        # run with the default it was meant to override
        unknown = sorted(set(proc) - {f.name for f in fields(ProcessingConfig)})
        if unknown:
            raise ValueError(f"processing config has unknown keys: {unknown}")
        top_n = int(proc.get("top_n", 3))
        if top_n <= 0:
            raise ValueError(f"top_n must be positive, got {top_n}")
        return JobConfig(
            env=str(d.get("env", "dev")),
            input=IOConfig(
                path=str(inp.get("path", "")),
                source_type=str(inp.get("source_type", "file")),
                format=str(inp.get("format", "parquet")),
                options=dict(inp.get("options") or {}),
            ),
            output=(
                IOConfig(
                    path=str(out.get("path", "")),
                    source_type=str(out.get("source_type", "file")),
                    format=str(out.get("format", "parquet")),
                    options=dict(out.get("options") or {}),
                )
                if out
                else None
            ),
            processing=ProcessingConfig(
                group_by_column=str(proc["group_by_column"]),
                target_metric=str(proc["target_metric"]),
                top_n=top_n,
                tiebreak_column=proc.get("tiebreak_column"),
            ),
            quality=tuple(d.get("quality") or ()),
        )


def load_config(env: str, config_dir: str = "configs") -> JobConfig:
    """Load ``{config_dir}/config_{env}.yaml`` (or ``.json``) into a
    validated :class:`JobConfig` — the typed equivalent of the
    reference loader (``config_helper.py:4-7``)."""
    for ext in ("yaml", "yml", "json"):
        path = os.path.join(config_dir, f"config_{env}.{ext}")
        if os.path.exists(path):
            with open(path) as f:
                if ext == "json":
                    raw = json.load(f)
                else:
                    if not _HAVE_YAML:
                        raise RuntimeError("PyYAML unavailable; use a .json config")
                    raw = yaml.safe_load(f)
            return JobConfig.from_dict(raw)
    raise FileNotFoundError(f"no config_{env}.(yaml|yml|json) under {config_dir}")
