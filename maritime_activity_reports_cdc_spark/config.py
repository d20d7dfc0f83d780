"""Declarative engine configuration.

Functional rebuild of the reference's config tree (``models/config.py:
141-169`` in /root/reference: yaml -> pydantic models -> SparkConf).
Here: one TOML file (stdlib ``tomllib`` — no extra dependency) -> typed
dataclasses -> session/pipeline/CLI defaults. A user deploying to a real
cluster edits ONE file instead of env vars + flags; explicit CLI flags
still win over the file, and the file wins over built-in defaults.

Example (every key optional)::

    [session]
    master = "local[32]"
    shuffle_partitions = 64
    app_name = "transcripts-cdc"

    [lake]
    n_buckets = 256
    layer_mode = "auto"     # cow | auto (silver refresh plan)
    compact_every = 8
    compact_delta_depth = 8
    derived_every = 2
    expire_keep_last = 10

    [maintenance]
    target_file_rows = 4000000
    sort_by = ["conv_id", "turn_idx"]

    [replay]
    chunks = 8

``setup`` records ``compact_every``, ``compact_delta_depth`` and
``derived_every`` in the lake (bronze table properties, next to
``n_buckets``), so ``replay``, ``stream`` and ``relay`` run the cadence
the lake was set up with; a lake set up before they were recorded runs
the defaults.

Unknown keys are errors: a file that still sets a removed knob fails
with "unknown key". Removed so far: ``[replay] adaptive_shuffle`` (gone
since the relay stopped narrowing its shuffles per epoch) and ``[lake]
bronze_mode`` (gone since bronze became merge-on-read only). The
forced ``turn`` layer mode is gone too: a file naming it fails
validation, and a lake stamped ``turn`` loads as ``auto`` (the same
key-MoR silver layout).
"""

from __future__ import annotations

import dataclasses
import tomllib

# accepted values of the derived-layer mode; MedallionPipeline.create/load
# and the CLI validate against these
LAYER_MODES = ("cow", "auto")


@dataclasses.dataclass
class SessionConfig:
    master: str | None = None
    shuffle_partitions: int | None = None
    app_name: str = "transcripts-cdc-engine"


@dataclasses.dataclass
class LakeConfig:
    n_buckets: int = 32
    layer_mode: str = "cow"
    compact_every: int = 8
    compact_delta_depth: int = 8
    derived_every: int = 1
    expire_keep_last: int | None = None


@dataclasses.dataclass
class MaintenanceConfig:
    target_file_rows: int | None = None
    sort_by: tuple[str, ...] = ("conv_id", "turn_idx")


@dataclasses.dataclass
class ReplayConfig:
    chunks: int = 8


@dataclasses.dataclass
class EngineConfig:
    session: SessionConfig = dataclasses.field(default_factory=SessionConfig)
    lake: LakeConfig = dataclasses.field(default_factory=LakeConfig)
    maintenance: MaintenanceConfig = dataclasses.field(default_factory=MaintenanceConfig)
    replay: ReplayConfig = dataclasses.field(default_factory=ReplayConfig)


def _section(cls, data: dict, name: str):
    raw = data.get(name, {})
    if not isinstance(raw, dict):
        raise ValueError(f"config section [{name}] must be a table, got {type(raw).__name__}")
    fields = {f.name: f for f in dataclasses.fields(cls)}
    unknown = set(raw) - set(fields)
    if unknown:
        raise ValueError(f"unknown key(s) in [{name}]: {sorted(unknown)}")
    kwargs = {}
    for k, v in raw.items():
        if fields[k].name == "sort_by":
            v = tuple(v)
        kwargs[k] = v
    return cls(**kwargs)


def load_config(path: str) -> EngineConfig:
    """Parse and validate a TOML config file (unknown keys are errors —
    a typo'd knob must not silently fall back to a default)."""
    with open(path, "rb") as fh:
        data = tomllib.load(fh)
    unknown = set(data) - {"session", "lake", "maintenance", "replay"}
    if unknown:
        raise ValueError(f"unknown config section(s): {sorted(unknown)}")
    cfg = EngineConfig(
        session=_section(SessionConfig, data, "session"),
        lake=_section(LakeConfig, data, "lake"),
        maintenance=_section(MaintenanceConfig, data, "maintenance"),
        replay=_section(ReplayConfig, data, "replay"),
    )
    if cfg.lake.layer_mode not in LAYER_MODES:
        raise ValueError(
            f"lake.layer_mode must be {'|'.join(LAYER_MODES)}, got {cfg.lake.layer_mode!r}"
        )
    return cfg
