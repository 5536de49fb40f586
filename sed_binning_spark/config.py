"""Layered YAML configuration, mirroring the reference's precedence rules.

The reference merges (highest priority first): explicit config dict/file >
folder config (./sed_config.yaml) > user config (~/.sed/config.yaml) >
system config (/etc/sed/config.yaml) > package defaults
(sed/core/config.py:19-141 in the reference). Same semantics here — a pure
driver-side concern, no Spark involvement.

Also hosts the column-role registry: canonical roles (x_column, tof_column,
energy_column, ...) bound to concrete column names per instrument, and the
``@role`` alias resolution used in axis specs (sed/core/processor.py:2102-2104).
"""

from __future__ import annotations

import copy
import os
from pathlib import Path

import yaml

# Engine defaults: the canonical column roles of the reference's default
# config (sed/config/default.yaml:5-43), plus binning execution knobs.
DEFAULT_CONFIG: dict = {
    "core": {"loader": "generic"},
    "dataframe": {
        "x_column": "X",
        "y_column": "Y",
        "tof_column": "t",
        "adc_column": "ADC",
        "corrected_x_column": "Xm",
        "corrected_y_column": "Ym",
        "corrected_tof_column": "tm",
        "kx_column": "kx",
        "ky_column": "ky",
        "energy_column": "energy",
        "delay_column": "delay",
        "time_stamp_alias": "timeStamps",
        "timed_dataframe_unit_time": 0.001,
        "jitter_cols": ["@x_column", "@y_column", "@tof_column"],
        "jitter_amps": 0.5,
        # TOF bin width in seconds and the power-of-two binning factor of
        # the stored tof column (reference sed/config/default.yaml:33-35)
        "tof_binwidth": 4.125e-12,
        "tof_binning": 1,
    },
    # momentum correction/calibration defaults
    # (reference sed/config/default.yaml:79-97)
    "momentum": {
        "axes": ["@x_column", "@y_column", "@tof_column"],
        "bins": [512, 512, 300],
        "ranges": [[-256, 1792], [-256, 1792], [132000, 138000]],
        "detector_ranges": [[0, 2048], [0, 2048]],
        "center_pixel": [256, 256],
        "rotation_symmetry": 6,
    },
    # energy calibration defaults (reference sed/config/default.yaml:44-56)
    "energy": {
        "bins": 1000,
        "ranges": [100000, 150000],
        "normalize": True,
        "normalize_span": 7,
        "normalize_order": 1,
        "peak_window": 7,
        "calibration_method": "lmfit",
        "energy_scale": "kinetic",
    },
    "binning": {
        "hist_mode": "spark",
        "mode": "fast",
        "pbar": False,
        "threads_per_worker": 4,
        "threadpool_API": "blas",
    },
    "histogram": {},
}


def deep_merge(base: dict, override: dict) -> dict:
    """Recursively merge ``override`` into ``base`` (override wins).

    A None override of an existing dict section is a no-op: a bare
    ``section:`` line in YAML parses as None, and letting it clobber the
    whole default section would break every consumer of that section with
    opaque NoneType errors far from the config.
    """
    out = copy.deepcopy(base)
    for k, v in override.items():
        if k in out and isinstance(out[k], dict) and isinstance(v, dict):
            out[k] = deep_merge(out[k], v)
        elif v is None and isinstance(out.get(k), dict):
            continue
        else:
            out[k] = copy.deepcopy(v)
    return out


def load_yaml(path: str | Path) -> dict:
    with open(path, encoding="utf-8") as fh:
        return yaml.safe_load(fh) or {}


def save_config(config: dict, path: str | Path = "sed_config.yaml",
                overwrite: bool = False) -> None:
    """Persist (or merge into) a folder config YAML — the reference's
    save_config round trip (sed/core/config.py): without ``overwrite`` the
    new values deep-merge over any existing file, preserving unrelated
    sections; numpy scalars/arrays are converted to plain YAML types."""
    path = Path(path)
    out = _yaml_safe(config)
    if path.exists() and not overwrite:
        existing = load_yaml(path)
        if not isinstance(existing, dict):
            raise ValueError(
                f"existing config {path} is not a mapping "
                f"(top-level {type(existing).__name__}); cannot merge — "
                "pass overwrite=True to replace it",
            )
        out = deep_merge(existing, out)
    with open(path, "w", encoding="utf-8") as fh:
        yaml.safe_dump(out, fh, sort_keys=False)


def _yaml_safe(value):
    """Recursively convert numpy containers/scalars to YAML-native types."""
    import numpy as np

    if isinstance(value, dict):
        return {str(k): _yaml_safe(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_yaml_safe(v) for v in value]
    if isinstance(value, np.ndarray):
        return [_yaml_safe(v) for v in value.tolist()]
    if isinstance(value, np.generic):
        return value.item()
    return value


def parse_config(
    config: dict | str | Path | None = None,
    folder_config: dict | str | Path | None = None,
    user_config: dict | str | Path | None = None,
    system_config: dict | str | Path | None = None,
    default_config: dict | None = None,
    verify: bool = False,
) -> dict:
    """Merge config layers with the reference's precedence
    (sed/core/config.py:19-141): config > folder > user > system > default.

    Each layer may be a dict, a path to a YAML file, or None. The implicit
    folder/user/system files are skipped silently when absent (as in the
    reference); an EXPLICITLY passed ``config`` path that does not exist
    raises FileNotFoundError — a typo'd path must not silently demote the
    run to lower-priority configs. ``verify=True`` adds structural checks
    (sections are mappings, channel specs carry a known format).
    """

    def _as_dict(layer, default_path: str | None = None, explicit: bool = False) -> dict:
        if layer is None and default_path is not None:
            layer = default_path
        if layer is None:
            return {}
        if isinstance(layer, dict):
            return layer
        p = Path(layer)
        if p.exists():
            return load_yaml(p)
        if explicit:
            raise FileNotFoundError(f"config file {p} does not exist")
        return {}

    layers = [
        _as_dict(config, explicit=True),
        _as_dict(folder_config, os.path.join(os.getcwd(), "sed_config.yaml"),
                 explicit=folder_config is not None),
        _as_dict(user_config, os.path.expanduser("~/.sed/config.yaml"),
                 explicit=user_config is not None),
        _as_dict(system_config, "/etc/sed/config.yaml",
                 explicit=system_config is not None),
        default_config if default_config is not None else DEFAULT_CONFIG,
    ]
    merged: dict = {}
    # lowest priority first so later (higher-priority) layers override
    for layer in reversed(layers):
        merged = deep_merge(merged, layer)
    if verify:
        _verify_config(merged)
    return merged


def _verify_config(config: dict) -> None:
    """Structural validation (the reference runs its pydantic config model
    here): known sections must be mappings, and every channel spec must
    carry a known format plus an addressable dataset."""
    for section in ("core", "dataframe", "binning", "histogram", "energy",
                    "momentum", "delay", "metadata", "nexus"):
        if section in config and not isinstance(config[section], dict):
            raise ValueError(
                f"config section {section!r} must be a mapping, got "
                f"{type(config[section]).__name__}",
            )
    paths = config.get("core", {}).get("paths", {})
    if paths and not isinstance(paths, dict):
        raise ValueError("config core.paths must be a mapping")
    channels = config.get("dataframe", {}).get("channels", {})
    if channels and not isinstance(channels, dict):
        raise ValueError("config dataframe.channels must be a mapping")
    for name, spec in (channels or {}).items():
        if not isinstance(spec, dict):
            raise ValueError(f"channel {name!r} spec must be a mapping")
        fmt = spec.get("format")
        if fmt not in ("per_electron", "per_pulse", "per_train"):
            raise ValueError(
                f"channel {name!r} has invalid format {fmt!r} (expected "
                "per_electron | per_pulse | per_train)",
            )
        if "group_name" not in spec and (
            "index_key" not in spec or "dataset_key" not in spec
        ):
            raise ValueError(
                f"channel {name!r} needs group_name or index_key+dataset_key",
            )


def resolve_alias(name: str, config: dict) -> str:
    """Resolve an ``@role`` axis alias to the concrete column name.

    ``"@x_column"`` -> ``config["dataframe"]["x_column"]``
    (sed/core/processor.py:2102-2104 in the reference). Non-``@`` names pass
    through unchanged.
    """
    if not name.startswith("@"):
        return name
    role = name[1:]
    try:
        return config["dataframe"][role]
    except KeyError as exc:
        raise KeyError(f"column role {role!r} not bound in config['dataframe']") from exc

