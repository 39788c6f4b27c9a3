"""Tiling settings — driver-side validated config with the reference's
observable semantics (reference src/cloudtile/tippecanoe.py:14-116, behaviors
pinned by reference tests/test_tippecanoe.py and mirrored in
tests/test_settings.py):

- defaults from packaged ``tiling.yaml`` (``defaults:`` mapping); the
  ``valid-options:`` list defines the accepted key universe — unknown key
  raises KeyError;
- key normalization ``_`` -> ``-``;
- zoom ordering enforced on set; ``maximum-zoom == "g"`` ("guess") escapes
  the check;
- empty config file raises ValueError; missing file FileNotFoundError;
- precedence: packaged defaults < --config file (replaces wholesale) <
  explicit kwargs.

Config files may use either this package's ``defaults:``/flat-mapping
format or the reference's grouped-sections yaml — both flatten to the same
key space. Settings parameterize the Spark pyramid plan directly
(operators/pyramid.py, operators/mvt.py); nothing becomes CLI argv.
"""

from __future__ import annotations

from collections import UserDict
from importlib.resources import files
from pathlib import Path
from typing import Any, Optional

import yaml


def _flatten(doc: Any, path: str) -> tuple[dict[str, Any], list[str]]:
    """Accept the packaged format ({defaults, valid-options}), a flat
    mapping, or the reference's grouped-sections format. Returns
    (settings, valid_keys or [])."""
    if doc is None:
        raise ValueError(f"{path} seems to be empty")
    if not isinstance(doc, dict):
        raise ValueError(f"{path}: expected a mapping")
    if "defaults" in doc or "valid-options" in doc:
        return dict(doc.get("defaults") or {}), list(doc.get("valid-options") or [])
    if any(isinstance(v, dict) for v in doc.values()):
        flat: dict[str, Any] = {}
        for v in doc.values():
            if isinstance(v, dict):
                flat.update(v)
        return flat, []
    return dict(doc), []


def _load_yaml(cfg_path: Optional[str]) -> tuple[dict[str, Any], list[str]]:
    if cfg_path is None:
        text = (files("cloudtile_spark") / "tiling.yaml").read_text()
        return _flatten(yaml.safe_load(text), "<packaged tiling.yaml>")
    path = Path(cfg_path).resolve()
    if not path.exists():
        raise FileNotFoundError(f"Config file {path} not found")
    return _flatten(yaml.safe_load(path.read_text(encoding="utf-8")), str(path))


class TilingSettings(UserDict):
    """Validated dict of tiling options (tippecanoe-compatible keys)."""

    _VALIDATORS = {}  # key -> callable(self, value); populated below

    def __init__(self, cfg_path: Optional[str] = None, **kwargs: Any) -> None:
        _, universe = _load_yaml(None)
        self._valid_keys = set(universe)
        super().__init__()
        initial, _ = _load_yaml(cfg_path)
        for source in (initial, kwargs):
            for k, v in source.items():
                self[k] = v

    def __repr__(self) -> str:
        shown = {k: v for k, v in self.items() if v is not False}
        return f"TilingSettings({shown})"

    def __setitem__(self, key: str, value: Any) -> None:
        key = key.replace("_", "-")
        if key not in self._valid_keys:
            raise KeyError(f"Setting {key} is not a valid tiling setting.")
        check = self._VALIDATORS.get(key)
        if check is not None:
            check(self, value)
        super().__setitem__(key, value)

    def override_settings(self, **kwargs: Any) -> None:
        for k, v in kwargs.items():
            self[k] = v

    # --- remote-execution job-spec round-trip (A16) ----------------------
    # The reference re-serializes its parsed args into a CLI argv for the
    # remote container (cli/__init__.py convert_to_list_args). The Spark
    # analogue is a JSON job spec shipped to spark-submit: settings +
    # job/src/out survive the driver->cluster hop losslessly.

    def to_job_spec(self, job: str, src: str, out: str,
                    **extra: Any) -> dict[str, Any]:
        return {"job": job, "src": src, "out": out,
                "settings": dict(self.data), **extra}

    @classmethod
    def from_job_spec(cls, spec: dict[str, Any]) -> "TilingSettings":
        s = cls()
        # zoom pair first (min then max): validators compare against the
        # other bound, and arbitrary dict order could transiently violate
        # the min<=max invariant mid-load
        st = dict(spec.get("settings") or {})
        for zk in ("minimum-zoom", "maximum-zoom"):
            if zk in st:
                s[zk] = st.pop(zk)
        for k, v in st.items():
            s[k] = v
        return s


def _check_max_zoom(s: TilingSettings, value: Any) -> None:
    if value == "g":  # "guess": pyramid.tiling_input resolves it
        return
    if "minimum-zoom" in s and value < s["minimum-zoom"]:
        raise ValueError("Maximum zoom cannot be less than minimum zoom.")


def _check_min_zoom(s: TilingSettings, value: Any) -> None:
    maxz = s.get("maximum-zoom")
    if maxz is not None and maxz != "g" and value > maxz:
        raise ValueError("Minimum zoom cannot be greater than maximum zoom.")


def layer_name(settings: Optional[TilingSettings]) -> str:
    """The one MVT layer name: tippecanoe ``named-layer``, else "features".
    The tile encoders and the archive's tilestats both read it here."""
    return (settings.get("named-layer") if settings else None) or "features"


TilingSettings._VALIDATORS = {
    "maximum-zoom": _check_max_zoom,
    "minimum-zoom": _check_min_zoom,
}
