"""Atomic incremental-cursor state persistence.

Capability parity with /root/reference/src/data_extractor/state.py:30-77:
a JSON file mapping pipeline name -> last cursor value, written via
temp-file + atomic rename; corrupt/missing files reset to ``{}``. At
cluster scale the same interface can be backed by a 1-row table per
pipeline; the driver-side JSON file is correct for a single orchestrator.

Beside the cursors, the reserved key ``__schema_pins__`` maps pipeline
name -> the schema pin its source stored with the last committed cursor
(see ``sources.files.ParquetSource``). A pin is staged before the load's
commit and written in the cursor's own atomic write, so a failed load
saves neither.
"""

from __future__ import annotations

import json
import os
import tempfile
from pathlib import Path
from typing import Any

_PINS = "__schema_pins__"


def _put_pin(data: dict[str, Any], pipeline: str, pin: dict[str, Any] | None) -> None:
    pins = data.pop(_PINS, None)
    pins = pins if isinstance(pins, dict) else {}
    if pin is None:
        pins.pop(pipeline, None)
    else:
        pins[pipeline] = pin
    if pins:
        data[_PINS] = pins


class StateManager:
    def __init__(self, path: str | Path = ".pipeline_state.json") -> None:
        self.path = Path(path)
        self._staged_pins: dict[str, dict[str, Any] | None] = {}

    def _read_all(self) -> dict[str, Any]:
        try:
            with open(self.path, "r", encoding="utf-8") as fh:
                data = json.load(fh)
            return data if isinstance(data, dict) else {}
        except (FileNotFoundError, json.JSONDecodeError):
            return {}

    def get(self, pipeline: str, default: Any = None) -> Any:
        return self._read_all().get(pipeline, default)

    def get_pin(self, pipeline: str) -> dict[str, Any] | None:
        pins = self._read_all().get(_PINS)
        return pins.get(pipeline) if isinstance(pins, dict) else None

    def stage_pin(self, pipeline: str, pin: dict[str, Any] | None) -> None:
        """Stage the schema pin the next ``set(pipeline, ...)`` writes
        beside the cursor; None drops a stored pin."""
        self._staged_pins[pipeline] = pin

    def set(self, pipeline: str, cursor: Any) -> None:
        # numpy / pandas scalars -> native JSON types
        if hasattr(cursor, "item"):
            cursor = cursor.item()
        if hasattr(cursor, "isoformat"):
            cursor = cursor.isoformat()
        data = self._read_all()
        data[pipeline] = cursor
        if pipeline in self._staged_pins:
            _put_pin(data, pipeline, self._staged_pins.pop(pipeline))
        self._write_all(data)

    def clear(self, pipeline: str | None = None) -> None:
        if pipeline is None:
            if self.path.exists():
                self.path.unlink()
            return
        data = self._read_all()
        data.pop(pipeline, None)
        _put_pin(data, pipeline, None)
        self._write_all(data)

    def _write_all(self, data: dict[str, Any]) -> None:
        self.path.parent.mkdir(parents=True, exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            dir=str(self.path.parent), prefix=self.path.name, suffix=".tmp"
        )
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as fh:
                json.dump(data, fh, indent=2, default=str)
            os.replace(tmp, self.path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

