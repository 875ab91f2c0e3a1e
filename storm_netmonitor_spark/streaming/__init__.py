"""Structured Streaming operators (SURVEY §2.I)."""

from __future__ import annotations

import importlib

_MODULES = ("windows", "stateful", "alerts", "resume")


def load() -> None:
    for mod in _MODULES:
        importlib.import_module(f"{__name__}.{mod}")
