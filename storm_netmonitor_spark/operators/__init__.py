"""Batch relational operators (SURVEY §2.A–2.H, §2.J, §2.K)."""

from __future__ import annotations

import importlib

_MODULES = (
    "scans",
    "projections",
    "joins",
    "aggregations",
    "windows",
    "sorts",
    "setops",
    "scalars",
    "udfs",
    "text",
    "vectors",
    # NB: modules added in later rounds register at the END so they slot
    # behind the operators still awaiting a driver verdict (registry.
    # driver_ordered preserves registration order within the unverified
    # block — new ops must not displace older unverified ones from the
    # driver's capped check window).
    "pipeline",
    "extras",
    "corpus",
    "tpch",
    "surface",
    "corpus2",
    "events_analytics",
    "incremental",
    "extensions3",
    "extensions4",
    "scale_probes",
    "quality",
    "extensions5",
    "extensions6",
    "extensions7",
    "extensions8",
    "extensions9",
    "extensions10",
    "extensions11",
    "extensions12",
    "extensions13",
    "extensions14",
    "extensions15",
    "extensions16",
    "extensions17",
    "extensions18",
    "extensions19",
    "extensions20",
)


def load() -> None:
    """Import every operator module so @query registrations run."""
    for mod in _MODULES:
        importlib.import_module(f"{__name__}.{mod}")
