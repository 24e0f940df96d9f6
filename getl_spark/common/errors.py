"""Engine error types.

Mirrors the control-flow contract of the reference
(``getl/common/errors.py:43-61``): ``NoDataToProcess`` is raised by an
incremental source when its file registry reports nothing new, and the
executor catches it to end the whole job cleanly
(``getl/manager.py:50-51``).
"""

from __future__ import annotations


class NoDataToProcess(Exception):
    """Raised when a file registry finds no new files/rows to lift."""


class IndexHealthError(Exception):
    """A persisted ANN/dedup index failed its health gate (the
    ``retrain``/``attention`` trigger fired) before a maintenance
    operation that would have compounded the degradation. Carries
    ``readout`` — the full health row as a dict — so the caller's
    alert/rebuild path has the numbers without re-running the check."""

    def __init__(self, message: str, readout: dict):
        super().__init__(message)
        self.readout = readout


class ValidationError(Exception):
    """A ``transform::validate`` expectation with ``action: fail``
    found violating rows. Carries ``counts`` — a
    ``{expectation_name: violation_count}`` dict for the failing
    expectations."""

    def __init__(self, message: str, counts: dict):
        super().__init__(message)
        self.counts = counts
