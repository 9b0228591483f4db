"""Typed user-input rejection for the operator layer.

The frontends convert :class:`OperatorValidationError` — and ONLY it —
into their user-facing query errors (``FluxError`` / ``InfluxQLError``).
A plain ``ValueError`` escaping an operator is therefore an ENGINE BUG
and surfaces as one, instead of being misreported as a user query
error (a blanket ``except ValueError`` at the frontend boundary would
hide stray internal errors).

Subclasses ``ValueError`` so direct DSL callers' existing
``except ValueError`` handling keeps working.
"""


class OperatorValidationError(ValueError):
    """An operator rejected a USER-SUPPLIED argument (bad duration
    unit, non-positive window, unknown quantile method, ...)."""
