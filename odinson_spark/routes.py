"""One record shape for every operator route decision.

Each decision logs, at INFO on the operator's module logger, one record:
``operator``, ``route``, the decision input ``estimate`` in ``unit`` next
to the ``cap`` it was compared with, and any observed actuals. The record
rides on the log record as ``route_decision`` and is printed as JSON.
"""

from __future__ import annotations

import json
import logging


def log_route(
    logger: logging.Logger, operator: str, route: str, estimate, cap, unit: str, **actual
) -> None:
    rec = {"operator": operator, "route": route, "estimate": estimate, "cap": cap,
           "unit": unit, **actual}
    logger.info("route %s", json.dumps(rec), extra={"route_decision": rec})
