"""OpenTelemetry-shaped tracing + metrics export.

The reference initializes an OTLP HTTP exporter for traces and
metrics with a batch span processor and resource attributes
(/root/reference/src/common/gizmosql_telemetry.cpp:139-162, exporting
to ``<endpoint>/v1/traces``). This environment has no network, so the
exporter here writes the same OTLP/JSON payload shape
(``resourceSpans → scopeSpans → spans`` with hex trace/span ids,
unix-nano times, attributes, status; ``resourceMetrics`` with sum
counters) to a JSONL file sink — the HTTP POST is a deploy-time swap
of ``_emit`` (one seam, same payload).

Span model for the engine, matching the reference's per-statement
tracing: ``execute_sql`` opens one ``statement.execute`` span per
statement (gates, rewrite, analysis; eager DML/DDL runs inside it).
Each materialization of a query result, ``Engine.collect`` for rows
and ``Engine.collect_arrow`` for Flight DoGet alike, then adds one
child ``statement.collect`` span from the single lifecycle
(``Engine._materialize``). It covers the admission queue wait plus
the materialization itself, and carries ``queue_wait_ms``, ``rows``
and the execution status (success / error / timeout / cancelled).
Recording spans is driver-side control-plane cost; nothing on the
data path.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import deque
from contextlib import contextmanager
from typing import Any

_SERVICE = "gizmosql-spark"


def _hex(nbytes: int) -> str:
    return os.urandom(nbytes).hex()


def _attr(key: str, value: Any) -> dict:
    if isinstance(value, bool):
        v = {"boolValue": value}
    elif isinstance(value, int):
        v = {"intValue": str(value)}
    elif isinstance(value, float):
        v = {"doubleValue": value}
    else:
        v = {"stringValue": str(value)}
    return {"key": key, "value": v}


class Span:
    __slots__ = ("trace_id", "span_id", "parent_id", "name", "start_ns",
                 "end_ns", "attributes", "status_code", "status_message")

    def __init__(self, name: str, trace_id: str | None = None,
                 parent_id: str | None = None,
                 attributes: dict[str, Any] | None = None):
        self.trace_id = trace_id or _hex(16)
        self.span_id = _hex(8)
        self.parent_id = parent_id
        self.name = name
        self.start_ns = time.time_ns()
        self.end_ns: int | None = None
        self.attributes = dict(attributes or {})
        self.status_code = "STATUS_CODE_OK"
        self.status_message = ""

    def set_attribute(self, key: str, value: Any) -> None:
        self.attributes[key] = value

    def set_error(self, message: str) -> None:
        self.status_code = "STATUS_CODE_ERROR"
        self.status_message = message

    def to_otlp(self) -> dict:
        return {
            "traceId": self.trace_id,
            "spanId": self.span_id,
            **({"parentSpanId": self.parent_id} if self.parent_id else {}),
            "name": self.name,
            "kind": "SPAN_KIND_SERVER",
            "startTimeUnixNano": str(self.start_ns),
            "endTimeUnixNano": str(self.end_ns or time.time_ns()),
            "attributes": [
                _attr(k, v) for k, v in self.attributes.items()],
            "status": {
                "code": self.status_code,
                **({"message": self.status_message}
                   if self.status_message else {}),
            },
        }


class Telemetry:
    """Tracer + counters with an OTLP/JSON file exporter."""

    def __init__(self, path: str | None = None, capacity: int = 4096,
                 service_name: str = _SERVICE,
                 resource_attributes: dict[str, Any] | None = None):
        self.path = path
        self.service_name = service_name
        self.resource_attributes = dict(resource_attributes or {})
        self._spans: deque[Span] = deque(maxlen=capacity)
        self._counters: dict[tuple[str, tuple], float] = {}
        self._lock = threading.Lock()

    # --- tracing ------------------------------------------------------

    @contextmanager
    def span(self, name: str, trace_id: str | None = None,
             parent_id: str | None = None, **attributes):
        s = Span(name, trace_id=trace_id, parent_id=parent_id,
                 attributes=attributes)
        try:
            yield s
        except Exception as exc:
            s.set_error(str(exc))
            raise
        finally:
            s.end_ns = time.time_ns()
            with self._lock:
                self._spans.append(s)
            if self.path:
                self._emit({"resourceSpans": [self._resource_spans([s])]})

    def spans(self) -> list[Span]:
        with self._lock:
            return list(self._spans)

    # --- metrics ------------------------------------------------------

    def add_counter(self, name: str, value: float = 1.0,
                    **labels: Any) -> None:
        key = (name, tuple(sorted(labels.items())))
        with self._lock:
            self._counters[key] = self._counters.get(key, 0.0) + value

    def counter_value(self, name: str, **labels: Any) -> float:
        key = (name, tuple(sorted(labels.items())))
        with self._lock:
            return self._counters.get(key, 0.0)

    # --- OTLP export --------------------------------------------------

    def _resource(self) -> dict:
        return {
            "attributes": [
                _attr("service.name", self.service_name),
                *[_attr(k, v)
                  for k, v in self.resource_attributes.items()],
            ]
        }

    def _resource_spans(self, spans: list[Span]) -> dict:
        return {
            "resource": self._resource(),
            "scopeSpans": [{
                "scope": {"name": "gizmosql_spark.telemetry"},
                "spans": [s.to_otlp() for s in spans],
            }],
        }

    def export_traces(self) -> dict:
        """The OTLP/JSON payload a ``POST <endpoint>/v1/traces`` would
        carry (gizmosql_telemetry.cpp:149)."""
        return {"resourceSpans": [self._resource_spans(self.spans())]}

    def export_metrics(self) -> dict:
        now = str(time.time_ns())
        with self._lock:
            items = list(self._counters.items())
        points: dict[str, list] = {}
        for (name, labels), value in items:
            points.setdefault(name, []).append({
                "attributes": [_attr(k, v) for k, v in labels],
                "timeUnixNano": now,
                "asDouble": value,
            })
        return {
            "resourceMetrics": [{
                "resource": self._resource(),
                "scopeMetrics": [{
                    "scope": {"name": "gizmosql_spark.telemetry"},
                    "metrics": [
                        {
                            "name": name,
                            "sum": {
                                "dataPoints": dps,
                                "aggregationTemporality":
                                    "AGGREGATION_TEMPORALITY_CUMULATIVE",
                                "isMonotonic": True,
                            },
                        }
                        for name, dps in points.items()
                    ],
                }],
            }]
        }

    def _emit(self, payload: dict) -> None:
        """File sink; a deployment swaps this for the OTLP HTTP POST."""
        try:
            with open(self.path, "a", encoding="utf-8") as f:
                json.dump(payload, f)
                f.write("\n")
        except OSError:
            pass

    def flush(self) -> None:
        if self.path:
            self._emit(self.export_metrics())
