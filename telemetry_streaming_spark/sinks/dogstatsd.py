"""DogStatsD UDP sink (K7) + datagram formatting.

Reference: DogStatsDMetric.scala:9-49 (format + normalization),
DogStatsDMetricSink.scala:11-30 (UDP ForeachWriter).  Datagram:
``name:value|type[|@rate][|#k:v,...]`` with ``[:|@] -> _`` normalized
in names and tags (never in the value).
"""

from __future__ import annotations

import re
import socket

_RESERVED = re.compile(r"[:|@]")


def normalize(s: str) -> str:
    return _RESERVED.sub("_", s)


def format_datagram(
    name: str,
    value: str,
    metric_type: str,
    kv_tags: dict[str, str] | None = None,
    bare_tags: list[str] | None = None,
    sample_rate: float | None = None,
) -> str:
    parts = [f"{normalize(name)}:{value}", metric_type]
    if sample_rate is not None:
        parts.append(f"@{sample_rate}")
    tags = []
    if kv_tags:
        tags.extend(f"{normalize(k)}:{normalize(v)}" for k, v in kv_tags.items())
    if bare_tags:
        tags.extend(normalize(t) for t in bare_tags)
    if tags:
        parts.append("#" + ",".join(tags))
    return "|".join(parts)


class DogStatsDMetricSink:
    """ForeachWriter over rows (name, value, type, tags) — used with
    ``df.writeStream.foreach(sink)`` or, in batch, ``push_partitions``."""

    def __init__(self, host: str, port: int, sample_rate: float | None = None):
        self.host = host
        self.port = port
        self.sample_rate = sample_rate
        self._socket = None

    # ForeachWriter protocol
    def open(self, partition_id: int, epoch_id: int) -> bool:
        self._socket = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        return True

    def process(self, row) -> None:
        datagram = format_datagram(
            row["name"], row["value"], row["type"], dict(row["tags"] or {}), None, self.sample_rate
        )
        self._socket.sendto(datagram.encode(), (self.host, self.port))

    def close(self, error) -> None:
        if self._socket is not None:
            self._socket.close()
