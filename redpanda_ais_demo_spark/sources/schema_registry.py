"""Confluent Schema Registry client for the Kafka edge (SURVEY.md §2.1).

The reference resolves schemas against the registry at produce/consume
time: its producer constructs ``SchemaRegistryClient`` + ``AvroSerializer``
(which registers the subject and embeds the returned id in the wire
framing, lib/utils.py:85-111), and its consumer's ``AvroDeserializer``
looks schemas up by the embedded id (lib/utils.py:50-61); ClickHouse
points at the same registry URL (sql/clickhouse-ddl.sql:27-28).

This client speaks the registry's REST protocol directly — no
``confluent_kafka`` dependency — with an injectable transport so the
full register → frame → strip → lookup loop is testable offline. The
engine-side framing itself stays in ``sources/kafka.py`` (a byte-slice /
literal prepend around Spark's ``from_avro``/``to_avro``).

Subject naming follows TopicNameStrategy (the Confluent default the
reference relies on): ``{topic}-key`` / ``{topic}-value``.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request
from collections.abc import Callable

# transport(method, url, body_bytes_or_None, headers) -> (status_code, body_bytes)
Transport = Callable[[str, str, bytes | None, dict[str, str]], tuple[int, bytes]]

_CONTENT_TYPE = "application/vnd.schemaregistry.v1+json"


def _urllib_transport(method: str, url: str, body: bytes | None, headers: dict[str, str]) -> tuple[int, bytes]:
    req = urllib.request.Request(url, data=body, headers=headers, method=method)
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:  # non-2xx still carries a JSON body
        return e.code, e.read()


class SchemaRegistryError(RuntimeError):
    def __init__(self, status: int, body: bytes):
        super().__init__(f"schema registry returned {status}: {body[:200]!r}")
        self.status = status


class SchemaRegistryClient:
    """Minimal REST client: register / latest / by-id, with caching.

    Caches are write-through and keyed the way the protocol is immutable:
    a (subject, schema) pair always maps to the same id, and an id always
    maps to the same schema — so cached entries never go stale.
    """

    def __init__(self, url: str, transport: Transport | None = None):
        self.url = url.rstrip("/")
        self._transport = transport or _urllib_transport
        self._id_by_subject_schema: dict[tuple[str, str], int] = {}
        self._schema_by_id: dict[int, str] = {}

    def _call(self, method: str, path: str, payload: dict | None = None) -> dict:
        body = json.dumps(payload).encode() if payload is not None else None
        status, raw = self._transport(
            method, f"{self.url}{path}", body, {"Content-Type": _CONTENT_TYPE}
        )
        if not 200 <= status < 300:
            raise SchemaRegistryError(status, raw)
        return json.loads(raw)

    def register(self, subject: str, schema_json: str, schema_type: str = "AVRO") -> int:
        """Register (idempotently) and return the schema id —
        AvroSerializer's produce-time behavior (lib/utils.py:90-92)."""
        key = (subject, schema_json)
        cached = self._id_by_subject_schema.get(key)
        if cached is not None:
            return cached
        out = self._call(
            "POST",
            f"/subjects/{subject}/versions",
            {"schema": schema_json, "schemaType": schema_type},
        )
        schema_id = int(out["id"])
        self._id_by_subject_schema[key] = schema_id
        self._schema_by_id.setdefault(schema_id, schema_json)
        return schema_id

    def latest(self, subject: str) -> tuple[int, str]:
        """(id, schema) of the subject's latest version — the consumer-side
        subject lookup. Not cached: 'latest' is the one mutable read."""
        out = self._call("GET", f"/subjects/{subject}/versions/latest")
        schema_id, schema = int(out["id"]), out["schema"]
        self._schema_by_id.setdefault(schema_id, schema)
        return schema_id, schema

    def schema_by_id(self, schema_id: int) -> str:
        """Schema for a wire-embedded id — AvroDeserializer's consume-time
        lookup (lib/utils.py:56-61)."""
        cached = self._schema_by_id.get(schema_id)
        if cached is not None:
            return cached
        out = self._call("GET", f"/schemas/ids/{schema_id}")
        self._schema_by_id[schema_id] = out["schema"]
        return out["schema"]


def value_subject(topic: str) -> str:
    return f"{topic}-value"
