"""Schema registry — versioned per-topic schemas with compatibility
checking.

Reference semantics (SURVEY.md §1.3): the broker keeps a versioned
schema per topic (SchemaRegistryServiceImpl) and enforces a
compatibility strategy on upload: ALWAYS_INCOMPATIBLE |
ALWAYS_COMPATIBLE | BACKWARD | FORWARD | FULL | *_TRANSITIVE
(pulsar-client-admin-api/.../SchemaCompatibilityStrategy.java:34-71).
SchemaType maps primitives and record schemas to types
(SchemaType.java:37-180) — on Spark every payload is a StructType, so
the registry stores StructType JSON per version.

Compatibility rules (Avro-style, applied to StructTypes):
- BACKWARD: new schema can read data written with the previous schema
  -> new may drop fields; new added fields must be nullable.
- FORWARD: previous schema can read data written with the new schema
  -> new may add fields; dropped fields must have been nullable.
- FULL: both. *_TRANSITIVE: against all prior versions, not just last.
AUTO_CONSUME == schema-on-read: reader uses the latest registered
StructType; AUTO_PRODUCE validates a writer's frame against the topic
schema before append.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from pulsar_spark.durable import read_json, write_atomic

STRATEGIES = {
    "ALWAYS_INCOMPATIBLE",
    "ALWAYS_COMPATIBLE",
    "BACKWARD",
    "FORWARD",
    "FULL",
    "BACKWARD_TRANSITIVE",
    "FORWARD_TRANSITIVE",
    "FULL_TRANSITIVE",
}


class IncompatibleSchemaError(Exception):
    pass


def _fields(s: StructType) -> dict[str, tuple[str, bool]]:
    return {f.name: (f.dataType.simpleString(), f.nullable) for f in s.fields}


def _backward_compatible(new: StructType, old: StructType) -> list[str]:
    """new reads old data: every new field must exist in old with same
    type, or be nullable (reads as null)."""
    problems = []
    old_f = _fields(old)
    for name, (dtype, nullable) in _fields(new).items():
        if name in old_f:
            if old_f[name][0] != dtype:
                problems.append(f"field {name}: type {old_f[name][0]} -> {dtype}")
        elif not nullable:
            problems.append(f"new non-nullable field {name} cannot read old data")
    return problems


def _forward_compatible(new: StructType, old: StructType) -> list[str]:
    """old reads new data: every old field must exist in new with same
    type, or be nullable in old."""
    return _backward_compatible(old, new)


@dataclass
class SchemaRegistry:
    """File-backed registry: {path}/{topic}.json holds the version list."""

    path: str

    def _file(self, topic: str) -> str:
        safe = topic.replace("/", "_").replace(":", "_")
        return os.path.join(self.path, f"{safe}.json")

    def versions(self, topic: str) -> list[StructType]:
        return [StructType.fromJson(j) for j in read_json(self._file(topic), [])]

    def latest(self, topic: str) -> tuple[int, StructType] | None:
        vs = self.versions(topic)
        return (len(vs) - 1, vs[-1]) if vs else None

    def register(
        self,
        topic: str,
        schema: StructType,
        strategy: str | None = "FULL",
        policy_dir: str | None = None,
    ) -> int:
        """Register a new schema version after the compatibility check.
        Returns the assigned version. Identical re-registration is a
        no-op returning the existing version (reference behavior).

        ``strategy=None`` resolves the strategy from the DURABLE policy
        registry (``schema_compatibility_strategy`` in the topic's /
        namespace's ``_policies.json`` via ``policy_dir``, defaulting
        to FULL) — the Namespaces.setSchemaCompatibilityStrategy path:
        operators tune compatibility as stored config, not per-call
        arguments, and a restart forgets nothing."""
        if strategy is None:
            strategy = self.stored_strategy(policy_dir)
        if strategy not in STRATEGIES:
            raise ValueError(f"unknown strategy {strategy}")
        versions = self.versions(topic)
        existing = self.version_by_schema(topic, schema)
        if existing is not None:
            return existing
        check_against = versions if strategy.endswith("_TRANSITIVE") else versions[-1:]
        for prior in check_against:
            problems = self._check(schema, prior, strategy)
            if problems:
                raise IncompatibleSchemaError("; ".join(problems))
        versions.append(schema)
        write_atomic(self._file(topic), [v.jsonValue() for v in versions])
        return len(versions) - 1

    @staticmethod
    def _check(new: StructType, old: StructType, strategy: str) -> list[str]:
        base = strategy.replace("_TRANSITIVE", "")
        if base == "ALWAYS_COMPATIBLE":
            return []
        if base == "ALWAYS_INCOMPATIBLE":
            return ["ALWAYS_INCOMPATIBLE forbids any new version"]
        problems = []
        if base in ("BACKWARD", "FULL"):
            problems += [f"BACKWARD: {p}" for p in _backward_compatible(new, old)]
        if base in ("FORWARD", "FULL"):
            problems += [f"FORWARD: {p}" for p in _forward_compatible(new, old)]
        return problems

    def version_by_schema(self, topic: str, schema: StructType) -> int | None:
        """Schemas.getVersionBySchema analog
        (pulsar-client-admin-api/.../admin/Schemas.java:179/:213): the
        version a schema was registered under, or None when never
        registered."""
        for i, v in enumerate(self.versions(topic)):
            if v == schema:
                return i
        return None

    def delete(self, topic: str) -> int:
        """Schemas.deleteSchema analog (Schemas.java:93): drop every
        registered version for the topic; returns how many were
        removed. Subsequent reads are schema-on-read raw (AUTO_CONSUME
        with no registry entry = pass-through), and the next
        ``register`` starts again at version 0."""
        n = len(self.versions(topic))
        f = self._file(topic)
        if os.path.exists(f):
            os.remove(f)
        return n

    @staticmethod
    def stored_strategy(policy_dir: str | None) -> str:
        """Resolve ``schema_compatibility_strategy`` from the durable
        policy registry (namespace overlaid by topic), default FULL."""
        if policy_dir is None:
            return "FULL"
        from pulsar_spark.sources.policies import effective_policies

        return effective_policies(policy_dir).get(
            "schema_compatibility_strategy", "FULL"
        )

    def auto_register(
        self, topic: str, schema: StructType, policy_dir: str | None = None
    ) -> int:
        """The producer-connect schema path: a producer arriving with a
        schema the topic has never seen auto-registers it — unless the
        stored ``is_allow_auto_update_schema`` policy forbids it
        (Namespaces.setIsAllowAutoUpdateSchema; the broker then rejects
        the producer with IncompatibleSchema). Known schemas always
        connect, whatever the flag says."""
        existing = self.version_by_schema(topic, schema)
        if existing is not None:
            return existing
        allow = True
        if policy_dir is not None:
            from pulsar_spark.sources.policies import effective_policies

            allow = bool(
                effective_policies(policy_dir).get(
                    "is_allow_auto_update_schema", True
                )
            )
        if not allow:
            raise IncompatibleSchemaError(
                f"topic {topic} has is_allow_auto_update_schema=false: "
                "producers may not register new schema versions"
            )
        return self.register(topic, schema, strategy=None, policy_dir=policy_dir)

    def validate_produce(
        self, topic: str, df: DataFrame, policy_dir: str | None = None
    ) -> None:
        """AUTO_PRODUCE analog: refuse an append whose frame does not
        match the topic's latest registered schema. When the stored
        ``schema_validation_enforced`` policy is true
        (Namespaces.setSchemaValidationEnforced), a topic with NO
        registered schema also refuses — the reference rejects
        schema-less producers on enforced namespaces."""
        latest = self.latest(topic)
        if latest is None:
            if policy_dir is not None:
                from pulsar_spark.sources.policies import effective_policies

                if effective_policies(policy_dir).get(
                    "schema_validation_enforced", False
                ):
                    raise IncompatibleSchemaError(
                        f"topic {topic} enforces schema validation but has "
                        "no registered schema: register one before producing"
                    )
            return
        _, schema = latest
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        want = {f.name: f.dataType.simpleString() for f in schema.fields}
        missing = [n for n, t in want.items() for f in [got.get(n)] if f is None or f != t]
        if missing:
            raise IncompatibleSchemaError(
                f"produce frame does not match topic schema; offending fields: {missing}"
            )

    def read_with_latest(self, df: DataFrame, topic: str) -> DataFrame:
        """AUTO_CONSUME analog: project/cast the frame to the latest
        registered schema (missing nullable fields become null)."""
        from pyspark.sql import functions as F

        latest = self.latest(topic)
        if latest is None:
            return df
        _, schema = latest
        cols = []
        have = set(df.columns)
        for f in schema.fields:
            if f.name in have:
                cols.append(F.col(f.name).cast(f.dataType))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return df.select(*cols)


# ---------------------------------------------------------------- KEY_VALUE

def kv_encode(
    df: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    encoding: str = "INLINE",
    payload_col: str = "payload",
    key_col: str = "kv_key_json",
) -> DataFrame:
    """KEY_VALUE schema encode (SchemaType.java:120 KEY_VALUE(15);
    common/schema/KeyValue.java, KeyValueEncodingType.java:33-38).

    INLINE: one JSON payload ``{"key": {...}, "value": {...}}``.
    SEPARATED: key record rides its own column (the reference puts it
    in the message key; the payload carries only the value record).
    All JSON work is ``to_json`` — JVM-side, codegen'd, no shuffle.
    """
    from pyspark.sql import functions as F

    rest = [c for c in df.columns if c not in set(key_cols) | set(value_cols)]
    if encoding == "INLINE":
        payload = F.to_json(
            F.struct(
                F.struct(*key_cols).alias("key"), F.struct(*value_cols).alias("value")
            )
        )
        return df.select(*rest, payload.alias(payload_col))
    if encoding == "SEPARATED":
        return df.select(
            *rest,
            F.to_json(F.struct(*key_cols)).alias(key_col),
            F.to_json(F.struct(*value_cols)).alias(payload_col),
        )
    raise ValueError(f"unknown KeyValueEncodingType {encoding}")


def kv_decode(
    df: DataFrame,
    key_schema: StructType | str,
    value_schema: StructType | str,
    encoding: str = "INLINE",
    payload_col: str = "payload",
    key_col: str = "kv_key_json",
) -> DataFrame:
    """KEY_VALUE schema decode: inverse of :func:`kv_encode`.

    Expands the key/value records back to top-level columns (key fields
    first). Field-name collisions between key and value schemas raise,
    mirroring the typed KeyValue<K, V> accessor split.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType as _St

    key_schema = _St.fromDDL(key_schema) if isinstance(key_schema, str) else key_schema
    value_schema = (
        _St.fromDDL(value_schema) if isinstance(value_schema, str) else value_schema
    )
    overlap = {f.name for f in key_schema.fields} & {f.name for f in value_schema.fields}
    if overlap:
        raise ValueError(f"key/value field collision: {sorted(overlap)}")
    rest = [c for c in df.columns if c not in (payload_col, key_col)]
    if encoding == "INLINE":
        kv = F.from_json(
            F.col(payload_col),
            _St().add("key", key_schema).add("value", value_schema),
        )
        tmp = df.select(*rest, kv.alias("_kv"))
        return tmp.select(*rest, "_kv.key.*", "_kv.value.*")
    if encoding == "SEPARATED":
        return df.select(
            *rest,
            F.from_json(F.col(key_col), key_schema).alias("_k"),
            F.from_json(F.col(payload_col), value_schema).alias("_v"),
        ).select(*rest, "_k.*", "_v.*")
    raise ValueError(f"unknown KeyValueEncodingType {encoding}")
