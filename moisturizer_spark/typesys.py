"""The (type, format) lattice: inference, Spark mapping, conflict rules.

Re-expresses the reference's three type mappers
(reference ``moisturizer/models.py:8-37``, ``moisturizer/schemas.py:9-28``)
over Spark's type system. All logic here is driver-side and O(#fields) —
schemas are metadata, never data — so it costs nothing at 100 TB.

Key semantic decisions carried over from the reference:

- ``bool`` is checked before ``int`` (``isinstance(True, int)`` is true in
  Python; reference ``tests/test_models.py:42-43`` flags this).
- Plain JSON floats infer to ``('number', None)`` and are stored as
  ``DecimalType(38, 18)`` (reference ``moisturizer/models.py:19`` maps
  number→columns.Decimal).
- ``('null', None)`` fields are dropped, not stored
  (reference ``moisturizer/models.py:22``).
- Unknown pairs — including ``('array', None)`` which the reference's CQL
  mapper lacks — degrade to string (reference ``moisturizer/models.py:37``
  DEFAULT_CQL_TYPE). Arrays are stored JSON-encoded for parity.
- Re-inferring a field with an incompatible pair **raises**
  :class:`~moisturizer_spark.errors.SchemaConflictError` instead of widening
  (reference ``tests/test_models.py:65-83``).
"""

from __future__ import annotations

import datetime as _dt
import json
import uuid
from dataclasses import dataclass, field as dc_field

from pyspark.sql import types as T

from moisturizer_spark.errors import SchemaConflictError, ValidationError

# ---------------------------------------------------------------------------
# Python native value -> JSON-Schema (type, format)
# Order matters: bool before int (reference moisturizer/models.py:8-15).
# ---------------------------------------------------------------------------
_NATIVE_ORDER: tuple[tuple[type, tuple[str, str | None]], ...] = (
    (bool, ("boolean", None)),
    (int, ("integer", None)),
    (float, ("number", None)),
    (str, ("string", None)),
    (dict, ("object", None)),
    (list, ("array", None)),
)

# (type, format) -> Spark DataType. None value means "drop the column".
JSONSCHEMA_SPARK_TYPE: dict[tuple[str, str | None], T.DataType | None] = {
    ("string", None): T.StringType(),
    ("number", None): T.DecimalType(38, 18),
    ("integer", None): T.LongType(),
    ("boolean", None): T.BooleanType(),
    ("null", None): None,
    ("string", "date-time"): T.TimestampType(),
    ("string", "uuid"): T.StringType(),
    ("number", "float"): T.FloatType(),
    ("number", "double"): T.DoubleType(),
}
DEFAULT_SPARK_TYPE = T.StringType()  # reference models.py:37 fallback-to-Text

_VALID_TYPES = {"string", "number", "integer", "boolean", "null", "object", "array"}
_VALID_FORMATS = {None, "", "date-time", "uuid", "float", "double", "descriptor"}


@dataclass(frozen=True)
class FieldDescriptor:
    """Per-column metadata; mirror of the reference's DescriptorFieldType UDT
    (reference ``moisturizer/models.py:83-89``)."""

    type: str
    format: str | None = None
    primary_key: bool = False
    partition_key: bool = False
    required: bool = False
    # reference models.py:89: DescriptorFieldType.index defaults True, so
    # inferred field descriptors must expose index=True to stay observably
    # equivalent
    index: bool = True

    def __post_init__(self):
        if self.type not in _VALID_TYPES:
            raise ValidationError(f"invalid field type {self.type!r}")
        if self.format not in _VALID_FORMATS:
            raise ValidationError(f"invalid field format {self.format!r}")

    @property
    def pair(self) -> tuple[str, str | None]:
        fmt = self.format or None
        return (self.type, fmt)

    def spark_type(self) -> T.DataType | None:
        """Storage type; None means the column is dropped entirely."""
        return JSONSCHEMA_SPARK_TYPE.get(self.pair, DEFAULT_SPARK_TYPE)

    @classmethod
    def from_value(cls, value) -> "FieldDescriptor":
        """Infer from a Python value — first isinstance match wins
        (reference ``moisturizer/models.py:91-96``)."""
        if value is None:
            return cls(type="null")
        for py_type, (jtype, jformat) in _NATIVE_ORDER:
            if isinstance(value, py_type):
                return cls(type=jtype, format=jformat)
        if isinstance(value, _dt.datetime):
            return cls(type="string", format="date-time")
        return cls(type="string")

    def to_dict(self) -> dict:
        return {
            "type": self.type,
            "format": self.format or "",
            "primary_key": self.primary_key,
            "partition_key": self.partition_key,
            "required": self.required,
            "index": self.index,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "FieldDescriptor":
        return cls(
            type=d["type"],
            format=d.get("format") or None,
            primary_key=bool(d.get("primary_key", False)),
            partition_key=bool(d.get("partition_key", False)),
            required=bool(d.get("required", False)),
            index=bool(d.get("index", False)),
        )


def compatible(existing: FieldDescriptor, incoming: FieldDescriptor) -> bool:
    """Whether ``incoming`` may be stored in a column typed ``existing``.

    The reference accepts only same-type re-sends and raises otherwise
    (reference ``tests/test_models.py:65-83``). Nulls are compatible with
    everything (null fields are dropped pre-insert, reference
    ``moisturizer/schemas.py:50-51``); an integer fits a ``number`` column
    losslessly, so we accept that one widening-in-place.
    """
    if incoming.type == "null" or existing.type == "null":
        return True
    if existing.pair == incoming.pair:
        return True
    if existing.type == "number" and incoming.type in ("integer", "number"):
        return True
    return False


@dataclass
class Descriptor:
    """A type's schema-as-data (reference ``moisturizer/models.py:111-136``).

    ``properties`` maps field name → :class:`FieldDescriptor`. Every type
    carries the implicit system columns ``id`` (string pk, default
    ``uuid1().hex``) and ``last_modified`` (timestamp, indexed) —
    reference ``moisturizer/models.py:53-56,127-136``.
    """

    id: str
    description: str | None = None
    properties: dict[str, FieldDescriptor] = dc_field(default_factory=dict)

    DEFAULT_PROPERTIES = {
        "id": FieldDescriptor(type="string", primary_key=True, partition_key=True),
        "last_modified": FieldDescriptor(type="string", format="date-time", index=True),
    }

    def __post_init__(self):
        merged = dict(self.DEFAULT_PROPERTIES)
        merged.update(self.properties)
        self.properties = merged

    # -- inference ----------------------------------------------------------
    def infer_schema_change(self, flat_obj: dict) -> dict[str, FieldDescriptor]:
        """Diff a flattened object against the descriptor.

        Returns the *new* fields to add (empty dict → no DDL needed,
        mirroring the reference's early-return guard,
        ``moisturizer/models.py:142-143``). Raises
        :class:`SchemaConflictError` on incompatible re-typing.
        """
        new_fields: dict[str, FieldDescriptor] = {}
        for key, value in flat_obj.items():
            inferred = FieldDescriptor.from_value(value)
            existing = self.properties.get(key)
            if existing is None:
                if inferred.type != "null":  # null-only fields are dropped
                    new_fields[key] = inferred
            elif not compatible(existing, inferred):
                raise SchemaConflictError(
                    f"type {self.id!r} field {key!r}: stored as "
                    f"{existing.pair}, got {inferred.pair}"
                )
        return new_fields

    def apply_change(self, new_fields: dict[str, FieldDescriptor]) -> None:
        """Add-only evolution (reference ``moisturizer/models.py:145-153``)."""
        self.properties.update(new_fields)

    # -- Spark schema -------------------------------------------------------
    def spark_schema(self) -> T.StructType:
        """Build the storage StructType. Columns whose mapped type is None
        (pure-null fields) are omitted. ``id`` first, ``last_modified``
        second, rest in insertion order — stable, observable column order."""
        fields: list[T.StructField] = []
        ordered = ["id", "last_modified"] + [
            k for k in self.properties if k not in ("id", "last_modified")
        ]
        for name in ordered:
            fd = self.properties[name]
            if name == "last_modified":
                spark_t: T.DataType | None = T.TimestampType()
            else:
                spark_t = fd.spark_type()
            if spark_t is None:
                continue
            fields.append(
                T.StructField(
                    name,
                    spark_t,
                    nullable=not fd.primary_key,
                    metadata=fd.to_dict(),
                )
            )
        return T.StructType(fields)

    # -- validation / coercion ---------------------------------------------
    def validate(self, flat_obj: dict, default_ts: _dt.datetime | None = None,
                 partial: bool = False) -> dict:
        """Validate + coerce one flattened object against the descriptor.

        Mirrors the colander bind/deserialize step (reference
        ``moisturizer/schemas.py:45-76``): drop nulls, string-coerce ``id``,
        enforce ``required``, reject type mismatches. Arrays/objects that
        fell back to string storage are JSON-encoded. ``partial=True``
        validates a PATCH body: required fields may be absent, the
        stored row supplies them.
        """
        out: dict = {}
        if flat_obj.get("id") is not None:
            # id is string-coerced BEFORE validation (reference schemas.py:46-48
            # uses a preparer), so numeric ids like 42 are accepted as '42'.
            flat_obj = {**flat_obj, "id": str(flat_obj["id"])}
        for key, value in flat_obj.items():
            if value is None:
                continue  # absent ≡ null (reference schemas.py:50-55)
            fd = self.properties.get(key)
            if fd is None:
                raise ValidationError(f"unknown field {key!r} for type {self.id!r}")
            inferred = FieldDescriptor.from_value(value)
            if not compatible(fd, inferred):
                raise ValidationError(
                    f"field {key!r}: expected {fd.pair}, got {inferred.pair}"
                )
            out[key] = _coerce(fd, value)
        for key, fd in self.properties.items():
            if fd.required and key not in out and not partial:
                raise ValidationError(f"missing required field {key!r}")
        if "id" in out:
            out["id"] = str(out["id"])  # reference schemas.py:46-48
        else:
            out["id"] = uuid.uuid1().hex  # reference models.py:53-54
        out.setdefault("last_modified", default_ts or _dt.datetime.now(_dt.timezone.utc))
        return out

    # -- (de)serialization for the registry --------------------------------
    def to_row(self) -> dict:
        return {
            "id": self.id,
            "description": self.description,
            "properties": {k: v.to_dict() for k, v in self.properties.items()},
            "last_modified": _dt.datetime.now(_dt.timezone.utc),
        }

    @classmethod
    def from_row(cls, row: dict) -> "Descriptor":
        return cls(
            id=row["id"],
            description=row.get("description"),
            properties={
                k: FieldDescriptor.from_dict(v)
                for k, v in (row.get("properties") or {}).items()
            },
        )


def _coerce(fd: FieldDescriptor, value):
    """Coerce a validated Python value to its storage representation."""
    pair = fd.pair
    if pair == ("number", None):
        import decimal

        d = decimal.Decimal(str(value))
        # Quantize to the storage scale: DecimalType(38,18) cannot carry
        # more than 18 fractional digits, and Arrow's safe cast REFUSES
        # (rather than rounds) a finer value — a payload like 2.2e-16
        # would otherwise crash the whole micro-batch in the serializer
        # (found by hypothesis, tests/test_ingest_properties.py). SQL
        # CAST semantics round; mirror that here. Values whose integer
        # part exceeds the 20 digits of headroom overflow -> raise ->
        # per-record dead letter. quantize must run at precision 38:
        # Python's default decimal context is prec=28, under which any
        # value with >10 integer digits (e.g. 1.5e11) would spuriously
        # raise InvalidOperation despite fitting DECIMAL(38,18).
        try:
            with decimal.localcontext() as ctx:
                ctx.prec = 38
                return d.quantize(
                    decimal.Decimal("1E-18"), rounding=decimal.ROUND_HALF_UP
                )
        except decimal.InvalidOperation as exc:
            raise ValidationError(
                f"number {value!r} overflows DECIMAL(38,18) storage"
            ) from exc
    if pair == ("string", "date-time") and isinstance(value, str):
        try:
            return _dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
        except ValueError as exc:
            raise ValidationError(f"invalid date-time {value!r}") from exc
    if pair in (("object", None), ("array", None)):
        return json.dumps(value, sort_keys=True)  # string-degraded storage
    if pair == ("string", None) and not isinstance(value, str):
        return str(value)
    return value
