"""Cypher type lattice and Spark type mapping.

Re-expresses the reference's CypherType lattice
(okapi-api/src/main/scala/org/opencypher/okapi/api/types/CypherType.scala)
as a small Python class with nullability, join (least upper bound) and
subtype checks, plus the CypherType <-> Spark DataType mapping
(morpheus-spark-cypher/.../convert/SparkConversions.scala:54-143).

Design notes (Spark-first, not a port):
- All Cypher integers are LongType (the reference lifts ints to long too,
  SparkTable.scala:404-419).
- Element ids are LongType, not binary varints (SURVEY.md §1.5).
- CTMap maps to StructType with known keys, mirroring the reference's
  struct-backed maps (SparkConversions.scala).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Tuple

from pyspark.sql import types as T


@dataclass(frozen=True)
class CypherType:
    """A Cypher type with a nullable flag.

    ``name`` is one of: ANY, VOID, NULL, BOOLEAN, INTEGER, FLOAT, NUMBER,
    STRING, DATE, LOCALDATETIME, DURATION, IDENTITY, LIST, MAP, NODE,
    RELATIONSHIP. LIST carries ``inner``; MAP carries ``properties``.
    """

    name: str
    nullable: bool = False
    inner: Optional["CypherType"] = None
    properties: Tuple[Tuple[str, "CypherType"], ...] = field(default=())

    # -- constructors -----------------------------------------------------
    def with_nullable(self, nullable: bool = True) -> "CypherType":
        if self.nullable == nullable:
            return self
        return CypherType(self.name, nullable, self.inner, self.properties)

    @property
    def material(self) -> "CypherType":
        return self.with_nullable(False)

    # -- lattice ----------------------------------------------------------
    _NUM = {"INTEGER", "FLOAT", "NUMBER"}

    def join(self, other: "CypherType") -> "CypherType":
        """Least upper bound (reference: CypherType.join, CypherType.scala:98)."""
        nullable = self.nullable or other.nullable
        if self.name == "VOID" or self.name == "NULL":
            return other.with_nullable(nullable or self.name == "NULL")
        if other.name == "VOID" or other.name == "NULL":
            return self.with_nullable(nullable or other.name == "NULL")
        if self.name == other.name:
            if self.name == "LIST":
                inner = (self.inner or CTAny).join(other.inner or CTAny)
                return CypherType("LIST", nullable, inner)
            if self.name == "MAP":
                props = dict(self.properties)
                for k, v in other.properties:
                    props[k] = props[k].join(v) if k in props else v.with_nullable(True)
                for k in list(props):
                    if k not in dict(other.properties):
                        props[k] = props[k].with_nullable(True)
                return CypherType("MAP", nullable, None, tuple(sorted(props.items())))
            return self.with_nullable(nullable)
        if self.name in self._NUM and other.name in self._NUM:
            return CypherType("NUMBER", nullable)
        return CypherType("ANY", nullable)

    def sub_type_of(self, other: "CypherType") -> bool:
        if self.nullable and not other.nullable:
            return False
        if other.name == "ANY":
            return True
        if self.name == "VOID":
            return True
        if self.name == "NULL":
            return other.nullable
        if self.name == other.name:
            if self.name == "LIST":
                return (self.inner or CTAny).sub_type_of(other.inner or CTAny)
            return True
        if other.name == "NUMBER" and self.name in ("INTEGER", "FLOAT"):
            return True
        return False

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        s = self.name
        if self.name == "LIST":
            s = f"LIST({self.inner!r})"
        if self.name == "MAP":
            s = "MAP(" + ", ".join(f"{k}: {v!r}" for k, v in self.properties) + ")"
        return s + ("?" if self.nullable else "")


# Canonical instances -----------------------------------------------------
CTAny = CypherType("ANY")
CTVoid = CypherType("VOID")
CTNull = CypherType("NULL", nullable=True)
CTBoolean = CypherType("BOOLEAN")
CTInteger = CypherType("INTEGER")
CTFloat = CypherType("FLOAT")
CTNumber = CypherType("NUMBER")
CTString = CypherType("STRING")
CTDate = CypherType("DATE")
CTLocalDateTime = CypherType("LOCALDATETIME")
CTDuration = CypherType("DURATION")
CTIdentity = CypherType("IDENTITY")


def CTList(inner: CypherType, nullable: bool = False) -> CypherType:
    return CypherType("LIST", nullable, inner)


def CTMap(properties: dict, nullable: bool = False) -> CypherType:
    return CypherType("MAP", nullable, None, tuple(sorted(properties.items())))


# -- Spark mapping ---------------------------------------------------------
_TO_SPARK = {
    "STRING": T.StringType(),
    "INTEGER": T.LongType(),
    "FLOAT": T.DoubleType(),
    "NUMBER": T.DoubleType(),
    "BOOLEAN": T.BooleanType(),
    "NULL": T.NullType(),
    "VOID": T.NullType(),
    "IDENTITY": T.LongType(),
    # LOCALDATETIME is wall-clock time = TIMESTAMP_NTZ; DATETIME (zoned,
    # beyond the reference's surface) = TIMESTAMP. Keeping them distinct
    # means scan alignment never casts, so timestamp predicates still push
    # down to parquet.
    "LOCALDATETIME": T.TimestampNTZType(),
    "DATETIME": T.TimestampType(),
    "DATE": T.DateType(),
    "DURATION": T.DayTimeIntervalType(),
}


def to_spark_type(ct: CypherType) -> T.DataType:
    """CypherType -> Spark DataType (reference: SparkConversions.scala:54-77)."""
    if ct.name == "LIST":
        return T.ArrayType(to_spark_type(ct.inner or CTAny), containsNull=True)
    if ct.name == "MAP":
        return T.StructType(
            [T.StructField(k, to_spark_type(v), v.nullable) for k, v in ct.properties]
        )
    if ct.name in _TO_SPARK:
        return _TO_SPARK[ct.name]
    return T.StringType()  # ANY falls back to string rendering


def from_spark_type(dt: T.DataType, nullable: bool = True) -> CypherType:
    """Spark DataType -> CypherType (reference: SparkConversions.scala:117-143)."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return CTInteger.with_nullable(nullable)
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return CTFloat.with_nullable(nullable)
    if isinstance(dt, T.StringType):
        return CTString.with_nullable(nullable)
    if isinstance(dt, T.BooleanType):
        return CTBoolean.with_nullable(nullable)
    if isinstance(dt, T.DateType):
        return CTDate.with_nullable(nullable)
    if isinstance(dt, T.TimestampNTZType):
        return CTLocalDateTime.with_nullable(nullable)
    if isinstance(dt, T.TimestampType):
        return CypherType("DATETIME").with_nullable(nullable)
    if isinstance(dt, (T.DayTimeIntervalType, T.CalendarIntervalType)):
        return CTDuration.with_nullable(nullable)
    if isinstance(dt, T.ArrayType):
        return CTList(from_spark_type(dt.elementType, dt.containsNull), nullable)
    if isinstance(dt, T.StructType):
        return CTMap(
            {f.name: from_spark_type(f.dataType, f.nullable) for f in dt.fields}, nullable
        )
    if isinstance(dt, T.NullType):
        return CTNull
    return CTAny.with_nullable(nullable)
