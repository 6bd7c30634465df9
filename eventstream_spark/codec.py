"""Event-envelope codec — the Spark analog of the reference's Message model.

The reference's atomic record is a Message: a fixed envelope (event,
message_id, response_to, application identity, workflow_id, header) plus an
open ``__extra_data`` dict (reference: event_stream/messages/base.py:490-859).
Here the envelope is a typed StructType and the open payload is a
``map<string,string>`` ``props`` column (SURVEY §1.5); everything below is
built-in column expressions, JVM-side.

Includes the ``interpret_value`` equivalent (reference:
event_stream/utilities/common.py:366-404): lenient string→typed casts with
the same acceptance rules (int/float patterns, true/false, yes/on, nan/inf,
None/null/nil, embedded JSON), expressed as Catalyst ``when`` chains so they
vectorize — no Python UDF in the decode path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import col, lit
from pyspark.sql.types import (
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

HEADER_SCHEMA = StructType(
    [
        StructField("caller_application", StringType()),
        StructField("caller_function", StringType()),
        StructField("caller", StringType()),
        StructField("date", TimestampType()),
        StructField("host", StringType()),
    ]
)

# Fixed envelope fields (reference: messages/base.py:494-515).
ENVELOPE_FIELDS = (
    "event",
    "message_id",
    "response_to",
    "application_name",
    "application_instance",
    "workflow_id",
)

ENVELOPE_SCHEMA = StructType(
    [StructField(name, StringType()) for name in ENVELOPE_FIELDS]
    + [
        StructField("ts", TimestampType()),
        StructField("header", HEADER_SCHEMA),
        StructField("props", MapType(StringType(), StringType())),
    ]
)


# --- interpret_value equivalents ------------------------------------------
# Reference acceptance rules: INTEGER_PATTERN / FLOATING_POINT_PATTERN
# (constants.py:46-49), boolean words (common.py:138-190, constants.py:20-37),
# nan/inf (common.py:390-395), null words (common.py:396-397).

# Deliberate superset of the reference's patterns (INTEGER_PATTERN
# `^-?\d+$`, FLOATING_POINT_PATTERN `^-?\d+\.\d*$`, constants.py:46-49):
# also accepts a leading '+', bare '.5', and exponent forms — values any
# standard producer emits that the reference would leave as strings.
_INT_RE = r"^[+-]?\d+$"
_FLOAT_RE = r"^[+-]?(\d+\.\d*|\.\d+|\d+[eE][+-]?\d+|\d+\.\d*[eE][+-]?\d+)$"
# Reference null words are exact-case ("None","Null","null","nil",
# common.py:396-397); matched case-insensitively here.
_NULL_WORDS = ("none", "null", "nil")
_TRUE_WORDS = ("true", "yes", "on", "1", "y", "t")
_FALSE_WORDS = ("false", "no", "off", "0", "n", "f")


def _nullified(c: Column) -> Column:
    """Map the reference's null words to SQL NULL before any cast."""
    return F.when(F.lower(c).isin(*_NULL_WORDS), lit(None)).otherwise(c)


def interpret_long(c: Column) -> Column:
    """String → bigint when it matches the integer pattern, else NULL."""
    c = _nullified(c)
    return F.when(c.rlike(_INT_RE), c.cast("long")).otherwise(lit(None).cast("long"))


def interpret_double(c: Column) -> Column:
    """String → double for int/float/nan/inf spellings, else NULL."""
    c = _nullified(c)
    low = F.lower(c)
    return (
        F.when(low == "nan", lit(float("nan")))
        .when(low.isin("inf", "infinity", "+inf", "+infinity"), lit(float("inf")))
        .when(low.isin("-inf", "-infinity"), lit(float("-inf")))
        .when(c.rlike(_INT_RE) | c.rlike(_FLOAT_RE), c.cast("double"))
        .otherwise(lit(None).cast("double"))
    )


def interpret_boolean(c: Column) -> Column:
    """Lenient boolean — the composition of the reference's interpret_value
    and is_true (common.py:366-404 then :138-190): integer strings are true
    iff nonzero (so ``'-1'`` is true), float strings are true above the
    reference's default ``minimum_truth`` of 0.3.

    Deliberate, documented deviations (SQL-idiomatic tri-state): word
    matching is case-insensitive where the reference's TRUE_VALUES
    (constants.py:20-37) enumerates exact casings, inputs are trimmed, and
    unrecognized / null-word strings yield SQL NULL rather than False so
    downstream filters keep three-valued logic.
    """
    c = _nullified(F.trim(c))  # whole-branch trim: '2 ' is numeric-true
    low = F.lower(c)
    return (
        F.when(c.rlike(_INT_RE), c.cast("long") != 0)
        .when(c.rlike(_FLOAT_RE), c.cast("double") > 0.3)
        .when(low.isin(*_TRUE_WORDS), lit(True))
        .when(low.isin(*_FALSE_WORDS), lit(False))
        .otherwise(lit(None).cast("boolean"))
    )


def string_shadow(dt):
    """The all-string-leaves twin of a nested type: same struct/array/map
    shape, every leaf a string. ``from_json`` with this schema never drops a
    value (native JSON numbers/booleans coerce to their string spelling),
    leaving the promotion rules to ``interpret_nested``."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType([StructField(f.name, string_shadow(f.dataType)) for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(string_shadow(dt.elementType))
    if isinstance(dt, MapType):
        return MapType(StringType(), string_shadow(dt.valueType))
    return StringType()


def _promote(c: Column, dt) -> Column:
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        MapType,
        ShortType,
        StructType,
    )

    if isinstance(dt, StructType):
        built = F.struct(
            *[_promote(c[f.name], f.dataType).alias(f.name) for f in dt.fields]
        )
        # Preserve null objects: a struct() of a null struct's children would
        # otherwise resurrect as a struct of NULLs.
        return F.when(c.isNull(), lit(None).cast(dt)).otherwise(built)
    if isinstance(dt, ArrayType):
        return F.transform(c, lambda x: _promote(x, dt.elementType))
    if isinstance(dt, MapType):
        return F.transform_values(c, lambda _, v: _promote(v, dt.valueType))
    if isinstance(dt, (LongType, IntegerType, ShortType, ByteType)):
        return interpret_long(c).cast(dt)
    if isinstance(dt, (DoubleType, FloatType)):
        return interpret_double(c).cast(dt)
    if isinstance(dt, BooleanType):
        return interpret_boolean(c)
    return c.cast(dt)


def interpret_nested(c: Column, schema) -> Column:
    """Recursive value inference over arbitrarily nested payloads — the
    column-expression twin of the reference's ``interpret_value`` recursion
    (event_stream/utilities/common.py:366-404: dicts and iterables recurse,
    string leaves promote by the integer/float/boolean/null-word rules).

    ``c`` is a JSON string; ``schema`` declares the nested shape with the
    TARGET leaf types (struct/array/map nesting to any depth). The payload
    is parsed ONCE against the all-string shadow schema, then every leaf is
    promoted by the same lenient ``interpret_*`` rules the flat envelope
    uses — entirely JVM-side expressions (from_json + transform/
    transform_values folds), no per-row Python."""
    return _promote(F.from_json(c, string_shadow(schema)), schema)


# --- envelope construction -------------------------------------------------

def normalize_envelope(
    df: DataFrame,
    event_col: str = "event_type",
    id_col: str = "event_id",
    ts_col: str = "ts",
    props_json_col: str | None = "props",
    application_name: str | None = None,
    application_instance: str | None = None,
) -> DataFrame:
    """Project an arbitrary event table into the canonical envelope.

    The fixture ``events`` table maps on: event_type→event, event_id→
    message_id (the reference's stream-entry ID doubles as event time,
    SURVEY §1.1), props JSON→props map.
    """
    props = (
        F.from_json(col(props_json_col), MapType(StringType(), StringType()))
        if props_json_col
        else lit(None).cast(MapType(StringType(), StringType()))
    )
    extras = [c for c in df.columns if c not in {event_col, id_col, ts_col, props_json_col}]
    return df.select(
        col(event_col).cast("string").alias("event"),
        col(id_col).cast("string").alias("message_id"),
        lit(None).cast("string").alias("response_to"),
        lit(application_name).cast("string").alias("application_name"),
        lit(application_instance).cast("string").alias("application_instance"),
        lit(None).cast("string").alias("workflow_id"),
        col(ts_col).cast("timestamp").alias("ts"),
        make_header().alias("header"),
        props.alias("props"),
        *extras,
    )


def capture_stack(limit: int = 16) -> list[dict]:
    """Driver-side stack capture for header provenance (reference
    StackInfo.create_full_stack, messages/base.py:407-444: file, function,
    line number, code line per frame). Captured once at plan-construction
    time — the Spark analog of the reference capturing at message-creation
    time — and embedded in the header as a literal, so executors pay
    nothing."""
    import traceback

    frames = traceback.extract_stack()[:-1]  # drop capture_stack itself
    return [
        {
            "file": f.filename,
            "function": f.name,
            "line_number": int(f.lineno or 0),
            "code": (f.line or ""),
        }
        for f in frames[-limit:]
    ]


def make_header(
    caller_application: str | None = None,
    caller_function: str | None = None,
    host: str | None = None,
    include_stack: bool = False,
) -> Column:
    """Provenance header struct (reference HeaderInfo, base.py:447-487).

    ``include_stack=True`` appends a ``trace`` field — the reference's
    optional debug-mode stack trace (base.py:465-487 attaches
    StackInfo.create_full_stack() when ``settings.debug``): an array of
    (file, function, line_number, code) frames captured driver-side at
    plan-construction time. Off by default so the header schema stays at
    HEADER_SCHEMA for the wire/oracle paths."""
    fields = [
        lit(caller_application).cast("string").alias("caller_application"),
        lit(caller_function).cast("string").alias("caller_function"),
        lit(None).cast("string").alias("caller"),
        F.current_timestamp().alias("date"),
        lit(host).cast("string").alias("host"),
    ]
    if include_stack:
        frames = capture_stack()
        fields.append(
            F.array(
                *[
                    F.struct(
                        lit(fr["file"]).alias("file"),
                        lit(fr["function"]).alias("function"),
                        lit(fr["line_number"]).alias("line_number"),
                        lit(fr["code"]).alias("code"),
                    )
                    for fr in frames
                ]
            ).alias("trace")
        )
    return F.struct(*fields)


def create_response(
    df: DataFrame, application_name: str, application_instance: str
) -> DataFrame:
    """Response derivation (reference A8, messages/base.py:593-609):
    event += '_response', response_to = request message_id, restamped
    application identity, fresh header."""
    out = df
    for name, value in (
        ("response_to", col("message_id")),
        ("event", F.concat(col("event"), lit("_response"))),
        ("message_id", lit(None).cast("string")),
        ("application_name", lit(application_name)),
        ("application_instance", lit(application_instance)),
    ):
        out = out.withColumn(name, value)
    if "header" in df.columns:
        out = out.withColumn("header", make_header(caller_application=application_name))
    return out


def stream_entry_to_envelope(df: DataFrame) -> DataFrame:
    """Wire rows from the stream sources — ``(message_id, ts,
    map<string,string> fields)``, the eventwire/rediswire shape — to the
    canonical envelope (reference Message.parse over a Redis entry,
    messages/base.py:524-560): envelope keys lift out of the fields map,
    every other field stays in ``props`` (the ``__extra_data`` analog).
    The entry ID is the message_id and its millis prefix the event time,
    both already materialized by the source."""
    fields = col("fields")
    lifted = ("event", "response_to", "application_name", "application_instance", "workflow_id")
    props = F.map_filter(fields, lambda k, _: ~k.isin(*lifted))
    return df.select(
        F.element_at(fields, "event").alias("event"),
        col("message_id"),
        F.element_at(fields, "response_to").alias("response_to"),
        F.element_at(fields, "application_name").alias("application_name"),
        F.element_at(fields, "application_instance").alias("application_instance"),
        F.element_at(fields, "workflow_id").alias("workflow_id"),
        col("ts"),
        make_header().alias("header"),
        props.alias("props"),
    )


def envelope_to_wire(df: DataFrame, datetime_format: str | None = None) -> DataFrame:
    """Wire encoding (A7 Message.send, reference messages/base.py:636-711):
    the whole row — envelope, props map, any promoted extras — serialized to
    one JSON string column ``wire``. Matches the reference's send rules:
    nested values become embedded JSON, and null fields are never sent
    (to_json drops nulls by default, mirroring base.py:688-690).

    ``datetime_format`` applies the reference's configurable datetime
    serialization (system/system.py:19 DEFAULT_DATETIME_FORMAT, strftime
    ``%Y-%m-%d %H:%M:%S%z``; HeaderInfo.create stamps ``date`` with it) to
    the header's ``date`` at send time. Spark patterns differ from
    strftime — pass the java.time form, e.g. ``yyyy-MM-dd HH:mm:ssxx`` for
    the reference default."""
    out = df
    if datetime_format is not None and "header" in df.columns:
        out = out.withColumn(
            "header",
            col("header").withField(
                "date", F.date_format(col("header.date"), datetime_format)
            ),
        )
    return out.select(F.to_json(F.struct(*out.columns)).alias("wire"))


def wire_to_envelope(df: DataFrame, schema, wire_col: str = "wire") -> DataFrame:
    """Decode the wire JSON back to typed columns (the read half of §1.3:
    explicit schema, never per-row inference). ``schema`` is the StructType
    the stream's registry resolved for this event (SURVEY §1.4→§1.5)."""
    return df.select(F.from_json(col(wire_col), schema).alias("m")).select("m.*")


def parse_with_quarantine(
    df: DataFrame, json_col: str, schema: StructType
) -> tuple[DataFrame, DataFrame]:
    """Schema-checked parse with a dead-letter side (reference A15 inbox
    semantics applied to malformed data; SURVEY §4.1 'bad-record handling
    to quarantine sink').

    Returns ``(good, quarantine)``: good rows carry the typed columns;
    quarantine rows keep every input column plus the raw offending payload
    so a fixed parser can replay them — the Spark analog of bouncing an
    unprocessable message to the shared inbox. Malformed is detected via
    the corrupt-record column (a legit ``null`` field is NOT malformed).
    """
    probe = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType())]
    )
    parsed = df.withColumn(
        "_parsed",
        F.from_json(
            col(json_col),
            probe,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    bad_cond = col(json_col).isNotNull() & col("_parsed._corrupt_record").isNotNull()
    good = (
        parsed.where(~bad_cond | col(json_col).isNull())
        .select(*df.columns, *[col(f"_parsed.{f.name}") for f in schema.fields])
        .drop(json_col)
    )
    quarantine = parsed.where(bad_cond).select(*df.columns)
    return good, quarantine


def props_get(path: str) -> Column:
    """Path access into the open payload (reference Message.get /
    get_by_path, base.py:617-634): map lookup for one level, JSON path for
    nested values that were JSON-encoded strings."""
    parts = path.split(".")
    c = F.element_at(col("props"), parts[0])
    if len(parts) == 1:
        return c
    return F.get_json_object(c, "$." + ".".join(parts[1:]))
