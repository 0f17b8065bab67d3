"""Raw-JSON ingest — the engine analog of ``decodeAndValidateJson``
(``/root/reference/src/Data/Schematic.hs:78-85``): bytes → decode →
structural parse → validate, all three layers distinguishable and
layered exactly like the reference:

* **decode** (aeson's ``decode``): syntactic failure and non-object top
  levels only — ``json_object_keys`` is NULL for both — reported with
  the reference's exact message ``"malformed json"``
  (Data/Schematic.hs:84);
* **structural parse**: a field whose raw token is PRESENT but whose
  typed ``from_json`` slot parsed NULL failed that field's type — the
  reference's ``expected Number``/``expected Array``/… DecodingError at
  the field path (Schema.hs:525-567, mirrored by interpret.py:101-126);
  missing required fields ride the normal structural layer. One
  JSON-only refinement the typed-table path cannot make: a *missing
  key* is distinguishable from an explicit ``null`` via
  ``json_object_keys``. That matters for required ``SNull`` fields
  (Schema.hs:530-532: only the literal ``null`` parses): missing key →
  missing-field DecodingError, explicit ``null`` → fine, any other
  value → ``expected Null``. Optional fields keep the collapsed
  missing/null semantics (Schema.hs:561-563).

Both raw-JSON entry points — :func:`validate_json_strings` and
``migrations.validate_versioned_json_strings`` — decode through
:func:`decode_json`, the one place these rules are written.

Documented leniencies (both directions of the Jackson parser, shared
with the versioned entry point): JSON numbers COERCE into text fields
("5" for 5 — from_json StringType captures any scalar), and a
type-mismatched field nested INSIDE a struct nulls only that inner
field (outer struct survives; a required inner field then reports
missing-field instead of expected-Kind, an optional one parses None).
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..compiler import VIOLATION_DDL, spark_type_for
from ..schema.ast import (
    SArray,
    SBoolean,
    SNull,
    SNumber,
    SObject,
    SOptional,
    SText,
    SUnion,
    missing_field_message,
)
from ..validation import (
    DECODING_ERROR_COL,
    STRUCTURAL_COL,
    VERDICT_COL,
    VIOLATIONS_COL,
    ValidationResult,
    as_schema,
    validate,
    verdict_columns,
)

MALFORMED = "malformed json"

_SIMPLE_KEY = _re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _json_path(name: str) -> str:
    return f"$.{name}" if _SIMPLE_KEY.match(name) else f"$['{name}']"


def _cell(path: str, message: str):
    return F.struct(
        F.lit(path).alias("path"), F.lit(message).alias("error")
    )


# ---------------------------------------------------------------------------
# Raw-JSON unions — kind-faithful decode via the VARIANT type
# ---------------------------------------------------------------------------
#
# ``from_json`` cannot carry a union: the alt_i struct encoding never
# appears in raw JSON (every branch would parse null → spurious "empty
# union"), and its StringType slot coerces numbers to strings, losing
# the JSON kind the left-biased parse dispatches on (Schema.hs:514-519).
# ``try_parse_json`` → ``schema_of_variant`` recovers the exact kind
# (STRING/BIGINT/DECIMAL…/BOOLEAN/ARRAY<…>/OBJECT<…>/VOID, NULL for a
# missing key), so a union whose alternatives occupy DISTINCT JSON
# kinds decodes exactly: the kind picks the branch, ``try_variant_get``
# converts the payload to the branch's Spark type, and the standard
# struct-of-branches machinery (no-match error, branch validation)
# takes over unchanged.

_KIND_CLASS = {
    SText: "text", SNumber: "number", SBoolean: "boolean",
    SArray: "array", SObject: "object",
}


def _variant_kind_pred(alt, kind_col):
    if isinstance(alt, SText):
        return kind_col == "STRING"
    if isinstance(alt, SNumber):
        return kind_col.isin("BIGINT", "DOUBLE", "FLOAT") \
            | kind_col.startswith("DECIMAL")
    if isinstance(alt, SBoolean):
        return kind_col == "BOOLEAN"
    if isinstance(alt, SArray):
        return kind_col.startswith("ARRAY")
    if isinstance(alt, SObject):
        return kind_col.startswith("OBJECT")
    raise TypeError(f"no JSON kind for union alternative {alt!r}")


def _contains_default_union(schema) -> bool:
    """True if the subtree holds an alt_i-encoded union — the one shape
    ``from_json`` cannot carry (named/tagged unions are plain structs
    whose field names match the raw JSON keys, so they parse fine at
    any depth)."""
    if isinstance(schema, SUnion):
        if schema.branch_fields is None:
            return True
        return any(
            _contains_default_union(a) for a in schema.alternatives
        )
    if isinstance(schema, SObject):
        return any(_contains_default_union(s) for _, s in schema.fields)
    if isinstance(schema, SArray):
        return _contains_default_union(schema.item)
    if isinstance(schema, SOptional):
        return _contains_default_union(schema.inner)
    return False


def check_raw_union_support(schema: SObject) -> None:
    """Raw-JSON ingest decodes default (alt_i-encoded) unions as
    TOP-LEVEL fields whose alternatives occupy distinct JSON kinds
    (text/number/boolean/array/object) — the kind picks the branch.
    Named/tagged (``branch_fields``) unions ride ``from_json`` directly
    at any depth. What remains unsupported — default unions below top
    level, SNull/SOptional/SUnion alternatives, two same-kind
    alternatives (e.g. two object shapes) — raises here with a pointer
    to the typed-table path rather than mis-validating."""
    for name, fs in schema.fields:
        target = fs.inner if isinstance(fs, SOptional) else fs
        if isinstance(target, SUnion) and target.branch_fields is None:
            if target.tag_field is not None:
                raise NotImplementedError(
                    f"raw-JSON union field {name!r}: a tag_field union "
                    f"needs branch_fields (the default alt_i payload "
                    f"names have no JSON counterpart) — declare "
                    f"branch_fields or use the typed-table path"
                )
            kinds = []
            for alt in target.alternatives:
                cls = _KIND_CLASS.get(type(alt))
                if cls is None:
                    raise NotImplementedError(
                        f"raw-JSON union field {name!r}: alternative "
                        f"{type(alt).__name__} unsupported (use the "
                        f"typed-table path, or SOptional for nullability)"
                    )
                if _contains_default_union(alt):
                    raise NotImplementedError(
                        f"raw-JSON union field {name!r}: nested default-"
                        f"encoding unions inside a branch are unsupported"
                    )
                kinds.append(cls)
            if len(set(kinds)) != len(kinds):
                raise NotImplementedError(
                    f"raw-JSON union field {name!r}: two alternatives "
                    f"share JSON kind "
                    f"{[k for k in kinds if kinds.count(k) > 1][0]!r}; "
                    f"the kind-dispatch decode cannot disambiguate — "
                    f"use the typed-table path"
                )
        elif _contains_default_union(target):
            raise NotImplementedError(
                f"field {name!r}: default-encoding (alt_i) unions below "
                f"the top level are not supported by raw-JSON ingest "
                f"(declare branch_fields/tag_field, or use the "
                f"typed-table path)"
            )


def _with_raw_tokens(df: DataFrame, json_col: str, names) -> DataFrame:
    """Add one ``_raw__<name>`` string column per top-level field name:
    the field's raw JSON token text, NULL for a missing key, a literal
    ``null`` value, or a malformed document. One ``json_tuple`` parse
    serves every name (a single streaming pass per row); falls back to
    per-name ``get_json_object`` only if the positional c0..cN output
    names would collide with existing columns."""
    names = list(names)
    if not names:
        return df
    taken = set(df.columns)
    if any(f"c{i}" in taken for i in range(len(names))):
        for n in names:
            df = df.withColumn(
                f"_raw__{n}",
                F.get_json_object(F.col(json_col), _json_path(n)),
            )
        return df
    df = df.select("*", F.json_tuple(F.col(json_col), *names))
    for i, n in enumerate(names):
        df = df.withColumnRenamed(f"c{i}", f"_raw__{n}")
    return df


def _is_variant_union(fs) -> bool:
    """True for fields that must decode via the variant kind dispatch:
    a default-encoding (no ``branch_fields``, no ``tag_field``) union,
    possibly Optional-wrapped. Named unions ride ``from_json``; a
    tag_field union without branch_fields is rejected up front
    (check_raw_union_support) — the kind dispatch would ignore its tag
    and the alt_i payload names have no raw-JSON counterpart."""
    t = fs.inner if isinstance(fs, SOptional) else fs
    return (
        isinstance(t, SUnion)
        and t.branch_fields is None
        and t.tag_field is None
    )


def _union_carrier(variant_col, kind_col, name: str, fs):
    """The ``alt_i`` struct carrier of one variant-decoded union field:
    branch i holds the payload iff the JSON kind matches alternative i
    (kinds are distinct, so at most one branch fires). An SOptional
    wrap maps a missing key (kind NULL) and an explicit null (VOID) to
    None."""
    union = fs.inner if isinstance(fs, SOptional) else fs
    carrier = F.struct(*[
        F.when(
            _variant_kind_pred(alt, kind_col),
            F.try_variant_get(
                variant_col, _json_path(name),
                spark_type_for(alt).simpleString(),
            ),
        ).alias(f"alt_{i}")
        for i, alt in enumerate(union.alternatives)
    ])
    if isinstance(fs, SOptional):
        carrier = F.when(
            kind_col.isNotNull() & (kind_col != "VOID"), carrier
        )
    return carrier


class Failure(NamedTuple):
    """One decode failure cell: where ``pred`` holds, the document fails
    to decode with ``message`` at ``path``."""

    pred: Column
    path: str
    message: str


@dataclass(frozen=True)
class RevisionDecode:
    """One schema's view of the shared decode: ``row`` holds its fields
    (aliased, in field order), ready for ``F.struct``; the failures are
    the required-SNull cells (missing key, non-null value) and the type
    cells (raw token present, typed slot NULL), each in field order."""

    row: list[Column]
    null_failures: list[Failure]
    type_failures: list[Failure]


@dataclass(frozen=True)
class DecodedJson:
    """The shared decode of a JSON column against one or more schemas:
    ``frame`` is the input plus the decode's helper columns,
    ``malformed`` the document-level failure every schema shares."""

    frame: DataFrame
    malformed: Failure
    revisions: list[RevisionDecode]


def decode_json(df: DataFrame, json_col: str, schemas) -> DecodedJson:
    """Decode a string column of JSON documents ONCE for every schema in
    ``schemas`` — the one home of the raw-JSON decode rules, shared by
    :func:`validate_json_strings` and
    ``migrations.validate_versioned_json_strings``.

    Physical shape, whatever the number of schemas:

    * ONE ``json_tuple`` extracts every field's raw token (NULL =
      missing key or literal null) and ONE ``json_object_keys`` call
      drives both the syntactic-malformed check and SNull key presence;
    * schemas are grouped by field-type compatibility and each group
      gets ONE ``from_json`` against its union-of-fields struct (a
      single schema, or a chain of AddKey/DeleteKey migrations, is one
      group; only a field retyped by an ``Update`` opens another);
    * default-encoding unions decode via one ``try_parse_json`` and one
      kind column per field name (the variant kind dispatch); each
      distinct union's ``alt_i`` carrier is MATERIALIZED as a column so
      the rows reference columns, never re-inlined parse trees
      (CLAUDE.md CSE rule);
    * required-SNull fields never enter a parse struct (NullType cannot
      ride ``from_json``): their presence comes from the keys, their
      value kind from the raw token.

    Failure rules: malformed = the column is NULL or its top level is
    not a JSON object; a required SNull field reports the missing-field
    message when its key is absent and ``expected Null`` for any other
    value; a parsed field whose raw token is present but whose typed
    slot is NULL failed its type (``expected <Kind>``). A named/tagged
    union instead reports the union no-match message — except a
    REQUIRED union whose no-match the compiler already reports; an
    optional one needs this cell, since the optional would read the
    nulled slot as absent (a silent false Valid otherwise).
    """
    from ..compiler import (
        UNION_NO_MATCH,
        _kind_label,
        _union_no_match_possible,
    )

    tokens: list[str] = []        # every parsed or SNull field name
    vunions: list[tuple] = []     # distinct (name, field schema)
    groups: list[dict] = []       # field name -> Spark DataType
    group_of: list[int] = []
    for schema in schemas:
        check_raw_union_support(schema)
        fields = {}
        for n, fs in schema.fields:
            if _is_variant_union(fs):
                if (n, fs) not in vunions:
                    vunions.append((n, fs))
                continue
            if n not in tokens:
                tokens.append(n)
            if not isinstance(fs, SNull):
                fields[n] = spark_type_for(fs)
        for j, g in enumerate(groups):
            if all(g.get(n, t) == t for n, t in fields.items()):
                g.update(fields)
                break
        else:
            j = len(groups)
            groups.append(fields)
        group_of.append(j)

    frame = _with_raw_tokens(df, json_col, tokens)
    frame = frame.withColumn("_keys", F.json_object_keys(F.col(json_col)))
    for j, g in enumerate(groups):
        if g:  # a schema of SNull/variant-union fields parses nothing
            st = StructType([StructField(n, t, True) for n, t in g.items()])
            frame = frame.withColumn(
                f"_doc__g{j}",
                F.from_json(F.col(json_col), st, {"mode": "PERMISSIVE"}),
            )
    carriers = {}
    if vunions:
        frame = frame.withColumn(
            "_variant", F.try_parse_json(F.col(json_col))
        )
        for n in dict.fromkeys(n for n, _ in vunions):
            frame = frame.withColumn(
                f"_kind__{n}",
                F.schema_of_variant(F.try_variant_get(
                    F.col("_variant"), _json_path(n), "variant"
                )),
            )
        for i, (n, fs) in enumerate(vunions):
            frame = frame.withColumn(f"_u__{i}", _union_carrier(
                F.col("_variant"), F.col(f"_kind__{n}"), n, fs
            ))
            carriers[(n, fs)] = f"_u__{i}"

    revisions = []
    for schema, j in zip(schemas, group_of):
        doc = F.col(f"_doc__g{j}")
        row, null_failures, type_failures = [], [], []
        for n, fs in schema.fields:
            raw_present = F.col(f"_raw__{n}").isNotNull()
            if isinstance(fs, SNull):
                row.append(F.lit(None).cast("void").alias(n))
                key = F.coalesce(
                    F.array_contains(F.col("_keys"), n), F.lit(False)
                )
                null_failures += [
                    Failure(~key, "", missing_field_message(n, SNull())),
                    Failure(key & raw_present, f".{n}", "expected Null"),
                ]
                continue
            if (n, fs) in carriers:
                row.append(F.col(carriers[(n, fs)]).alias(n))
                continue
            row.append(doc[n].alias(n))
            target = fs.inner if isinstance(fs, SOptional) else fs
            if not isinstance(target, SUnion):
                message = f"expected {_kind_label(target)}"
            elif isinstance(fs, SOptional) \
                    or not _union_no_match_possible(target):
                message = UNION_NO_MATCH
            else:
                continue  # the compiler reports this union's no-match
            type_failures.append(Failure(
                doc[n].isNull() & raw_present, f".{n}", message
            ))
        revisions.append(RevisionDecode(row, null_failures, type_failures))

    malformed = Failure(
        F.col(json_col).isNull() | F.col("_keys").isNull(), "", MALFORMED
    )
    return DecodedJson(frame, malformed, revisions)


def _cells(failures: list[Failure]) -> Column:
    if not failures:
        return F.array().cast(VIOLATION_DDL)
    return F.array_compact(F.array(*[
        F.when(f.pred, _cell(f.path, f.message)) for f in failures
    ])).cast(VIOLATION_DDL)


def validate_json_strings(
    df: DataFrame, json_col: str, spec, *, keep_raw: bool = False
) -> ValidationResult:
    """Parse a string column of JSON documents against the spec and
    validate. Malformed documents get verdict DecodingError with
    message ``"malformed json"``; a decode failure of
    :func:`decode_json` is a DecodingError cell ahead of the compiled
    structural layer; everything else follows the standard 3-way
    verdict."""
    schema = as_schema(spec)
    if not isinstance(schema, SObject):
        raise TypeError("top-level spec must be an object")
    decoded = decode_json(df, json_col, [schema])
    (rev,) = decoded.revisions
    passthrough = [c for c in df.columns if c != json_col] + (
        [json_col] if keep_raw else []
    )
    flat = decoded.frame.select(
        *[F.col(c) for c in passthrough],
        decoded.malformed.pred.alias("_malformed"),
        _cells(rev.null_failures).alias("_null_errs"),
        _cells(rev.type_failures).alias("_mismatch_errs"),
        *rev.row,
    )
    res = validate(flat, schema)
    structural = (
        F.when(F.col("_malformed"), F.array(
            _cell(decoded.malformed.path, decoded.malformed.message)
        ))
        .otherwise(F.concat(
            F.col("_null_errs"), F.col("_mismatch_errs"),
            F.col(STRUCTURAL_COL),
        ))
    )
    verdict, decoding_error = verdict_columns(
        F.col(STRUCTURAL_COL), F.col(VIOLATIONS_COL)
    )
    ann = (
        res.annotated
        .withColumn(STRUCTURAL_COL, structural)
        .withColumn(VERDICT_COL, verdict)
        .withColumn(DECODING_ERROR_COL, decoding_error)
        .drop("_malformed", "_null_errs", "_mismatch_errs")
    )
    return ValidationResult(annotated=ann, schema=schema)
