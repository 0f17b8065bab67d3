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

Documented leniencies (both directions of the Jackson parser, shared
with the versioned entry point): JSON numbers COERCE into text fields
("5" for 5 — from_json StringType captures any scalar), and a
type-mismatched field nested INSIDE a struct nulls only that inner
field (outer struct survives; a required inner field then reports
missing-field instead of expected-Kind, an optional one parses None).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame
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


def with_raw_tokens(df: DataFrame, json_col: str, names) -> DataFrame:
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


def _raw_union_col(variant_col, kind_col, name: str, union: SUnion):
    """struct<alt_i…> for a top-level union field decoded from the
    variant: branch i holds the payload iff the JSON kind matches
    alternative i (kinds are distinct, so at most one branch fires)."""
    alts = []
    for i, alt in enumerate(union.alternatives):
        ddl = spark_type_for(alt).simpleString()
        alts.append(
            F.when(
                _variant_kind_pred(alt, kind_col),
                F.try_variant_get(variant_col, _json_path(name), ddl),
            ).alias(f"alt_{i}")
        )
    return F.struct(*alts)


def is_variant_union(fs) -> bool:
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


def variant_union_carrier(variant_col, kind_col, name: str, fs):
    """The ``alt_i`` struct carrier for one variant-decoded union
    field, including the SOptional wrap (missing key → kind NULL,
    explicit null → VOID; both become None). The ONE place the subtle
    kind-dispatch leniencies live — shared by ``validate_json_strings``
    and ``migrations.validate_versioned_json_strings`` so a fix in one
    path cannot silently miss the other."""
    union = fs.inner if isinstance(fs, SOptional) else fs
    carrier = _raw_union_col(variant_col, kind_col, name, union)
    if isinstance(fs, SOptional):
        carrier = F.when(
            kind_col.isNotNull() & (kind_col != "VOID"), carrier
        )
    return carrier


def validate_json_strings(
    df: DataFrame, json_col: str, spec, *, keep_raw: bool = False
) -> ValidationResult:
    """Parse a string column of JSON documents against the spec and
    validate. Malformed documents get verdict DecodingError with
    message ``"malformed json"``; everything else follows the standard
    3-way verdict."""
    schema = as_schema(spec)
    if not isinstance(schema, SObject):
        raise TypeError("top-level spec must be an object")
    check_raw_union_support(schema)

    # required-SNull fields carry no data — parse every OTHER field,
    # and check SNull fields straight off the raw JSON (presence + kind);
    # default-encoding unions decode via the variant kind dispatch
    null_fields = [n for n, fs in schema.fields if isinstance(fs, SNull)]
    variant_unions = [
        (n, fs) for n, fs in schema.fields if is_variant_union(fs)
    ]
    data_fields = [
        (n, fs) for n, fs in schema.fields
        if not isinstance(fs, SNull) and not is_variant_union(fs)
    ]
    st = StructType([
        StructField(n, spark_type_for(fs), True) for n, fs in data_fields
    ])
    # one json_tuple pass extracts every field's raw token (NULL =
    # missing key or literal null); one json_object_keys call drives
    # both the syntactic-malformed check and SNull key presence
    parsed = with_raw_tokens(
        df, json_col,
        [n for n, _ in data_fields] + null_fields,
    )
    parsed = parsed.withColumn(
        "_keys", F.json_object_keys(F.col(json_col))
    )
    if data_fields:
        parsed = parsed.withColumn(
            "_doc",
            F.from_json(F.col(json_col), st, {"mode": "PERMISSIVE"}),
        )
    union_cols = []
    if variant_unions:
        # one variant parse per row, one kind column per union field —
        # MATERIALIZED as columns so the branch expressions reference
        # columns, never re-inlined parse trees (CLAUDE.md CSE rule)
        parsed = parsed.withColumn(
            "_variant", F.try_parse_json(F.col(json_col))
        )
        for name, fs in variant_unions:
            parsed = parsed.withColumn(
                f"_kind__{name}",
                F.schema_of_variant(F.try_variant_get(
                    F.col("_variant"), _json_path(name), "variant"
                )),
            )
        for name, fs in variant_unions:
            union_cols.append(variant_union_carrier(
                F.col("_variant"), F.col(f"_kind__{name}"), name, fs
            ).alias(name))
    flat_cols = [
        F.col("_doc")[name].alias(name) for name, _ in data_fields
    ] + union_cols + [
        F.lit(None).cast("void").alias(name) for name in null_fields
    ]
    passthrough = [c for c in df.columns if c != json_col] + (
        [json_col] if keep_raw else []
    )

    # missing-key vs explicit-null for required SNull fields: presence
    # via json_object_keys (null for non-objects → treated as missing),
    # value kind via the raw token (NULL for both missing and literal
    # null — presence disambiguates; non-NULL ⇒ some other value)
    null_cells = []
    for name in null_fields:
        present = F.coalesce(
            F.array_contains(F.col("_keys"), name), F.lit(False)
        )
        raw_val = F.col(f"_raw__{name}")
        null_cells.append(F.when(
            ~present, _cell("", missing_field_message(name, SNull()))
        ))
        null_cells.append(F.when(
            present & raw_val.isNotNull(),
            _cell(f".{name}", "expected Null"),
        ))
    null_errs = (
        F.array_compact(F.array(*null_cells)).cast(VIOLATION_DDL)
        if null_cells else F.array().cast(VIOLATION_DDL)
    )

    # structural-parse layer: raw token present but typed slot NULL =
    # type failure at that field — the reference's "expected <Kind>"
    # DecodingError (interpret.py:101-126). Union-typed fields where
    # the compiler's no-match machinery can fire are excluded (it owns
    # that case); a branch_fields union with an SNull alternative is
    # the exception — there _union_matched is constant-true (an all-null
    # struct IS the SNull match), so a wrong-kind raw value that
    # from_json nulls out would otherwise validate as a false Valid.
    # The raw token disambiguates: non-null token + null struct slot =
    # the value matched no alternative.
    from ..compiler import UNION_NO_MATCH, _kind_label, _union_no_match_possible

    mismatch_cells = []
    for name, fs in data_fields:
        target = fs.inner if isinstance(fs, SOptional) else fs
        if isinstance(target, SUnion):
            # the compiler's no-match machinery only covers REQUIRED
            # unions: for an SOptional wrap, from_json nulls the slot
            # on a wrong-kind value and the optional treats null as
            # absent — without the raw-token check here that was a
            # silent false-Valid (round-3 review finding)
            if _union_no_match_possible(target) \
                    and not isinstance(fs, SOptional):
                continue
            mismatch_cells.append(F.when(
                F.col("_doc")[name].isNull()
                & F.col(f"_raw__{name}").isNotNull(),
                _cell(f".{name}", UNION_NO_MATCH),
            ))
            continue
        mismatch_cells.append(F.when(
            F.col("_doc")[name].isNull()
            & F.col(f"_raw__{name}").isNotNull(),
            _cell(f".{name}", f"expected {_kind_label(target)}"),
        ))
    mismatch_errs = (
        F.array_compact(F.array(*mismatch_cells)).cast(VIOLATION_DDL)
        if mismatch_cells else F.array().cast(VIOLATION_DDL)
    )

    flat = parsed.select(
        *[F.col(c) for c in passthrough],
        (
            F.col(json_col).isNull() | F.col("_keys").isNull()
        ).alias("_malformed"),
        null_errs.alias("_null_errs"),
        mismatch_errs.alias("_mismatch_errs"),
        *flat_cols,
    )
    res = validate(flat, schema)
    ann = res.annotated
    malformed_err = F.array(_cell("", MALFORMED))
    structural = (
        F.when(F.col("_malformed"), malformed_err)
        .otherwise(F.concat(
            F.col("_null_errs"), F.col("_mismatch_errs"),
            F.col(STRUCTURAL_COL),
        ))
    )
    verdict, decoding_error = verdict_columns(
        F.col(STRUCTURAL_COL), F.col(VIOLATIONS_COL)
    )
    ann = (
        ann
        .withColumn(STRUCTURAL_COL, structural)
        .withColumn(VERDICT_COL, verdict)
        .withColumn(DECODING_ERROR_COL, decoding_error)
        .drop("_malformed", "_null_errs", "_mismatch_errs")
    )
    return ValidationResult(annotated=ann, schema=schema)
