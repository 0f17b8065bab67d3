"""Differential property test: for randomly generated schemas and
randomly generated (conforming + corrupted) values, the Catalyst
compiler and the pure interpreter must agree on

  * the 3-way verdict,
  * the exact (path, error) violation set (constraint layer — both are
    monoidal, so order-insensitive set equality is exact),
  * for DecodingError rows: the interpreter's fail-fast first error
    must appear in the compiler's (superset) structural error list.

This is the broad net behind the targeted golden tests — the round-1
mask/structural divergence (silent false-Valid on SOptional(SObject)
array items) is exactly the class of bug it catches.

Seeded, no wall-clock; one Spark job per generated schema (rows are
batched into a single DataFrame).
"""

from __future__ import annotations

import random

import pytest

from schematic_spark.compiler import spark_type_for
from schematic_spark.schema.ast import (
    AEq,
    AGe,
    AGt,
    ALe,
    ALt,
    NEq,
    NGe,
    NGt,
    NLe,
    NLt,
    SArray,
    SBoolean,
    Schema,
    SNumber,
    SObject,
    SOptional,
    SText,
    TEnum,
    TEq,
    TGe,
    TGt,
    TLe,
    TLt,
    TRegex,
)
from schematic_spark.schema.interpret import parse_and_validate
from schematic_spark.validation import validate

# SUnion excluded: its struct-of-branches column encoding differs from
# the interpreter's raw-value view; union semantics have dedicated
# golden tests (test_union_structural.py).


def _rand_text_constraints(rng: random.Random) -> tuple:
    pool = [
        TEq(rng.randint(0, 6)), TLt(rng.randint(1, 8)),
        TLe(rng.randint(0, 8)), TGt(rng.randint(0, 4)),
        TGe(rng.randint(0, 4)),
        TEnum(tuple(rng.sample(["a", "bb", "ccc", "dddd", ""], 2))),
        # valid in both Java regex and Python re: the JVM rlike path and
        # the pandas-UDF interpreter path must agree with the oracle
        TRegex("[bc]{2}", dialect="java"),
        TRegex("^(a|d+)$", dialect="python"),
    ]
    return tuple(rng.sample(pool, rng.randint(0, 2)))


def _rand_number_constraints(rng: random.Random) -> tuple:
    pool = [
        NEq(rng.randint(-3, 3)), NGt(rng.randint(-5, 2)),
        NGe(rng.randint(-5, 2)), NLt(rng.randint(0, 9)),
        NLe(rng.randint(0, 9)),
    ]
    return tuple(rng.sample(pool, rng.randint(0, 2)))


def _rand_array_constraints(rng: random.Random) -> tuple:
    pool = [AEq(rng.randint(0, 3)), AGt(rng.randint(0, 2)),
            AGe(rng.randint(0, 2)), ALt(rng.randint(1, 4)),
            ALe(rng.randint(1, 4))]
    return tuple(rng.sample(pool, rng.randint(0, 2)))


def _rand_schema(rng: random.Random, depth: int) -> Schema:
    kinds = ["text", "number", "boolean"]
    if depth > 0:
        kinds += ["array", "object", "optional", "array", "object"]
    k = rng.choice(kinds)
    if k == "text":
        return SText(_rand_text_constraints(rng))
    if k == "number":
        return SNumber(_rand_number_constraints(rng))
    if k == "boolean":
        return SBoolean()
    if k == "array":
        return SArray(_rand_schema(rng, depth - 1),
                      _rand_array_constraints(rng))
    if k == "optional":
        return SOptional(_rand_schema(rng, depth - 1))
    fields = tuple(
        (f"f{i}", _rand_schema(rng, depth - 1))
        for i in range(rng.randint(1, 3))
    )
    return SObject(fields)


def _rand_value(rng: random.Random, schema: Schema, *, corrupt: float):
    """Type-correct value for the schema; ``corrupt`` is the chance of a
    null at any node (nulls are the only corruption a TYPED table can
    carry — wrong types can't exist in a typed column)."""
    if rng.random() < corrupt:
        return None
    if isinstance(schema, SOptional):
        if rng.random() < 0.3:
            return None
        return _rand_value(rng, schema.inner, corrupt=corrupt)
    if isinstance(schema, SText):
        words = ["", "a", "bb", "ccc", "dddd", "hello world", "zzzzzzzzz"]
        return rng.choice(words)
    if isinstance(schema, SNumber):
        return float(rng.randint(-6, 10))
    if isinstance(schema, SBoolean):
        return rng.random() < 0.5
    if isinstance(schema, SArray):
        return [
            _rand_value(rng, schema.item, corrupt=corrupt)
            for _ in range(rng.randint(0, 3))
        ]
    if isinstance(schema, SObject):
        return {
            n: _rand_value(rng, s, corrupt=corrupt)
            for n, s in schema.fields
        }
    raise TypeError(schema)


def _typed_view(value):
    """A typed TABLE cannot distinguish a null cell from a missing key
    (both are column-null), and the engine maps required-field nulls to
    the reference's missing-field DecodingError (compile_structural
    docstring). Present the interpreter with the same view: drop
    None-valued object keys at every level. None ARRAY ELEMENTS stay —
    positions are real, and both sides report 'expected <Kind>'."""
    if isinstance(value, dict):
        return {
            k: _typed_view(v) for k, v in value.items() if v is not None
        }
    if isinstance(value, list):
        return [_typed_view(v) for v in value]
    return value


def _interp_expect(schema: SObject, value: dict):
    return parse_and_validate(schema, _typed_view(value))


def _draw_top_schema(rng: random.Random) -> SObject:
    """A top-level object whose fields exercise nesting up to depth 3;
    redrawn when the random constraints are contradictory (the verifier
    pre-flight rejecting those is tested elsewhere)."""
    from schematic_spark.schema.verifier import (
        UnsatisfiableSchema, verify_schema,
    )

    while True:
        schema = SObject(tuple(
            (f"c{i}", _rand_schema(rng, 3)) for i in range(3)
        ))
        try:
            verify_schema(schema)
            return schema
        except UnsatisfiableSchema:
            continue


# 163 and 280 add the constraint kinds the first four seeds never draw
SEEDS = [11, 23, 37, 59, 163, 280]


def _constraint_kinds(schema: Schema, out: set) -> set:
    for c in getattr(schema, "constraints", ()):
        out.add(type(c).__name__
                + (f":{c.dialect}" if isinstance(c, TRegex) else ""))
    if isinstance(schema, SArray):
        _constraint_kinds(schema.item, out)
    elif isinstance(schema, SOptional):
        _constraint_kinds(schema.inner, out)
    elif isinstance(schema, SObject):
        for _, s in schema.fields:
            _constraint_kinds(s, out)
    return out


def test_fixed_seeds_cover_every_constraint_kind():
    """The tier-1 seeds draw all 15 comparisons, TEnum and TRegex on
    both the JVM and the Python-dialect path."""
    kinds: set = set()
    for seed in SEEDS:
        _constraint_kinds(_draw_top_schema(random.Random(seed)), kinds)
    assert kinds == {
        "TEq", "TLt", "TLe", "TGt", "TGe", "TEnum",
        "TRegex:java", "TRegex:python",
        "NEq", "NGt", "NGe", "NLt", "NLe",
        "AEq", "AGt", "AGe", "ALt", "ALe",
    }


@pytest.mark.parametrize("seed", SEEDS)
def test_compiler_matches_interpreter(spark, seed):
    rng = random.Random(seed)
    schema = _draw_top_schema(rng)
    st = spark_type_for(schema)
    rows = []
    for i in range(40):
        corrupt = 0.0 if i < 10 else 0.18
        rows.append((i, *[
            _rand_value(rng, fs, corrupt=corrupt)
            for _, fs in schema.fields
        ]))
    from pyspark.sql.types import (
        IntegerType, StructField, StructType,
    )

    full_st = StructType(
        [StructField("row_id", IntegerType())] + list(st.fields)
    )
    df = spark.createDataFrame(rows, full_st)
    res = validate(df, schema)
    got = {
        r["row_id"]: r
        for r in res.annotated.select(
            "row_id", "_verdict", "_violations", "_structural"
        ).collect()
    }
    for row_id, *vals in rows:
        value = {n: v for (n, _), v in zip(schema.fields, vals)}
        expect = _interp_expect(schema, value)
        g = got[row_id]
        assert g["_verdict"] == expect.verdict, (
            row_id, value, schema,
            g["_verdict"], expect.verdict,
            [(x["path"], x["error"]) for x in g["_structural"]],
        )
        if expect.verdict == "ValidationError":
            spark_viols = sorted(
                (x["path"], x["error"]) for x in g["_violations"]
            )
            assert spark_viols == sorted(expect.violations), (
                row_id, value, schema,
            )
        if expect.verdict == "DecodingError":
            msgs = {x["error"] for x in g["_structural"]}
            assert expect.decoding_error in msgs, (
                row_id, value, schema, expect.decoding_error, msgs,
            )
