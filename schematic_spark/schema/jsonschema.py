"""JSON-Schema draft-4 export — feature parity with the reference's
``src/Data/Schematic/JsonSchema.hs:26-124``.

Arithmetic is byte-identical:
  * ``TEq n``  → ``minLength = maxLength = n``            (JsonSchema.hs:30-32)
  * ``TLt n``  → ``maxLength = n-1`` (clamped at 0)       (:35-37)
  * ``TLe n``  → ``maxLength = n``                        (:33-34)
  * ``TGt n``  → ``minLength = n+1``                      (:38-39)
  * ``TGe n``  → ``minLength = n``                        (:40-41)
  * ``TRegex`` → ``pattern``; ``TEnum`` → ``enum``        (:42-45)
  * numbers    → ``minimum/maximum`` + ``exclusiveMin/Max``(:47-60)
  * arrays     → ``minItems/maxItems`` same ±1 arithmetic (:62-74)
  * object     → ``required`` = non-optional field names  (:97-108)
  * optional   → ``oneOf [null, s]``; union → ``anyOf``   (:116-124)
"""

from __future__ import annotations

from .ast import (
    AEq,
    AGe,
    ALe,
    Comparison,
    NEq,
    NGe,
    NGt,
    NLe,
    NLt,
    SArray,
    SBoolean,
    Schema,
    SNull,
    SNumber,
    SObject,
    SOptional,
    SText,
    SUnion,
    TEnum,
    TEq,
    TGe,
    TLe,
    TRegex,
)

DRAFT4 = "http://json-schema.org/draft-04/schema#"


def to_json_schema(schema: Schema) -> dict:
    """Export with the ``$schema`` marker (toJsonSchema, JsonSchema.hs:77-84)."""
    out = to_json_schema_inner(schema)
    out["$schema"] = DRAFT4
    return out


# (lower, upper) keyword of each comparison measure
_KEYWORDS = {
    "length": ("minLength", "maxLength"),
    "value": ("minimum", "maximum"),
    "size": ("minItems", "maxItems"),
}


def _comparison_keywords(c: Comparison) -> dict:
    """Draft-4 keywords of one bound constraint, in the reference's key
    order."""
    lo, hi = _KEYWORDS[c.measure]
    if c.op == "==":
        return {lo: c.n, hi: c.n}
    lower = c.op[0] == ">"
    key = lo if lower else hi
    if c.op.endswith("="):
        return {key: c.n}
    if c.measure == "value":
        # strict number bounds keep n and set the draft-4 flag
        flag = "exclusiveMinimum" if lower else "exclusiveMaximum"
        return {key: c.n, flag: True}
    # strict length/size bounds become the next integer; ``Lt 0`` clamps
    # at 0 like the reference, which admits the empty value it rejects
    if lower:
        return {key: c.n + 1}
    return {key: 0 if c.n == 0 else c.n - 1}


def _with_constraints(out: dict, constraints) -> dict:
    for c in constraints:
        if isinstance(c, TRegex):
            out["pattern"] = c.pattern
        elif isinstance(c, TEnum):
            out["enum"] = list(c.values)
        else:
            out.update(_comparison_keywords(c))
    return out


def to_json_schema_inner(schema: Schema) -> dict:
    """Export without the marker (toJsonSchema', JsonSchema.hs:86-124)."""
    if isinstance(schema, SText):
        return _with_constraints({"type": "string"}, schema.constraints)
    if isinstance(schema, SNumber):
        return _with_constraints({"type": "number"}, schema.constraints)
    if isinstance(schema, SBoolean):
        return {"type": "boolean"}
    if isinstance(schema, SNull):
        return {"type": "null"}
    if isinstance(schema, SObject):
        required = [
            n for n, s in schema.fields if not isinstance(s, SOptional)
        ]
        return {
            "type": "object",
            "required": required,
            "properties": {
                n: to_json_schema_inner(s) for n, s in schema.fields
            },
        }
    if isinstance(schema, SArray):
        return _with_constraints(
            {"type": "array", "items": to_json_schema_inner(schema.item)},
            schema.constraints,
        )
    if isinstance(schema, SOptional):
        return {
            "oneOf": [
                to_json_schema_inner(SNull()),
                to_json_schema_inner(schema.inner),
            ]
        }
    if isinstance(schema, SUnion):
        if not schema.alternatives:
            raise ValueError("empty union has no JSON-Schema rendering")
        return {
            "anyOf": [to_json_schema_inner(a) for a in schema.alternatives]
        }
    raise TypeError(f"unknown schema node {schema!r}")


# ---------------------------------------------------------------------------
# Draft-4 import — the inverse direction (SURVEY §3 "also the reverse").
# The reference does this in the type system; here it is a plain parser.
# ---------------------------------------------------------------------------

def from_json_schema(doc: dict) -> Schema:
    """Parse a draft-4 document back into the schema AST.

    Exact inverse of :func:`to_json_schema` up to constraint
    normalization (the export already normalizes ``TLt n`` →
    ``maxLength n-1`` etc., so importing yields the inclusive forms
    ``TLe``/``TGe``; ``minLength == maxLength`` imports as ``TEq``,
    ``minimum == maximum`` as ``NEq``, ``minItems == maxItems`` as
    ``AEq``). ``export(parse(export(s))) == export(s)`` for every
    schema — the round-trip property test pins it.
    """
    if "oneOf" in doc:
        alts = doc["oneOf"]
        if (
            len(alts) == 2
            and alts[0].get("type") == "null"
        ):
            return SOptional(from_json_schema(alts[1]))
        return SUnion(tuple(from_json_schema(a) for a in alts))
    if "anyOf" in doc:
        return SUnion(tuple(from_json_schema(a) for a in doc["anyOf"]))
    t = doc.get("type")
    if t == "string":
        cs: list = []
        lo, hi = doc.get("minLength"), doc.get("maxLength")
        if lo is not None and lo == hi:
            cs.append(TEq(lo))
        else:
            if lo is not None:
                cs.append(TGe(lo))
            if hi is not None:
                cs.append(TLe(hi))
        if "pattern" in doc:
            cs.append(TRegex(doc["pattern"]))
        if "enum" in doc:
            cs.append(TEnum(tuple(doc["enum"])))
        return SText(tuple(cs))
    if t in ("number", "integer"):
        cs = []
        lo, hi = doc.get("minimum"), doc.get("maximum")
        xlo = bool(doc.get("exclusiveMinimum"))
        xhi = bool(doc.get("exclusiveMaximum"))
        if lo is not None and lo == hi and not xlo and not xhi:
            cs.append(NEq(lo))
        else:
            if lo is not None:
                cs.append(NGt(lo) if xlo else NGe(lo))
            if hi is not None:
                cs.append(NLt(hi) if xhi else NLe(hi))
        return SNumber(tuple(cs))
    if t == "boolean":
        return SBoolean()
    if t == "null":
        return SNull()
    if t == "object":
        required = set(doc.get("required", ()))
        fields = []
        for name, sub in doc.get("properties", {}).items():
            parsed = from_json_schema(sub)
            if name not in required and not isinstance(parsed, SOptional):
                parsed = SOptional(parsed)
            fields.append((name, parsed))
        return SObject(tuple(fields))
    if t == "array":
        cs = []
        lo, hi = doc.get("minItems"), doc.get("maxItems")
        if lo is not None and lo == hi:
            cs.append(AEq(lo))
        else:
            if lo is not None:
                cs.append(AGe(lo))
            if hi is not None:
                cs.append(ALe(hi))
        item = doc.get("items")
        return SArray(
            from_json_schema(item) if item is not None else SText(),
            tuple(cs),
        )
    raise ValueError(f"cannot import JSON-Schema node: {doc!r}")
