"""Schema spec model + normalization.

The schema language is the same 14-variant union as the reference
(`/root/reference/src/ndto.erl:28-42`): empty (False), universal (True/{}),
ref, enum, boolean, integer, float, string, array, object, any_of, all_of,
one_of, not — each optionally `nullable` / `optional`.

Specs are plain Python dicts (or the booleans True/False). `normalize()`
canonicalizes key spelling: ndto snake_case is canonical; JSON-Schema
camelCase synonyms ("minLength", "anyOf", "$ref", ...) are accepted and
rewritten. Unknown keys are preserved (ndto ignores unknown keywords).
"""

from __future__ import annotations

from typing import Any, Union

Schema = Union[bool, dict]

# canonical keyword set (ndto names), cf. /root/reference/src/ndto.erl:28-130
KEYWORDS = {
    "type",
    "enum",
    "ref",
    "minimum",
    "exclusive_minimum",
    "maximum",
    "exclusive_maximum",
    "multiple_of",
    "min_length",
    "max_length",
    "pattern",
    "format",
    "items",
    "additional_items",
    "min_items",
    "max_items",
    "unique_items",
    "properties",
    "required",
    "min_properties",
    "max_properties",
    "pattern_properties",
    "additional_properties",
    "any_of",
    "all_of",
    "one_of",
    "not",
    "nullable",
    "optional",
}

_SYNONYMS = {
    "$ref": "ref",
    "exclusiveMinimum": "exclusive_minimum",
    "exclusiveMaximum": "exclusive_maximum",
    "multipleOf": "multiple_of",
    "minLength": "min_length",
    "maxLength": "max_length",
    "additionalItems": "additional_items",
    "minItems": "min_items",
    "maxItems": "max_items",
    "uniqueItems": "unique_items",
    "minProperties": "min_properties",
    "maxProperties": "max_properties",
    "patternProperties": "pattern_properties",
    "additionalProperties": "additional_properties",
    "anyOf": "any_of",
    "allOf": "all_of",
    "oneOf": "one_of",
}

TYPES = ("string", "integer", "float", "boolean", "array", "object")


class SpecError(ValueError):
    """Raised for malformed schema specs."""


def normalize(schema: Schema) -> Schema:
    """Canonicalize a schema spec (recursively). Returns a new object."""
    if schema is True or schema is False:
        return schema
    if not isinstance(schema, dict):
        raise SpecError(f"schema must be a dict or bool, got {type(schema).__name__}")
    out: dict[str, Any] = {}
    for key, val in schema.items():
        key = _SYNONYMS.get(key, key)
        out[key] = _normalize_value(key, val)
    if "type" in out:
        t = out["type"]
        # ndto also accepts binary type names (ndto_SUITE.erl:333 uses
        # type => <<"object">>); bytes here for symmetry with JSON input.
        if isinstance(t, bytes):
            t = t.decode()
        if t == "number":
            # draft-04 "number" → any_of [integer, float]
            # (ndto_parser_json_schema_draft_04.erl:82-108)
            rest = {k: v for k, v in out.items() if k != "type"}
            num_keys = {
                "minimum",
                "exclusive_minimum",
                "maximum",
                "exclusive_maximum",
                "multiple_of",
            }
            bounds = {k: v for k, v in rest.items() if k in num_keys}
            extra = {k: v for k, v in rest.items() if k not in num_keys}
            out = {
                "any_of": [
                    {"type": "integer", **bounds},
                    {"type": "float", **{k: v for k, v in bounds.items() if k != "multiple_of"}},
                ],
                **extra,
            }
            return out
        if t not in TYPES:
            raise SpecError(f"unknown type {t!r}")
        out["type"] = t
    return out


def _normalize_value(key: str, val: Any) -> Any:
    if key in ("items",):
        if isinstance(val, list):
            return [normalize(v) for v in val]
        if isinstance(val, (dict, bool)):
            return normalize(val)
        raise SpecError("items must be a schema or list of schemas")
    if key in ("additional_items", "additional_properties", "not"):
        return normalize(val) if isinstance(val, (dict, bool)) else val
    if key in ("any_of", "all_of", "one_of"):
        if not isinstance(val, list):
            raise SpecError(f"{key} must be a list of schemas")
        return [normalize(v) for v in val]
    if key in ("properties", "pattern_properties"):
        if not isinstance(val, dict):
            raise SpecError(f"{key} must be a dict of name → schema")
        return {str(k): normalize(v) for k, v in val.items()}
    return val


def is_universal(schema: Schema) -> bool:
    return schema is True or (isinstance(schema, dict) and not (set(schema) & KEYWORDS - {"nullable", "optional"}))
