"""Frontend: JSON-Schema draft-04 dict -> validated, normalized SchemaNode tree.

Pure Python, driver-only, no Spark imports. Reproduces the reference's
schema-time contract exactly (same SchemaError paths + messages):

* dialect resolution via ``$schema`` (reference validator.py:15-29);
* per-keyword value validation incl. cross-keyword checks
  (reference schemas/draft_04/keywords.py, each ``validate()``);
* unknown keywords silently ignored (reference draft_04/schema.py:130-133);
* dead-rule elimination: keywords whose applicable type cannot
  intersect a declared ``type`` are dropped with a warning
  (reference draft_04/schema.py:96-105);
* cross-keyword folding: ``exclusiveMinimum``/``exclusiveMaximum``
  fold into ``minimum``/``maximum`` (reference keywords.py:396-399,
  427-430); ``additionalItems`` reads ``items``; ``additionalProperties``
  and ``patternProperties`` read sibling key sets.

Both backends (dynamic closures, static Catalyst plan) compile from the
SchemaNode produced here.
"""

from __future__ import annotations

import logging
import re
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Tuple, Union

from xjs.errors import PathType, SchemaError
from xjs.jsonval import JSON_TYPE_NAMES, duplicate_indices

logger = logging.getLogger(__name__)

DIALECTS = {
    "http://json-schema.org/schema#": "draft-04",
    "http://json-schema.org/draft-04/schema#": "draft-04",
}

#: keyword -> applicable JSON type names (None = general, applies to all).
#: Mirrors the ``type`` class attribute table in the reference
#: (keywords.py — ``type = ...`` per class).
KEYWORD_TYPES: Dict[str, Optional[Tuple[str, ...]]] = {
    "enum": None,
    "type": None,
    "allOf": None,
    "anyOf": None,
    "oneOf": None,
    "not": None,
    "items": ("array",),
    "additionalItems": ("array",),
    "minItems": ("array",),
    "maxItems": ("array",),
    "uniqueItems": ("array",),
    "minimum": ("integer", "number"),
    "maximum": ("integer", "number"),
    "multipleOf": ("integer", "number"),
    "exclusiveMinimum": ("integer", "number"),
    "exclusiveMaximum": ("integer", "number"),
    "properties": ("object",),
    "patternProperties": ("object",),
    "additionalProperties": ("object",),
    "required": ("object",),
    "minProperties": ("object",),
    "maxProperties": ("object",),
    "dependencies": ("object",),
    "minLength": ("string",),
    "maxLength": ("string",),
    "format": ("string",),
    "pattern": ("string",),
}

VALID_FORMATS = {"date-time", "email", "hostname", "ipv4", "ipv6", "uri"}


def is_schema(value: Any) -> bool:
    return isinstance(value, dict)


@dataclass
class SchemaNode:
    """One schema object, validated and normalized.

    ``keywords`` holds the *surviving* keywords (after unknown-drop and
    dead-rule elimination) in original dict order, mapped to their raw
    schema values.  Normalized views (children nodes, folded bounds,
    compiled regexes) live in the typed fields below.
    """

    raw: dict
    path: List[Union[str, int]] = field(default_factory=list)
    keywords: Dict[str, Any] = field(default_factory=dict)

    # --- normalized views (populated by compile_frontend) ---
    type_names: Optional[Tuple[str, ...]] = None          # from `type`
    enum_values: Optional[list] = None
    all_of: Optional[List["SchemaNode"]] = None
    any_of: Optional[List["SchemaNode"]] = None
    one_of: Optional[List["SchemaNode"]] = None
    not_: Optional["SchemaNode"] = None
    # array
    items_schema: Optional["SchemaNode"] = None           # schema form
    items_tuple: Optional[List["SchemaNode"]] = None      # tuple form
    additional_items: Optional[Union[bool, "SchemaNode"]] = None
    min_items: Optional[int] = None
    max_items: Optional[int] = None
    unique_items: bool = False
    # numeric: folded (op, bound) where op in {'ge','gt'} / {'le','lt'}
    minimum: Optional[Tuple[str, Union[int, float]]] = None
    maximum: Optional[Tuple[str, Union[int, float]]] = None
    multiple_of: Optional[int] = None
    # object
    properties: Optional[Dict[str, "SchemaNode"]] = None
    pattern_properties: Optional[List[Tuple[str, "re.Pattern", "SchemaNode"]]] = None
    additional_properties: Optional[Union[bool, "SchemaNode"]] = None
    required: Optional[List[str]] = None
    min_properties: Optional[int] = None
    max_properties: Optional[int] = None
    # dependencies: key -> ("list", [names]) | ("schema", node)
    dependencies: Optional[Dict[str, Tuple[str, Any]]] = None
    # string
    min_length: Optional[int] = None
    max_length: Optional[int] = None
    format: Optional[str] = None
    pattern: Optional[Tuple[str, "re.Pattern"]] = None

    def is_empty(self) -> bool:
        return not self.keywords

    def always_true(self) -> bool:
        """Would this subschema pass for *any* instance?  (Used for the
        reference's always-true warnings on composition children.)"""
        return not self.keywords


# ---------------------------------------------------------------------------
# keyword value validators (parity: same SchemaError paths + messages)
# ---------------------------------------------------------------------------

def _nonempty_str_elems_ok(values) -> bool:
    return all(type(v) is str and len(v) > 0 for v in values)


def _v_type(value, path, kws):
    valid = set(JSON_TYPE_NAMES)
    if type(value) is str:
        if value not in valid:
            raise SchemaError(path, f"Invalid type. Possible types: {', '.join(sorted(valid))}")
    elif type(value) is list:
        if len(value) == 0:
            raise SchemaError(path, "It must be an non-empty array of strings")
        if not _nonempty_str_elems_ok(value):
            raise SchemaError(path, "It must be an array, where each element is a non-empty string")
        if len(value) != len(set(value)):
            raise SchemaError(path, "It must be an array of strings, where each element is unique")
        if (set(value) & valid) != set(value):
            raise SchemaError(path, f"Invalid types. Possible types: {', '.join(sorted(valid))}")
    else:
        raise SchemaError(path, "The value of this keyword must be either a string or an array of strings")


def _v_enum(value, path, kws):
    if type(value) is not list:
        raise SchemaError(path, "It must be an array")
    if len(value) == 0:
        raise SchemaError(path, "It must be an array with at least one element")
    if duplicate_indices(value):
        raise SchemaError(path, "It must be an array, where each element is unique")


def _v_allof(value, path, kws):
    # reference keywords.py:101-106: array check, then per-element schema
    if type(value) is not list:
        raise SchemaError(path, "It must be an array")
    for i, item in enumerate(value):
        if not is_schema(item):
            raise SchemaError(path + [i], "It must be a JSON Schema object")


def _v_not(value, path, kws):
    if not is_schema(value):
        raise SchemaError(path, "It must be a JSON Schema object")


def _v_items(value, path, kws):
    if is_schema(value):
        return
    if type(value) is list:
        for i, item in enumerate(value):
            if not is_schema(item):
                raise SchemaError(path + [i], "It must be a JSON Schema object")
        return
    raise SchemaError(path, "It must be a JSON Schema object or an array")


def _v_additional_items(value, path, kws):
    if not is_schema(value) and type(value) is not bool:
        raise SchemaError(path, "It must be a boolean or a JSON Schema object")


def _v_nonneg_int(value, path, kws):
    if type(value) is not int:
        raise SchemaError(path, "It must be an integer")
    if value < 0:
        raise SchemaError(path, "It must be a non-negative integer")


def _v_max_items(value, path, kws):
    _v_nonneg_int(value, path, kws)
    if "minItems" in kws and type(kws["minItems"]) is int and value < kws["minItems"]:
        raise SchemaError(path, "It must be greater or equal to `minItems`")


def _v_bool(value, path, kws):
    if type(value) is not bool:
        raise SchemaError(path, "It must be a boolean")


def _v_multiple_of(value, path, kws):
    # reference keywords.py:362-366: the message says "strictly greater
    # than 0" but the condition is `< 0`, so 0 passes validation (and
    # div-zeros at run time).  Mirrored exactly for parity.
    if type(value) is not int:
        raise SchemaError(path, "It must be an integer")
    if value < 0:
        raise SchemaError(path, "It must be strictly greater than 0")


def _v_number(value, path, kws):
    if type(value) not in (int, float):
        raise SchemaError(path, "It must be an integer or a number")


def _v_maximum(value, path, kws):
    _v_number(value, path, kws)
    if "minimum" in kws and type(kws["minimum"]) in (int, float) and value < kws["minimum"]:
        raise SchemaError(path, "It must be greater or equal to `minimum`")


def _v_properties(value, path, kws):
    if type(value) is not dict:
        raise SchemaError(path, "It must be an object")
    if len(value.keys()) == 0:
        raise SchemaError(path, "It must be an object with at least one key-value pair")
    if any(type(k) is not str or len(k) == 0 for k in value.keys()):
        raise SchemaError(path, "It must be an object, where each key is a non-empty string")
    for key, v in value.items():
        if not is_schema(v):
            raise SchemaError(path + [key], "It must be a JSON Schema object")


def _v_pattern_properties(value, path, kws):
    _v_properties(value, path, kws)
    for key in value.keys():
        try:
            re.compile(key)
        except re.error:
            raise SchemaError(path, "It must be an object, where each key is a valid regular expression")


def _v_required(value, path, kws):
    if type(value) is not list:
        raise SchemaError(path, "It must be an array")
    if not _nonempty_str_elems_ok(value):
        raise SchemaError(path, "It must be an array, where each element is a non-empty string")
    if len(value) != len(set(value)):
        raise SchemaError(path, "It must be an array of strings, where each element is unique")


def _v_max_properties(value, path, kws):
    _v_nonneg_int(value, path, kws)
    if "minProperties" in kws and type(kws["minProperties"]) is int and value < kws["minProperties"]:
        raise SchemaError(path, "It must be greater or equal to `minProperties`")


def _v_dependencies(value, path, kws):
    if type(value) is not dict:
        raise SchemaError(path, "It must be an object")
    if len(value.keys()) == 0:
        raise SchemaError(path, "It must be an object with at least one key-value pair")
    if any(type(k) is not str or len(k) == 0 for k in value.keys()):
        raise SchemaError(path, "It must be an object, where each key is a non-empty string")
    for key, v in value.items():
        if type(v) is list:
            if not _nonempty_str_elems_ok(v):
                raise SchemaError(path + [key], "It must be an array, where each element is a non-empty string")
            if duplicate_indices(v):
                raise SchemaError(path + [key], "It must be an array, where each element is unique")
        elif not is_schema(v):
            raise SchemaError(path + [key], "It must be an array or a JSON Schema object")


def _v_max_length(value, path, kws):
    _v_nonneg_int(value, path, kws)
    if "minLength" in kws and type(kws["minLength"]) is int and value < kws["minLength"]:
        raise SchemaError(path, "It must be greater or equal to `minLength`")


def _v_format(value, path, kws):
    if value not in VALID_FORMATS:
        raise SchemaError(path, f"Invalid format: {value}")


def _v_pattern(value, path, kws):
    try:
        re.compile(value)
    except re.error:
        raise SchemaError(path, "Invalid regular expression")


VALIDATORS = {
    "type": _v_type,
    "enum": _v_enum,
    "allOf": _v_allof,
    "anyOf": _v_allof,
    "oneOf": _v_allof,
    "not": _v_not,
    "items": _v_items,
    "additionalItems": _v_additional_items,
    "minItems": _v_nonneg_int,
    "maxItems": _v_max_items,
    "uniqueItems": _v_bool,
    "multipleOf": _v_multiple_of,
    "minimum": _v_number,
    "maximum": _v_maximum,
    "exclusiveMinimum": _v_bool,
    "exclusiveMaximum": _v_bool,
    "properties": _v_properties,
    "patternProperties": _v_pattern_properties,
    "additionalProperties": _v_additional_items,
    "required": _v_required,
    "minProperties": _v_nonneg_int,
    "maxProperties": _v_max_properties,
    "dependencies": _v_dependencies,
    "minLength": _v_nonneg_int,
    "maxLength": _v_max_length,
    "format": _v_format,
    "pattern": _v_pattern,
}


# ---------------------------------------------------------------------------
# compile
# ---------------------------------------------------------------------------

def compile_frontend(schema: dict, dialect_default: str = "http://json-schema.org/draft-04/schema#") -> SchemaNode:
    """Validate + normalize a full schema document (handles ``$schema``)."""
    if not is_schema(schema):
        raise SchemaError([], "Invalid JSON Schema")
    dialect = schema.get("$schema", dialect_default)
    if dialect not in DIALECTS:
        raise SchemaError(["$schema"], f"Invalid dialect (a version of JSON Schema): {dialect}")
    return _compile_node(schema, [])


def _compile_node(schema: dict, path: PathType) -> SchemaNode:
    if not is_schema(schema):
        raise SchemaError(list(path), "Invalid JSON Schema")

    node = SchemaNode(raw=schema, path=list(path))
    if schema == {} or (set(schema) - set(KEYWORD_TYPES)) == set(schema):
        # empty schema (or only unknown keywords): always-true program
        # (reference draft_04/schema.py:125-126, 130-133)
        known = {k: v for k, v in schema.items() if k in KEYWORD_TYPES}
        if not known:
            return node

    # 1. keep only registered keywords, original order (unknown silently ignored)
    kws = {k: v for k, v in schema.items() if k in KEYWORD_TYPES}

    # 2. schema-time validation, in dict order (reference schema.py:135-136)
    for name, value in kws.items():
        VALIDATORS[name](value, list(path) + [name], kws)

    # 3. dead-rule elimination (reference schema.py:96-105)
    declared = None
    if "type" in kws:
        declared = {kws["type"]} if type(kws["type"]) is str else set(kws["type"])
        for name in list(kws):
            applicable = KEYWORD_TYPES[name]
            if applicable is not None and not (set(applicable) & declared):
                logger.warning(
                    "`%s` keyword will never be used",
                    ".".join(str(p) for p in list(path) + [name]),
                )
                del kws[name]

    node.keywords = kws

    # 4. normalization + recursive child compilation
    if "type" in kws:
        node.type_names = (kws["type"],) if type(kws["type"]) is str else tuple(kws["type"])
    if "enum" in kws:
        node.enum_values = kws["enum"]
    if "allOf" in kws:
        node.all_of = [_compile_node(s, list(path) + ["allOf", i]) for i, s in enumerate(kws["allOf"])]
        _warn_always_true(node.all_of, path, "allOf")
    if "anyOf" in kws:
        node.any_of = [_compile_node(s, list(path) + ["anyOf", i]) for i, s in enumerate(kws["anyOf"])]
        _warn_always_true(node.any_of, path, "anyOf")
    if "oneOf" in kws:
        node.one_of = [_compile_node(s, list(path) + ["oneOf", i]) for i, s in enumerate(kws["oneOf"])]
        _warn_always_true(node.one_of, path, "oneOf")
    if "not" in kws:
        # reference compiles `not`'s subschema with an EMPTY path
        # (keywords.py:201: program(self.value) — no path arg)
        node.not_ = _compile_node(kws["not"], [])

    # array
    if "items" in kws:
        if is_schema(kws["items"]):
            # schema-form items: empty path (keywords.py:253)
            node.items_schema = _compile_node(kws["items"], [])
        else:
            node.items_tuple = [
                _compile_node(s, list(path) + ["items", i]) for i, s in enumerate(kws["items"])
            ]
    if "additionalItems" in kws:
        v = kws["additionalItems"]
        # only meaningful after tuple-form items (reference keywords.py:284-292)
        if node.items_tuple is not None and v is not True:
            # schema-form additionalItems: empty path (keywords.py:296)
            node.additional_items = v if type(v) is bool else _compile_node(v, [])
    node.min_items = kws.get("minItems")
    node.max_items = kws.get("maxItems")
    node.unique_items = bool(kws.get("uniqueItems", False))

    # numeric (exclusive* folded in; reference keywords.py:396-399, 427-430)
    if "minimum" in kws:
        op = "gt" if kws.get("exclusiveMinimum") is True else "ge"
        node.minimum = (op, kws["minimum"])
    if "maximum" in kws:
        op = "lt" if kws.get("exclusiveMaximum") is True else "le"
        node.maximum = (op, kws["maximum"])
    node.multiple_of = kws.get("multipleOf")

    # object
    if "properties" in kws:
        node.properties = {
            k: _compile_node(v, list(path) + ["properties", k]) for k, v in kws["properties"].items()
        }
    if "patternProperties" in kws:
        node.pattern_properties = [
            (pat, re.compile(pat), _compile_node(v, list(path) + ["patternProperties", pat]))
            for pat, v in kws["patternProperties"].items()
        ]
    if "additionalProperties" in kws:
        v = kws["additionalProperties"]
        if v is not True:  # True => no-op (reference keywords.py:613-614)
            # schema-form additionalProperties: empty path (keywords.py:628)
            node.additional_properties = v if type(v) is bool else _compile_node(v, [])
    node.required = kws.get("required")
    node.min_properties = kws.get("minProperties")
    node.max_properties = kws.get("maxProperties")
    if "dependencies" in kws:
        deps: Dict[str, Tuple[str, Any]] = {}
        for key, v in kws["dependencies"].items():
            if type(v) is list:
                deps[key] = ("list", v)
            else:
                # dependencies subschema path excludes the key (keywords.py:755)
                deps[key] = ("schema", _compile_node(v, list(path) + ["dependencies"]))
        node.dependencies = deps

    # string
    node.min_length = kws.get("minLength")
    node.max_length = kws.get("maxLength")
    node.format = kws.get("format")
    if "pattern" in kws:
        node.pattern = (kws["pattern"], re.compile(kws["pattern"]))

    return node


def _warn_always_true(children: List[SchemaNode], path: PathType, kw: str) -> None:
    for i, child in enumerate(children):
        if child.always_true():
            logger.warning(
                "`%s` subschema is always true",
                ".".join(str(p) for p in list(path) + [kw, i]),
            )
