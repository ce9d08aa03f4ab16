import pytest

from xjs import api
from xjs.errors import ValidationError


def test_validate_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "en"), (2, "xx")], "id long, lang string"
    )
    res = api.validate(df, {"properties": {"lang": {"enum": ["en", "de"]}}}, id_col="id")
    assert not res.ok
    [v] = res.violations.collect()
    assert (v["id"], v["keyword"]) == (2, "enum")
    with pytest.raises(ValidationError):
        res.raise_on_failure()

    ok = api.validate(df.filter("id = 1"), {"properties": {"lang": {"enum": ["en"]}}}, id_col="id")
    assert ok.ok
    ok.raise_on_failure()


def test_check_document_matches_reference_shape():
    errs = api.check_document({"type": "string", "minLength": 3}, "ab")
    assert errs == [{"path": [], "keyword": "minLength", "value": 3}]
    assert api.check_document({}, {"anything": 1}) == []


def test_check_document_compiles_each_schema_once(monkeypatch):
    from collections import OrderedDict

    from xjs import dynamic

    calls = []
    real = dynamic.build_evaluator

    def counting(schema):
        calls.append(schema)
        return real(schema)

    monkeypatch.setattr(dynamic, "build_evaluator", counting)
    monkeypatch.setattr(api, "_evaluators", OrderedDict())
    schema = {"type": "string", "minLength": 3, "pattern": "^x"}
    for _ in range(3):
        assert api.check_document(schema, "ab") == [
            {"path": [], "keyword": "minLength", "value": 3},
            {"path": [], "keyword": "pattern", "value": "^x"},
        ]
    assert len(calls) == 1
    # same keywords in another order: its own evaluator, errors in its order
    reordered = {"pattern": "^x", "type": "string", "minLength": 3}
    assert [e["keyword"] for e in api.check_document(reordered, "ab")] == [
        "pattern", "minLength"]
    assert len(calls) == 2


def test_check_document_keeps_number_types_apart():
    # 1, 1.0 and True are equal in Python but each enum is its own schema
    assert api.check_document({"enum": [1]}, 1) == []
    assert api.check_document({"enum": [1.0]}, 1) != []
    assert api.check_document({"enum": [True]}, 1) != []
    assert api.check_document({"enum": [True]}, True) == []
    assert api.check_document({"enum": [1]}, True) != []


def test_check_document_ignores_later_schema_mutation():
    schema = {"enum": ["a"]}
    assert api.check_document(schema, "b") != []
    schema["enum"].append("b")
    assert api.check_document(schema, "b") == []
    assert api.check_document({"enum": ["a"]}, "b") != []


def test_check_document_cache_is_bounded():
    for i in range(api._EVALUATOR_CACHE_SIZE + 5):
        api.check_document({"maxLength": i}, "")
    assert len(api._evaluators) == api._EVALUATOR_CACHE_SIZE
