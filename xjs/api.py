"""Top-level convenience API — the one-liners a user switching from
the reference reaches for first.

>>> import xjs.api as xjs
>>> result = xjs.validate(df, schema, id_col="url")
>>> result.ok
False
>>> result.violations.show()
"""

from __future__ import annotations

import copy
import threading
from collections import OrderedDict
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame

from xjs.errors import ValidationError
from xjs.plan import CheckPlan, compile_static
from xjs.runtime import run_plan


@dataclass
class ValidationResult:
    violations: DataFrame
    verdicts: DataFrame
    plan: CheckPlan

    @property
    def ok(self) -> bool:
        return self.violations.isEmpty()

    def raise_on_failure(self, sample: int = 5) -> "ValidationResult":
        rows = self.violations.take(sample)
        if rows:
            raise ValidationError([r.asDict() for r in rows])
        return self


def validate(
    df: DataFrame,
    schema: dict,
    id_col: str,
    partition_col: Optional[str] = None,
) -> ValidationResult:
    """Compile ``schema`` against ``df`` (once, on the driver) and run
    the static plan: violations + verdicts, no Python in the row loop."""
    plan = compile_static(schema, df.schema, id_col=id_col, partition_col=partition_col)
    res = run_plan(df, plan)
    return ValidationResult(res.violations, res.verdicts, plan)


def quarantine(
    df: DataFrame,
    schema: dict,
    id_col: str,
    partition_col: Optional[str] = None,
):
    """Compile ``schema`` and split ``df`` into (clean, dirty): clean
    keeps the input schema, dirty is (id, partition_id, failed_checks,
    n_failed) — the expect-or-quarantine pattern for routing rows to
    separate sinks."""
    from xjs.runtime import quarantine as _quarantine

    plan = compile_static(schema, df.schema, id_col=id_col, partition_col=partition_col)
    return _quarantine(df, plan)


def validate_json_column(
    df: DataFrame, schema: dict, json_col: str, id_col: str
) -> DataFrame:
    """Dynamic mode: exact reference error semantics over a JSON-string
    column (Arrow-batched)."""
    from xjs.dynamic_spark import dynamic_violations

    return dynamic_violations(df, schema, json_col, id_col)


#: compiled evaluators kept by check_document, least recently used
#: evicted first (compiling costs several times a typical document's
#: evaluation)
_EVALUATOR_CACHE_SIZE = 32
_evaluators: OrderedDict[str, Callable] = OrderedDict()
_evaluators_lock = threading.Lock()


def check_document(schema: dict, doc) -> list:
    """Single-document validation with the reference's error-dict shape
    — the drop-in for ``Validator(schema).run(doc)`` (normalized: valid
    data always returns []).

    The compiled evaluator is memoized per schema, keyed on
    ``repr(schema)``.  That key keeps what sorted-key JSON would merge:
    key order (errors come out in schema order) and Python types
    (``1`` vs ``1.0`` vs ``True``, tuple vs list).  The evaluator is
    compiled from a deep copy, so mutating ``schema`` after a call
    cannot change a cached evaluator."""
    from xjs.dynamic import build_evaluator

    key = repr(schema)
    with _evaluators_lock:
        fn = _evaluators.get(key)
        if fn is not None:
            _evaluators.move_to_end(key)
    if fn is None:
        fn = build_evaluator(copy.deepcopy(schema))
        with _evaluators_lock:
            _evaluators[key] = fn
            if len(_evaluators) > _EVALUATOR_CACHE_SIZE:
                _evaluators.popitem(last=False)
    return fn(doc)
