"""The token layer has one definition per engine: the tokenizer and its
n-gram windows live in xjs/pipeline/text.py, the flagged-window span
merge in xjs/pipeline/dedup.py.  These tests read the sources under
xjs/ and scripts/ and fail when a copy of one of those rules appears
outside its owning module.  The minhash shingle tokenizer
(``dedup._tokens``, a single-space split mirrored by
``string_split(text, ' ')``) is a different rule and matches none of
the patterns."""

import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
TEXT, DEDUP = "xjs/pipeline/text.py", "xjs/pipeline/dedup.py"

# (pattern, owning module); one backslash or two, so docstrings that
# restate the class count as copies too
OWNED = {
    "arrow_split": (r"ascii_split_whitespace", TEXT),
    "sql_split": (r"regexp_split_to_array\(trim\(", TEXT),
    "ws_class": (r"\\{1,2}t\\{1,2}n\\{1,2}x0b\\{1,2}f\\{1,2}r", TEXT),
    "sql_windows": (r"unnest\(range\(1, len\(t\)", TEXT),
    "span_merge": (r"""\blag\(["']?pos\b""", DEDUP),
}


def _lines(owner=None):
    for root in ("xjs", "scripts"):
        for p in sorted((REPO / root).rglob("*.py")):
            rel = p.relative_to(REPO).as_posix()
            if rel != owner:
                for i, line in enumerate(p.read_text().splitlines(), 1):
                    yield f"{rel}:{i}", line


@pytest.mark.parametrize("rule", sorted(OWNED))
def test_rule_lives_in_its_owning_module(rule):
    pattern, owner = OWNED[rule]
    rx = re.compile(pattern)
    copies = [where for where, line in _lines(owner) if rx.search(line)]
    assert not copies, f"{rule} outside {owner}: {copies}"


def test_scripts_tokenize_with_the_shared_tokenizer():
    """``str.split()`` strips and splits on unicode whitespace, which the
    scorers (Java ``\\s``, space-only trim) do not."""
    copies = [where for where, line in _lines()
              if where.startswith("scripts/") and ".split()" in line]
    assert not copies, copies
