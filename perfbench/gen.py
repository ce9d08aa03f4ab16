"""Seeded input generation for the three workloads.

Every table is a pure function of ``(workload, seed, size)``: the same
arguments give byte-identical parquet files.  Each generator also
returns the *planted* facts the checks compare against (faults, duplicate
groups, PII strings), computed here from the generator's own choices and
never from the program's output.

Inputs are written once per ``(workload, seed, size)`` into a cache
directory and reused by later runs; generation is outside every timed
region.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

#: rows of each workload's main table at full size
SIZES = {"pages_validate": 40_000, "json_validate": 100_000, "corpus_curate": 4_000}

LANGS = ["en", "de", "fr", "es", "ru", "zh"]
N_SOURCES = 24  # src17..src19 are on the referential denylist

#: mid-sentence function words; the curate gates need >= 2 of
#: (the, be, to, of, and, that, have, with) and a stopword share >= 5%
STOP = ["the", "of", "and", "to", "that", "with", "be", "have", "in", "for"]

_SYL = ["ka", "ro", "mi", "ten", "sol", "dar", "vek", "lu", "pan", "tor",
        "bel", "ni", "gas", "ur", "fen", "lo", "qui", "ster", "ma", "zed"]


def _vocab() -> list[str]:
    """20 000 distinct pseudo-words of 2-4 syllables (fixed, seed-free).
    A vocabulary this wide makes accidental shared 4-grams and 16-token
    windows between unrelated documents practically impossible, so only
    the planted overlaps trip the dedup and decontamination gates."""
    rng = random.Random(12345)
    words: set[str] = set()
    while len(words) < 20_000:
        words.add("".join(rng.choices(_SYL, k=rng.randrange(2, 5))))
    return sorted(words)


VOCAB = _vocab()


def _sentence(rng: random.Random, n_content: int) -> list[str]:
    """``n_content`` content words; a stopword precedes a content word
    with probability 0.35, never two stopwords in a row."""
    out: list[str] = []
    for w in rng.choices(VOCAB, k=n_content):
        if rng.random() < 0.35:
            out.append(rng.choice(STOP))
        out.append(w)
    return out


def _doc_lines(rng: random.Random, n_lines: int, lo: int, hi: int) -> list[list[str]]:
    return [_sentence(rng, rng.randrange(lo, hi)) for _ in range(n_lines)]


def _render(lines: list[list[str]]) -> str:
    return "\n".join(" ".join(ws) + "." for ws in lines)


N_FILES = 4  # one table = a directory of part files, so every core gets splits


def _write(table: pa.Table, path: str) -> None:
    """Write ``table`` as the directory ``path`` of ``N_FILES`` parts
    (contiguous row ranges), the layout Spark itself writes."""
    os.makedirs(path)
    step = -(-table.num_rows // N_FILES) or 1
    for k, lo in enumerate(range(0, max(table.num_rows, 1), step)):
        pq.write_table(table.slice(lo, step), os.path.join(path, f"part-{k:05d}.parquet"))


def _sources(rng: random.Random, n: int) -> list[str]:
    names = [f"src{i}" for i in range(N_SOURCES)]
    return rng.choices(names, k=n)


def _documents_table(doc_id, text, lang, source) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


# ---------------------------------------------------------------------------
# pages_validate: the documents table the web-pages source derives from
# ---------------------------------------------------------------------------

def gen_pages(rng: random.Random, n: int, out_dir: str) -> dict:
    """Short pages (1-3 sentences).  Besides the source's own residue
    injections, the seed plants short texts (< 10 chars, 0.4%) and
    out-of-enum languages (0.3%), so violation counts differ per seed."""
    text = []
    for _ in range(n):
        text.append(_render(_doc_lines(rng, rng.randrange(1, 4), 3, 9)))
    short = [i for i in range(n) if rng.random() < 0.004]
    for i in short:
        text[i] = _word(rng)[:6]
    lang = [("pt" if rng.random() < 0.003 else rng.choice(LANGS)) for _ in range(n)]
    _write(_documents_table(range(n), text, lang, _sources(rng, n)),
           os.path.join(out_dir, "documents.parquet"))
    return {"rows": n, "short_texts": len(short), "invalid_lang": lang.count("pt")}


# ---------------------------------------------------------------------------
# json_validate: heterogeneous nested documents + a draft-04 schema that
# needs the dynamic path
# ---------------------------------------------------------------------------

JSON_SCHEMA = {
    "type": "object",
    "required": ["id", "kind", "payload"],
    "properties": {
        "id": {"type": "integer", "minimum": 0},
        "kind": {"enum": ["event", "metric", "log"]},
        "tags": {
            "type": "array", "items": {"type": "string", "maxLength": 32},
            "uniqueItems": True, "maxItems": 8,
        },
        "point": {
            "type": "array", "items": [{"type": "number"}, {"type": "number"}],
            "additionalItems": False,
        },
        "payload": {"anyOf": [
            {"type": "object", "required": ["value"],
             "properties": {"value": {"type": "number"}}},
            {"type": "string", "minLength": 1},
        ]},
        "meta": {
            "type": "object",
            "properties": {"source": {"type": "string"},
                           "ttl": {"type": "integer", "minimum": 1}},
            "patternProperties": {"^x-[a-z]+$": {"type": "string"}},
            "additionalProperties": False,
            "dependencies": {"ttl": ["source"]},
        },
        "level": {"oneOf": [
            {"type": "integer", "minimum": 0, "maximum": 5},
            {"enum": ["low", "high"]},
        ]},
        "note": {"not": {"type": "null"}},
        "ratio": {"allOf": [{"type": "number"}, {"minimum": 0.0}, {"maximum": 1.0}]},
        "children": {
            "type": "array",
            "items": {"type": "object", "required": ["id"],
                      "properties": {"id": {"type": "integer"}}},
        },
    },
    "additionalProperties": False,
}

#: planted fault -> (path, keyword) it must produce, under the reference's
#: documented semantics (draft-04; "number" admits floats only; one
#: additionalProperties error per extra key; one uniqueItems error per
#: duplicate index, reported at the array's own path).
JSON_FAULTS = {
    "id_minimum": ("id", "minimum"),
    "kind_enum": ("kind", "enum"),
    "tags_unique": ("tags", "uniqueItems"),
    "tags_max_length": ("tags.{i}", "maxLength"),
    "point_additional_items": ("point", "additionalItems"),
    "point_item_type": ("point.{i}", "type"),
    "payload_any_of": ("payload", "anyOf"),
    "meta_additional": ("meta", "additionalProperties"),
    "meta_pattern": ("meta.{k}", "type"),
    "meta_dependency": ("meta.source", "dependencies"),
    "level_one_of": ("level", "oneOf"),
    "note_not": ("note", "not"),
    "ratio_all_of": ("ratio", "maximum"),
    "top_additional": ("", "additionalProperties"),
    "missing_required": ("", "required"),
    "child_type": ("children.{i}.id", "type"),
}
_FAULT_NAMES = sorted(JSON_FAULTS)
_KINDS = ["event", "metric", "log"]


def _word(rng: random.Random) -> str:
    return rng.choice(VOCAB)


def _valid_json_doc(rng: random.Random, doc_id: int) -> dict:
    d: dict = {"id": doc_id, "kind": _KINDS[rng.randrange(0, 3)]}
    if rng.random() < 0.6:
        d["payload"] = {"value": round(rng.gauss(0.0, 1.0), 4)}
        if rng.random() < 0.5:
            d["payload"]["unit"] = _word(rng)
    else:
        d["payload"] = _word(rng)
    if rng.random() < 0.7:
        k = rng.randrange(0, 7)
        d["tags"] = list(dict.fromkeys(_word(rng) for _ in range(k)))
    if rng.random() < 0.5:
        d["point"] = [round(rng.uniform(-90, 90), 3) + 0.5,
                      round(rng.uniform(-180, 180), 3) + 0.5][: rng.randrange(1, 3)]
    if rng.random() < 0.6:
        m: dict = {}
        if rng.random() < 0.7:
            m["source"] = _word(rng)
            if rng.random() < 0.5:
                m["ttl"] = rng.randrange(1, 1000)
        for _ in range(rng.randrange(0, 3)):
            m["x-" + "".join(c for c in _word(rng) if c.isalpha())] = _word(rng)
        d["meta"] = m
    if rng.random() < 0.5:
        d["level"] = rng.randrange(0, 6) if rng.random() < 0.6 else ["low", "high"][rng.randrange(0, 2)]
    if rng.random() < 0.3:
        d["note"] = _word(rng)
    if rng.random() < 0.4:
        d["ratio"] = round(rng.uniform(0.0, 1.0), 4)
    if rng.random() < 0.4:
        d["children"] = [
            {"id": rng.randrange(0, 10_000), "name": _word(rng)}
            for _ in range(rng.randrange(1, 5))
        ]
    return d


def _plant_json_fault(rng: random.Random, d: dict, fault: str) -> str:
    """Mutate a valid document so that exactly ``fault`` is violated;
    returns the expected error path."""
    path, _kw = JSON_FAULTS[fault]
    if fault == "id_minimum":
        d["id"] = -1 - d["id"]
    elif fault == "kind_enum":
        d["kind"] = "trace"
    elif fault == "tags_unique":
        t = [w for w in (d.get("tags") or [])][:6] or [_word(rng)]
        d["tags"] = t + [t[0]]
    elif fault == "tags_max_length":
        t = (d.get("tags") or [])[:7]
        i = len(t)
        d["tags"] = t + ["x" * 40]
        return path.format(i=i)
    elif fault == "point_additional_items":
        d["point"] = [1.5, 2.5, 3.5]
    elif fault == "point_item_type":
        i = rng.randrange(0, 2)
        p = [1.5, 2.5]
        p[i] = _word(rng)
        d["point"] = p
        return path.format(i=i)
    elif fault == "payload_any_of":
        d["payload"] = rng.randrange(0, 100)
    elif fault == "meta_additional":
        m = d.setdefault("meta", {})
        m["zz"] = 1
    elif fault == "meta_pattern":
        m = d.setdefault("meta", {})
        k = "x-bad"
        m[k] = rng.randrange(0, 100)
        return path.format(k=k)
    elif fault == "meta_dependency":
        d["meta"] = {k: v for k, v in d.get("meta", {}).items() if k != "source"}
        d["meta"]["ttl"] = rng.randrange(1, 100)
    elif fault == "level_one_of":
        d["level"] = rng.randrange(6, 50)
    elif fault == "note_not":
        d["note"] = None
    elif fault == "ratio_all_of":
        d["ratio"] = round(rng.uniform(1.01, 3.0), 4)
    elif fault == "top_additional":
        d["extra_" + _word(rng)] = True
    elif fault == "missing_required":
        del d["payload"]
    elif fault == "child_type":
        ch = d.get("children") or [{"id": 1}]
        i = rng.randrange(0, len(ch))
        ch[i] = dict(ch[i], id=_word(rng))
        d["children"] = ch
        return path.format(i=i)
    return path


def gen_json(rng: random.Random, n: int, out_dir: str) -> dict:
    """``id, doc`` rows; 12% of documents carry one planted fault."""
    docs, expected = [], []
    n_faulty = 0
    for i in range(n):
        d = _valid_json_doc(rng, i)
        if rng.random() < 0.12:
            n_faulty += 1
            fault = rng.choice(_FAULT_NAMES)
            path = _plant_json_fault(rng, d, fault)
            expected.append((i, path, JSON_FAULTS[fault][1]))
        docs.append(json.dumps(d, separators=(",", ":")))
    _write(pa.table({"id": pa.array(range(n), pa.int64()),
                     "doc": pa.array(docs, pa.string())}),
           os.path.join(out_dir, "docs.parquet"))
    _write(pa.table({
        "id": pa.array([e[0] for e in expected], pa.int64()),
        "path": pa.array([e[1] for e in expected], pa.string()),
        "keyword": pa.array([e[2] for e in expected], pa.string()),
    }), os.path.join(out_dir, "expected.parquet"))
    return {"rows": n, "faulty": n_faulty}


# ---------------------------------------------------------------------------
# corpus_curate: documents with planted duplicates, shared substrings,
# benchmark residue, short pages and PII
# ---------------------------------------------------------------------------

BENCH_RESIDUE = 41  # the curate job treats doc_id % 41 == 0 as benchmark docs
SUBSTR_SPAN = 24    # > the 16-token substring window
CONTAM_SPAN = 8     # > the 4-token decontamination gram


def _pii(rng: random.Random, kind: str, i: int) -> str:
    if kind == "email":
        return f"{_word(rng)}.u{i}@{_word(rng)}.org"
    if kind == "ipv4":
        return ".".join(str(rng.randrange(11, 250)) for _ in range(4))
    d = [rng.randrange(10) for _ in range(7)]
    return f"{200 + i % 700}-{1 + d[0] % 9}{d[1]}{d[2]}-{d[3]}{d[4]}{d[5]}{d[6]}"


def gen_corpus(rng: random.Random, n: int, out_dir: str) -> dict:
    """Pages of 5-9 sentences.  Each non-benchmark document draws one
    role: short page (3%), shared 24-token substring of an earlier page
    (2%), an 8-token run of a benchmark page (1.5%), a PII string (4%),
    leader of an exact-duplicate group (2%), or ordinary."""
    lines = [_doc_lines(rng, rng.randrange(5, 10), 6, 14) for _ in range(n)]
    role = [rng.random() for _ in range(n)]
    bench_ids = range(0, n, BENCH_RESIDUE)

    def ids_with(lo: float, hi: float) -> list[int]:
        return [i for i in range(1, n) if i % BENCH_RESIDUE and lo <= role[i] < hi]

    short = ids_with(0.0, 0.03)
    for i in short:  # too few tokens for the quality gate or for Gopher
        lines[i] = _doc_lines(rng, rng.randrange(1, 5), 3, 8)
    substr = ids_with(0.03, 0.05)
    for i in substr:
        src = [w for ln in lines[rng.randrange(0, i)] for w in ln]
        s = rng.randrange(0, max(1, len(src) - SUBSTR_SPAN))
        lines[i].insert(rng.randrange(0, len(lines[i])), src[s:s + SUBSTR_SPAN])
    contam = ids_with(0.05, 0.065)
    for i in contam:
        src = [w for ln in lines[rng.choice(bench_ids)] for w in ln]
        s = rng.randrange(0, max(1, len(src) - CONTAM_SPAN))
        lines[i][rng.randrange(0, len(lines[i]))].extend(["with"] + src[s:s + CONTAM_SPAN])
    pii = {}
    for j, i in enumerate(ids_with(0.065, 0.105)):
        pii[i] = _pii(rng, ("email", "ipv4", "phone")[j % 3], i)
        ln = lines[i][rng.randrange(0, len(lines[i]))]
        ln.insert(rng.randrange(1, len(ln)), pii[i])
    text = [_render(ls) for ls in lines]
    # exact duplicates: 1-3 later pages take the text of their group's lowest id
    groups = []
    leaders = ids_with(0.105, 0.125)
    taken = set(leaders)
    for lead in leaders:
        members = [lead]
        for _ in range(rng.randrange(1, 4)):
            m = rng.randrange(lead + 1, n) if lead + 1 < n else 0
            if m and m not in taken and m % BENCH_RESIDUE:
                taken.add(m)
                members.append(m)
        if len(members) > 1:
            for m in members[1:]:
                text[m] = text[lead]
                pii.pop(m, None)  # its own planted PII is gone with its text
            groups.append(members)
    lang = [rng.choice(LANGS) for _ in range(n)]
    _write(_documents_table(range(n), text, lang, _sources(rng, n)),
           os.path.join(out_dir, "documents.parquet"))
    with open(os.path.join(out_dir, "planted.json"), "w") as f:
        json.dump({"dup_groups": groups, "pii": sorted(pii.values())}, f)
    return {
        "rows": n, "dup_groups": len(groups), "dup_docs": sum(len(g) - 1 for g in groups),
        "substring_plants": len(substr), "contam_plants": len(contam),
        "short": len(short), "pii": len(pii),
    }


GENERATORS = {"pages_validate": gen_pages, "json_validate": gen_json, "corpus_curate": gen_corpus}


def ensure_inputs(cache_root: str, workload: str, seed: int, rows: int) -> tuple[str, dict]:
    """Write the inputs for ``(workload, seed, rows)`` unless a complete
    copy is cached; returns the input directory and its make-up."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-n{rows}")
    info_path = os.path.join(d, "inputs.json")
    if os.path.exists(info_path):
        with open(info_path) as f:
            return d, json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # seed stream keyed by workload so workloads never share draws
    rng = random.Random(f"{workload}:{seed}")
    info = GENERATORS[workload](rng, rows, tmp)
    with open(os.path.join(tmp, "inputs.json"), "w") as f:
        json.dump(info, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, info
