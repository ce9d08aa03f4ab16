"""Output checks, run by ``run.py`` outside the workload's session.

Every expectation is computed here with DuckDB from the generated input
and the generator's planted facts — never from the program's output and
never from a stored copy of an earlier run.
"""

from __future__ import annotations

import json
import os

import duckdb

N_PARTITIONS = 16


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _pq(path: str, hive: bool = False) -> str:
    """Every data file of a parquet directory (written by Spark or the generator)."""
    pattern = os.path.join(path, "**", "*.parquet") if hive else os.path.join(path, "*.parquet")
    return f"read_parquet('{pattern}'{', hive_partitioning = true' if hive else ''})"


def _diff(con, got: str, want: str) -> tuple[int, int]:
    """(rows only in ``got``, rows only in ``want``), as multisets."""
    extra = con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0]
    return extra, missing


# ---------------------------------------------------------------------------
# pages_validate
# ---------------------------------------------------------------------------

def _pages_checks(schema: dict) -> list[tuple[str, str, str]]:
    """(path, keyword, SQL violation condition) for every check the
    draft-04 schema states over the web-pages columns.  ``type`` is not
    a row check here: each column's Spark type already satisfies it."""
    out = []
    for col in schema.get("required", []):
        out.append((col, "required", f"{col} IS NULL"))
    for col, sub in schema.get("properties", {}).items():
        for kw, v in sub.items():
            present = f"{col} IS NOT NULL AND "
            if kw == "type":
                continue
            if kw == "pattern":  # prefix-anchored, like the reference's re.match
                cond = f"NOT regexp_matches({col}, '^(?:{v})')"
            elif kw == "format" and v == "uri":  # a scheme followed by '://'
                cond = f"NOT regexp_matches({col}, '^[a-zA-Z][a-zA-Z0-9.+-]*://')"
            elif kw == "minLength":
                cond = f"length({col}) < {v}"
            elif kw == "maxLength":
                cond = f"length({col}) > {v}"
            elif kw == "enum":
                cond = f"{col} NOT IN ({', '.join(repr(x) for x in v)})"
            else:
                raise ValueError(f"no oracle for keyword {kw!r} on {col!r}")
            out.append((col, kw, present + cond))
    return out


class PagesChecker:
    """Violations, quarantine split, verdict sums and resume accounting
    against the web-pages derivation restated in SQL:

    url      = scheme || source || '.example.com/doc/' || (doc_id%50=0 ? 'dup' : doc_id),
               scheme 'htp://' if doc_id%97=0, '' if doc_id%157=0 and doc_id>0, else 'https://'
    warc_ts  = 2024-01-01 + doc_id s (- 2 h if doc_id%89=0 and doc_id>0), never NULL
    text     = '' if doc_id%131=0 else text
    html     = NULL if doc_id%211=0 else '<html><body>' || text || '</body></html>'
    lang     = 'xx' if doc_id%113=0 else lang
    partition_id = doc_id % 16
    """

    def __init__(self, input_dir: str, committed: int):
        from xjs.flagship import WEBPAGES_SCHEMA  # the schema is the input, not the engine

        self.committed = committed
        self.con = con = _connect()
        con.execute(f"""
            CREATE TABLE pages AS SELECT
              doc_id,
              CAST(doc_id % {N_PARTITIONS} AS INTEGER) AS partition_id,
              (CASE WHEN doc_id % 97 = 0 THEN 'htp://'
                    WHEN doc_id % 157 = 0 AND doc_id > 0 THEN ''
                    ELSE 'https://' END)
                || source || '.example.com/doc/'
                || (CASE WHEN doc_id % 50 = 0 THEN 'dup' ELSE CAST(doc_id AS VARCHAR) END) AS url,
              TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id) AS warc_ts,
              CASE WHEN doc_id % 131 = 0 THEN '' ELSE text END AS text,
              CASE WHEN doc_id % 211 = 0 THEN NULL
                   ELSE '<html><body>' || (CASE WHEN doc_id % 131 = 0 THEN '' ELSE text END)
                        || '</body></html>' END AS html,
              CASE WHEN doc_id % 113 = 0 THEN 'xx' ELSE lang END AS lang
            FROM {_pq(input_dir + "/documents.parquet")}""")
        checks = _pages_checks(WEBPAGES_SCHEMA)
        con.execute("CREATE TABLE want_v AS " + " UNION ALL ".join(
            f"SELECT url AS id, '{p}' AS path, '{k}' AS keyword, partition_id "
            f"FROM pages WHERE {cond}" for p, k, cond in checks))
        flags = ", ".join(f"CASE WHEN {cond} THEN '{p}.{k}' END" for p, k, cond in checks)
        con.execute(f"""
            CREATE TABLE flags AS SELECT doc_id, url, partition_id,
              list_sort(list_filter([{flags}], x -> x IS NOT NULL)) AS fl FROM pages""")
        self.n_rows = con.execute("SELECT count(*) FROM pages").fetchone()[0]
        self.n_checks = len(checks)
        self.want_counts = dict(con.execute(
            "SELECT path || '.' || keyword, count(*) FROM want_v GROUP BY ALL").fetchall())
        self.reference_digest = None

    def _digest(self, v: str) -> str:
        return self.con.execute(
            f"SELECT md5(string_agg(id || '|' || path || '|' || keyword || '|' || partition_id, ';'"
            f" ORDER BY id, path, keyword, partition_id)) FROM {v}").fetchone()[0]

    def check(self, out: str, summary: dict, phase: str) -> list[str]:
        con, errs = self.con, []
        v = f"(SELECT id, path, keyword, CAST(partition_id AS INTEGER) AS partition_id FROM {_pq(out + '/violations', True)})"
        extra, missing = _diff(con, f"SELECT * FROM {v}", "SELECT * FROM want_v")
        if extra or missing:
            got = dict(con.execute(f"SELECT path || '.' || keyword, count(*) FROM {v} GROUP BY ALL").fetchall())
            errs.append(f"violations differ from the oracle: {extra} extra, {missing} missing; "
                        f"per check got {got}, want {self.want_counts}")
        dirty = f"(SELECT id, CAST(partition_id AS INTEGER) AS p, failed_checks, n_failed FROM {_pq(out + '/dirty')})"
        extra, missing = _diff(
            con, f"SELECT * FROM {dirty}",
            "SELECT url, partition_id, array_to_string(fl, ','), len(fl) FROM flags WHERE len(fl) > 0")
        if extra or missing:
            errs.append(f"quarantined rows differ from the oracle: {extra} extra, {missing} missing")
        clean = _pq(out + "/clean")
        extra, missing = _diff(con, f"SELECT doc_id FROM {clean}", "SELECT doc_id FROM flags WHERE len(fl) = 0")
        if extra or missing:
            errs.append(f"clean rows differ from the oracle: {extra} extra, {missing} missing")
        n_clean, = con.execute(f"SELECT count(*) FROM {clean}").fetchone()
        n_dirty, = con.execute(f"SELECT count(*) FROM {dirty}").fetchone()
        if n_clean + n_dirty != self.n_rows:
            errs.append(f"clean {n_clean} + quarantined {n_dirty} != input {self.n_rows}")
        both, = con.execute(f"""
            SELECT count(*) FROM (SELECT url FROM {clean}) c JOIN {dirty} d ON c.url = d.id
            WHERE c.url IN (SELECT url FROM pages GROUP BY url HAVING count(*) = 1)""").fetchone()
        if both:
            errs.append(f"{both} ids are both clean and quarantined")
        m = _pq(out + "/manifest")
        per_pc, n_done, total = con.execute(f"""
            SELECT max(n), count(*), sum(s) FROM (
              SELECT partition_id, check_name, count(*) AS n, sum(n_violations) AS s
              FROM {m} WHERE status = 'done' GROUP BY ALL)""").fetchone()
        n_v, = con.execute(f"SELECT count(*) FROM {v}").fetchone()
        if per_pc != 1 or n_done != N_PARTITIONS * self.n_checks:
            errs.append(f"manifest commits {n_done} (partition, check) pairs, want "
                        f"{N_PARTITIONS * self.n_checks} once each")
        if total != n_v:
            errs.append(f"verdict sums {total} != violation rows {n_v}")
        skipped = 0 if phase == "cold" else self.committed
        if (summary.get("partitions_skipped"), summary.get("partitions_processed")) != (
                skipped, N_PARTITIONS - skipped):
            errs.append(f"resume skipped/processed {summary.get('partitions_skipped')}/"
                        f"{summary.get('partitions_processed')}, want {skipped}/{N_PARTITIONS - skipped}")
        digest = self._digest(v)
        if phase == "cold":
            self.reference_digest = digest
        elif digest != self.reference_digest:
            errs.append("resumed output differs from the uninterrupted run's")
        return errs


# ---------------------------------------------------------------------------
# json_validate
# ---------------------------------------------------------------------------

class JsonChecker:
    def __init__(self, input_dir: str):
        self.con = _connect()
        self.want = f"SELECT id, path, keyword FROM {_pq(input_dir + '/expected.parquet')}"

    def check(self, out: str, summary: dict, phase: str) -> list[str]:
        got = f"SELECT id, path, keyword FROM {_pq(out + '/violations')}"
        extra, missing = _diff(self.con, got, self.want)
        if extra or missing:
            return [f"violations differ from the planted faults: {extra} extra "
                    f"(including rows for valid documents), {missing} missing"]
        return []


# ---------------------------------------------------------------------------
# corpus_curate
# ---------------------------------------------------------------------------

class CurateChecker:
    def __init__(self, input_dir: str):
        self.con = con = _connect()
        with open(os.path.join(input_dir, "planted.json")) as f:
            planted = json.load(f)
        self.docs = _pq(input_dir + "/documents.parquet")
        self.n_rows, = con.execute(f"SELECT count(*) FROM {self.docs}").fetchone()
        con.execute("CREATE TABLE dup (doc_id BIGINT, leader BOOLEAN)")
        con.executemany("INSERT INTO dup VALUES (?, ?)",
                        [(m, k == 0) for g in planted["dup_groups"] for k, m in enumerate(g)])
        con.execute("CREATE TABLE pii (s VARCHAR)")
        con.executemany("INSERT INTO pii VALUES (?)", [(s,) for s in planted["pii"]])

    def check(self, out: str, summary: dict, phase: str) -> list[str]:
        con, errs = self.con, []
        corpus, rejects = _pq(out + "/corpus"), _pq(out + "/rejects")
        n_c, n_r, n_ids, n_all = con.execute(f"""
            SELECT count(*) FILTER (WHERE src = 'c'), count(*) FILTER (WHERE src = 'r'),
                   count(DISTINCT doc_id), count(*)
            FROM (SELECT doc_id, 'c' AS src FROM {corpus}
                  UNION ALL SELECT doc_id, 'r' FROM {rejects})""").fetchone()
        known, = con.execute(f"""
            SELECT count(*) FROM (SELECT doc_id FROM {corpus} UNION SELECT doc_id FROM {rejects})
            WHERE doc_id IN (SELECT doc_id FROM {self.docs})""").fetchone()
        if n_all != self.n_rows or n_ids != self.n_rows or known != self.n_rows:
            errs.append(f"corpus {n_c} + rejects {n_r} rows over {n_ids} ids; "
                        f"want each of {self.n_rows} input documents exactly once")
        if n_c == 0:
            errs.append("empty corpus")
        bad_dup, = con.execute(f"""
            SELECT count(*) FROM dup LEFT JOIN
              (SELECT doc_id FROM {rejects} WHERE reason = 'exact_duplicate') r USING (doc_id)
            WHERE leader = (r.doc_id IS NOT NULL)""").fetchone()
        if bad_dup:
            errs.append(f"{bad_dup} planted duplicates kept or leaders dropped as duplicates")
        leaked, = con.execute(f"""
            SELECT count(*) FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS tok FROM {corpus})
            JOIN pii ON tok = s""").fetchone()
        if leaked:
            errs.append(f"{leaked} planted PII strings survive in corpus text")
        if summary and not summary.get("accounted", True):
            errs.append("the job's own summary reports unaccounted documents")
        return errs


def make_checker(workload: str, input_dir: str, committed: int):
    if workload == "pages_validate":
        return PagesChecker(input_dir, committed)
    if workload == "json_validate":
        return JsonChecker(input_dir)
    return CurateChecker(input_dir)
