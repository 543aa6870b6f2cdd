"""Reference answers, computed outside the timed region without Spark.

* ``kg_search``: DuckDB over the generated ``documents.parquet``. The
  ranked-search SQL restates the weighted-match arithmetic of the
  project config in ``workloads.search_config`` (glossary hit 10, text
  zone hit 2, each clause satisfied in at least one zone, hard filters,
  total order score desc / doc_id asc, paging), and the BM25 SQL restates
  Lucene's formula, the same way the engine's registry oracles do.
* ``stream_curate``: a pandas replay of first-seen-per-fingerprint,
  decontamination and last-write-wins semantics.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd

from gen import GLOSSARY, STOPWORDS, SYNONYMS

# ---------------------------------------------------------------- search


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _has(phrase: str) -> str:
    return f"POSITION({_q(' ' + phrase + ' ')} IN pt) > 0"


def _values(clause: dict) -> tuple[list[str], bool]:
    """Transformed + synonym-expanded values of one clause, and whether
    the clause also probes the glossary index."""
    raw = str(clause["constraint"]).lower()
    if clause["predicate"] == "keyword":
        return [raw], True
    kept = [t for t in raw.split() if t not in STOPWORDS]
    base = " ".join(kept) or raw
    return list(dict.fromkeys([base, *SYNONYMS.get(base, [])])), False


def _filter_sql(f: dict) -> str:
    col, op, v = f["field"], f["op"], f["value"]
    if op == "eq":
        return f"{col} = {_q(v) if isinstance(v, str) else v}"
    if op == "in":
        return f"{col} IN ({', '.join(_q(x) for x in v)})"
    if op == "gte":
        return f"{col} >= {v}"
    raise ValueError(f"unsupported filter op {op}")


def search_sql(q: dict) -> str:
    score, gates = [], []
    for c in q["clauses"]:
        values, indexed = _values(c)
        txt = " OR ".join(_has(v) for v in values)
        idx_terms = [g for g in GLOSSARY
                     if any(f" {v} " in f" {g} " for v in values)] \
            if indexed else []
        idx = " OR ".join(_has(g) for g in idx_terms) or "FALSE"
        score.append(f"(CASE WHEN {idx} THEN 10.0 ELSE 0 END)"
                     f" + (CASE WHEN {txt} THEN 2.0 ELSE 0 END)")
        gates.append(f"(({idx}) OR ({txt}))")
    gates += [_filter_sql(f) for f in q.get("filters", [])]
    frm, size = int(q.get("from", 0)), int(q["size"])
    return f"""
    WITH d AS (SELECT doc_id, lang, source, n_chars,
                      ' ' || LOWER(text) || ' ' AS pt FROM documents)
    SELECT doc_id, lang, source, ROUND({' + '.join(score)}, 6)::DOUBLE AS score
    FROM d WHERE {' AND '.join(gates)}
    ORDER BY score DESC, doc_id ASC LIMIT {size} OFFSET {frm}
    """


def bm25_sql(q: dict) -> str:
    terms = list(dict.fromkeys(t.lower() for t in q["terms"]))
    toks = "string_split(lower(trim(text)), ' ')"
    dfs = ", ".join(
        f"COUNT(*) FILTER (len(list_filter({toks}, x -> x = {_q(t)})) > 0)"
        f"::DOUBLE AS df{i}" for i, t in enumerate(terms))
    tfs = ", ".join(
        f"len(list_filter({toks}, x -> x = {_q(t)}))::DOUBLE AS tf{i}"
        for i, t in enumerate(terms))
    parts = " + ".join(
        f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * 2.2 / (tf{i} + 1.2 * (0.25 + 0.75 * dl / avgdl)))"
        for i in range(len(terms)))
    return f"""
    WITH stats AS (SELECT COUNT(*)::DOUBLE AS n,
                          AVG(len({toks}))::DOUBLE AS avgdl, {dfs}
                   FROM documents),
    per AS (SELECT doc_id, lang, len({toks})::DOUBLE AS dl, {tfs}
            FROM documents)
    SELECT doc_id, lang, ROUND({parts}, 6) AS score
    FROM per CROSS JOIN stats
    WHERE ROUND({parts}, 6) > 0
    ORDER BY score DESC, doc_id ASC LIMIT {int(q['size'])}
    """


def facet_sql(q: dict) -> str:
    values = ", ".join(f"({_q(g)})" for g in GLOSSARY)
    return f"""
    SELECT g.term AS key, COUNT(DISTINCT d.doc_id) AS doc_count
    FROM documents d CROSS JOIN (VALUES {values}) AS g(term)
    WHERE POSITION(' ' || g.term || ' ' IN ' ' || LOWER(d.text) || ' ') > 0
    GROUP BY g.term ORDER BY doc_count DESC, key ASC LIMIT {int(q['k'])}
    """


class SearchOracle:
    def __init__(self, documents_parquet: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE documents AS SELECT * FROM read_parquet("
            f"{_q(documents_parquet)})")
        self._memo: dict[str, list[tuple]] = {}

    def expected(self, q: dict) -> list[tuple]:
        sql = {"search": search_sql, "bm25": bm25_sql,
               "facet": facet_sql}[q["kind"]](q)
        if sql not in self._memo:
            self._memo[sql] = [tuple(r) for r in self.con.execute(sql)
                               .fetchall()]
        return self._memo[sql]

    def check(self, q: dict, got: list[tuple]) -> bool:
        """Rows must agree in order (paged pages as a set, since the
        engine's paged result carries no final sort) with scores equal
        to 1e-5."""
        want = self.expected(q)
        if q["kind"] == "facet":
            return [tuple(r) for r in got] == want
        if q.get("from"):
            got = sorted(got, key=lambda r: (-r[-1], r[0]))
        if len(got) != len(want):
            return False
        for g, w in zip(got, want):
            if tuple(g[:-1]) != tuple(w[:-1]) or abs(g[-1] - w[-1]) > 1e-5:
                return False
        return True

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------- stream

EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
NGRAM = 13


def _grams(text: str) -> set[tuple]:
    toks = text.lower().split()
    if len(toks) < NGRAM:
        return {tuple(toks)}
    return {tuple(toks[i:i + NGRAM]) for i in range(len(toks) - NGRAM + 1)}


def stream_reference(rows: list[dict], evals: list[dict]) -> pd.DataFrame:
    """Global min-offset row per content fingerprint; of those, the rows
    with a doc_id that share no 13-gram with the eval set; of those, the
    highest offset per doc_id (last write wins)."""
    eval_grams = set().union(*(_grams(e["text"]) for e in evals))
    first: dict[str, dict] = {}
    for r in sorted(rows, key=lambda r: r["kafka_offset"]):
        fp = hashlib.md5(" ".join(r["text"].lower().split())
                         .encode()).hexdigest()
        first.setdefault(fp, r)
    keep = [r for r in first.values()
            if r["doc_id"] is not None
            and not (_grams(r["text"]) & eval_grams)]
    df = pd.DataFrame(keep, columns=["doc_id", "content_type", "text",
                                     "kafka_offset"])
    df = df.sort_values("kafka_offset").drop_duplicates("doc_id", keep="last")
    return df.sort_values("doc_id").reset_index(drop=True)


def check_stream_table(got: pd.DataFrame, drops: list[list[dict]],
                       evals: list[dict]) -> list[str]:
    """Mismatches between the curated table and the reference: the union
    of each drop's replay (each drop ran under its own checkpoint, with
    doc_ids disjoint from the others')."""
    want = pd.concat([stream_reference(rows, evals) for rows in drops])
    want = want.sort_values("doc_id").reset_index(drop=True)
    got = got.sort_values("doc_id").reset_index(drop=True)
    if len(got) != len(want):
        return [f"{len(got)} rows, reference {len(want)}"]
    errs = [f"column {c} differs"
            for c in ("doc_id", "content_type", "text", "kafka_offset")
            if not (got[c].astype(str) == want[c].astype(str)).all()]
    for text, kg in zip(got["text"], got["knowledge_graph"]):
        found = sorted(x["value"] for x in (dict(kg).get("email") or []))
        if found != sorted(EMAIL_RE.findall(text)):
            errs.append("email extraction differs")
            break
    return errs
