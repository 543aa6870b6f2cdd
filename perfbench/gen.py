"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical corpora, query streams, ETL batches and stream file drops.
Nothing imports Spark; the engine only ever sees the files written here.

The vocabulary, glossary and synonym table are fixed project
configuration (they play the role of a DIG project's glossary files), so
they do not depend on the seed; documents and requests do.
"""

from __future__ import annotations

import itertools
import json
import os
import random
from bisect import bisect_left
from collections import Counter

import pyarrow as pa

# ---------------------------------------------------------------- config

_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pe",
        "do", "fu", "ga", "hi", "ju", "bo"]
# 256 two-syllable words; a Zipf draw over them makes a few common
# words (good multi-clause AND hits) and a long tail (selective ones)
VOCAB = ["".join(p) for p in itertools.product(_SYL, repeat=2)]
STOPWORDS = ["the", "of", "and", "a", "to", "in", "for", "with"]
# glossary: 20 one-word, 15 two-word, 5 three-word terms, all built from
# mid-frequency vocabulary so each matches a few percent of documents
GLOSSARY = (VOCAB[20:40]
            + [f"{VOCAB[40 + i]} {VOCAB[60 + i]}" for i in range(15)]
            + [f"{VOCAB[80 + i]} {VOCAB[90 + i]} {VOCAB[100 + i]}"
               for i in range(5)])
# description-clause synonyms (DIG's dict_constraint_mappings): the key is
# the transformed constraint, the list its alternates
SYNONYMS = {VOCAB[i]: [VOCAB[i + 120], VOCAB[i + 140]] for i in range(0, 10)}
LANGS = ["en", "de", "fr", "es", "zh"]
SOURCES = [f"src{i}" for i in range(8)]

_ZIPF_W = list(itertools.accumulate(1.0 / (r + 1) for r in range(len(VOCAB))))


def _word(rng: random.Random) -> str:
    return VOCAB[bisect_left(_ZIPF_W, rng.random() * _ZIPF_W[-1])]


def _text(rng: random.Random, lo: int, hi: int, glossary_p: float) -> str:
    toks = [_word(rng) for _ in range(rng.randint(lo, hi))]
    for i in range(len(toks)):
        if rng.random() < 0.06:
            toks[i] = rng.choice(STOPWORDS)
    if rng.random() < glossary_p:
        for _ in range(rng.randint(1, 3)):
            at = rng.randrange(len(toks) + 1)
            toks[at:at] = rng.choice(GLOSSARY).split()
    return " ".join(toks)


# ---------------------------------------------------------------- kg_search

def corpus(seed: int, n_docs: int) -> pa.Table:
    """The searchable ``documents`` table: doc_id, text, lang, source,
    n_chars (the shape of the canonical documents table)."""
    rng = random.Random(f"{seed}:corpus")
    ids, texts, langs, srcs = [], [], [], []
    for i in range(n_docs):
        ids.append(i)
        texts.append(_text(rng, 15, 80, 0.5))
        langs.append(rng.choice(LANGS))
        srcs.append(rng.choice(SOURCES))
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(srcs, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _phrase_from(rng: random.Random, texts: list[str], width: int) -> str:
    toks = rng.choice(texts).split()
    at = rng.randrange(max(1, len(toks) - width + 1))
    return " ".join(toks[at:at + width])


# exponent of the Zipf draw that picks a request within its shape
ZIPF_S = 1.1

# The request stream cycles through these shapes in order, so every
# prefix of it has the same mix of request kinds and plan shapes; the seed
# picks the terms, filters and page sizes inside each shape. Per cycle of
# ten: six structured searches, two BM25 searches, two facet requests.
SHAPES = [
    ("search", ["keyword"], False, False),
    ("bm25", 2),
    ("search", ["keyword", "description"], False, False),
    ("facet", 10),
    ("search", ["keyword", "description", "description"], True, False),
    ("search", ["description"], False, True),
    ("bm25", 3),
    ("search", ["description", "synonym"], False, False),
    ("facet", 20),
    ("search", ["keyword", "description"], True, True),
]


def _clause(rng: random.Random, kind: str, texts: list[str]) -> dict:
    if kind == "keyword":
        term = rng.choice(GLOSSARY)
        return {"predicate": "keyword",
                "constraint": term.title() if rng.random() < 0.3 else term}
    if kind == "synonym":
        v = rng.choice(list(SYNONYMS))
    elif rng.random() < 0.5:
        v = rng.choice(VOCAB[:40])
    else:
        v = _phrase_from(rng, texts, rng.choice([1, 2]))
    if rng.random() < 0.3:
        v = f"{rng.choice(STOPWORDS)} {v}"
    return {"predicate": "description", "constraint": v}


def _filter(rng: random.Random) -> dict:
    f = rng.randrange(3)
    if f == 0:
        return {"field": "lang", "op": "eq", "value": rng.choice(LANGS)}
    if f == 1:
        return {"field": "source", "op": "in",
                "value": sorted(rng.sample(SOURCES, 3))}
    return {"field": "n_chars", "op": "gte",
            "value": rng.choice([150, 250, 350])}


def query_pool(seed: int, docs: pa.Table, per_shape: int) -> list[list[dict]]:
    """``per_shape`` requests of each shape in ``SHAPES``: structured
    searches through the query compiler (1-3 clauses, synonyms, hard
    filters, paging), BM25-ranked searches and facet counts. Description
    phrases are cut from real documents so conjunctions usually match."""
    rng = random.Random(f"{seed}:pool")
    texts = docs.column("text").to_pylist()
    pool = []
    for shape in SHAPES:
        reqs = []
        for _ in range(per_shape):
            if shape[0] == "facet":
                reqs.append({"kind": "facet", "field": "keyword",
                             "k": shape[1]})
            elif shape[0] == "bm25":
                reqs.append({"kind": "bm25",
                             "terms": rng.sample(VOCAB[:40], shape[1]),
                             "size": rng.choice([10, 20])})
            else:
                _, clauses, filtered, paged = shape
                q = {"kind": "search",
                     "clauses": [_clause(rng, c, texts) for c in clauses],
                     "size": rng.choice([10, 20])}
                if filtered:
                    q["filters"] = [_filter(rng)]
                if paged:
                    q["from"] = rng.choice([5, 10, 20])
                reqs.append(q)
        pool.append(reqs)
    return pool


def query_stream(seed: int, pool: list[list[dict]],
                 length: int) -> list[tuple[int, int]]:
    """(shape, index) pairs: the shape follows ``SHAPES`` in order, the
    request within it is a Zipf(``ZIPF_S``) draw by rank, so the head of
    each shape's pool repeats and its tail is mostly seen once."""
    rng = random.Random(f"{seed}:stream")
    ranks = []
    for reqs in pool:
        # rank -> pool slot permutation, so repeats are not just the
        # first pool entries
        perm = list(range(len(reqs)))
        rng.shuffle(perm)
        cw = list(itertools.accumulate((r + 1) ** -ZIPF_S
                                       for r in range(len(reqs))))
        ranks.append((perm, cw))
    out = []
    for n in range(length):
        k = n % len(pool)
        perm, cw = ranks[k]
        out.append((k, perm[bisect_left(cw, rng.random() * cw[-1])]))
    return out


def stream_properties(pool: list[list[dict]],
                      drawn: list[tuple[int, int]]) -> dict:
    """Measured properties of the executed requests; a repeat is a
    request identical to an earlier one."""
    seen: set[str] = set()
    repeats = 0
    clause_mix: Counter = Counter()
    kinds: Counter = Counter()
    for k, i in drawn:
        q = pool[k][i]
        text = json.dumps(q, sort_keys=True)
        repeats += text in seen
        seen.add(text)
        kinds[q["kind"]] += 1
        if q["kind"] == "search":
            clause_mix[len(q["clauses"])] += 1
    n = max(1, len(drawn))
    n_search = max(1, sum(clause_mix.values()))
    return {
        "requests": len(drawn),
        "repeat_share": round(repeats / n, 4),
        "kind_mix": {k: round(v / n, 4) for k, v in sorted(kinds.items())},
        "clause_count_mix": {str(k): round(v / n_search, 4)
                             for k, v in sorted(clause_mix.items())},
    }


# ---------------------------------------------------------------- stream

# fixed shares of the rows in every file; updates re-send a doc_id from an
# earlier file, so file 0 carries none
STREAM_SHARES = {"exact_copy": 0.10, "update": 0.10, "eval_overlap": 0.05,
                 "invalid": 0.03, "extractable": 0.30}
# documents in the eval set that decontamination guards
N_EVAL = 40
_TLDS = ["com", "org", "net", "io"]
_MONTHS = ["January", "March", "May", "July", "September", "November"]


def _contact_block(rng: random.Random) -> str:
    user = f"{_word(rng)}.{rng.randrange(1000)}"
    host = f"{_word(rng)}{rng.randrange(100)}.{rng.choice(_TLDS)}"
    y, m, d = rng.randint(2001, 2020), rng.randint(1, 12), rng.randint(1, 28)
    date = (f"{y:04d}-{m:02d}-{d:02d}" if rng.random() < 0.5
            else f"{rng.choice(_MONTHS)} {d}, {y}")
    return (f"contact {user}@{host} see https://{host}/{_word(rng)} "
            f"posted {date}")


def eval_set(seed: int) -> list[dict]:
    rng = random.Random(f"{seed}:evals")
    return [{"doc_id": 900000 + i, "text": _text(rng, 30, 40, 0.0)}
            for i in range(N_EVAL)]


def stream_drop(seed: int, n_files: int, rows_per_file: int, out_dir: str,
                evals: list[dict], id_base: int = 0) -> dict:
    """Land ``n_files`` equal-size, offset-ordered CDR-shaped JSON files
    in ``out_dir``. Each file holds, in fixed shares: planted exact
    copies (an earlier text under a new id), updates (an earlier file's
    doc_id with new text, last write wins), documents quoting 15 tokens
    of an eval-set doc, rows with a null doc_id, and fresh documents; 30%
    of non-copy rows carry an email, a URL and a date. File mtimes
    increase with the file index, so a file-stream source reads them in
    offset order. Fresh doc_ids count up from ``id_base``. Returns the
    measured properties of the drop."""
    rng = random.Random(f"{seed}:drop")
    os.makedirs(out_dir, exist_ok=True)
    sh = STREAM_SHARES
    n = rows_per_file
    offset, next_id = 0, id_base
    texts: list[str] = []
    earlier_ids: list[int] = []
    kinds_seen: Counter = Counter()
    sizes = []
    base_mtime = 1_600_000_000
    for f in range(n_files):
        kinds = (["copy"] * round(n * sh["exact_copy"])
                 + ["update"] * (round(n * sh["update"]) if f else 0)
                 + ["overlap"] * round(n * sh["eval_overlap"])
                 + ["invalid"] * round(n * sh["invalid"]))
        kinds += ["fresh"] * (n - len(kinds))
        rng.shuffle(kinds)
        updated: set[int] = set()
        file_ids: list[int] = []
        lines = []
        for kind in kinds:
            if kind == "copy" and not texts:
                kind = "fresh"
            if kind == "copy":
                text = rng.choice(texts)
            else:
                if kind == "overlap":
                    quote = rng.choice(evals)["text"].split()[:15]
                    text = " ".join(_text(rng, 10, 30, 0.3).split() + quote
                                    + _text(rng, 5, 20, 0.0).split())
                else:
                    text = _text(rng, 20, 60, 0.3)
                if rng.random() < sh["extractable"]:
                    text = f"{text} {_contact_block(rng)}"
                texts.append(text)
            if kind == "update":
                doc_id = rng.choice(earlier_ids)
                while doc_id in updated:
                    doc_id = rng.choice(earlier_ids)
                updated.add(doc_id)
            elif kind == "invalid":
                doc_id = None
            else:
                doc_id, next_id = next_id, next_id + 1
                file_ids.append(doc_id)
            kinds_seen[kind] += 1
            lines.append(json.dumps({
                "doc_id": doc_id, "text": text, "kafka_offset": offset,
                "content_type": "web" if rng.random() < 0.7 else "feed",
            }, sort_keys=True) + "\n")
            offset += 1
        earlier_ids.extend(file_ids)
        path = os.path.join(out_dir, f"part-{f:05d}.json")
        data = "".join(lines)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(data)
        os.utime(path, (base_mtime + f, base_mtime + f))
        sizes.append(len(data.encode("utf-8")))
    total = n_files * n
    return {
        "files": n_files, "rows_per_file": n,
        "bytes_per_file_min": min(sizes), "bytes_per_file_max": max(sizes),
        **{f"{k}_share": round(kinds_seen[k] / total, 4)
           for k in ("copy", "update", "overlap", "invalid")},
    }


def read_drop(out_dir: str) -> list[dict]:
    rows = []
    for f in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, f), encoding="utf-8") as fh:
            rows.extend(json.loads(line) for line in fh)
    return rows


def write_jsonl(rows: list[dict], path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.writelines(json.dumps(r, sort_keys=True) + "\n" for r in rows)
