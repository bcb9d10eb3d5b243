"""Seeded input generators for the benchmark, with planted ground truth.

Every generator is pure NumPy/PyArrow (no Spark) and a function of
``(seed, size)`` only: the same arguments give byte-identical files.  Each
writes its inputs plus a ``truth.json`` side table that the validation plan
never reads; the output checks in ``checks.py`` compare engine results to it.

- ``web_pages``: the ``web_pages(url, warc_ts, html, text, lang)`` table of
  the paper's north-rule job, plus ``doc_id``, ``title`` and a JSON
  ``meta`` column.  Planted:
  invalid urls, urls that only pass after trim + lowercase, exact duplicate
  urls, short texts, NULL texts, pattern-failing langs, langs missing from
  the ``lang_dim`` dimension, and html whose extracted text must equal
  ``text`` byte for byte (entities, comments, style blocks, newlines).
- ``near_dup_corpus``: documents over a Zipf vocabulary of a few thousand
  tokens, with planted near-duplicate clusters (a root plus copies with one
  or two substituted words) and planted containment pairs (a short doc
  quoted whole inside a doc at least three times longer).
- ``json_column``: the ``meta`` column of ``web_pages`` (one page in
  ``META_EVERY``; NULL on the rest), JSON object strings with planted type
  errors, missing keys, short strings, pattern failures, nested values,
  non-object roots and unparseable text.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import numpy as np

DIM_LANGS = ["en", "de", "fr", "es", "zh", "ja", "ru", "pt", "it", "nl"]
ORPHAN_LANGS = ["xx", "qq"]  # pass the lang pattern, absent from lang_dim
BAD_LANGS = ["EN", "e1"]  # fail the lang pattern (and are orphans too)
TEXT_MIN_LEN = 20
META_EVERY = 50  # pages per JSON meta object: the JSON layer's share stays small
N_FILES = 8  # parquet files per table: two scan tasks per core on 4 cores

_CONS = "bcdfghklmnprstvz"
_VOWELS = "aeiou"


def vocabulary(size: int) -> list[str]:
    """``size`` distinct lowercase letter-only tokens, fixed for every seed.
    Token ``k`` spells ``k`` in base 80 with consonant-vowel syllables, so
    low ranks (the frequent tokens under Zipf) are short words."""
    syll = [c + v for c in _CONS for v in _VOWELS]
    out = []
    for k in range(size):
        word, x = "", k
        while True:
            word = syll[x % len(syll)] + word
            x //= len(syll)
            if x == 0:
                break
        out.append(word + ("n" if k % 3 == 0 else ""))
    assert len(set(out)) == size
    return out


def _zipf_tokens(rng, n: int, vocab_size: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab_size + 1) ** s
    return rng.choice(vocab_size, size=n, p=p / p.sum())


def _join_docs(vocab: list[str], tokens: np.ndarray, lengths: np.ndarray) -> list[str]:
    """Split one flat token-id array into single-space-joined documents of
    ``lengths`` words each."""
    big = " ".join(np.array(vocab, dtype=object)[tokens].tolist())
    ends = np.cumsum(np.array([len(w) for w in vocab])[tokens] + 1)
    stops = np.cumsum(lengths)
    starts = np.concatenate(([0], stops[:-1]))
    char_start = np.concatenate(([0], ends))[starts]
    char_stop = ends[stops - 1] - 1
    return [big[a:b] for a, b in zip(char_start.tolist(), char_stop.tolist())]


def _html_escape(text: str) -> str:
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _write_parquet(table, out_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    step = -(-n // N_FILES)
    for f in range(N_FILES):
        part = table.slice(f * step, step)
        pq.write_table(part, os.path.join(out_dir, f"part-{f:03d}.parquet"))


def _write_truth(truth: dict, out_dir: str) -> None:
    tmp = os.path.join(out_dir, "truth.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    os.replace(tmp, os.path.join(out_dir, "truth.json"))


def load_truth(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "truth.json")) as fh:
        return json.load(fh)


# -- web_pages --------------------------------------------------------------

def web_pages(seed: int, n: int, out_dir: str) -> dict:
    """Write ``n`` web_pages rows as parquet under ``out_dir/pages`` and the
    planted truth as ``out_dir/truth.json``; return the truth."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    ids = np.arange(n, dtype=np.int64)

    # hosts: one heavy host owns ~20% of rows, the rest Zipf over 500 hosts
    host_rank = _zipf_tokens(rng, n, 500, 1.1)
    heavy = rng.random(n) < 0.2
    hosts = np.where(
        heavy, "bighost.example.com",
        np.char.add(np.char.add("host-", host_rank.astype(str)), ".example.org"),
    )
    url_kind = rng.choice(4, size=n, p=[0.93, 0.03, 0.02, 0.02])
    clean = [f"https://{h}/page/{i}" for h, i in zip(hosts.tolist(), ids.tolist())]
    clean_idx = np.flatnonzero(url_kind == 0)
    dup_rows = np.flatnonzero(url_kind == 3)
    dup_src = rng.choice(clean_idx, size=len(dup_rows))
    urls = list(clean)
    for i in np.flatnonzero(url_kind == 1).tolist():
        urls[i] = f"  HTTPS://{hosts[i].upper()}/page/{i} "
    for i in np.flatnonzero(url_kind == 2).tolist():
        urls[i] = f"not-a-url/{i}"
    for i, s in zip(dup_rows.tolist(), dup_src.tolist()):
        urls[i] = clean[s]

    # text: normal (8-60 Zipf words, a few with html-special characters),
    # short (one word, under TEXT_MIN_LEN bytes), NULL
    vocab = vocabulary(2000) + ["r&d", "x<y", "a>b"]
    text_kind = rng.choice(3, size=n, p=[0.96, 0.02, 0.02])
    lengths = np.where(text_kind == 0, rng.integers(8, 61, size=n), 1)
    texts = _join_docs(vocab, _zipf_tokens(rng, int(lengths.sum()), len(vocab), 1.05), lengths)
    text_col = [None if k == 2 else t for k, t in zip(text_kind.tolist(), texts)]
    for k, t in zip(text_kind.tolist(), text_col):
        if k == 0:
            assert len(t.encode()) >= TEXT_MIN_LEN
        elif k == 1:
            assert len(t.encode()) < TEXT_MIN_LEN
    html_col = [
        (
            f"<html><head><title></title><style>p {{margin:0}}</style>\n"
            f"<!-- doc {i} --></head>\n<body><p>{_html_escape(t or '')}</p>\n"
            "</body></html>"
        ).encode()
        for i, t in enumerate(text_col)
    ]

    langs_all = DIM_LANGS + ORPHAN_LANGS + BAD_LANGS
    lp = np.array([0.3, 0.2, 0.15, 0.12, 0.1, 0.02, 0.02, 0.01, 0.005, 0.005,
                   0.015, 0.005, 0.01, 0.005])
    lang_kind = rng.choice(len(langs_all) + 1, size=n, p=np.append(lp, 0.015) / (lp.sum() + 0.015))
    lang_col = [None if k == len(langs_all) else langs_all[k] for k in lang_kind.tolist()]

    # a JSON ``meta`` object on every META_EVERY-th page, NULL elsewhere
    meta_rows, meta_violations = json_column(np.random.default_rng([seed, 3]),
                                             -(-n // META_EVERY))
    meta = [None] * n
    meta[::META_EVERY] = meta_rows
    table = pa.table({
        "doc_id": pa.array(ids),
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array((1_700_000_000 + ids * 7) * 1_000_000, pa.timestamp("us")),
        "html": pa.array(html_col, pa.binary()),
        "text": pa.array(text_col, pa.string()),
        "lang": pa.array(lang_col, pa.string()),
        "title": pa.array([f"page {i} of {h}" for i, h in zip(ids.tolist(), hosts.tolist())], pa.string()),
        "meta": pa.array(meta, pa.string()),
    })
    _write_parquet(table, os.path.join(out_dir, "pages"))

    url_bad = url_kind == 2
    text_short = text_kind == 1
    lang_bad = np.isin(np.array(lang_col, dtype=object), BAD_LANGS)
    valid = ~url_bad & ~text_short & ~lang_bad
    verdicts: dict[str, list[int]] = {}
    for lang, ok, bad in zip(lang_col, valid.tolist(), lang_bad.tolist()):
        key = "null" if (lang is None or bad) else lang
        v = verdicts.setdefault(key, [0, 0])
        v[0] += 1
        v[1] += 0 if ok else 1
    truth = {
        "rows": n,
        "valid_rows": int(valid.sum()),
        "violations": {
            "url|INVALID_URL": int(url_bad.sum()),
            "text|MIN_LENGTH_ERROR": int(text_short.sum()),
            "lang|PATTERN_ERROR": int(lang_bad.sum()),
        },
        # per validated-lang value ("null" = NULL or pattern-failing lang):
        # [total_rows, failed_rows]
        "verdicts": verdicts,
        "duplicate_url_keys": int(len(np.unique(dup_src))),
        "orphan_langs": sorted({x for x in lang_col if x in ORPHAN_LANGS + BAD_LANGS}),
        "failed_table_checks": ["text_null_rate"],
        "nulls": {"url": 0, "text": int((text_kind == 2).sum()), "lang": int(sum(x is None for x in lang_col))},
        # validate_json_objects over ``meta``: "field|code" -> rows
        "json_violations": meta_violations,
    }
    _write_truth(truth, out_dir)
    return truth


# -- near-duplicate corpus ----------------------------------------------------

# Zipf exponent of the near-dup corpus: a heavier head makes thousands of
# chance 3-gram collisions between unrelated docs, which the containment
# kernel's candidate join must then verify
ZIPF_S = 0.8

# the curated write partitions the corpus into this many shards and fails
# texts longer than this many bytes (the long containment docs and the
# longest plain ones)
CURATED_SHARDS = 4
CURATED_MAX_BYTES = 400


def near_dup_corpus(seed: int, n: int, out_dir: str) -> dict:
    """Write ``n`` documents ``(doc_id, text, shard, title)`` under ``out_dir/docs``
    with planted near-duplicate clusters and containment pairs; return the
    truth."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 2])
    vocab_size = 4000
    vocab = vocabulary(vocab_size)
    n_clusters = n // 40  # roots; each gets 1-2 copies (~6% of docs)
    n_contain = n // 60  # (short, long) pairs (~3% of docs)
    n_copies = rng.integers(1, 3, size=n_clusters)
    n_plain = n - n_clusters - int(n_copies.sum()) - 2 * n_contain
    if n_plain <= 0:
        raise ValueError(f"corpus of {n} docs is too small for the planted sets")

    def draw(k: int, lo: int, hi: int) -> list[np.ndarray]:
        lens = rng.integers(lo, hi + 1, size=k)
        flat = _zipf_tokens(rng, int(lens.sum()), vocab_size, ZIPF_S)
        return np.split(flat, np.cumsum(lens)[:-1]) if k else []

    docs: list[np.ndarray] = []  # token-id arrays, in generation order
    clusters: list[list[int]] = []
    for root, copies in zip(draw(n_clusters, 50, 90), n_copies.tolist()):
        members = [len(docs)]
        docs.append(root)
        for _ in range(copies):
            c = root.copy()
            pos = rng.choice(len(c), size=rng.integers(1, 3), replace=False)
            # substitute rare tokens (upper half of the Zipf ranks)
            c[pos] = rng.integers(vocab_size // 2, vocab_size, size=len(pos))
            members.append(len(docs))
            docs.append(c)
        clusters.append(members)
    contain: list[tuple[int, int]] = []
    for short in draw(n_contain, 20, 30):
        pre, post = draw(2, 30, 50)
        contain.append((len(docs), len(docs) + 1))
        docs.append(short)
        docs.append(np.concatenate([pre, short, post]))
    docs.extend(draw(n_plain, 30, 90))

    # random placement: planted docs spread over every partition
    order = rng.permutation(len(docs))  # generation index -> doc_id
    by_id = [None] * len(docs)
    for g, d in enumerate(order.tolist()):
        by_id[d] = docs[g]
    lengths = np.array([len(d) for d in by_id])
    texts = _join_docs(vocab, np.concatenate(by_id), lengths)
    shards = [f"s{i % CURATED_SHARDS}" for i in range(len(docs))]
    table = pa.table({
        "doc_id": pa.array(np.arange(len(docs), dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "shard": pa.array(shards, pa.string()),
        "title": pa.array([" ".join(t.split(" ", 3)[:3]) for t in texts], pa.string()),
    })
    _write_parquet(table, os.path.join(out_dir, "docs"))

    idmap = order.tolist()
    truth = {
        "rows": len(docs),
        "clusters": [[idmap[g] for g in c] for c in clusters],
        "near_dup_pairs": [
            sorted((idmap[c[0]], idmap[m])) for c in clusters for m in c[1:]
        ],
        "containment_pairs": [[idmap[a], idmap[b]] for a, b in contain],
        # quality_classifier features = unigrams + bigrams: 2w - 1 per doc
        "n_features": int((2 * lengths - 1).sum()),
        # the curated write, per shard: [total_rows, failed_rows]
        "shards": {},
    }
    for shard, t in zip(shards, texts):
        v = truth["shards"].setdefault(shard, [0, 0])
        v[0] += 1
        v[1] += len(t.encode()) > CURATED_MAX_BYTES
    _write_truth(truth, out_dir)
    return truth


# -- JSON records ---------------------------------------------------------------

JSON_KINDS = [
    # (weight, planted (field, code) or None)
    (0.70, None),
    (0.04, ("age", "MISSING_FIELD")),
    (0.04, ("age", "TYPE_ERROR")),
    (0.04, ("name", "MIN_LENGTH_ERROR")),
    (0.04, ("tag", "PATTERN_ERROR")),
    (0.04, ("active", "TYPE_ERROR")),
    # whole-record errors are reported against the column itself
    (0.04, ("meta", "TYPE_ERROR")),  # nested object value
    (0.03, ("meta", "TYPE_ERROR")),  # unparseable
    (0.03, ("meta", "TYPE_ERROR")),  # non-object root
]


def _json_record(rng, kind: int, i: int) -> str:
    rec = {
        "name": f"user_{i}",
        "age": int(rng.integers(18, 90)),
        "active": bool(rng.integers(0, 2)),
        "tag": None if rng.random() < 0.2 else "tag" + "abc"[i % 3],
    }
    if kind == 1:
        del rec["age"]
    elif kind == 2:
        rec["age"] = "forty"
    elif kind == 3:
        rec["name"] = "ab"
    elif kind == 4:
        rec["tag"] = "Tag1"
    elif kind == 5:
        rec["active"] = "yes"
    elif kind == 6:
        rec["extra"] = {"source": "crawl", "depth": i % 7}
    elif kind == 7:
        return json.dumps(rec)[: 12 + i % 9]  # truncated: unparseable
    elif kind == 8:
        return json.dumps([rec["name"], rec["age"]])
    return json.dumps(rec)


def json_column(rng, n: int) -> tuple[list[str], dict[str, int]]:
    """``n`` JSON object strings (one planted kind each) and the planted
    ``"field|code"`` violation counts."""
    weights = np.array([w for w, _ in JSON_KINDS])
    kinds = rng.choice(len(JSON_KINDS), size=n, p=weights / weights.sum())
    truth: Counter = Counter()
    out = []
    for i, k in enumerate(kinds.tolist()):
        out.append(_json_record(rng, k, i))
        planted = JSON_KINDS[k][1]
        if planted:
            truth["|".join(planted)] += 1
    return out, dict(truth)
