"""Seeded input generators for the benchmark workloads.

Every generator takes the run seed and writes its inputs under a directory
the caller chooses. The same seed gives byte-identical files: all
randomness comes from numpy PCG64 streams seeded with ``[seed, stream]``
and nothing reads the clock.

- :func:`gen_corpus` writes a documents table spread over several part
  files, with planted exact and near duplicates.
- :func:`gen_yelp` writes Yelp-shaped raw JSON: a backfill, increments
  and one re-delivered increment, with a row for every ETL drop branch.
  It returns the row counts the pipeline must produce.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "zh"]
SOURCES = [f"src{i}" for i in range(20)]
BASE_WORDS = (
    "spark line column order small sort fast value scan query agg table hash "
    "join part batch vector shuffle plan filter merge group window stream"
).split()
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]
# The wide vocabulary: ~1.2k words with stopwords at ~15%, so the 3-shingle
# space is large (MinHash bands do not collide by accident) and the quality
# screens keep most documents.
WIDE_VOCAB = [f"{w}{i}" for w in BASE_WORDS for i in range(50)] + STOPWORDS * 25


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _texts(rng, n: int, words: np.ndarray) -> list[str]:
    """Word-salad documents of 12-40 tokens; every third one is split into
    7-word lines, two of three ending in a full stop, so the line filters
    have real lines to keep and drop."""
    lens = rng.integers(12, 40, n)
    picks = rng.integers(0, len(words), int(lens.sum()))
    out, pos = [], 0
    for i, ln in enumerate(lens):
        toks = list(words[picks[pos : pos + ln]])
        pos += ln
        if i % 3 == 0:
            chunks = [toks[j : j + 7] for j in range(0, len(toks), 7)]
            out.append("\n".join(" ".join(c) + ("." if k % 3 < 2 else "") for k, c in enumerate(chunks)))
        else:
            out.append(" ".join(toks))
    return out


def _doc_table(rng, doc_ids: np.ndarray, texts: list[str]) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": doc_ids.astype(np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, 5, n)],
            "source": np.array(SOURCES)[rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], np.int64),
        }
    )


def _near_copy(rng, text: str, words: np.ndarray) -> str:
    """Replace one word, keeping the separators: against a source of at
    least 30 words, a word 3-shingle Jaccard of at least 0.8."""
    parts = re.split(r"(\s+)", text)
    i = 2 * int(rng.integers(0, (len(parts) + 1) // 2))
    parts[i] = str(words[int(rng.integers(0, len(words)))])
    return "".join(parts)


# The corpus: documents in part files (more files than cores), with a share
# of exact copies and a share of one-token near copies.
CORPUS = {"n_docs": 8000, "n_files": 8, "dup_share": 0.05, "near_share": 0.05}


def gen_corpus(seed: int, out_dir: str) -> dict:
    """Write ``out_dir/documents.parquet/`` as ``CORPUS["n_files"]`` part
    files.

    ``dup_share`` of the documents are exact copies and ``near_share`` are
    one-token edits of earlier documents, placed in other part files than
    their source. Returns the planted (copy, source) id pairs."""
    n_docs, n_files = CORPUS["n_docs"], CORPUS["n_files"]
    os.makedirs(os.path.join(out_dir, "documents.parquet"), exist_ok=True)
    rng = _rng(seed, 20)
    words = np.array(WIDE_VOCAB)
    texts = _texts(rng, n_docs, words)
    n_exact, n_near = int(n_docs * CORPUS["dup_share"]), int(n_docs * CORPUS["near_share"])
    # Copies take the last ids; sources are documents of 30 words or more
    # from the first half, so a copy never serves as another copy's source.
    copy_ids = np.arange(n_docs - n_exact - n_near, n_docs)
    long_docs = [i for i in range(n_docs // 2) if len(texts[i].split()) >= 30]
    src_ids = rng.choice(long_docs, size=len(copy_ids), replace=False)
    exact, near = [], []
    for j, (c, s) in enumerate(zip(copy_ids.tolist(), src_ids.tolist())):
        if j < n_exact:
            texts[c] = texts[s]
            exact.append((c, s))
        else:
            texts[c] = _near_copy(rng, texts[s], words)
            near.append((c, s))
    # Shuffle ids over files so copies and sources land in different parts.
    order = rng.permutation(n_docs)
    meta = _rng(seed, 21)
    for f_idx, ids in enumerate(np.array_split(order, n_files)):
        ids = np.sort(ids)
        t = _doc_table(meta, ids, [texts[i] for i in ids])
        pq.write_table(t, os.path.join(out_dir, "documents.parquet", f"part-{f_idx:05d}.parquet"))
    return {"n_docs": n_docs, "exact_pairs": exact, "near_pairs": near}


# --------------------------------------------------------------------------
# Yelp raw JSON

CATEGORIES = ["Restaurants", "Pizza", "Bars", "Cafes", "Coffee", "Shopping", "Nightlife", "Bakeries"]
STATES = ["IL", "CA", "AZ", "NV", "PA"]
HOURS = ["9:00-17:30", "22:00-2:00", "8:15-12:45", "0:00-0:00", "10:30-22:00", "6:00-18:00"]
WEEKDAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday"]
REVIEW_WORDS = "great amazing delicious love good terrible awful rude bad slow food service place".split()


class _Yelp:
    """Builds raw rows and tracks the processed-table row counts they yield."""

    def __init__(self, seed: int) -> None:
        self.rng = _rng(seed, 30)
        self.biz_rows: dict[str, int] = {}  # valid business id -> category rows
        self.user_rows: dict[str, int] = {}  # user id -> friend rows
        self.review_keys: list[tuple[str, str]] = []  # kept (user_id, business_id)
        self.biz_ids: list[str] = []  # non-null business ids, valid or not
        self.n_biz = self.n_user = self.n_rev = 0

    def businesses(self, n: int) -> list[dict]:
        rng, out = self.rng, []
        for _ in range(n):
            i = self.n_biz
            self.n_biz += 1
            bid = f"b{i}"
            kind = i % 10  # 0: closed, 1: null categories, 2: null hours, 3: null id
            cats = [CATEGORIES[k] for k in sorted(rng.choice(len(CATEGORIES), int(rng.integers(1, 4)), replace=False))]
            days = sorted(rng.choice(7, int(rng.integers(1, 8)), replace=False))
            attrs = {
                "BusinessAcceptsCreditCards": ["True", "False", "None"][int(rng.integers(0, 3))],
                "HasTV": ["True", "False", "None"][int(rng.integers(0, 3))],
                "NoiseLevel": ["u'average'", "u'quiet'", "'loud'", "None"][int(rng.integers(0, 4))],
                "WiFi": ["u'free'", "u'no'", "None"][int(rng.integers(0, 3))],
                "RestaurantsPriceRange2": ["1", "2", "3", "abc"][int(rng.integers(0, 4))],
            }
            row = {
                # every fifth id arrives padded and must come out trimmed
                "business_id": f"  {bid}  " if i % 5 == 4 else bid,
                "name": f"Biz {i}",
                "address": f"{i} Main St",
                "city": "Springfield",
                "state": STATES[int(rng.integers(0, len(STATES)))],
                "postal_code": f"{10000 + i % 90000}",
                "latitude": float(rng.uniform(30, 45)),
                "longitude": float(rng.uniform(-120, -75)),
                "stars": float(rng.integers(2, 11)) / 2,
                "review_count": int(rng.integers(0, 500)),
                "is_open": 0 if kind == 0 else 1,
                "categories": None if kind == 1 else ", ".join(cats),
                "hours": None if kind == 2 else {WEEKDAYS[d]: HOURS[int(rng.integers(0, len(HOURS)))] for d in days},
                "attributes": None if i % 7 == 6 else attrs,
            }
            if kind == 3:
                row["business_id"] = None
            else:
                self.biz_ids.append(bid)
            if kind not in (0, 1, 2, 3):
                self.biz_rows[bid] = len(cats)
            out.append(row)
        return out

    def users(self, n: int) -> list[dict]:
        rng, out = self.rng, []
        known = list(self.user_rows)
        for _ in range(n):
            i = self.n_user
            self.n_user += 1
            uid = f"u{i}"
            kind = i % 6  # 0: empty friends, 1: null friends, 2: empty elite
            n_fr = 0 if kind in (0, 1) or not known else int(rng.integers(1, min(5, len(known)) + 1))
            friends = [known[k] for k in sorted(rng.choice(len(known), n_fr, replace=False))] if n_fr else []
            row = {
                "user_id": uid,
                "name": f"User {i}",
                "review_count": int(rng.integers(0, 300)),
                "yelping_since": f"{2010 + int(rng.integers(0, 14))}-{1 + int(rng.integers(0, 12)):02d}-15 08:00:00",
                "useful": int(rng.integers(0, 50)),
                "funny": int(rng.integers(0, 50)),
                "cool": int(rng.integers(0, 50)),
                "fans": int(rng.integers(0, 20)),
                "elite": "" if kind == 2 else ",".join(str(2015 + k) for k in range(int(rng.integers(0, 4)))),
                "friends": None if kind == 1 else ", ".join(friends),
                "compliment_list": int(rng.integers(0, 5)),
                "compliment_hot": int(rng.integers(0, 5)),
                "compliment_note": int(rng.integers(0, 5)),
            }
            self.user_rows[uid] = max(1, n_fr)
            known.append(uid)
            out.append(row)
        return out

    def reviews(self, n: int) -> list[dict]:
        rng, out = self.rng, []
        users, biz = list(self.user_rows), self.biz_ids
        for _ in range(n):
            i = self.n_rev
            self.n_rev += 1
            kind = i % 20  # 0: unknown user, 1: null user, 2: null business, 3: unknown business
            uid = users[int(rng.integers(0, len(users)))]
            bid = biz[int(rng.integers(0, len(biz)))]
            if kind == 0:
                uid = f"ghost{i}"
            elif kind == 3:
                bid = f"gone{i}"
            words = rng.choice(REVIEW_WORDS, int(rng.integers(4, 12)))
            row = {
                "review_id": f"r{i}",
                "user_id": None if kind == 1 else uid,
                "business_id": None if kind == 2 else bid,
                "stars": float(rng.integers(1, 6)),
                "useful": int(rng.integers(0, 10)),
                "funny": int(rng.integers(0, 10)),
                "cool": int(rng.integers(0, 10)),
                "text": " ".join(words),
                "date": f"{2015 + int(rng.integers(0, 9))}-{1 + int(rng.integers(0, 12)):02d}-"
                f"{1 + int(rng.integers(0, 28)):02d} 12:00:00",
            }
            if kind not in (1, 2):
                self.review_keys.append((uid, bid))
            out.append(row)
        return out

    def counts(self) -> dict[str, int]:
        unified = sum(self.user_rows.get(u, 1) * self.biz_rows.get(b, 1) for u, b in self.review_keys)
        return {
            "business": sum(self.biz_rows.values()),
            "review": len(self.review_keys),
            "user": sum(self.user_rows.values()),
            "unified": unified,
        }


def _write_lines(path: str, rows: list[dict]) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(json.dumps(r, sort_keys=True) for r in rows) + "\n")


# Sizes are (businesses, users, reviews). The backfill is split over
# ``n_parts`` files per domain, each increment is one file per domain, and the
# re-delivery is the first increment again under new file names.
YELP = {"backfill": (2000, 4000, 12000), "increment": (200, 400, 1500), "n_parts": 4, "n_increments": 1}


def gen_yelp(seed: int, out_dir: str) -> dict:
    """Write ``out_dir/backfill/{business,review,user}/part-*.json`` and
    ``out_dir/inc{k}/{domain}/inc{k}.json`` for each increment, plus
    ``out_dir/redelivery/{domain}/`` holding increment 0 again under new
    file names (see ``YELP``).

    Returns the expected processed row counts after the backfill and after
    each increment; the re-delivery must leave the last counts unchanged."""
    y = _Yelp(seed)
    expected = []

    def emit(dirname: str, nb: int, nu: int, nr: int, parts: int, stem: str) -> None:
        rows = {"business": y.businesses(nb), "user": y.users(nu), "review": y.reviews(nr)}
        for domain, rs in rows.items():
            d = os.path.join(out_dir, dirname, domain)
            os.makedirs(d, exist_ok=True)
            for p, chunk in enumerate(np.array_split(np.arange(len(rs)), parts)):
                _write_lines(os.path.join(d, f"{stem}-{p:03d}.json"), [rs[k] for k in chunk])
        expected.append(y.counts())

    emit("backfill", *YELP["backfill"], YELP["n_parts"], "part")
    for k in range(YELP["n_increments"]):
        emit(f"inc{k}", *YELP["increment"], 1, f"inc{k}")
    for domain in ("business", "review", "user"):
        src = os.path.join(out_dir, "inc0", domain, "inc0-000.json")
        d = os.path.join(out_dir, "redelivery", domain)
        os.makedirs(d, exist_ok=True)
        with open(src, "rb") as fh, open(os.path.join(d, "redelivered-inc0.json"), "wb") as out:
            out.write(fh.read())
    return {"expected": expected}
