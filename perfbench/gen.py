"""Seeded input generators with their own ground truth.

Every generator is a single process and derives everything from ``seed``;
the program under test only ever sees the files written here.

- ``write_tweets``: hour-partitioned tweets (``year=/month=/day=/hour=``),
  several rolled parquet files per hour, Zipf hashtags with per-hour viral
  tags and null/empty arrays (``TWEET_MIX``, assumed, not measured).
  Ground truth: the exact per-hour top-10.
- ``StreamGenerator`` / ``python3 gen.py stream ...``: the open-loop trend
  stream. Drops one parquet file every ``interval`` seconds at a fixed
  event rate, event time = scheduled creation time, and appends each
  file's per-window counts to a JSON-lines ledger before the file appears.
- ``write_corpus``: ``documents`` and ``embeddings`` tables in the registry
  schema with planted exact-duplicate, near-duplicate and embedding-cluster
  groups. Ground truth: the group of every row and the rows the curation
  queries must drop.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOP_K = 10


def top_k_exact(counts: dict[str, int], k: int = TOP_K) -> list[tuple[str, int]]:
    """Exact top-k: count desc, then tag asc (the job's tie-break)."""
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def _zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


# --------------------------------------------------------------------------
# hourly_top10: hour-partitioned tweets

_HOUR_VOLUME = (0.9, 0.95, 1.0, 1.0, 1.05, 1.1)  # share of tweets_per_hour

# The hashtag mix of the generated tweets. Every figure is an unverified
# assumption, chosen by hand and not fitted to any measured tweet corpus
# (README.md, "Input assumptions"). Together they set how the hour job's
# time splits between scan, explode and aggregation.
TWEET_MIX = {
    "tags_per_tweet_p": (0.20, 0.30, 0.25, 0.15, 0.10),  # P(0..4 tags); 0 = empty array
    "null_share": 0.08,  # tweets whose hashtags array is null
    "vocab": 20_000,  # distinct tags
    "zipf_s": 1.05,  # exponent of the tag frequency distribution
    "viral_tags": 2,  # per hour, each replacing tags in ...
    "viral_share": 0.05,  # ... about this share of the hour's tweets
}


@dataclass
class TweetSet:
    base: str
    hours: list[tuple[int, int, int, int]]
    tweets_per_hour: list[int]
    truth: list[list[tuple[str, int]]]  # per hour: exact top-10
    files_per_hour: list[int]


def write_tweets(
    base: str,
    seed: int,
    n_hours: int = 6,
    tweets_per_hour: int = 100_000,
    files_per_hour: int = 4,
) -> TweetSet:
    """Write ``n_hours`` hours of tweets under ``base`` and return the truth.

    Each hour is ``files_per_hour`` rolled files of uneven size, as a
    time-rolling HDFS sink writes them. The hashtag mix is ``TWEET_MIX``.

    Hour volumes and file shares follow a fixed profile, so the seed
    changes what is in an hour but not how much: job times then differ
    between seeds only by noise, not by a seed's luck in hour sizes.
    """
    mix = TWEET_MIX
    rng = np.random.default_rng([seed, 1])
    vocab = mix["vocab"]
    tags = np.array([f"tag{i:05d}" for i in range(vocab)], dtype=object)
    probs = _zipf_probs(vocab, mix["zipf_s"])
    hours, sizes, truth, nfiles = [], [], [], []
    for h in range(n_hours):
        ymdh = (2026, 10, 17, h)
        n = int(tweets_per_hour * _HOUR_VOLUME[h % len(_HOUR_VOLUME)])
        p_tags = mix["tags_per_tweet_p"]
        n_tags = rng.choice(len(p_tags), size=n, p=p_tags)
        is_null = rng.random(n) < mix["null_share"]
        n_tags[is_null] = 0
        flat = rng.choice(vocab, size=int(n_tags.sum()), p=probs)
        # viral tags of this hour replace random slots
        viral = rng.choice(vocab, size=mix["viral_tags"], replace=False)
        for v in viral:
            hit = rng.random(flat.size) < mix["viral_share"] * n / max(flat.size, 1)
            flat[hit] = v
        offsets = np.concatenate([[0], np.cumsum(n_tags)]).astype(np.int32)
        counts = np.bincount(flat, minlength=vocab)
        nz = np.nonzero(counts)[0]
        truth.append(top_k_exact({tags[i]: int(counts[i]) for i in nz}))

        hashtags = pa.ListArray.from_arrays(
            pa.array(offsets),
            pa.array(tags[flat].tolist(), type=pa.string()),
            mask=pa.array(is_null),
        )
        start_us = int(
            (np.datetime64(f"2026-10-17T{h:02d}:00:00") - np.datetime64(0, "s"))
            / np.timedelta64(1, "us")
        )
        created = np.sort(rng.integers(0, 3_600_000_000, size=n)) + start_us
        table = pa.table(
            {
                "tweet_id": pa.array(np.arange(n, dtype=np.int64) + h * 10_000_000),
                "created_at": pa.array(created, type=pa.timestamp("us", tz="UTC")),
                "user_id": pa.array(rng.integers(0, 1_000_000, size=n)),
                "hashtags": hashtags,
            }
        )
        d = f"{base}/year=2026/month=10/day=17/hour={h:02d}"
        os.makedirs(d, exist_ok=True)
        shares = np.cumsum([2 + f % 3 for f in range(files_per_hour)])
        bounds = [0, *(n * shares // shares[-1]).tolist()]
        for f in range(files_per_hour):
            pq.write_table(
                table.slice(bounds[f], bounds[f + 1] - bounds[f]),
                f"{d}/part-{f:05d}.parquet",
            )
        hours.append(ymdh)
        sizes.append(n)
        nfiles.append(files_per_hour)
    return TweetSet(base, hours, sizes, truth, nfiles)


# --------------------------------------------------------------------------
# trend_stream: open-loop file drops

STREAM_VOCAB = 2_000


@dataclass
class StreamGenerator:
    """Fixed-rate file drops; event time is the scheduled creation time.

    Events of the file due at ``t`` are created evenly over
    ``(t - interval, t]``. The file is written under a dot-name (ignored
    by Spark's file source) and renamed into ``out_dir``; its ledger line
    is appended first, so any window a consumer sees finalised has its
    complete counts in the ledger.
    """

    out_dir: str
    ledger: str
    seed: int
    rate: int
    interval: float
    window_ms: int
    _rng: np.random.Generator = field(init=False)
    _tags: np.ndarray = field(init=False)
    _probs: np.ndarray = field(init=False)
    seq: int = 0

    def __post_init__(self) -> None:
        os.makedirs(self.out_dir, exist_ok=True)
        self._rng = np.random.default_rng([self.seed, 2])
        self._tags = np.array([f"trend{i:04d}" for i in range(STREAM_VOCAB)], dtype=object)
        self._probs = _zipf_probs(STREAM_VOCAB, 1.1)

    def drop(self, due_us: int, written_clock: bool = True) -> dict:
        n = int(round(self.rate * self.interval))
        iv_us = int(self.interval * 1e6)
        ts = due_us - iv_us + ((np.arange(n, dtype=np.int64) + 1) * iv_us) // n
        idx = self._rng.choice(STREAM_VOCAB, size=n, p=self._probs)
        wms = self.window_ms * 1000
        windows: dict[str, dict] = {}
        for ws in np.unique(ts // wms * wms):
            sel = (ts // wms * wms) == ws
            c = np.bincount(idx[sel], minlength=STREAM_VOCAB)
            nz = np.nonzero(c)[0]
            windows[str(int(ws) // 1000)] = {
                "max_ts_us": int(ts[sel].max()),
                "counts": {self._tags[i]: int(c[i]) for i in nz},
            }
        name = f"part-{self.seq:06d}.parquet"
        tmp = f"{self.out_dir}/.{name}.tmp"
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
                    "hashtag": pa.array(self._tags[idx].tolist(), type=pa.string()),
                }
            ),
            tmp,
        )
        rec = {
            "seq": self.seq,
            "file": name,
            "n": n,
            "due_us": due_us,
            "written_us": int(time.time() * 1e6) if written_clock else due_us,
            "windows": windows,
        }
        with open(self.ledger, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        os.replace(tmp, f"{self.out_dir}/{name}")
        self.seq += 1
        return rec

    def run(self, stop_after: float) -> None:
        """Drop files on the fixed schedule until ``stop_after`` seconds
        or SIGTERM. The schedule never slows: a late drop is recorded as
        lateness, and the next one is still due one interval later."""
        stopping = []
        signal.signal(signal.SIGTERM, lambda *_: stopping.append(1))
        t0 = time.time()
        k = 1
        while not stopping and time.time() - t0 < stop_after:
            due = t0 + k * self.interval
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            self.drop(int(due * 1e6))
            k += 1


def read_ledger(path: str) -> list[dict]:
    """Complete ledger lines only (a line still being written is skipped)."""
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        data = fh.read()
    return [json.loads(line) for line in data.split("\n")[:-1] if line]


def ledger_windows(records: list[dict]) -> dict[int, dict]:
    """window start (ms) -> {"max_ts_us", "counts"} summed over files."""
    out: dict[int, dict] = {}
    for rec in records:
        for ws, w in rec["windows"].items():
            acc = out.setdefault(int(ws), {"max_ts_us": 0, "counts": Counter()})
            acc["max_ts_us"] = max(acc["max_ts_us"], w["max_ts_us"])
            acc["counts"].update(w["counts"])
    return out


# --------------------------------------------------------------------------
# corpus_curation: documents + embeddings with planted groups

_EN = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "it"]
_FR = ["le", "les", "et", "une", "est", "pour", "dans", "un", "de", "la"]


@dataclass
class Corpus:
    sf_dir: str
    doc_group: dict[int, int]  # doc_id -> planted group id (duplicates only)
    doc_tokens: dict[int, int]  # doc_id -> token count
    doc_dropped: set[int]  # eval, non-English and contaminated docs
    vec_group: dict[int, int]  # vec_id -> group id (every vector)
    n_docs: int
    n_vecs: int


def _doc_text(rng, words, n_tok, stops) -> list[str]:
    toks = rng.choice(words, size=n_tok).tolist()
    for i in range(0, n_tok, 3):
        toks[i] = stops[int(rng.integers(len(stops)))]
    return toks


def _write_documents(sf_dir: str, rng, n_docs: int):
    words = np.array(
        ["".join(rng.choice(list("bcdfghjklmnpqrstvwxz"), size=int(rng.integers(4, 9))))
         for _ in range(6000)],
        dtype=object,
    )
    n_eval = (n_docs + 49) // 50
    evals = [_doc_text(rng, words, int(rng.integers(40, 80)), _EN) for _ in range(n_eval)]
    pool: list[tuple[list[str], int, str]] = []  # (tokens, group, kind)
    gid = 0
    n_groups = n_docs // 10
    for g in range(n_groups):
        base = _doc_text(rng, words, int(rng.integers(40, 80)), _EN)
        kind = ("exact", "near", "mixed")[g % 3]
        extra = int(rng.integers(1, 4))
        pool.append((base, gid, "member"))
        for e in range(extra):
            if kind == "exact" or (kind == "mixed" and e == 0):
                v = list(base)
                i = int(rng.integers(1, len(v)))
                if i % 3:
                    v[i] = v[i].upper()  # case-only change, never a stopword
                pool.append((v, gid, "member_exact"))
            else:
                v = list(base)
                for _ in range(int(rng.integers(1, 4))):
                    i = int(rng.integers(len(v)))
                    if i % 3:
                        v[i] = words[int(rng.integers(len(words)))]
                pool.append((v, gid, "member"))
        gid += 1
    n_rest = n_docs - n_eval - len(pool)
    for i in range(n_rest):
        if i % 25 == 0:
            pool.append((_doc_text(rng, words, int(rng.integers(40, 80)), _FR), -1, "nonen"))
        elif i % 25 == 1:
            toks = _doc_text(rng, words, int(rng.integers(40, 80)), _EN)
            src = evals[int(rng.integers(n_eval))]
            at = int(rng.integers(0, len(src) - 10))
            toks[5:15] = src[at : at + 10]
            pool.append((toks, -1, "contaminated"))
        else:
            pool.append((_doc_text(rng, words, int(rng.integers(40, 80)), _EN), -1, "single"))
    order = rng.permutation(len(pool))
    ids, texts = [], []
    doc_group, doc_tokens, dropped = {}, {}, set()
    ev = iter(evals)
    it = iter(order.tolist())
    for doc_id in range(n_docs):
        if doc_id % 50 == 0:
            toks, g, kind = next(ev), -1, "eval"
        else:
            toks, g, kind = pool[next(it)]
        text = " ".join(toks)
        if kind == "member_exact":
            text = "  " + text.replace(" ", "   ", 2) + " "
        ids.append(doc_id)
        texts.append(text)
        doc_tokens[doc_id] = len(toks)
        if g >= 0:
            doc_group[doc_id] = g
        if kind in ("eval", "nonen", "contaminated"):
            dropped.add(doc_id)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, type=pa.int64()),
                "text": pa.array(texts, type=pa.string()),
                "lang": pa.array(["en"] * n_docs, type=pa.string()),
                "source": pa.array([f"src{i % 7}" for i in ids], type=pa.string()),
                "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
            }
        ),
        f"{sf_dir}/documents.parquet",
    )
    return doc_group, doc_tokens, dropped


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def plant_vectors(rng, n: int):
    """Vectors whose cosine >= 0.3 graph is exactly the planted groups,
    and whose near-duplicate groups sit on the strided IVF centroids of
    ``semantic_dedup_keep`` (so no group straddles two cells).

    Returns (float32 vectors [n, dim], group id per vector), or None when
    a precondition check fails."""
    n_cells = max(4, int(math.floor(math.sqrt(float(n)))))
    stride = max(1, n // (n_cells + 1))
    cap = max(64, 4 * ((n + n_cells - 1) // n_cells))
    cents = [stride * j for j in range(1, n_cells + 1)]
    dim = 256
    group = np.arange(n)
    free = np.setdiff1d(np.arange(n), cents)
    rng.shuffle(free)
    free = free.tolist()
    near_members: dict[int, list[int]] = {}
    for c in cents[: n_cells // 2]:
        near_members[c] = [free.pop() for _ in range(int(rng.integers(1, 4)))]
    exact_groups = []
    for _ in range(n // 20):
        exact_groups.append([free.pop() for _ in range(int(rng.integers(2, 4)))])
    # base directions: every vector not derived from another
    derived = {m for ms in near_members.values() for m in ms}
    derived |= {m for g in exact_groups for m in g[1:]}
    bases = np.array([i for i in range(n) if i not in derived])
    v = np.zeros((n, dim))
    b = _unit(rng.standard_normal((bases.size, dim)))
    for _ in range(100):  # resample bases until every pairwise cos < 0.22
        g = b @ b.T
        np.fill_diagonal(g, 0)
        bad = np.nonzero((g >= 0.22).any(axis=1))[0]
        if bad.size == 0:
            break
        b[bad[: max(1, bad.size // 2)]] = _unit(
            rng.standard_normal((max(1, bad.size // 2), dim))
        )
    v[bases] = b
    for c, ms in near_members.items():
        for m in ms:
            v[m] = _unit(v[c] + 0.35 * _unit(rng.standard_normal(dim)))
            group[m] = c
    v = v.astype(np.float32)
    for gm in exact_groups:
        for m in gm[1:]:
            v[m] = v[gm[0]]
            group[m] = group[gm[0]]
    # a few exact copies of near-duplicate members (mixed groups)
    for c, ms in list(near_members.items())[: max(1, len(near_members) // 4)]:
        m = free.pop()
        v[m] = v[ms[0]]
        group[m] = c
    group = np.array([group[group[i]] for i in range(n)])

    # preconditions, checked on the float32 values the query reads
    u = _unit(v.astype(np.float64))
    cos = u @ u.T
    same = group[:, None] == group[None, :]
    if (cos[same] < 0.5).any() or (np.round(cos[~same], 6) >= 0.3).any():
        return None
    rep = {}
    for i in range(n):  # exact-duplicate representative = min id
        rep.setdefault(v[i].tobytes(), i)
    reps = np.array(sorted(set(rep.values())))
    sims = np.round(u[reps] @ u[cents].T, 9)
    cell = np.argmax(sims, axis=1)  # argmax takes the lowest cell on ties
    if np.bincount(cell, minlength=n_cells).max() > cap:
        return None
    cell_of = dict(zip(reps.tolist(), cell.tolist()))
    for c, ms in near_members.items():
        if len({cell_of[x] for x in [c, *ms] if x in cell_of}) != 1:
            return None
    return v, group


def write_corpus(sf_dir: str, seed: int, n_docs: int = 800, n_vecs: int = 1000) -> Corpus:
    """Write documents.parquet and embeddings.parquet into ``sf_dir``.

    Planted in ``documents``: exact-duplicate groups (whitespace/case
    variants), near-duplicate groups (1-3 token substitutions, shingle
    Jaccard well above 0.5), mixed groups, plus documents the pipeline
    must drop: eval documents (doc_id % 50 == 0), French documents, and
    documents that copy a 10-token run from an eval document.

    Planted in ``embeddings``: exact-duplicate groups (identical
    vectors), near-duplicate groups (cosine ~0.94 to a seed vector) and
    singletons; every pair across groups has cosine < 0.3.
    """
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    doc_group, doc_tokens, dropped = _write_documents(sf_dir, rng, n_docs)
    for attempt in range(20):
        planted = plant_vectors(np.random.default_rng([seed, 4, attempt]), n_vecs)
        if planted is not None:
            break
    else:
        raise RuntimeError("could not plant separable embedding groups")
    vecs, group = planted
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": pa.array((np.arange(n_vecs) % 7).astype(np.int32)),
            }
        ),
        f"{sf_dir}/embeddings.parquet",
    )
    return Corpus(
        sf_dir,
        doc_group,
        doc_tokens,
        dropped,
        {i: int(g) for i, g in enumerate(group)},
        n_docs,
        n_vecs,
    )


def main(argv: list[str]) -> int:
    """``gen.py stream``: the trend-stream generator as its own process."""
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("stream")
    s.add_argument("--out", required=True)
    s.add_argument("--ledger", required=True)
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--rate", type=int, required=True)
    s.add_argument("--interval", type=float, required=True)
    s.add_argument("--window-ms", type=int, required=True)
    s.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args(argv)
    StreamGenerator(a.out, a.ledger, a.seed, a.rate, a.interval, a.window_ms).run(a.seconds)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
