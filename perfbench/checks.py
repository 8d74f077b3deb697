"""Correctness checks against the generators' ground truth, and the
freshness calculation over a streaming progress log. Pure Python, so the
self-test can exercise them without Spark."""

from __future__ import annotations

import csv
import glob
import os
from datetime import datetime, timezone
from urllib.parse import unquote

import pyarrow.parquet as pq

from gen import TOP_K, Corpus, top_k_exact


def read_top_k_csv(out_dir: str) -> list[tuple[str, int]]:
    """The single headered CSV file ``write_csv_top_k`` leaves in ``out_dir``."""
    parts = glob.glob(f"{out_dir}/part-*.csv")
    if len(parts) != 1:
        raise ValueError(f"expected one CSV part file in {out_dir}, found {len(parts)}")
    with open(parts[0], newline="") as fh:
        rows = list(csv.reader(fh))
    if rows[0] != ["hashtag", "NumberOfHashtags"]:
        raise ValueError(f"unexpected header {rows[0]}")
    return [(r[0], int(r[1])) for r in rows[1:]]


def top_k_matches(got: list[tuple[str, int]], truth: list[tuple[str, int]]) -> bool:
    """Exact, ordered equality with the truth's top-k (count desc, tag asc)."""
    return list(got) == list(truth)


# ---------------------------------------------------------------- stream


def epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def batch_end(p: dict) -> float:
    """Epoch seconds at which a micro-batch finished (start + trigger time)."""
    return epoch_s(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000.0


def emission_times(progress: list[dict], window_ends_ms: list[int]) -> dict[int, float]:
    """window end (ms) -> end time of the first batch whose watermark has
    passed it: in append mode that batch evicts the window from state and
    hands it to the sink, which commits its partition within the batch."""
    batches = sorted(
        (p for p in progress if "eventTime" in p and "watermark" in p["eventTime"]),
        key=lambda p: p["batchId"],
    )
    out: dict[int, float] = {}
    for we in window_ends_ms:
        for p in batches:
            if epoch_s(p["eventTime"]["watermark"]) * 1000.0 >= we:
                out[we] = batch_end(p)
                break
    return out


def freshness(progress: list[dict], windows: dict[int, dict], window_ms: int) -> dict[int, float]:
    """window start (ms) -> seconds from the creation of the window's last
    event (ledger ``max_ts_us``) until the batch that emitted it ended."""
    ends = {ws + window_ms: ws for ws in windows}
    emitted = emission_times(progress, sorted(ends))
    return {
        ends[we]: t - windows[ends[we]]["max_ts_us"] / 1e6 for we, t in emitted.items()
    }


def sink_windows(out_dir: str) -> dict[int, str]:
    """window start (ms) -> partition directory, for every committed window."""
    out = {}
    for d in glob.glob(f"{out_dir}/window_start=*"):
        value = unquote(os.path.basename(d).split("=", 1)[1])
        ts = datetime.fromisoformat(value).replace(tzinfo=timezone.utc).timestamp()
        out[int(round(ts * 1000))] = d
    return out


def read_window_top_k(part_dir: str) -> list[tuple[str, int]]:
    t = pq.read_table(part_dir).to_pylist()
    return sorted(((r["hashtag"], int(r["n"])) for r in t), key=lambda kv: (-kv[1], kv[0]))


def window_matches(got: list[tuple[str, int]], counts: dict[str, int]) -> bool:
    return got == top_k_exact(dict(counts), TOP_K)


def final_watermark_ms(progress: list[dict]) -> float:
    """The latest watermark any batch reported, in epoch ms (0 if none)."""
    return max(
        (epoch_s(p["eventTime"]["watermark"]) * 1000.0
         for p in progress if "watermark" in p.get("eventTime", {})),
        default=0.0,
    )


def check_stream_sink(
    sink: dict[int, list[tuple[str, int]] | None],
    truth: dict[int, dict],
    watermark_ms: float,
    window_ms: int,
) -> dict[int, str]:
    """window start (ms) -> "" if right, else what is wrong, for every
    window the sink must hold at the end of a run: each input window
    whose end is at or below the last watermark, and each window the
    sink holds. ``sink`` maps window start to its top-k as read back
    (None if unreadable); ``truth`` is ``gen.ledger_windows``."""
    final = {w for w in truth if w + window_ms <= watermark_ms}
    out = {}
    for w in sorted(final | set(sink)):
        if w not in truth:
            out[w] = "in the sink but not in the input"
        elif w not in final:
            out[w] = "committed before the watermark passed its end"
        elif w not in sink:
            out[w] = "finalised but missing from the sink"
        elif sink[w] is None:
            out[w] = "partition unreadable"
        elif not window_matches(sink[w], truth[w]["counts"]):
            out[w] = "top-10 differs from exact count"
        else:
            out[w] = ""
    return out


# ---------------------------------------------------------------- curation


def check_pipeline(rows: list[dict], corpus: Corpus) -> list[str]:
    """``training_pipeline_docs``: each planted duplicate group leaves
    exactly one survivor; every other eligible document survives once;
    eval, non-English and contaminated documents are gone; token counts
    match the generator's."""
    errors = []
    ids = [r["doc_id"] for r in rows]
    if len(ids) != len(set(ids)):
        errors.append("duplicate doc_id in output")
    per_group: dict[int, int] = {}
    for r in rows:
        d = r["doc_id"]
        if d in corpus.doc_dropped:
            errors.append(f"doc {d} should have been dropped")
        if d in corpus.doc_group:
            per_group[corpus.doc_group[d]] = per_group.get(corpus.doc_group[d], 0) + 1
        if r["n_tokens"] != corpus.doc_tokens.get(d):
            errors.append(f"doc {d}: n_tokens {r['n_tokens']} != {corpus.doc_tokens.get(d)}")
    groups = set(corpus.doc_group.values())
    bad = [g for g in groups if per_group.get(g, 0) != 1]
    if bad:
        errors.append(f"{len(bad)} duplicate groups without exactly one survivor")
    singles = set(range(corpus.n_docs)) - corpus.doc_dropped - set(corpus.doc_group)
    missing = singles - set(ids)
    if missing:
        errors.append(f"{len(missing)} unique documents lost")
    return errors


def check_semdedup(rows: list[dict], corpus: Corpus) -> list[str]:
    """``semantic_dedup_keep``: every vector once; members of a planted
    group share one cluster and exactly one is kept; distinct groups get
    distinct clusters."""
    errors = []
    if sorted(r["vec_id"] for r in rows) != list(range(corpus.n_vecs)):
        errors.append("output is not one row per vector")
        return errors
    cluster_of: dict[int, set] = {}
    kept: dict[int, int] = {}
    group_of_cluster: dict[int, set] = {}
    for r in rows:
        g = corpus.vec_group[r["vec_id"]]
        cluster_of.setdefault(g, set()).add(r["cluster"])
        group_of_cluster.setdefault(r["cluster"], set()).add(g)
        kept[g] = kept.get(g, 0) + bool(r["keep"])
    split = sum(1 for c in cluster_of.values() if len(c) != 1)
    merged = sum(1 for g in group_of_cluster.values() if len(g) != 1)
    wrong_keep = sum(1 for k in kept.values() if k != 1)
    if split:
        errors.append(f"{split} groups split across clusters")
    if merged:
        errors.append(f"{merged} clusters merge distinct groups")
    if wrong_keep:
        errors.append(f"{wrong_keep} groups without exactly one kept vector")
    return errors
