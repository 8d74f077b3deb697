"""Fast self-test of the benchmark's own pieces, at tiny sizes and without
Spark:

- each generator's ground truth equals a direct pyarrow count of the
  files it wrote;
- the checkers reject a deliberately wrong result;
- the freshness calculation is right on a hand-made progress log.

Run from the repository root: ``python3 perfbench/selftest.py``
(exit code 0 when every check passes).
"""

from __future__ import annotations

import os
import sys
import tempfile
import traceback
from collections import Counter

import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
from harness import tail, union_length  # noqa: E402


def test_tweet_truth_matches_files(tmp: str) -> None:
    tw = gen.write_tweets(f"{tmp}/tw", seed=5, n_hours=2, tweets_per_hour=3_000, files_per_hour=3)
    for i, (_, _, _, h) in enumerate(tw.hours):
        d = f"{tmp}/tw/year=2026/month=10/day=17/hour={h:02d}"
        files = sorted(os.listdir(d))
        assert len(files) == tw.files_per_hour[i], files
        t = ds.dataset(d, format="parquet").to_table()
        assert t.num_rows == tw.tweets_per_hour[i]
        tags = pc.list_flatten(t["hashtags"]).to_pylist()
        assert t["hashtags"].null_count > 0, "generator must emit null arrays"
        assert gen.top_k_exact(Counter(tags)) == tw.truth[i]


def test_stream_ledger_matches_files(tmp: str) -> None:
    g = gen.StreamGenerator(f"{tmp}/in", f"{tmp}/ledger.jsonl", 3, 400, 0.25, 500)
    for k in range(6):
        g.drop(1_800_000_000_000_000 + k * 250_000, written_clock=False)
    t = ds.dataset(f"{tmp}/in", format="parquet").to_table().to_pylist()
    direct: dict[int, Counter] = {}
    last: dict[int, int] = {}
    for r in t:
        us = int(r["ts"].timestamp() * 1_000_000)
        ws = us // 500_000 * 500
        direct.setdefault(ws, Counter())[r["hashtag"]] += 1
        last[ws] = max(last.get(ws, 0), us)
    led = gen.ledger_windows(gen.read_ledger(f"{tmp}/ledger.jsonl"))
    assert sorted(led) == sorted(direct)
    for ws, w in led.items():
        assert w["counts"] == direct[ws], ws
        assert w["max_ts_us"] == last[ws], ws


def test_corpus_truth_matches_files(tmp: str) -> None:
    c = gen.write_corpus(f"{tmp}/corpus", seed=9, n_docs=300, n_vecs=400)
    docs = pq.read_table(f"{tmp}/corpus/documents.parquet").to_pylist()
    assert [d["doc_id"] for d in docs] == list(range(300))
    norm = {}
    for d in docs:
        assert len(d["text"].split()) == c.doc_tokens[d["doc_id"]]
        norm.setdefault(" ".join(d["text"].lower().split()), set()).add(d["doc_id"])
    for ids in norm.values():  # exact duplicates are always one planted group
        if len(ids) > 1:
            assert len({c.doc_group.get(i) for i in ids}) == 1 and None not in {
                c.doc_group.get(i) for i in ids
            }
    assert all(i % 50 for i in c.doc_group), "eval documents must not be group members"
    vecs = pq.read_table(f"{tmp}/corpus/embeddings.parquet").to_pylist()
    same: dict[tuple, set] = {}
    for v in vecs:
        same.setdefault(tuple(v["embedding"]), set()).add(c.vec_group[v["vec_id"]])
    assert all(len(g) == 1 for g in same.values())
    assert len(set(c.vec_group.values())) < c.n_vecs, "no embedding groups planted"


def test_checkers_reject_wrong_results(tmp: str) -> None:
    truth = [("a", 5), ("b", 5), ("c", 3)]
    assert checks.top_k_matches(list(truth), truth)
    assert not checks.top_k_matches([("b", 5), ("a", 5), ("c", 3)], truth)  # tie order
    assert not checks.top_k_matches([("a", 5), ("b", 4), ("c", 3)], truth)  # count
    assert not checks.top_k_matches(truth[:2], truth)  # short
    counts = {"x": 3, "y": 3, "z": 1}
    assert checks.window_matches([("x", 3), ("y", 3), ("z", 1)], counts)
    assert not checks.window_matches([("y", 3), ("x", 3), ("z", 1)], counts)

    os.makedirs(f"{tmp}/csv")
    with open(f"{tmp}/csv/part-00000.csv", "w") as fh:
        fh.write("hashtag,NumberOfHashtags\na,5\nb,5\nc,3\n")
    assert checks.read_top_k_csv(f"{tmp}/csv") == truth

    c = gen.Corpus("", {1: 0, 2: 0, 3: 1, 4: 1}, {i: 7 for i in range(6)}, {0}, {}, 6, 0)
    good = [{"doc_id": i, "n_tokens": 7} for i in (1, 3, 5)]
    assert checks.check_pipeline(good, c) == []
    assert checks.check_pipeline(good + [{"doc_id": 2, "n_tokens": 7}], c)  # two survivors
    assert checks.check_pipeline(good[:2], c)  # unique doc lost
    assert checks.check_pipeline(good + [{"doc_id": 0, "n_tokens": 7}], c)  # eval doc kept

    c.vec_group, c.n_vecs = {0: 0, 1: 0, 2: 2, 3: 3}, 4
    rows = [
        {"vec_id": 0, "cluster": 0, "keep": True},
        {"vec_id": 1, "cluster": 0, "keep": False},
        {"vec_id": 2, "cluster": 2, "keep": True},
        {"vec_id": 3, "cluster": 3, "keep": True},
    ]
    assert checks.check_semdedup(rows, c) == []
    merged = [dict(r) for r in rows]
    merged[3].update(cluster=2, keep=False)
    assert checks.check_semdedup(merged, c)
    split = [dict(r) for r in rows]
    split[1].update(cluster=1, keep=True)
    assert checks.check_semdedup(split, c)


def test_freshness_on_hand_made_progress(tmp: str) -> None:
    # windows of 500 ms starting at t=1000.0 s and t=1000.5 s
    windows = {
        1_000_000: {"max_ts_us": 1_000_400_000, "counts": {}},
        1_000_500: {"max_ts_us": 1_000_999_000, "counts": {}},
    }

    def batch(bid, start, ms, wm):
        return {
            "batchId": bid,
            "timestamp": start,
            "durationMs": {"triggerExecution": ms},
            "eventTime": {"watermark": wm},
        }

    progress = [
        # watermark 1000.2: no window closed yet
        batch(0, "1970-01-01T00:16:41.000Z", 300, "1970-01-01T00:16:40.200Z"),
        # watermark 1000.5 closes the first window; batch ends at 1001.7
        batch(1, "1970-01-01T00:16:41.500Z", 200, "1970-01-01T00:16:40.500Z"),
        # watermark 1001.2 closes the second; batch ends at 1002.9
        batch(2, "1970-01-01T00:16:42.000Z", 900, "1970-01-01T00:16:41.200Z"),
    ]
    f = checks.freshness(progress, windows, 500)
    assert abs(f[1_000_000] - (1001.7 - 1000.4)) < 1e-6, f
    assert abs(f[1_000_500] - (1002.9 - 1000.999)) < 1e-6, f
    # a window no batch has closed has no freshness yet
    assert checks.freshness(progress[:1], windows, 500) == {}


def test_stream_sink_check() -> None:
    # 100 ms windows; the last watermark (1000.35 s) finalises the first three
    truth = {
        ws: {"max_ts_us": ws * 1000 + 99_000, "counts": {"x": 2, "y": 1}}
        for ws in (1_000_000, 1_000_100, 1_000_200, 1_000_300)
    }
    right = [("x", 2), ("y", 1)]
    progress = [
        {"eventTime": {"watermark": "1970-01-01T00:16:40.150Z"}},
        {"eventTime": {"watermark": "1970-01-01T00:16:40.350Z"}},
        {"eventTime": {}},
    ]
    wm = checks.final_watermark_ms(progress)
    assert wm == 1_000_350.0, wm
    full = {1_000_000: right, 1_000_100: right, 1_000_200: right}
    assert checks.check_stream_sink(full, truth, wm, 100) == {w: "" for w in full}

    def wrong(sink):
        return {w for w, why in checks.check_stream_sink(sink, truth, wm, 100).items() if why}

    missing = {w: v for w, v in full.items() if w != 1_000_100}
    assert wrong(missing) == {1_000_100}  # lost or deleted window
    assert wrong({**full, 1_000_200: [("x", 2)]}) == {1_000_200}  # rewritten wrongly
    assert wrong({**full, 1_000_000: None}) == {1_000_000}  # unreadable partition
    assert wrong({**full, 1_000_300: right}) == {1_000_300}  # committed too early
    assert wrong({**full, 999_900: right}) == {999_900}  # not in the input
    assert wrong({}) == set(full)  # every batch wiped the earlier windows


def test_statistics() -> None:
    assert tail([1.0, 2.0, 3.0]) == (3.0, 100.0)
    assert tail([float(i) for i in range(19)]) == (18.0, 100.0)  # p47 would be below p50
    v, p = tail([float(i) for i in range(40)])
    assert v == 29.0 and p == 75.0  # ten samples (30..39) beyond it
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4


def main() -> int:
    failed = 0
    for name, fn in sorted(globals().items()):
        if not name.startswith("test_"):
            continue
        with tempfile.TemporaryDirectory(dir=os.getcwd(), prefix=".perfbench_selftest_") as tmp:
            try:
                fn(tmp) if fn.__code__.co_argcount else fn()
                print(f"ok   {name}")
            except Exception:
                failed += 1
                print(f"FAIL {name}")
                traceback.print_exc()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
