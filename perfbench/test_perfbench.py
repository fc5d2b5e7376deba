"""Tests of the benchmark's own pieces (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
from spans import tail_percentile  # noqa: E402


@pytest.fixture(scope="module")
def feed():
    return gen.posts(7, 4, 150, 60.0)


def delivered_rows(post_set, skip_file=None, repeat_file=None):
    rows = []
    for i, f in enumerate(post_set.files):
        if i == skip_file:
            continue
        batch = [(text, checks.label_of(text)) for text, _ in f.valid.values()]
        rows += batch * (2 if i == repeat_file else 1)
    return rows


# --- generators -----------------------------------------------------------

def test_posts_same_seed_same_bytes(feed):
    again = gen.posts(7, 4, 150, 60.0)
    assert [f.payload for f in again.files] == [f.payload for f in feed.files]
    assert again.valid == feed.valid
    assert [f.payload for f in gen.posts(8, 4, 150, 60.0).files] != [f.payload for f in feed.files]


def test_posts_plant_bad_lines_and_bounded_disorder(feed):
    lines = [ln for f in feed.files for ln in f.payload.decode().splitlines()]
    malformed = empty = 0
    for ln in lines:
        try:
            empty += json.loads(ln)["text"] == ""
        except json.JSONDecodeError:
            malformed += 1
    assert malformed > 0 and empty > 0
    assert len(feed.valid) == len(lines) - malformed - empty
    # out of order, but never by more than half the 10-minute watermark
    from datetime import datetime, timedelta

    seen_max, back = gen.EVENT_EPOCH, 0
    for f in feed.files:
        for _, ts in f.valid.values():
            t = datetime.strptime(ts, gen.TIMESTAMP_FMT)
            back += t < seen_max
            assert t >= seen_max - timedelta(seconds=gen.MAX_DISORDER_S + 60)
            seen_max = max(seen_max, t)
    assert back > 0


def test_corpus_same_seed_and_planted_truth():
    a, b = gen.corpus(5, 400), gen.corpus(5, 400)
    assert a.rows == b.rows and a.near_dups == b.near_dups and a.exact_dups == b.exact_dups
    ids = {r["doc_id"] for r in a.rows}
    assert ids == a.originals | a.exact_dups | a.near_dups.keys() | a.filtered
    text = {r["doc_id"]: r["text"] for r in a.rows}
    for dup, orig in a.near_dups.items():
        assert dup > orig and 0.8 < gen.jaccard(text[dup], text[orig]) < 1.0


# --- percentile rule --------------------------------------------------------

@pytest.mark.parametrize("n,want_p", [(1000, 95.0), (200, 95.0), (100, 90.0), (40, 75.0)])
def test_tail_percentile_keeps_ten_samples_beyond(n, want_p):
    xs = [float(i) for i in range(n)]
    p, v = tail_percentile(xs)
    assert p == pytest.approx(want_p)
    assert sum(1 for x in xs if x > v) >= 10


def test_tail_percentile_falls_back_to_median_when_too_few():
    p, v = tail_percentile([5.0, 1.0, 3.0, 2.0])
    assert (p, v) == (50.0, 2.5)


# --- output checks catch planted defects ------------------------------------

def test_check_feed_clean(feed):
    assert checks.check_feed(delivered_rows(feed), feed.valid) == {
        "missing": 0, "duplicated": 0, "unexpected": 0, "mislabelled": 0}


def test_check_feed_catches_dropped_file(feed):
    got = checks.check_feed(delivered_rows(feed, skip_file=2), feed.valid)
    assert got["missing"] == len(feed.files[2].valid)


def test_check_feed_catches_duplicated_batch(feed):
    got = checks.check_feed(delivered_rows(feed, repeat_file=1), feed.valid)
    assert got["duplicated"] == len(feed.files[1].valid)


def test_check_feed_catches_wrong_label(feed):
    rows = delivered_rows(feed)
    text, label = rows[0]
    rows[0] = (text, "neutral" if label != "neutral" else "positive")
    assert checks.check_feed(rows, feed.valid)["mislabelled"] == 1


def test_check_windows_catches_wrong_and_repeated_keys(feed):
    want = checks.expected_windows(feed.valid)
    table = [(w, t, c) for (w, t), c in want.items()]
    assert checks.check_windows(table, want) == 0
    (w, t, c), rest = table[0], table[1:]
    assert checks.check_windows([(w, t, c + 1)] + rest, want) == 1
    assert checks.check_windows(rest, want) == 1
    assert checks.check_windows(table + [table[0]], want) > 0


def test_dashboard_check_catches_wrong_panel(tmp_path):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    labels = ["positive", "negative", "neutral", "positive", "positive", "neutral"]
    pq.write_table(pa.table({"sentiment_label": labels}), str(tmp_path / "part-0.parquet"))
    sql = "SELECT sentiment_label, count(*) c FROM t GROUP BY 1 ORDER BY c DESC, 1"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{tmp_path}/*.parquet')")
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    right = sorted(Counter(labels).items(), key=lambda kv: (-kv[1], kv[0]))
    assert checks.same_rows(right, want)
    wrong = [(right[0][0], right[0][1] + 1)] + right[1:]
    assert not checks.same_rows(wrong, want)
    assert not checks.same_rows(right[:-1], want)


def test_same_rows_float_tolerance():
    assert checks.same_rows([(1, 0.1234561)], [(1, 0.1234565)])
    assert not checks.same_rows([(1, 0.123456)], [(1, 0.123466)])


def test_check_corpus_catches_dropped_original_and_kept_duplicate():
    c = gen.corpus(3, 300)
    assert checks.check_corpus(set(c.originals), c, exact_tier=True) == (0, 1.0)
    problems, _ = checks.check_corpus(set(c.originals) - {min(c.originals)}, c, exact_tier=True)
    assert problems == 1
    problems, _ = checks.check_corpus(set(c.originals) | {min(c.exact_dups)}, c, exact_tier=False)
    assert problems >= 1
    missed = min(c.near_dups)
    problems, recall = checks.check_corpus(set(c.originals) | {missed}, c, exact_tier=False)
    assert problems == 0 and recall == pytest.approx(1 - 1 / len(c.near_dups))
    problems, _ = checks.check_corpus(set(c.originals) | {missed}, c, exact_tier=True)
    assert problems == 1


def test_over_latency_limit_fails_slow_posts_only_when_p95_misses():
    fast, slow = [1.0] * 95, [9.0] * 5
    assert checks.over_latency_limit(fast + slow, 6.0) == 0  # p95 within the limit
    assert checks.over_latency_limit(fast + slow * 4, 6.0) == 20
    assert checks.over_latency_limit([], 6.0) == 0


def test_read_windows_takes_keys_from_escaped_partition_dirs(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    import workloads

    d = tmp_path / "window_start=2024-03-01 00%3A01%3A00" / "tag=ai2"
    d.mkdir(parents=True)
    pq.write_table(pa.table({"cnt": pa.array([3], pa.int64())}), str(d / "part-00001.c000.snappy.parquet"))
    (d / ".part-00001.c000.snappy.parquet.crc").write_bytes(b"")
    assert workloads.read_windows(str(tmp_path)) == [("2024-03-01 00:01:00", "ai2", 3)]
