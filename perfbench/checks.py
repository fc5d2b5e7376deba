"""Output checks, run untimed after measurement.

Each check compares what the program wrote with a reference computed
independently: Python over the generated inputs (feeds, corpus) or DuckDB
over the same parquet files (dashboard). The comparison functions take plain
Python values so that tests can plant defects without Spark.
"""

from __future__ import annotations

import math
import re
from collections import Counter

from gen import POST_KEY_RE, Corpus
from spans import tail_percentile
from live_social_media_sentiment_trend_tracker_using_kafka_spark.functions.sentiment import score_text

HASHTAG_RE = re.compile(r"#(\w+)")


def label_of(text: str) -> str:
    """``functions.sentiment.score_text`` with the pipeline's ±0.05 label
    thresholds."""
    s = score_text(text.lower())
    return "positive" if s >= 0.05 else "negative" if s <= -0.05 else "neutral"


def check_feed(delivered: list[tuple[str, str]], expected: dict[str, tuple[str, str]]) -> dict[str, int]:
    """``delivered``: (text, sentiment_label) rows of the enriched sink;
    ``expected``: post key -> (text, event time) of every valid post offered.
    Returns problem counts; all zero means the sink holds exactly the valid
    posts, once each, with the reference label."""
    seen: Counter[str] = Counter()
    mislabelled = unexpected = 0
    for text, label in delivered:
        m = POST_KEY_RE.search(text or "")
        key = m.group(0) if m else None
        if key not in expected:
            unexpected += 1
            continue
        seen[key] += 1
        if seen[key] == 1 and label != label_of(expected[key][0]):
            mislabelled += 1
    return {
        "missing": len(expected.keys() - seen.keys()),
        "duplicated": sum(c - 1 for c in seen.values()),
        "unexpected": unexpected,
        "mislabelled": mislabelled,
    }


def over_latency_limit(latencies: list[float], limit_s: float) -> int:
    """Delivered posts that fail the feed's p95 latency limit: none while
    the p95 (as ``spans.tail_percentile`` takes it) is within ``limit_s``,
    otherwise every post slower than the limit. Undelivered posts fail as
    ``missing`` in ``check_feed``."""
    if not latencies or tail_percentile(latencies)[1] <= limit_s:
        return 0
    return sum(1 for x in latencies if x > limit_s)


def expected_windows(expected: dict[str, tuple[str, str]]) -> Counter:
    """(minute window start, hashtag) -> count: the reference for query B's
    ``windowed_hashtag_counts`` table."""
    out: Counter = Counter()
    for text, ts in expected.values():
        for tag in HASHTAG_RE.findall(text.lower()):
            out[(ts[:16] + ":00", tag)] += 1
    return out


def check_windows(got: list[tuple[str, str, int]], want: Counter) -> int:
    """Number of (window, tag) keys whose count differs, is missing, extra
    or written more than once."""
    table: dict = {}
    repeated = 0
    for window, tag, cnt in got:
        repeated += (window, tag) in table
        table[(window, tag)] = cnt
    return repeated + sum(1 for k in table.keys() | want.keys() if table.get(k) != want.get(k))


def same_rows(got: list[tuple], want: list[tuple], tol: float = 2e-6) -> bool:
    """Ordered row equality; floats equal within ``tol`` (averages rounded to
    six places may differ in the last place between engines)."""
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=0, abs_tol=tol):
                    return False
            elif x != y:
                return False
    return True


def check_corpus(kept: set[int], c: Corpus, exact_tier: bool) -> tuple[int, float]:
    """(problems, near-duplicate recall) for one cleaning tier's kept ids.

    Every original is kept; every exact duplicate and every gated row is
    dropped; nothing outside originals and near duplicates survives. The
    exact (prefix-filter) tier admits no false negatives, so for it every
    missed near duplicate is a problem too; the LSH tier's recall is only
    reported."""
    missed_near = c.near_dups.keys() & kept
    problems = len(c.originals - kept) + len(kept - c.originals - c.near_dups.keys())
    if exact_tier:
        problems += len(missed_near)
    recall = 1.0 - len(missed_near) / len(c.near_dups) if c.near_dups else 1.0
    return problems, recall
