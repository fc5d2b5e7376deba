"""Seeded input generators for the benchmark.

Everything here is pure Python (no Spark): the program under test only ever
sees the files these functions write. The same seed gives byte-identical
files; the ground truth each check needs is returned alongside.

Posts follow ``schema.POST_SCHEMA`` (nested ``location``, ``yyyy-MM-dd
HH:mm:ss`` timestamps) with Zipf-skewed users, hashtags and countries. A
fixed share of lines is malformed JSON or carries empty text, and a share of
event times is pulled back in time (out of order, but by at most half the
10-minute watermark, so no row is ever late and the expected results stay
exact).

The corpus follows the ``documents`` table (doc_id, text, lang, source) and
plants exact duplicates, near duplicates and rows the language/quality gates
must drop.
"""

from __future__ import annotations

import json
import os
import random
import re
from dataclasses import dataclass, field
from datetime import datetime, timedelta

EVENT_EPOCH = datetime(2024, 3, 1, 0, 0, 0)
TIMESTAMP_FMT = "%Y-%m-%d %H:%M:%S"
MAX_DISORDER_S = 300  # half the pipeline's 10-minute watermark
EMPTY_TEXT_SHARE = 0.02
MALFORMED_SHARE = 0.01
DISORDER_SHARE = 0.10

PLATFORMS = ["Twitter", "Reddit", "Instagram", "Facebook", "TikTok", "Mastodon"]
COUNTRIES = [
    ("USA", ["New York", "Austin", "Seattle"]), ("India", ["Mumbai", "Pune", "Delhi"]),
    ("UK", ["London", "Leeds"]), ("Germany", ["Berlin", "Munich"]),
    ("France", ["Paris", "Lyon"]), ("Brazil", ["Recife", "Sao Paulo"]),
    ("Japan", ["Tokyo", "Osaka"]), ("Canada", ["Toronto", "Calgary"]),
    ("Spain", ["Madrid", "Seville"]), ("Italy", ["Rome", "Turin"]),
    ("Mexico", ["Puebla", "Merida"]), ("Nigeria", ["Lagos", "Abuja"]),
    ("Kenya", ["Nairobi"]), ("Poland", ["Warsaw", "Gdansk"]),
    ("Sweden", ["Malmo", "Uppsala"]), ("Chile", ["Santiago"]),
    ("Egypt", ["Cairo"]), ("Vietnam", ["Hanoi"]), ("Norway", ["Bergen"]),
    ("Peru", ["Lima"]),
]
POSITIVE = ["love", "great", "amazing", "awesome", "happy", "excellent", "best",
            "good", "nice", "fast", "reliable", "enjoyed", "beautiful", "glad"]
NEGATIVE = ["terrible", "awful", "bad", "worst", "hate", "horrible", "slow",
            "broken", "crash", "failed", "useless", "annoying", "scam", "problem"]
NEGATORS = ["not", "never", "don't", "isn't"]
NEUTRAL = ("the a of to in is it and on for with this that new update release "
           "app phone game team match price store service city weather today "
           "launch stream video photo music news review week morning night "
           "market vote road bus train coffee lunch build version feature").split()
TAG_WORDS = ("ai ml news tech sports music crypto travel food climate election "
             "gaming movies fashion health space startup finance art books").split()
# Tags are ASCII word characters only: Java's and Python's ``\w`` then agree.
TAGS = TAG_WORDS + [f"{w}{k}" for k in range(2, 8) for w in TAG_WORDS]


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    """Cumulative Zipf weights for ``random.choices(cum_weights=...)``."""
    acc, out = 0.0, []
    for k in range(n):
        acc += 1.0 / (k + 1) ** s
        out.append(acc)
    return out


_USER_CW = zipf_weights(5000)
_TAG_CW = zipf_weights(len(TAGS))
_COUNTRY_CW = zipf_weights(len(COUNTRIES), 1.3)
_PLATFORM_CW = zipf_weights(len(PLATFORMS), 0.9)


def post_key(seq: int) -> str:
    """The unique token every generated post text carries (its identity)."""
    return f"pid{seq:08d}"


POST_KEY_RE = re.compile(r"pid\d{8}")


def post_seq(key: str) -> int:
    """Inverse of ``post_key``: the post's sequence number in its set."""
    return int(key[3:])


@dataclass
class PostFile:
    """One JSON-lines file of posts, rendered but not yet written."""

    name: str
    payload: bytes
    valid: dict[str, tuple[str, str]]  # post key -> (text, event time string)


@dataclass
class PostSet:
    files: list[PostFile] = field(default_factory=list)

    @property
    def valid(self) -> dict[str, tuple[str, str]]:
        out: dict[str, tuple[str, str]] = {}
        for f in self.files:
            out.update(f.valid)
        return out

    def file_of(self) -> dict[str, int]:
        return {k: i for i, f in enumerate(self.files) for k in f.valid}


def _post_text(rnd: random.Random, seq: int) -> str:
    words = rnd.choices(NEUTRAL, k=rnd.randint(5, 12))
    for _ in range(rnd.randint(0, 3)):
        w = rnd.choice(POSITIVE if rnd.random() < 0.55 else NEGATIVE)
        if rnd.random() < 0.15:
            w = f"{rnd.choice(NEGATORS)} {w}"
        words.insert(rnd.randrange(len(words) + 1), w)
    for tag in rnd.choices(TAGS, cum_weights=_TAG_CW, k=rnd.choice((0, 1, 1, 2, 3))):
        words.append("#" + (tag.upper() if rnd.random() < 0.2 else tag))
    words.insert(rnd.randrange(1, len(words) + 1), post_key(seq))
    text = " ".join(words)
    return text[0].upper() + text[1:] + rnd.choice(("", "", "!", ".", "?"))


def posts(
    seed: int,
    n_files: int,
    posts_per_file: int,
    seconds_per_file: float,
    first_seq: int = 0,
    prefix: str = "posts",
) -> PostSet:
    """``n_files`` JSON-lines files of ``posts_per_file`` lines each.

    Event time advances ``seconds_per_file`` per file (evenly inside a file);
    ``DISORDER_SHARE`` of posts are pulled back by up to ``MAX_DISORDER_S``.
    ``first_seq`` offsets post identities so several sets can share a sink.
    """
    rnd = random.Random(seed)
    out = PostSet()
    seq = first_seq
    for fi in range(n_files):
        lines, valid = [], {}
        for j in range(posts_per_file):
            t = (fi + j / posts_per_file) * seconds_per_file
            if rnd.random() < DISORDER_SHARE:
                t = max(0.0, t - rnd.uniform(0, MAX_DISORDER_S))
            ts = (EVENT_EPOCH + timedelta(seconds=int(t))).strftime(TIMESTAMP_FMT)
            country, cities = COUNTRIES[rnd.choices(range(len(COUNTRIES)), cum_weights=_COUNTRY_CW)[0]]
            text = _post_text(rnd, seq)
            roll = rnd.random()
            if roll < EMPTY_TEXT_SHARE:
                text = ""
            post = {
                "text": text,
                "user": f"user{rnd.choices(range(5000), cum_weights=_USER_CW)[0]}",
                "platform": PLATFORMS[rnd.choices(range(len(PLATFORMS)), cum_weights=_PLATFORM_CW)[0]],
                "user_followers": int(rnd.paretovariate(1.2) * 50),
                "likes": rnd.randint(0, 500),
                "retweets": rnd.randint(0, 120),
                "location": {"city": rnd.choice(cities), "country": country},
                "timestamp": ts,
            }
            line = json.dumps(post)
            if EMPTY_TEXT_SHARE <= roll < EMPTY_TEXT_SHARE + MALFORMED_SHARE:
                # cut inside the text string: no parser can recover a text value
                line = line[: line.index('"text": "') + 9 + len(text) // 2]
            elif text:
                valid[post_key(seq)] = (text, ts)
            lines.append(line)
            seq += 1
        payload = ("\n".join(lines) + "\n").encode()
        out.files.append(PostFile(f"{prefix}-{first_seq:08d}-{fi:05d}.json", payload, valid))
    return out


def write_files(post_set: PostSet, directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for f in post_set.files:
        with open(os.path.join(directory, f.name), "wb") as fh:
            fh.write(f.payload)


def publish(post_file: PostFile, inbox: str, staging: str) -> None:
    """Write then atomically rename into the inbox: a file source polling the
    inbox never sees a half-written file."""
    tmp = os.path.join(staging, post_file.name)
    with open(tmp, "wb") as fh:
        fh.write(post_file.payload)
    os.rename(tmp, os.path.join(inbox, post_file.name))


# --------------------------------------------------------------------------
# Corpus with planted duplicates
# --------------------------------------------------------------------------

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
_SYL = ["ka", "lo", "mi", "ter", "on", "sa", "ri", "ven", "du", "pol", "gra", "ne",
        "tu", "bel", "cor", "fi", "mar", "es", "lin", "zo"]
CORPUS_VOCAB = sorted({a + b + c for a in _SYL for b in _SYL for c in ("", "s", "n")})
KEPT_LANGS = ["en", "es", "de", "fr"]
CORPUS_FILES = 4


def shingles(text: str, n: int = 3) -> set[str]:
    """The near-dup operators' word 3-gram shingles (lowercase, non
    alphanumerics to spaces, whitespace split), mirrored in Python."""
    toks = re.sub(r"[^a-z0-9\s]", " ", text.lower()).split()
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))} - {""}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


@dataclass
class Corpus:
    rows: list[dict]
    originals: set[int]
    exact_dups: set[int]
    near_dups: dict[int, int]  # near-dup id -> original id
    filtered: set[int]


def _doc_text(rnd: random.Random) -> str:
    words = []
    for _ in range(rnd.randint(40, 70)):
        words.append(rnd.choice(STOPWORDS) if rnd.random() < 0.3 else rnd.choice(CORPUS_VOCAB))
    return " ".join(words) + "."


def _near_dup(rnd: random.Random, text: str) -> str:
    while True:
        words = text.rstrip(".").split()
        for _ in range(rnd.randint(1, 2)):
            words[rnd.randrange(len(words))] = rnd.choice(CORPUS_VOCAB)
        cand = " ".join(words) + "."
        if 0.8 < jaccard(text, cand) < 1.0:
            return cand


def corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents: 70 % originals, 10 % exact duplicates (case and
    whitespace variants of an original), 10 % near duplicates (one or two
    words replaced; Jaccard in (0.8, 1)), 10 % rows the gates drop (a
    language outside the allowlist, or too short and noisy for the quality
    gate). Every duplicate gets a larger id than its original, so the
    cleaning chains' keep-smallest-id rule keeps the original."""
    rnd = random.Random(seed)
    n_orig = n_docs * 7 // 10
    rows, originals = [], set()
    for i in range(n_orig):
        rows.append({"doc_id": i, "text": _doc_text(rnd), "lang": rnd.choice(KEPT_LANGS),
                     "source": f"src{rnd.randrange(8)}"})
        originals.add(i)
    exact, near, filtered = set(), {}, set()
    for i in range(n_orig, n_docs):
        kind = rnd.random()
        src = rows[rnd.randrange(n_orig)]
        if kind < 1 / 3:
            text = "  " + src["text"].upper() if rnd.random() < 0.5 else src["text"].replace(" ", "   ")
            rows.append({**src, "doc_id": i, "text": text})
            exact.add(i)
        elif kind < 2 / 3:
            rows.append({**src, "doc_id": i, "text": _near_dup(rnd, src["text"])})
            near[i] = src["doc_id"]
        elif kind < 5 / 6:
            rows.append({"doc_id": i, "text": _doc_text(rnd), "lang": "zh", "source": "src9"})
            filtered.add(i)
        else:
            rows.append({"doc_id": i, "text": "buy now!!! " + rnd.choice(CORPUS_VOCAB) + " ???",
                         "lang": "en", "source": "src9"})
            filtered.add(i)
    rnd.shuffle(rows)
    return Corpus(rows, originals, exact, near, filtered)


def write_corpus(c: Corpus, directory: str) -> None:
    """The corpus as ``CORPUS_FILES`` parquet files (a multi-file table scan)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    for k in range(CORPUS_FILES):
        part = c.rows[k::CORPUS_FILES]
        table = pa.table({
            "doc_id": pa.array([r["doc_id"] for r in part], pa.int64()),
            "text": [r["text"] for r in part],
            "lang": [r["lang"] for r in part],
            "source": [r["source"] for r in part],
        })
        pq.write_table(table, os.path.join(directory, f"part-{k:03d}.parquet"))
