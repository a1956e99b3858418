"""Seeded input generation for the benchmark.

Everything a workload feeds the program is made here from the run's
``--seed``: the same seed gives byte-identical inputs.  Text draws its
words from one Zipf-distributed vocabulary, so a few hot terms are
shared by many documents (long postings lists, high document
frequency) while most terms are rare, as in real Reddit text.

The module depends on nothing but the standard library, so its output
can be checked without a Spark session.
"""

from __future__ import annotations

import bisect
import itertools
import random
from dataclasses import dataclass, field

# Words with a sentiment valence, mixed into the vocabulary so the
# sentiment layer scores a non-trivial share of tokens.
SENTIMENT_WORDS = [
    "good", "great", "love", "nice", "happy", "best", "amazing", "excellent",
    "bad", "terrible", "hate", "awful", "sad", "worst", "horrible", "poor",
]
KEYWORD = "coffee"
SUBREDDITS = ["sydney", "melbourne", "brisbane", "perth"]
_ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z"]
_NUCLEI = ["a", "e", "i", "o", "u", "ai", "ou"]
BASE_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z
VOCAB_SIZE = 3000
ZIPF_S = 1.1
# search_serve: an append or a delete at every WRITE_EVERY-th op, in
# turn, so the op sequence repeats its kinds every 2 * WRITE_EVERY ops
WRITE_EVERY = 5
APPEND_DOCS = 20
DELETE_DOCS = 5
# ingest: redelivered submissions per page, as a share of the page size
REDELIVER_P = 0.04


def make_vocab(rng: random.Random, size: int) -> list[str]:
    """``size`` distinct lowercase pseudo-words, Zipf rank order."""
    syllables = [o + n for o in _ONSETS for n in _NUCLEI]
    words: list[str] = []
    seen = set(SENTIMENT_WORDS) | {KEYWORD}
    while len(words) < size:
        w = "".join(rng.choice(syllables) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    # sentiment words sit at mid ranks: common enough to score, never
    # the hottest terms
    for i, w in enumerate(SENTIMENT_WORDS):
        words.insert(20 + 7 * i, w)
    return words[:size]


class Zipf:
    """Draws words with probability proportional to 1 / rank**ZIPF_S."""

    def __init__(self, words: list[str]) -> None:
        self.words = words
        self.cum = list(itertools.accumulate(1.0 / (r**ZIPF_S) for r in range(1, len(words) + 1)))

    def draw(self, rng: random.Random, k: int) -> list[str]:
        return rng.choices(self.words, cum_weights=self.cum, k=k)

    def draw_distinct(self, rng: random.Random, k: int) -> list[str]:
        out: list[str] = []
        while len(out) < k:
            w = self.words[bisect.bisect_left(self.cum, rng.random() * self.cum[-1])]
            if w not in out:
                out.append(w)
        return out


def sentence(rng: random.Random, zipf: Zipf, lo: int, hi: int, keyword_p: float = 0.0) -> str:
    words = zipf.draw(rng, rng.randint(lo, hi))
    if rng.random() < keyword_p:
        words.insert(rng.randrange(len(words) + 1), KEYWORD)
    return " ".join(words)


# ---------------------------------------------------------------------------
# search_serve
# ---------------------------------------------------------------------------
@dataclass
class SearchOp:
    kind: str  # "query" | "append" | "delete"
    keywords: list[str] = field(default_factory=list)
    docs: list[tuple[int, str]] = field(default_factory=list)
    delete_ids: list[int] = field(default_factory=list)


@dataclass
class SearchInputs:
    corpus: list[tuple[int, str]]
    setup: list[SearchOp]  # an append and a delete applied after the build
    ops: list[SearchOp]


def search_inputs(seed: int, n_docs: int, n_ops: int) -> SearchInputs:
    """An indexed corpus, the set-up writes that put the index in its
    serving shape (one appended batch, one tombstone batch), and a
    closed-loop op sequence: BM25 queries of 1-4 Zipf-drawn keywords,
    with an append (new documents) or a delete at every
    ``WRITE_EVERY``-th position, alternating.

    Appends take fresh ids and deletes take corpus ids no other op
    takes, so a run may skip ops of the sequence (its warm-up runs the
    queries only, and its timed window starts at the start of a cycle)
    and every later write still finds its ids new or live."""
    rng = random.Random(f"search:{seed}")
    zipf = Zipf(make_vocab(rng, VOCAB_SIZE))
    corpus = [(i, sentence(rng, zipf, 8, 60)) for i in range(n_docs)]
    undeleted = list(range(n_docs))
    next_id = n_docs

    def append() -> SearchOp:
        nonlocal next_id
        docs = [(next_id + j, sentence(rng, zipf, 8, 60)) for j in range(APPEND_DOCS)]
        next_id += APPEND_DOCS
        return SearchOp("append", docs=docs)

    def delete() -> SearchOp:
        nonlocal undeleted
        dead = sorted(rng.sample(undeleted, DELETE_DOCS))
        dead_set = set(dead)
        undeleted = [d for d in undeleted if d not in dead_set]
        return SearchOp("delete", delete_ids=dead)

    setup = [append(), delete()]
    ops: list[SearchOp] = []
    for pos in range(1, n_ops + 1):
        if pos % WRITE_EVERY:
            # 1, 2, 3, 4 keywords in turn: every run gets the same mix of
            # query widths, so its median does not hinge on the seed
            ops.append(SearchOp("query", keywords=zipf.draw_distinct(rng, 1 + len(ops) % 4)))
        else:
            ops.append(append() if (pos // WRITE_EVERY) % 2 else delete())
    return SearchInputs(corpus, setup, ops)


# ---------------------------------------------------------------------------
# ingest_stream: a fake Reddit client for sources.harvester
# ---------------------------------------------------------------------------
@dataclass
class FakeSubreddit:
    display_name: str


@dataclass
class FakeComment:
    id: str
    created_utc: float
    body: str
    score: int


@dataclass
class FakeSubmission:
    id: str
    author: str
    created_utc: float
    num_comments: int
    score: int
    selftext: str
    subreddit: FakeSubreddit
    title: str
    url: str
    comments: list[FakeComment]


def _submission(rng: random.Random, zipf: Zipf, n: int) -> FakeSubmission:
    """Submission number ``n``; every other one mentions the EP3 keyword
    and it carries ``n % 4`` comments, half of which mention it, so the
    corpus size the analytics job sees does not depend on the seed."""
    ts = BASE_EPOCH + n * 37
    kw = float(n % 2 == 0)
    comments = [
        FakeComment(
            f"c{n}_{j}", ts + 60 * (j + 1), sentence(rng, zipf, 4, 25, keyword_p=float(j % 2 == 0)), rng.randint(-5, 50)
        )
        for j in range(n % 4)
    ]
    return FakeSubmission(
        id=f"p{n:07d}",
        author=f"user{rng.randrange(500)}",
        created_utc=float(ts),
        num_comments=len(comments),
        score=rng.randint(-10, 500),
        selftext=sentence(rng, zipf, 10, 80, keyword_p=kw),
        subreddit=FakeSubreddit(rng.choice(SUBREDDITS)),
        title=sentence(rng, zipf, 3, 12),
        url=f"https://reddit.example/r/{n}",
        comments=comments,
    )


class FakeRedditClient:
    """PRAW-shaped client: each ``search`` call returns the next page:
    ``page_size`` new submissions plus, at random positions, about
    ``REDELIVER_P`` as many redeliveries of submissions from earlier
    pages (at-least-once delivery upstream of the harvester's
    seen-set)."""

    def __init__(self, seed: int, page_size: int) -> None:
        self.rng = random.Random(f"ingest:{seed}")
        self.zipf = Zipf(make_vocab(self.rng, VOCAB_SIZE))
        self.page_size = page_size
        self.delivered: list[FakeSubmission] = []

    def search(self, subreddit: str, term: str) -> list[FakeSubmission]:
        earlier = len(self.delivered)
        fresh = [_submission(self.rng, self.zipf, earlier + j) for j in range(self.page_size)]
        page = list(fresh)
        if earlier:
            n_old = max(1, round(REDELIVER_P * self.page_size))
            for s in self.rng.sample(self.delivered, n_old):
                page.insert(self.rng.randrange(len(page) + 1), s)
        self.delivered.extend(fresh)
        return page

    def distinct_ids(self) -> set[str]:
        return {s.id for s in self.delivered}

    def distinct_comment_ids(self) -> set[str]:
        return {c.id for s in self.delivered for c in s.comments}
