"""Seeded inputs for the benchmark: the transcript corpus, the read
mix and the documents the writer adds.

Everything here is a pure function of the seed.  The engine only ever
sees what these functions produce: a parquet corpus, HTTP query bodies
and HTTP document bodies.

The corpus has the shape of ``neosearch_spark.synth.synth_transcripts``
(same columns, 8 turns per conversation, 5-15 tokens per turn drawn by
the same log-uniform rank law over a 50k vocabulary, 1 row in 8 replaced
by a fixed edge-case text), but is drawn with numpy so that making the
input needs no Spark job and shares no code with the engine.
"""

from __future__ import annotations

import bisect
import math
import random
import threading
from datetime import datetime, timezone

import numpy as np

TURNS_PER_CONV = 8
VOCAB = 50_000
ROLES = ["user", "assistant", "tool"]
EDGE_TEXTS = [
    "Neoway Business Solution",
    "Google Inc.",
    "Facebook Company",
    "Neoway Teste",
    "  spaced   out  tokens  ",
    "hyphen - token",
    "singletoken",
    "MiXeD CaSe TeXt",
]
TS0 = 1_700_000_000

# The engine's path thresholds were set for corpora of millions of
# turns; the benchmark corpus is a scale model of the 3M-turn corpus
# the thresholds were probed on.  The index span and the local-path
# posting threshold shrink by the same factor, so every query keeps the
# path (local or distributed WAND) it would take at 3M turns.
REFERENCE_TURNS = 3_000_000

# broad queries: the STOP most frequent terms (always present, like the
# stop words of a natural-language question) plus EXTRA terms drawn
# from the next most frequent ones.  tok1..tok5 alone carry about 1.2
# postings per turn and the draw adds about 0.35; the local-path
# threshold, scaled, is 1.33 postings per turn.
BROAD_STOP = 5
BROAD_EXTRA = 10
BROAD_FROM = 60


def zipf_rank(u: np.ndarray | float):
    """The corpus's rank law: rank = floor(exp(u * ln V)), P(rank) ~ 1/rank."""
    return np.floor(np.exp(np.asarray(u) * math.log(VOCAB))).astype(np.int64)


def make_corpus(seed: int, n_turns: int):
    """The transcripts table as a pyarrow Table."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    ids = np.arange(n_turns, dtype=np.int64)
    n_tok = rng.integers(5, 16, size=n_turns)
    ranks = zipf_rank(rng.random(int(n_tok.sum())))
    words = np.char.add("tok", ranks.astype(str))
    ends = np.cumsum(n_tok)
    texts = [" ".join(words[e - n:e]) for e, n in zip(ends.tolist(), n_tok.tolist())]
    edge = rng.integers(0, 64, size=n_turns)
    for i in np.nonzero(edge < len(EDGE_TEXTS))[0].tolist():
        texts[i] = EDGE_TEXTS[edge[i]]
    cid = ids // TURNS_PER_CONV
    tix = (ids % TURNS_PER_CONV).astype(np.int32)
    roles = np.array(ROLES)[tix % 3]
    tool_no = rng.integers(0, 20, size=n_turns)
    tools = np.where(roles == "tool", np.char.add("tool_", tool_no.astype(str)), "")
    ts = (TS0 + cid * 3600 + tix.astype(np.int64) * 30) * 1_000_000
    return pa.table(
        {
            "conv_id": pa.array(np.char.add("conv-", np.char.zfill(cid.astype(str), 8))),
            "turn_idx": pa.array(tix),
            "role": pa.array(roles),
            "text": pa.array(texts),
            "tool": pa.array(tools),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        }
    )


def selective_pool(seed: int, size: int) -> list[str]:
    """Distinct 1-4-term queries whose terms follow the corpus's rank law."""
    rng = random.Random(f"pool-{seed}")
    pool: list[str] = []
    seen: set[str] = set()
    while len(pool) < size:
        n = rng.randint(1, 4)
        terms = list(dict.fromkeys(f"tok{int(zipf_rank(rng.random()))}" for _ in range(n)))
        q = " ".join(terms)
        if q not in seen:
            seen.add(q)
            pool.append(q)
    return pool


def warm_selective_queries(seed: int, pool: list[str], n: int) -> list[str]:
    """n distinct selective queries drawn like the pool's but not in it,
    for the untimed warm-up reads: they leave the pool's result-memo
    entries cold."""
    taken = set(pool)
    rng = random.Random(f"warm-selective-{seed}")
    out: list[str] = []
    while len(out) < n:
        q = " ".join(dict.fromkeys(f"tok{int(zipf_rank(rng.random()))}" for _ in range(2)))
        if q not in taken:
            taken.add(q)
            out.append(q)
    return out


def broad_query(rng: random.Random) -> str:
    """Many frequent terms in a random order: a fresh result-memo key
    every time, over terms whose metadata the server has seen."""
    terms = [f"tok{r}" for r in range(1, BROAD_STOP + 1)]
    terms += [f"tok{r}" for r in rng.sample(range(BROAD_STOP + 1, BROAD_FROM + 1), BROAD_EXTRA)]
    rng.shuffle(terms)
    return " ".join(terms)


class ReadMix:
    """The clients' seeded request streams.  Every ``broad_every``-th
    read of each client is broad (0: none); the others come from the
    selective pool with Zipfian popularity (pool entry i has weight
    1/(i+1)), so the popular entries repeat and hit the server's result
    memo.  Popularity is sampled with one golden-ratio sequence from a
    seeded start, shared by all clients, rather than independent draws:
    any run of consecutive draws holds close to the Zipfian share of
    each entry, so the number of repeats in a round varies little from
    seed to seed.  Clients start at different points of the broad cycle.
    Thread-safe."""

    GOLDEN = (math.sqrt(5) - 1) / 2

    def __init__(self, seed: int, clients: int, pool: list[str], broad_every: int):
        self.rngs = [random.Random(f"client-{seed}-{c}") for c in range(clients)]
        self.u = random.Random(f"mix-{seed}").random()
        self.pool = pool
        self.broad_every = broad_every
        self.n = list(range(clients))
        cum, acc = [], 0.0
        for i in range(len(pool)):
            acc += 1.0 / (i + 1)
            cum.append(acc)
        self.cum = cum
        self.lock = threading.Lock()

    def next(self, client: int) -> tuple[str, str]:
        with self.lock:
            self.n[client] += 1
            if self.broad_every and self.n[client] % self.broad_every == 0:
                return "broad", broad_query(self.rngs[client])
            self.u = (self.u + self.GOLDEN) % 1.0
            i = bisect.bisect_right(self.cum, self.u * self.cum[-1])
            return "selective", self.pool[min(i, len(self.pool) - 1)]


def new_turn(seed: int, i: int, doc_id: int) -> dict:
    """The i-th transcript turn the writer adds (a new conversation)."""
    rng = random.Random(f"add-{seed}-{i}")
    words = [f"tok{int(zipf_rank(rng.random()))}" for _ in range(rng.randint(5, 15))]
    ts = datetime.fromtimestamp(TS0 + doc_id * 30, tz=timezone.utc)
    return {
        "conv_id": f"conv-w{seed}-{i:06d}",
        "turn_idx": 0,
        "role": "user",
        "text": " ".join(words),
        "tool": "",
        "ts": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
    }
