"""Seeded input generators for the three benchmark workloads.

Everything here is pure Python/NumPy/pandas: the same seed gives the
same inputs byte for byte, and nothing touches Spark. The program under
test only ever sees the generated files.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# --- live_ingest ------------------------------------------------------

LIVE_DDL = "msg_id long, user_id long, kind string, amount double, bad int, due_ms long"
LIVE_USERS = 4  # Zipf-skewed batch keys active in one session
LIVE_ZIPF_S = 1.0
LIVE_ORDER_SHARE = 0.35  # routed to the 'orders' batcher, rest 'clicks'
LIVE_BAD_SHARE = 0.02  # failing rows (to the DLQ)


def zipf_choice(rng: np.random.Generator, n_keys: int, s: float, size: int) -> np.ndarray:
    """Bounded Zipf draw over keys 1..n_keys (key k has weight 1/k^s)."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    return rng.choice(np.arange(1, n_keys + 1), size=size, p=w / w.sum())


def live_messages(seed: int, n: int, session_msgs: int) -> pd.DataFrame:
    """``n`` live messages with ids ``0..n-1``; ``due_ms`` is filled in
    by the generator when each message is sent.

    Users come in sessions: each run of ``session_msgs`` consecutive
    messages draws from its own ``LIVE_USERS`` Zipf-weighted users, so a
    key is busy for one session and then idle, and its partial batch
    is flushed by the batch timeout rather than by the end of traffic.
    """
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(n, dtype=np.int64)
    users = zipf_choice(rng, LIVE_USERS, LIVE_ZIPF_S, n) + LIVE_USERS * (ids // session_msgs)
    return pd.DataFrame(
        {
            "msg_id": ids,
            "user_id": users.astype(np.int64),
            "kind": np.where(rng.random(n) < LIVE_ORDER_SHARE, "order", "click"),
            "amount": np.round(rng.uniform(1.0, 500.0, n), 2),
            "bad": (rng.random(n) < LIVE_BAD_SHARE).astype(np.int32),
        }
    )


def live_schedule(n_msgs: int, rate: float, tick_s: float) -> list[tuple[float, int, int]]:
    """Open-loop send plan: one spool file per tick holding every message
    due in that tick. Message ``i`` is due ``i / rate`` seconds after the
    window opens; the file is sent when its last message is due.
    Returns ``(send_offset_s, lo, hi)`` per file, rows ``[lo, hi)``."""
    plan = []
    per_tick = max(1, round(rate * tick_s))
    for lo in range(0, n_msgs, per_tick):
        hi = min(n_msgs, lo + per_tick)
        plan.append(((hi - 1) / rate, lo, hi))
    return plan


# --- backlog_drain ----------------------------------------------------

DRAIN_USERS = 200
DRAIN_ZIPF_S = 1.05
DRAIN_TYPES = ("purchase", "view", "click", "signup", "error")
DRAIN_TYPE_P = (0.30, 0.40, 0.20, 0.06, 0.04)


def drain_backlog(seed: int, rows_per_file: list[int]) -> list[pd.DataFrame]:
    """The staged backlog, one frame per parquet file in admission
    order. ``value`` is an exact cent amount, so budget weights derived
    from it are integers."""
    rng = np.random.default_rng([seed, 2])
    n = sum(rows_per_file)
    df = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "user_id": zipf_choice(rng, DRAIN_USERS, DRAIN_ZIPF_S, n).astype(np.int64),
            "event_type": rng.choice(np.array(DRAIN_TYPES), size=n, p=DRAIN_TYPE_P),
            "value": rng.integers(100, 50_000, n) / 100.0,
        }
    )
    bounds = np.cumsum([0, *rows_per_file])
    return [df.iloc[lo:hi].reset_index(drop=True) for lo, hi in zip(bounds, bounds[1:])]


# --- corpus_curation --------------------------------------------------

VOCAB_SIZE = 400
EMB_DIM = 64


@dataclass
class Corpus:
    docs: pd.DataFrame  # doc_id, text
    exact_groups: list[list[int]]  # ids sharing one fingerprint (size >= 2)
    near_pairs: list[tuple[int, int]]  # (original, perturbed copy)
    vectors: pd.DataFrame  # vec_id, embedding (list of float32)
    query_ids: list[int] = field(default_factory=list)


def _vocab() -> list[str]:
    # Deterministic pseudo-words plus the English stopwords that
    # language_id/quality_ppm look for, so scores are not degenerate.
    words = ["the", "a", "of", "and", "to", "in", "is", "that", "der", "und", "la", "le"]
    i = 0
    while len(words) < VOCAB_SIZE:
        h = hashlib.md5(str(i).encode()).hexdigest()
        words.append("".join(chr(97 + int(c, 16) % 26) for c in h[: 3 + i % 6]))
        i += 1
    return words


def corpus(
    seed: int,
    n_base: int,
    exact_share: float,
    near_share: float,
    n_vectors: int,
    n_queries: int,
) -> Corpus:
    """A document corpus with injected duplicates, plus clustered
    vectors and a query set drawn from them.

    Exact duplicates differ from their original only in case and in
    leading/trailing whitespace, so ``fingerprint`` maps them together.
    Near duplicates replace one token in every 40 (at least one) of an
    original with at least 40 tokens, which keeps their 3-shingle
    Jaccard similarity above 0.8.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_vocab())
    zipf_w = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf_w /= zipf_w.sum()
    texts = []
    for _ in range(n_base):
        n_tok = int(rng.integers(40, 121))
        texts.append(" ".join(rng.choice(vocab, size=n_tok, p=zipf_w)))
    docs = list(texts)
    exact_groups: dict[int, list[int]] = {}
    for src in rng.choice(n_base, size=int(n_base * exact_share), replace=True):
        src = int(src)
        variant = docs[src].upper() if rng.random() < 0.5 else "  " + docs[src] + " "
        exact_groups.setdefault(src, [src]).append(len(docs))
        docs.append(variant)
    near_pairs = []
    for src in rng.choice(n_base, size=int(n_base * near_share), replace=False):
        toks = docs[int(src)].split(" ")
        for _ in range(max(1, len(toks) // 40)):
            toks[int(rng.integers(0, len(toks)))] = "zz" + str(int(rng.integers(0, 10**6)))
        near_pairs.append((int(src), len(docs)))
        docs.append(" ".join(toks))

    centers = rng.normal(0.0, 1.0, size=(max(2, n_vectors // 50), EMB_DIM))
    assign = rng.integers(0, len(centers), n_vectors)
    vecs = (centers[assign] + rng.normal(0.0, 0.35, size=(n_vectors, EMB_DIM))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return Corpus(
        docs=pd.DataFrame({"doc_id": np.arange(len(docs), dtype=np.int64), "text": docs}),
        exact_groups=sorted(exact_groups.values()),
        near_pairs=near_pairs,
        vectors=pd.DataFrame(
            {"vec_id": np.arange(n_vectors, dtype=np.int64), "embedding": list(vecs)}
        ),
        query_ids=sorted(int(q) for q in rng.choice(n_vectors, size=n_queries, replace=False)),
    )
