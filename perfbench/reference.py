"""Reference outcomes and output checks, computed in pandas from the
generated inputs, outside every timed window.

Each ``check_*`` returns ``(attempted, failed, notes)``: ``attempted``
counts the messages (or checked items) and ``failed`` those whose
observed outcome differs from the reference in any way — lost,
duplicated, misrouted, wrongly chunked, wrongly acked or never acked.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pandas as pd

PPM = 1_000_000


def read_parquet_dir(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    """All parquet part files under ``path`` (Spark output layout);
    an absent directory reads as an empty frame."""
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return pd.DataFrame(columns=columns or [])
    return ds.dataset(path, format="parquet").to_table(columns=columns).to_pandas()


# --- ack log → commit → due join ---------------------------------------


def commit_times(checkpoint_dir: str) -> dict[int, float]:
    """``batch_id -> mtime`` (epoch seconds) of ``commits/<batch_id>``:
    the moment a micro-batch became durable."""
    out = {}
    cdir = os.path.join(checkpoint_dir, "commits")
    for name in os.listdir(cdir) if os.path.isdir(cdir) else []:
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(cdir, name)).st_mtime_ns / 1e9
    return out


def ack_latencies(
    acks: pd.DataFrame, commits: dict[int, float], due_s: pd.Series
) -> pd.DataFrame:
    """Per message (``due_s`` indexed by message id): the batch that
    acked it and the latency from its due time to that batch's commit.
    A message with no ack row, or whose batch never committed, gets an
    infinite latency."""
    ids = acks["ack_data"].astype(np.int64)
    first = pd.Series(acks["batch_id"].to_numpy(), index=ids.to_numpy())
    first = first[~first.index.duplicated(keep="first")]
    batch = first.reindex(due_s.index)
    done = batch.map(lambda b: commits.get(int(b), np.inf) if pd.notna(b) else np.inf)
    return pd.DataFrame(
        {"batch_id": batch, "latency_s": done.astype(float) - due_s.astype(float)},
        index=due_s.index,
    )


def tail_summary(lat: pd.DataFrame) -> dict:
    """p50/p90 latency plus how many messages and distinct micro-batches
    lie beyond p90 (the percentile is trusted only when both are >= 10)."""
    v = lat["latency_s"].to_numpy(dtype=float)
    p50, p90 = (float(x) for x in np.percentile(v, [50, 90]))
    beyond = lat[lat["latency_s"] > p90]
    return {
        "p50_s": p50,
        "p90_s": p90,
        "samples": int(len(v)),
        "beyond_p90_msgs": int(len(beyond)),
        "beyond_p90_batches": int(beyond["batch_id"].nunique()),
    }


def backlog_slope(samples: list[tuple[float, float]]) -> float:
    """Least-squares slope (messages/s) of ``(t, lag)`` samples."""
    if len(samples) < 2:
        return 0.0
    t, y = np.array(samples, dtype=float).T
    if np.ptp(t) == 0:
        return 0.0
    return float(np.polyfit(t - t[0], y, 1)[0])


# --- live_ingest ------------------------------------------------------

LIVE_BATCH_SIZE = 100  # Broadway's default size batcher


def live_expected(msgs: pd.DataFrame) -> pd.DataFrame:
    """Per message: outcome, batcher and batch key the stateful
    pipeline must ack it with."""
    return pd.DataFrame(
        {
            "outcome": np.where(msgs["bad"] == 1, "failed", "ok"),
            "batcher": np.where(msgs["kind"] == "order", "orders", "clicks"),
            "batch_key": msgs["user_id"].astype(str),
        },
        index=msgs["msg_id"].to_numpy(),
    )


def _as_text(col: pd.Series) -> np.ndarray:
    """Values as strings with one null marker, so None, NaN and <NA>
    compare equal to each other and to nothing else."""
    return col.astype(object).where(col.notna(), "<null>").astype(str).to_numpy()


def _bad_ids(acks: pd.DataFrame, exp: pd.DataFrame) -> set[int]:
    """Ids with a missing, duplicated, foreign or wrongly labelled ack
    row; ``exp`` is indexed by message id, one column per ack field."""
    ids = acks["ack_data"].astype(np.int64)
    counts = ids.value_counts()
    bad = set(exp.index.difference(counts.index)) | set(counts[counts != 1].index)
    bad |= set(counts.index.difference(exp.index))
    once = acks[ids.map(counts).eq(1).to_numpy()]
    once = once.set_axis(once["ack_data"].astype(np.int64).to_numpy())
    once = once[once.index.isin(exp.index)]
    want = exp.loc[once.index]
    for col in want.columns:
        bad |= set(once.index[_as_text(once[col]) != _as_text(want[col])])
    return bad


def check_sink_ids(ids: pd.Series, want: set[int]) -> set[int]:
    """Ids missing from, duplicated in, or foreign to a sink."""
    ids = ids.astype(np.int64)
    counts = ids.value_counts()
    return (
        (want - set(counts.index))
        | set(counts[counts != 1].index)
        | (set(counts.index) - want)
    )


def check_live(
    msgs: pd.DataFrame, acks: pd.DataFrame, sinks: dict[str, pd.Series], dlq_ids: pd.Series
) -> tuple[int, int, list[str]]:
    exp = live_expected(msgs)
    bad = _bad_ids(acks[["ack_data", "outcome", "batcher", "batch_key"]], exp)
    notes = []
    # Chunking: every (micro-batch, batcher, key, chunk) group has the
    # size its rows claim; 'size' chunks are full; per key, chunks
    # concatenated in emission order keep message-id order (FIFO).
    ok = acks[acks["outcome"] == "ok"].assign(msg=lambda d: d["ack_data"].astype(np.int64))
    n = ok.groupby(["batch_id", "batcher", "batch_key", "trigger"])["msg"].transform("size")
    # The ack log has no chunk id: one micro-batch emits any number of
    # full chunks per key but at most one timer flush.
    wrong = ~ok["trigger"].isin(["size", "timeout"]) | np.where(
        ok["trigger"] == "size",
        (ok["batch_size"] != LIVE_BATCH_SIZE) | (n % LIVE_BATCH_SIZE != 0),
        (ok["batch_size"] != n) | (n > LIVE_BATCH_SIZE),
    )
    bad |= set(ok.loc[wrong, "msg"])
    # FIFO per key: a later micro-batch never acks an older message.
    ordered = ok.sort_values(["batcher", "batch_key", "batch_id", "msg"])
    step = ordered.groupby(["batcher", "batch_key"])["msg"].diff()
    bad |= set(ordered.loc[step <= 0, "msg"])
    for name, ids in sinks.items():
        want = set(exp.index[(exp["outcome"] == "ok") & (exp["batcher"] == name)])
        bad |= check_sink_ids(ids, want)
    bad |= check_sink_ids(dlq_ids, set(exp.index[exp["outcome"] == "failed"]))
    if bad:
        notes.append(f"live: {len(bad)} messages differ, e.g. {sorted(bad)[:5]}")
    return len(exp), len(bad), notes


# --- backlog_drain ----------------------------------------------------

DRAIN_SIZE = 100  # 'billing' size batcher
DRAIN_BUDGET_CENTS = 500_000  # 'default' (weight, budget) batcher
POISON_REASON = "poison:error-event"


def drain_flags(ev: pd.DataFrame) -> pd.DataFrame:
    """The handle_message decisions, row by row."""
    failed = ev["event_type"] == "error"
    return pd.DataFrame(
        {
            "failed": failed,
            "retry": failed & (ev["user_id"] % 5 == 0),
            "early": ~failed & (ev["user_id"] % 7 == 0),
            "flush": ev["event_type"] == "signup",
            "batcher": np.where(ev["event_type"] == "purchase", "billing", "default"),
            "w_cents": np.floor(ev["value"] * 100 + 0.5).astype(np.int64),
        },
        index=ev.index,
    )


def drain_expected(files: list[pd.DataFrame], files_per_trigger: int) -> pd.DataFrame:
    """Per event: the ack row the stateless router must write (or none,
    for retry-owned failures), given that micro-batch ``b`` admits files
    ``[b*k, (b+1)*k)``.

    Chunking is per micro-batch, batcher and key in event-id order:
    size chunks are ``(row_number - 1) // 100``; budget chunks are
    ``(inclusive running weight - weight) // budget``. A chunk's trigger
    is 'flush' for flush-mode rows, 'size' for a full size chunk and
    'timeout' otherwise; early-acked rows ack as 'early' with no size.
    """
    parts = []
    for b in range((len(files) + files_per_trigger - 1) // files_per_trigger):
        ev = pd.concat(files[b * files_per_trigger : (b + 1) * files_per_trigger], ignore_index=True)
        fl = drain_flags(ev)
        ev = ev.assign(batch_id=b, **{c: fl[c] for c in fl.columns}, batch_key=ev["user_id"].astype(str))
        ev = ev.sort_values("event_id").reset_index(drop=True)
        ev["chunk"] = -1
        ok = ~ev["failed"]
        size_rows = ok & (ev["batcher"] == "billing")
        rn = ev[size_rows].groupby("batch_key").cumcount()
        ev.loc[size_rows, "chunk"] = rn // DRAIN_SIZE
        bud_rows = ok & (ev["batcher"] == "default")
        cum = ev[bud_rows].groupby("batch_key")["w_cents"].cumsum()
        ev.loc[bud_rows, "chunk"] = (cum - ev.loc[bud_rows, "w_cents"]) // DRAIN_BUDGET_CENTS
        ev["csize"] = ev.groupby(["batcher", "batch_key", "chunk"])["event_id"].transform("size")
        trig = np.where(
            ev["flush"],
            "flush",
            np.where((ev["batcher"] == "billing") & (ev["csize"] == DRAIN_SIZE), "size", "timeout"),
        )
        ev["outcome"] = np.where(ev["failed"], "failed", "ok")
        ev["trigger"] = np.where(ev["failed"], None, np.where(ev["early"], "early", trig))
        ev["batch_size"] = np.where(ev["failed"] | ev["early"], np.nan, ev["csize"])
        ev["reason"] = np.where(ev["failed"], POISON_REASON, None)
        parts.append(ev)
    out = pd.concat(parts, ignore_index=True).set_index("event_id")
    return out


def check_drain(
    exp: pd.DataFrame,
    acks: pd.DataFrame,
    sinks: dict[str, pd.DataFrame],
    dlq: pd.DataFrame,
) -> tuple[int, int, list[str]]:
    acked = exp[~exp["retry"]]
    cols = ["batch_id", "outcome", "batcher", "batch_key", "trigger", "batch_size", "reason"]
    want = acked[cols].copy()
    want["batch_size"] = want["batch_size"].astype("Int64")
    got = acks.assign(batch_size=acks["batch_size"].astype("Int64"))
    bad = _bad_ids(got[["ack_data"] + cols], want)
    # Retry-owned failures must not be acked at all.
    acked_ids = set(acks["ack_data"].astype(np.int64))
    bad |= set(exp.index[exp["retry"]]) & acked_ids
    for name, df in sinks.items():
        rows = exp[~exp["failed"] & (exp["batcher"] == name)]
        bad |= check_sink_ids(df["event_id"], set(rows.index))
        # handle_batch doubles billing values; other batchers identity
        factor = 2.0 if name == "billing" else 1.0
        got_v = df.drop_duplicates("event_id").set_index("event_id")["value"]
        want_v = rows["value"].reindex(got_v.index) * factor
        bad |= set(got_v.index[(got_v != want_v).to_numpy()])
    bad |= check_sink_ids(dlq["event_id"], set(exp.index[exp["failed"]]))
    disp = dlq.drop_duplicates("event_id").set_index("event_id")["dlq_disposition"]
    want_disp = np.where(exp.loc[disp.index, "retry"], "retry", "terminal")
    bad |= set(disp.index[(disp.to_numpy() != want_disp)])
    notes = [f"drain: {len(bad)} events differ, e.g. {sorted(bad)[:5]}"] if bad else []
    return len(exp), len(bad), notes


# --- corpus_curation ----------------------------------------------------


def fingerprint_py(text: str) -> str:
    """Python twin of ``functions.hashing.fingerprint``."""
    return hashlib.md5(re.sub(r"\s+", " ", text).strip().lower().encode()).hexdigest()


def shingles_py(text: str, k: int = 3) -> set[str]:
    """Python twin of the word k-shingle sets the LSH operator verifies."""
    toks = text.lower().split(" ")
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard_ppm_py(a: str, b: str) -> int:
    sa, sb = shingles_py(a), shingles_py(b)
    return len(sa & sb) * PPM // len(sa | sb)


def exact_groups_ref(docs: pd.DataFrame) -> dict[int, int]:
    """keeper (min id) -> copies, for every fingerprint group."""
    fp = docs["text"].map(fingerprint_py)
    g = docs.groupby(fp)["doc_id"].agg(["min", "size"])
    return dict(zip(g["min"].astype(int), g["size"].astype(int)))


def check_exact(docs: pd.DataFrame, got: pd.DataFrame, exact_groups: list[list[int]]) -> tuple[int, int, list[str]]:
    """Exact dedup: every keeper/copy-count pair matches the Python
    reference, and every injected duplicate group is found whole."""
    ref = exact_groups_ref(docs)
    got_map = dict(zip(got["keeper_id"].astype(int), got["n_copies"].astype(int)))
    bad = {k for k in set(ref) | set(got_map) if ref.get(k) != got_map.get(k)}
    bad |= {g[0] for g in exact_groups if got_map.get(g[0], 0) < len(g)}
    notes = [f"exact dedup: {len(bad)} groups differ"] if bad else []
    return len(ref), len(bad), notes


def check_near(
    docs: pd.DataFrame,
    cand: pd.DataFrame,
    threshold_ppm: int,
    near_pairs: list[tuple[int, int]],
    labels: dict[int, int],
) -> tuple[int, int, list[str]]:
    """LSH candidates carry their exact Jaccard; every injected
    near-duplicate pair ends up in one cluster."""
    text = dict(zip(docs["doc_id"].astype(int), docs["text"]))
    bad = 0
    for a, b, j in cand[["id_a", "id_b", "jaccard_ppm"]].itertuples(index=False):
        if j != jaccard_ppm_py(text[int(a)], text[int(b)]):
            bad += 1
    missed = [
        p for p in near_pairs
        if labels.get(p[0], p[0]) != labels.get(p[1], p[1])
        and jaccard_ppm_py(text[p[0]], text[p[1]]) >= threshold_ppm
    ]
    notes = []
    if bad:
        notes.append(f"near dedup: {bad} candidate scores differ")
    if missed:
        notes.append(f"near dedup: {len(missed)} injected pairs not clustered, e.g. {missed[:3]}")
    return len(cand) + len(near_pairs), bad + len(missed), notes


def recall_at_k(approx: pd.DataFrame, exact: pd.DataFrame) -> float:
    """Share of exact top-k neighbours the approximate top-k returned."""
    a = set(zip(approx["query_id"], approx["neighbor_id"]))
    e = set(zip(exact["query_id"], exact["neighbor_id"]))
    return len(a & e) / max(1, len(e))


def components(pairs: set[tuple[int, int]]) -> dict[int, int]:
    """node -> min node id of its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
