"""Seeded input generators for the CDC and text workloads.

Everything here depends on numpy/pyarrow only, never on the engine's
own feed helpers, so a change to program code cannot change the inputs
it is measured on. The same (spec, seed) always yields the same rows.

CDC feeds follow the change-event envelope of the engine
(``conv_id, turn_idx, role, text, tool, ts, op, lsn, commit_epoch``).
LSNs are dense and unique across a feed except for verbatim
redeliveries, which repeat an earlier event byte for byte (the
at-least-once contract the engine's LWW relies on). Late events are
only ever displaced into the next batch and only from the last
``ooo_window`` LSN positions of their own batch, so tombstone GC at
``max applied LSN - ooo_window`` is safe on these feeds.
"""

from __future__ import annotations

import dataclasses
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FEED_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us")),
        pa.field("op", pa.string(), nullable=False),
        pa.field("lsn", pa.int64(), nullable=False),
        pa.field("commit_epoch", pa.int64(), nullable=False),
    ]
)

DOC_SCHEMA = pa.schema([pa.field("doc_id", pa.int64()), pa.field("text", pa.string())])

_TS0 = dt.datetime(2026, 1, 1)
_ROLES = pa.array(["user", "assistant", "tool", "system"])
_TOOL_ROLE = 2
_TOOLS = pa.array(["search", "python", "browser", "sql"])
_OPS = pa.array(["I", "U", "D"])
_INSERT, _UPDATE, _DELETE = 0, 1, 2
_SYLL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


@dataclasses.dataclass(frozen=True)
class CdcSpec:
    """Traffic shape of one CDC feed over a fixed key space of
    ``n_convs`` conversations x ``turns`` turns plus one hot
    conversation of ``hot_turns`` turns."""

    n_convs: int
    turns: int
    batch_events: int
    n_batches: int
    warm_batches: int  # leading batches of ``warm_events`` events each
    warm_events: int
    hot_share: float  # share of events on the single hot conversation
    hot_turns: int
    delete_share: float  # share of events that are deletes
    straggler_share: float  # events delivered one batch late
    ooo_window: int  # LSN positions a late/redelivered event may trail
    redelivery_share: float  # verbatim copies of the previous batch tail
    payload_chars: int  # mean payload text length


def _texts(rng: np.random.Generator, n: int, mean_chars: int) -> pa.Array:
    """A pool of transcript-like payload strings around ``mean_chars``."""
    words = np.array(["".join(rng.choice(_SYLL, size=k)) for k in rng.integers(1, 4, 512)])
    out = []
    for _ in range(n):
        target = int(rng.integers(mean_chars // 2, mean_chars * 3 // 2 + 1))
        parts, size = [], 0
        while size < target:
            w = words[int(rng.integers(0, len(words)))]
            parts.append(w)
            size += len(w) + 1
        out.append(" ".join(parts))
    return pa.array(out)


class _Events:
    """Column buffers for one batch of change events; string columns are
    held as codes into small pools until the table is built."""

    def __init__(self, rng, texts):
        self.rng, self.texts = rng, texts

    def make(self, conv: np.ndarray, turn: np.ndarray, op: np.ndarray, lsn: np.ndarray) -> dict:
        n = len(lsn)
        rng = self.rng
        role = rng.integers(0, len(_ROLES), n)
        tool = np.where(role == _TOOL_ROLE, rng.integers(0, len(_TOOLS), n), -1)
        return {
            "conv": conv.astype(np.int64),
            "turn_idx": turn.astype(np.int32),
            "role": role,
            "text": rng.integers(0, len(self.texts), n),
            "tool": tool,
            "op": op.astype(np.int8),
            "lsn": lsn.astype(np.int64),
        }


def _concat(parts: list[dict]) -> dict:
    parts = [p for p in parts if len(p["lsn"])]
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


def _take(ev: dict, idx: np.ndarray) -> dict:
    return {k: v[idx] for k, v in ev.items()}


def _to_table(ev: dict, epoch: int, rng: np.random.Generator, names: pa.Array,
              texts: pa.Array) -> pa.Table:
    order = rng.permutation(len(ev["lsn"]))
    ev = _take(ev, order)
    ts = np.datetime64(_TS0) + ev["lsn"].astype("timedelta64[ms]") * 250
    return pa.table(
        {
            "conv_id": names.take(ev["conv"]),
            "turn_idx": ev["turn_idx"],
            "role": _ROLES.take(ev["role"]),
            "text": texts.take(ev["text"]),
            "tool": _TOOLS.take(pa.array(ev["tool"], mask=ev["tool"] < 0)),
            "ts": ts.astype("datetime64[us]"),
            "op": _OPS.take(ev["op"]),
            "lsn": ev["lsn"],
            "commit_epoch": np.full(len(order), epoch, dtype=np.int64),
        },
        schema=FEED_SCHEMA,
    )


def cdc_feed(spec: CdcSpec, seed: int) -> tuple[pa.Table, list[pa.Table]]:
    """(bootstrap table, [batch tables]) for ``spec`` under ``seed``.
    The bootstrap inserts every key once (epoch 0); batch ``i`` is
    commit epoch ``i + 1`` and rewrites keys the table already holds."""
    rng = np.random.default_rng([seed, 0xCDC])
    texts = _texts(rng, 2048, spec.payload_chars)
    ev = _Events(rng, texts)
    names = pa.array([f"c{i:07d}" for i in range(spec.n_convs + 1)])

    # conversation 0 is the hot one
    convs = np.concatenate(
        [np.zeros(spec.hot_turns, np.int64), np.repeat(np.arange(1, spec.n_convs + 1), spec.turns)]
    )
    turns = np.concatenate([np.arange(spec.hot_turns), np.tile(np.arange(spec.turns), spec.n_convs)])
    n0 = len(convs)
    order = rng.permutation(n0)
    boot = ev.make(convs[order], turns[order], np.full(n0, _INSERT), np.arange(1, n0 + 1))
    bootstrap = _to_table(boot, 0, rng, names, texts)

    next_lsn = n0 + 1
    held: dict | None = None  # stragglers travelling to the next batch
    prev_tail: dict | None = None  # delivered tail of the previous batch
    batches = []
    for b in range(spec.n_batches):
        size = spec.warm_events if b < spec.warm_batches else spec.batch_events
        n_redeliver = int(round(spec.redelivery_share * size)) if b else 0
        n_held = len(held["lsn"]) if held is not None else 0
        n_new = size - n_redeliver - n_held
        is_hot = rng.random(n_new) < spec.hot_share
        conv = np.where(is_hot, 0, rng.integers(1, spec.n_convs + 1, n_new))
        turn = np.where(
            is_hot, rng.integers(0, spec.hot_turns, n_new), rng.integers(0, spec.turns, n_new)
        )
        op = np.where(rng.random(n_new) < spec.delete_share, _DELETE, _UPDATE)
        new = ev.make(conv, turn, op, np.arange(next_lsn, next_lsn + n_new))
        next_lsn += n_new

        tail = np.arange(max(0, n_new - spec.ooo_window), n_new)
        late = np.zeros(n_new, bool)
        n_late = int(round(spec.straggler_share * size))
        if n_late and b + 1 < spec.n_batches:
            late[rng.choice(tail, size=min(n_late, len(tail)), replace=False)] = True
        parts = [_take(new, np.flatnonzero(~late))]
        if held is not None:
            parts.append(held)
        if prev_tail is not None and n_redeliver:
            parts.append(_take(prev_tail, rng.integers(0, len(prev_tail["lsn"]), n_redeliver)))
        batch = _concat(parts)
        held = _take(new, np.flatnonzero(late))
        prev_tail = _take(new, np.setdiff1d(tail, np.flatnonzero(late)))
        batches.append(_to_table(batch, b + 1, rng, names, texts))
    return bootstrap, batches


def write_table(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return table.num_rows


def within_batch_repeat_share(table: pa.Table) -> float:
    """1 - distinct keys / events: the quantity the merge chooser
    estimates to decide whether write-path dedup can be elided."""
    keys = table.select(["conv_id", "turn_idx"]).group_by(["conv_id", "turn_idx"]).aggregate([])
    return 1.0 - keys.num_rows / max(table.num_rows, 1)


# ------------------------------------------------------------------ text


@dataclasses.dataclass(frozen=True)
class TextSpec:
    n_docs: int
    vocab: int = 30000
    zipf_s: float = 1.05  # word-frequency skew
    min_words: int = 25
    max_words: int = 90
    boilerplate_share: float = 0.35  # docs carrying a stock phrase
    near_dup_share: float = 0.12  # docs that are edited copies of earlier docs
    chain_share: float = 0.25  # near-dups copied from an earlier near-dup
    edit_rate: float = 0.06  # per-word replace/drop/insert probability
    chain_docs: int = 6  # documents of the planted sliding-window chain
    chain_window: int = 60  # words per chain document
    chain_step: int = 15  # words between consecutive chain documents


_BOILERPLATE = [
    "thank you for reaching out to us today",
    "how can i help you with your question",
    "please let me know if there is anything else",
    "i hope this helps with your project",
    "here is the updated version of the code",
    "let me check the documentation for you",
    "could you share the full error message please",
    "as an assistant i will do my best",
]


def text_corpus(spec: TextSpec, seed: int) -> pa.Table:
    """Transcript-like documents with a stated near-duplicate share.
    Word frequencies are Zipf-skewed and a share of documents carries a
    stock phrase, so common shingles exceed the posting cap.

    The corpus *shape* (which documents copy which, lengths, stock
    phrases) comes from a fixed generator and only the words and edits
    from ``seed``: every seed then yields the same duplicate-graph
    structure, so the connected-components round count and the pair
    count do not vary from seed to seed."""
    rng = np.random.default_rng([seed, 0x7E47])
    shape = np.random.default_rng(0x5EED)
    vocab = np.array(
        ["".join(rng.choice(_SYLL, size=k)) for k in rng.integers(1, 4, spec.vocab)], dtype=object
    )
    p = 1.0 / np.arange(1, spec.vocab + 1) ** spec.zipf_s
    p /= p.sum()
    cum = np.cumsum(p)
    span = spec.chain_window + spec.chain_step * (spec.chain_docs - 1)
    stream = list(vocab[np.searchsorted(cum, rng.random(span))])
    chain = {
        (k + 1) * spec.n_docs // (spec.chain_docs + 1): k * spec.chain_step
        for k in range(spec.chain_docs)
    }
    docs: list[list[str]] = []
    originals: list[int] = []
    dups: list[int] = []
    for i in range(spec.n_docs):
        if i in chain:
            docs.append(stream[chain[i] : chain[i] + spec.chain_window])
            continue
        if originals and shape.random() < spec.near_dup_share:
            pool = dups if dups and shape.random() < spec.chain_share else originals
            src = docs[pool[int(shape.integers(0, len(pool)))]]
            dups.append(i)
            out = []
            for w in src:
                r = rng.random()
                if r < spec.edit_rate / 3:
                    continue
                if r < 2 * spec.edit_rate / 3:
                    out.append(vocab[int(np.searchsorted(cum, rng.random()))])
                    continue
                out.append(w)
                if r > 1 - spec.edit_rate / 3:
                    out.append(vocab[int(np.searchsorted(cum, rng.random()))])
            docs.append(out or list(src))
            continue
        originals.append(i)
        n = int(shape.integers(spec.min_words, spec.max_words + 1))
        words = list(vocab[np.searchsorted(cum, rng.random(n))])
        if shape.random() < spec.boilerplate_share:
            phrase = _BOILERPLATE[min(int(shape.zipf(1.6)) - 1, len(_BOILERPLATE) - 1)].split()
            at = int(shape.integers(0, n + 1))
            words[at:at] = phrase
        docs.append(words)
    return pa.table(
        {"doc_id": np.arange(spec.n_docs, dtype=np.int64), "text": [" ".join(d) for d in docs]},
        schema=DOC_SCHEMA,
    )
