"""Seeded input generator for the benchmark.

Every table is written in the engine's ``documents`` schema
(``doc_id, text, lang, source, n_chars``), so ``jobs`` and
``streaming.dag.load_stream`` read it unchanged. The same seed and
sizes give byte-identical parquet files; nothing here touches Spark.

Traffic dimensions (all realised shares are returned for the report):

- ``long_share``: share of posts longer than the 256-byte router
  threshold (the rest are shorter), so both router branches run;
- ``zipf_s``: zipf exponent of the topic (``lang``) distribution;
- ``replay_share``: share of streamed rows that re-send an earlier row
  byte for byte (at-least-once producers);
- ``update_share``: share of a backfill batch whose key already exists
  in the serving table (the row carries new text);
- ``exact_dup_share`` / ``near_dup_share`` / ``boiler_share``: corpus
  shares of exact copies, near copies (a few edited tokens) and docs
  carrying one of a few shared boilerplate banners.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROUTER_THRESHOLD = 256
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window the index shard commit offset trigger state sink "
    "source topic post score label summary router"
).split()
TOPICS = ("en", "es", "fr", "de", "zh", "it", "pt", "ja", "ko", "ru", "nl", "sv")
N_SOURCES = 20
# 32 chars = two whole 16-char boilerplate segments at the doc start
BANNERS = (
    "cookie banner accept all now ok ",
    "subscribe to our feed today ok  ",
    "licence footer all rights kept  ",
)
SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


@dataclass(frozen=True)
class Mix:
    """The traffic dimensions every workload is generated with."""

    long_share: float = 0.4
    zipf_s: float = 1.2
    replay_share: float = 0.1
    update_share: float = 0.3
    exact_dup_share: float = 0.1
    near_dup_share: float = 0.1
    boiler_share: float = 0.2


MIX = Mix()


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _post_text(rng: np.random.Generator, long: bool) -> str:
    """A post whose byte length falls on the chosen side of the router
    threshold: short posts are 24..255 bytes, long ones 257..560."""
    lo, hi = (ROUTER_THRESHOLD + 1, 560) if long else (24, ROUTER_THRESHOLD)
    target = int(rng.integers(lo, hi))
    text = _words(rng, target // 4 + 8)[:target].rstrip()
    while len(text) < lo:  # rstrip can cut below the band
        text += " " + VOCAB[int(rng.integers(0, len(VOCAB)))]
    return text[:hi]


def _topic_weights(zipf_s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, len(TOPICS) + 1) ** zipf_s
    return w / w.sum()


def posts(rng: np.random.Generator, doc_ids: np.ndarray) -> dict[str, list]:
    """Posts (one per id) as columns in the documents schema."""
    n = len(doc_ids)
    is_long = rng.random(n) < MIX.long_share
    topic = rng.choice(len(TOPICS), n, p=_topic_weights(MIX.zipf_s))
    src = rng.integers(0, N_SOURCES, n)
    text = [_post_text(rng, bool(x)) for x in is_long]
    return {
        "doc_id": [int(i) for i in doc_ids],
        "text": text,
        "lang": [TOPICS[t] for t in topic],
        "source": [f"src{s}" for s in src],
        "n_chars": [len(t) for t in text],
    }


def write_table(cols: dict[str, list], path: str) -> None:
    """Write one parquet file with fixed writer settings (byte-stable)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.Table.from_pydict(cols, schema=SCHEMA), path,
        compression="snappy", write_statistics=True,
    )


def _take(cols: dict[str, list], idx) -> dict[str, list]:
    return {k: [v[i] for i in idx] for k, v in cols.items()}


def _concat(*parts: dict[str, list]) -> dict[str, list]:
    return {k: [x for p in parts for x in p[k]] for k in SCHEMA.names}


def long_share(cols: dict[str, list]) -> float:
    return sum(n > ROUTER_THRESHOLD for n in cols["n_chars"]) / max(1, len(cols["n_chars"]))


def stream_files(
    seed: int, n_files: int, rows_per_file: int
) -> tuple[list[dict[str, list]], dict]:
    """The open-loop stream: ``n_files`` files of ``rows_per_file``
    rows. A ``replay_share`` of each file after the first re-sends rows
    already sent, byte for byte. Returns (files, realised shares)."""
    rng = np.random.default_rng([seed, 1])
    files: list[dict[str, list]] = []
    sent: dict[str, list] | None = None
    next_id = 0
    n_replay = 0
    for f in range(n_files):
        k = int(round(rows_per_file * MIX.replay_share)) if f else 0
        fresh = posts(rng, np.arange(next_id, next_id + rows_per_file - k))
        next_id += rows_per_file - k
        if k:
            replay = _take(sent, rng.choice(len(sent["doc_id"]), k, replace=False))
            fresh = _concat(fresh, replay)
        n_replay += k
        files.append(fresh)
        sent = fresh if sent is None else _concat(sent, fresh)
    total = n_files * rows_per_file
    return files, {
        "rows": total,
        "distinct_keys": next_id,
        "long_share": long_share(sent),
        "replay_share": n_replay / total,
    }


def seed_posts(seed: int, n: int, first_id: int) -> tuple[dict[str, list], dict]:
    """Posts that pre-populate the stream's serving table, with ids from
    ``first_id`` up (disjoint from the stream's, which start at 0)."""
    rng = np.random.default_rng([seed, 4])
    cols = posts(rng, np.arange(first_id, first_id + n))
    return cols, {"seed_rows": n, "seed_long_share": long_share(cols)}


def backfill(
    seed: int, n_existing: int, n_batch: int
) -> tuple[dict[str, list], dict[str, list], dict[str, list], dict]:
    """(existing, batch, expected, shares): ``existing`` pre-populates
    the serving table; ``batch`` re-sends ``update_share`` of those keys
    with new text and adds fresh keys for the rest; ``expected`` is what
    the table holds after the batch is merged."""
    rng = np.random.default_rng([seed, 2])
    existing = posts(rng, np.arange(n_existing))
    n_upd = int(round(n_batch * MIX.update_share))
    upd_ids = np.sort(rng.choice(n_existing, n_upd, replace=False))
    upd = posts(rng, upd_ids)
    # an update keeps the stored row's key triple (lang, source, doc_id)
    for col in ("lang", "source"):
        upd[col] = [existing[col][i] for i in upd_ids]
    fresh = posts(rng, np.arange(n_existing, n_existing + n_batch - n_upd))
    batch = _concat(upd, fresh)
    kept = np.setdiff1d(np.arange(n_existing), upd_ids)
    expected = _concat(_take(existing, kept), batch)
    return existing, batch, expected, {
        "rows": n_batch,
        "existing_rows": n_existing,
        "long_share": long_share(batch),
        "update_share": n_upd / n_batch,
    }


def corpus(seed: int, n_docs: int) -> tuple[dict[str, list], dict]:
    """Curation corpus: docs of 50..90 words (Gopher's word floor is 50)
    with exact copies, near copies and shared boilerplate banners."""
    rng = np.random.default_rng([seed, 3])
    text: list[str] = []
    kind = rng.random(n_docs)
    e_cut = MIX.exact_dup_share
    n_cut = e_cut + MIX.near_dup_share
    n_exact = n_near = n_boiler = 0
    for i in range(n_docs):
        if i and kind[i] < e_cut:
            text.append(text[int(rng.integers(0, i))])
            n_exact += 1
        elif i and kind[i] < n_cut:
            toks = text[int(rng.integers(0, i))].split(" ")
            for j in rng.choice(len(toks), 2, replace=False):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            text.append(" ".join(toks))
            n_near += 1
        else:
            body = _words(rng, int(rng.integers(50, 91)))
            if rng.random() < MIX.boiler_share:
                body = BANNERS[int(rng.integers(0, len(BANNERS)))] + body
                n_boiler += 1
            text.append(body)
    topic = rng.choice(len(TOPICS[:5]), n_docs, p=_topic_weights(MIX.zipf_s)[:5] /
                       _topic_weights(MIX.zipf_s)[:5].sum())
    src = rng.integers(0, N_SOURCES, n_docs)
    cols = {
        "doc_id": list(range(n_docs)),
        "text": text,
        "lang": [TOPICS[t] for t in topic],
        "source": [f"src{s}" for s in src],
        "n_chars": [len(t) for t in text],
    }
    return cols, {
        "rows": n_docs,
        "exact_dup_share": n_exact / n_docs,
        "near_dup_share": n_near / n_docs,
        "boiler_share": n_boiler / n_docs,
    }
