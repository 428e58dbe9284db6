"""Seeded generator for the registry tables the ``registry_artifacts`` rows
read (``documents``, ``embeddings``, ``events``), in the same parquet schemas
as the suite's own test data:

- documents: texts drawn from a 30-word vocabulary, one source per
  ``doc_id % 20``, and a share of near-duplicates (an earlier text with
  `` dup`` appended) so the dedup and similarity rows find pairs;
- embeddings: 64-dimensional unit vectors with a 0-9 label;
- events: a ts-ordered click stream with a ``{"k": n}`` JSON payload.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import asdict, dataclass
from datetime import datetime, timedelta

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
TABLES = ("documents", "embeddings", "events")


@dataclass(frozen=True)
class TableParams:
    documents: int
    dup_share: float
    embeddings: int
    dim: int
    events: int
    users: int

    def as_dict(self) -> dict:
        return asdict(self)


def write_tables(seed: int, p: TableParams, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    texts: list[str] = []
    for i in range(p.documents):
        if texts and rng.random() < p.dup_share:
            text = texts[rng.randrange(len(texts))] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 90)))
        texts.append(text)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(p.documents), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in texts],
        "source": [f"src{i % 20}" for i in range(p.documents)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    vecs = []
    for _ in range(p.embeddings):
        v = [rng.gauss(0.0, 1.0) for _ in range(p.dim)]
        n = sum(x * x for x in v) ** 0.5
        vecs.append([x / n for x in v])
    pq.write_table(pa.table({
        "vec_id": pa.array(range(p.embeddings), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in vecs], pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))

    start = datetime(2024, 1, 1)
    span_us = 30 * 86_400 * 1_000_000
    offsets = sorted(rng.randrange(span_us) for _ in range(p.events))
    pq.write_table(pa.table({
        "event_id": pa.array(range(p.events), pa.int64()),
        "ts": pa.array([start + timedelta(microseconds=o) for o in offsets],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(p.users) for _ in offsets],
                            pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in offsets],
        "value": [round(rng.expovariate(1 / 50.0), 2) for _ in offsets],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in offsets],
    }), os.path.join(out_dir, "events.parquet"))
