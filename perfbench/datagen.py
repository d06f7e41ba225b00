"""Deterministic synthetic inputs in the events/embeddings layout the
registry queries read (entity user_id, time ts, target value; 64-dim
unit embeddings with a class label).

The panel is fixed, not drawn from the workload seed: the seed only
orders operations and draws parameter points, so expected digests can
be pinned once per panel. Shapes follow the repository's sf0.1 tables:
uniform entities over 30 days (~67 events each), exponential values
rounded to cents, five event types.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PANEL_SEED = 20240101
EVENTS_PER_USER = 200 / 3  # sf0.1 ratio: 100k events over 1500 users
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def events(n_users, rng):
    n = int(round(n_users * EVENTS_PER_USER))
    start_us = 1704067200 * 1_000_000  # 2024-01-01 UTC
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + start_us
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def embeddings(n_vectors, rng, dim=64, n_labels=10):
    centers = rng.normal(0.0, 1.0, (n_labels, dim))
    label = rng.integers(0, n_labels, n_vectors)
    v = centers[label] + rng.normal(0.0, 1.5, (n_vectors, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vectors, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def main(out_dir, n_users, n_vectors):
    rng = np.random.default_rng(PANEL_SEED)
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(events(n_users, rng), os.path.join(tmp, "events.parquet"))
    pq.write_table(embeddings(n_vectors, rng), os.path.join(tmp, "embeddings.parquet"))
    os.replace(tmp, out_dir)
