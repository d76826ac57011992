"""Benchmark inputs, written with numpy and pyarrow before Spark starts.

    python3 perfbench/datagen.py --out DIR --seed N [--backlog]

``run.py`` runs this in a child process, so the benchmark process's peak
memory holds the engine's work and not the generator's. It writes the
inputs under ``DIR`` and a ``manifest.json`` that lists them.

Two kinds of input:

- ``write_tables``: the ``events``, ``documents`` and ``embeddings``
  parquet tables the query workloads read, in the shape of the star-schema
  testdata at sf0.01 (10k events, 500 documents, 500 vectors). They come
  from a fixed data seed, so the query digests in ``expected.json`` hold
  for every run; the run's ``--seed`` only orders the keys.
- ``write_backlog``: the raw RuuviTag message files the ``stream_ingest``
  workload drains, generated from the run's ``--seed``. The same seed
  gives byte-identical files, and the returned manifest carries the
  counts the ingest checks compare against.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_EVENTS = 10_000
N_DOCS = 500
N_VECS = 500
EMBED_DIM = 64

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.15, 0.14, 0.12)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()

# The nine raw channels fan out to one reading each (schema.SENSOR_MAPPING);
# measurement_sequence is carried but never fans out.
CHANNELS = (
    "temperature", "humidity", "pressure", "acceleration_x", "acceleration_y",
    "acceleration_z", "battery_voltage", "tx_power", "movement_counter",
)
READINGS_PER_MESSAGE = len(CHANNELS)

# Event day of the ingest backlog, and the clamp anchor handed to the
# stream: noon of that day keeps both the day and the late half-day before
# it inside the engine's 24 h late/future clamp window.
EVENT_DAY = dt.date(2025, 9, 26)
ANCHOR = f"{EVENT_DAY.isoformat()} 12:00:00"
_DAY0 = int(dt.datetime(EVENT_DAY.year, EVENT_DAY.month, EVENT_DAY.day, tzinfo=dt.timezone.utc).timestamp())


def write_tables(out_dir: str) -> dict[str, str]:
    """Write the three query tables under ``out_dir``; return name -> path."""
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "events": _events(rng),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


def _events(rng: np.random.Generator) -> pa.Table:
    # strictly increasing microsecond timestamps: ordered picks in the
    # dashboard keys rely on globally unique ts
    gaps_us = 1 + (rng.exponential(259.0, N_EVENTS) * 1e6).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype("timedelta64[us]")
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, N_EVENTS).astype(np.int64)),
        "event_type": pa.array(np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), N_EVENTS)]),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2)),
        "props": pa.array(props),
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for _ in range(N_DOCS):
        if texts and rng.random() < 0.05:
            # near-duplicate of an earlier document, as the testdata plants
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), n)]))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(size=(10, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.15 * centers[labels] + rng.normal(size=(N_VECS, EMBED_DIM)) / 8.0
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


@dataclass(frozen=True)
class BacklogFile:
    """One raw file of the backlog and what the engine must make of it."""

    path: str
    messages: int  # rows in the file, redelivered copies included
    invalid: int  # messages with no device id: every reading is rejected
    new_unique_valid: int  # valid messages not delivered by an earlier file


def write_backlog(
    out_dir: str,
    seed: int,
    files: int = 16,
    messages_per_file: int = 500,
    devices: int = 64,
    invalid_share: float = 0.02,
    duplicate_share: float = 0.05,
    late_share: float = 0.10,
) -> list[BacklogFile]:
    """Write ``files`` raw RuuviTag message files under ``out_dir``.

    Each file holds fresh messages plus ``duplicate_share`` exact
    redeliveries of valid messages from earlier files, which the
    idempotent append must drop. ``invalid_share`` of the fresh messages
    lack a device id and land in the rejects table. ``late_share`` carry a
    timestamp in the afternoon of the day before the event day. Every
    fresh message has its own (device, second), so landed readings are
    exactly nine per unique valid message.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    slot = np.zeros(devices, dtype=np.int64)  # next on-time second per device
    late_slot = np.zeros(devices, dtype=np.int64)
    delivered: list[dict] = []  # valid messages sent so far, for redelivery
    manifest = []
    for i in range(files):
        n_dup = int(round(messages_per_file * duplicate_share)) if delivered else 0
        n_new = messages_per_file - n_dup
        dev = rng.integers(0, devices, n_new)
        late = rng.random(n_new) < late_share
        invalid = rng.random(n_new) < invalid_share
        ts = np.empty(n_new, dtype=np.int64)
        for j in range(n_new):
            d = dev[j]
            if late[j]:
                # 12:00:01 onwards on the previous day, inside the clamp window
                ts[j] = _DAY0 - 43_199 + late_slot[d]
                late_slot[d] += 1
            else:
                ts[j] = _DAY0 + slot[d]
                slot[d] += 1
        values = {c: _channel_values(rng, c, n_new) for c in CHANNELS}
        values["measurement_sequence"] = rng.integers(0, 65_536, n_new).astype(np.float64)
        rows = [
            {
                "device_id": None if invalid[j] else f"aa:bb:cc:00:{dev[j] // 256:02x}:{dev[j] % 256:02x}",
                "timestamp": str(ts[j]),
                **{c: float(values[c][j]) for c in values},
            }
            for j in range(n_new)
        ]
        dups = [delivered[k] for k in rng.choice(len(delivered), n_dup, replace=False)] if n_dup else []
        fresh_valid = [r for r in rows if r["device_id"] is not None]
        batch = rows + dups
        order = rng.permutation(len(batch))
        batch = [batch[k] for k in order]
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(_raw_table(batch), path)
        delivered.extend(fresh_valid)
        manifest.append(BacklogFile(path, len(batch), int(invalid.sum()), len(fresh_valid)))
    return manifest


def _channel_values(rng: np.random.Generator, channel: str, n: int) -> np.ndarray:
    lo, hi = {
        "temperature": (-10.0, 40.0),
        "humidity": (15.0, 100.0),
        "pressure": (90_000.0, 105_000.0),
        "acceleration_x": (-1.0, 1.0),
        "acceleration_y": (-1.0, 1.0),
        "acceleration_z": (0.0, 2.0),
        "battery_voltage": (2.0, 3.0),
        "tx_power": (-40.0, 8.0),
        "movement_counter": (0.0, 255.0),
    }[channel]
    return np.round(rng.uniform(lo, hi, n), 3)


def _raw_table(rows: list[dict]) -> pa.Table:
    """Rows in the engine's RAW_RUUVITAG_SCHEMA column order and types."""
    cols: dict[str, pa.Array] = {
        "device_id": pa.array([r["device_id"] for r in rows], pa.string()),
        "device_type": pa.array(["ruuvitag"] * len(rows), pa.string()),
        "timestamp": pa.array([r["timestamp"] for r in rows], pa.string()),
    }
    for c in CHANNELS + ("measurement_sequence",):
        cols[c] = pa.array([r[c] for r in rows], pa.float64())
    return pa.table(cols)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Write the benchmark's inputs and a manifest of them.")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True, help="seed of the ingest backlog")
    ap.add_argument("--backlog", action="store_true", help="also write the ingest backlog")
    args = ap.parse_args(argv)
    tables_dir = os.path.join(args.out, "tables")
    write_tables(tables_dir)
    backlog = write_backlog(os.path.join(args.out, "backlog"), args.seed) if args.backlog else []
    manifest = {
        "data": f"generated sf0.01 shape, data seed {DATA_SEED}",
        "tables_dir": tables_dir,
        "anchor": ANCHOR,
        "days": [(EVENT_DAY - dt.timedelta(days=1)).isoformat(), EVENT_DAY.isoformat()],
        "readings_per_message": READINGS_PER_MESSAGE,
        "backlog": [asdict(f) for f in backlog],
    }
    with open(os.path.join(args.out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
