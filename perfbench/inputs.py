"""Seeded input generation for the graft benchmark.

Everything the program under test receives is made here from the seed:
the same seed gives byte-identical inputs. The seed sets which events are
redelivered or arrive late, the stream's file contents, and the
operator-library tables.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000

# Medallion replay, sized like the reference's sf0.1 events table:
# 100k events over 30 days from 1500 users.
DAYS = 30
EVENTS_PER_DAY = 3334
USERS = 1500
PRELOAD_DAYS = 1       # day 0: the first stream file, landed in set-up
LATE_SHARE = 0.02      # events delivered 1-3 days after their own day
REDELIVER_SHARE = 0.04  # per batch, replays of already-delivered events
UPDATED_SHARE = 0.5    # of redeliveries: new payload under the same event_id

# Stream: the deliveries after day 0 cut into envelope files, landed at
# FILES_PER_S (200 events/s) after WARM_FILES set-up files: day 0, which
# creates the tables.
EVENTS_PER_FILE = 200
FILES_PER_S = 1
WARM_FILES = 1

# Operator-library tables for the curate gates.
DOCS = 600
EMBEDDINGS = 300
EMBED_DIM = 64
ORDERS = 2000
PARTS = 2000
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part pipeline query row scan slow small sort spark "
         "stream table the value vector window").split()

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])

ENVELOPE_SCHEMA = pa.schema([
    ("key", pa.binary()), ("value", pa.binary()), ("topic", pa.string()),
    ("partition", pa.int32()), ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")), ("timestampType", pa.int32())])


def _events(rng):
    n = DAYS * EVENTS_PER_DAY
    ts = START_US + np.sort(rng.integers(0, DAYS * DAY_US, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, USERS, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.integers(0, 50_000, n) / 100.0, 2),
        "props": np.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    }


def deliveries(seed):
    """The delivery schedule: batch 0 holds the first PRELOAD_DAYS days,
    then one batch per day. Each batch is a dict of column arrays holding
    that day's on-time events, late events due that day, and redeliveries
    of earlier events (exact replays and updated payloads)."""
    rng = np.random.default_rng(seed)
    ev = _events(rng)
    n = len(ev["event_id"])
    day = (ev["ts"] - START_US) // DAY_US
    late = rng.random(n) < LATE_SHARE
    delay = rng.integers(1, 4, n)
    due_day = np.where(late, np.minimum(day + delay, DAYS - 1), day)
    version = np.zeros(n, dtype=np.int64)
    delivered = np.zeros(n, dtype=bool)
    batches = []
    for b, last_day in enumerate([PRELOAD_DAYS - 1] + list(range(PRELOAD_DAYS, DAYS))):
        first_day = 0 if b == 0 else last_day
        fresh = np.nonzero((due_day >= first_day) & (due_day <= last_day))[0]
        idx = [fresh]
        values = [ev["value"][fresh]]
        if b > 0:
            pool = np.nonzero(delivered)[0]
            k = int(round(REDELIVER_SHARE * len(fresh)))
            redo = rng.choice(pool, size=k, replace=False)
            upd = rng.random(k) < UPDATED_SHARE
            version[redo[upd]] += 1
            # an updated payload carries a new value under the same
            # event_id; adding whole units keeps it distinct from every
            # earlier version of that event
            idx.append(redo)
            values.append(np.round(ev["value"][redo] + version[redo] * upd, 2))
        delivered[fresh] = True
        idx = np.concatenate(idx)
        order = rng.permutation(len(idx))
        batches.append({
            "event_id": ev["event_id"][idx][order],
            "ts": ev["ts"][idx][order],
            "user_id": ev["user_id"][idx][order],
            "event_type": ev["event_type"][idx][order],
            "value": np.concatenate(values)[order],
            "props": ev["props"][idx][order],
        })
    return batches


def _event_table(cols):
    return pa.Table.from_arrays([
        pa.array(cols["event_id"], pa.int64()),
        pa.array(cols["ts"], pa.timestamp("us")),
        pa.array(cols["user_id"], pa.int64()),
        pa.array(cols["event_type"], pa.string()),
        pa.array(cols["value"], pa.float64()),
        pa.array(cols["props"], pa.string())], schema=EVENT_SCHEMA)


def write_medallion(seed, out, seconds):
    """The stream's Kafka-envelope parquet files under <out>/stream, listed
    in stream.tsv with their event counts and landing schedule: file 0
    holds day 0, and each later file EVENTS_PER_FILE events of the later
    deliveries in order. The WARM_FILES set-up files have no due time; the
    rest are due FILES_PER_S a second over `seconds`, in milliseconds from
    the start of the measured window. Also stream_events.parquet: every
    event with its file number, for the output check."""
    stream_files = WARM_FILES + round(seconds * FILES_PER_S)
    batches = deliveries(seed)
    later = {k: np.concatenate([b[k] for b in batches[1:]]) for k in batches[0]}
    need = (stream_files - 1) * EVENTS_PER_FILE
    assert need <= len(later["event_id"]), "not enough events for the stream"
    files = [batches[0]] + [
        {k: v[f * EVENTS_PER_FILE:(f + 1) * EVENTS_PER_FILE] for k, v in later.items()}
        for f in range(stream_files - 1)]
    sdir = os.path.join(out, "stream")
    os.makedirs(sdir)
    rows, offset = [], 0
    for f, cols in enumerate(files):
        payload = [json.dumps({
            "event_id": int(e), "ts_us": int(t), "user_id": int(u),
            "event_type": str(et), "value": float(v), "props": str(p)}).encode()
            for e, t, u, et, v, p in zip(cols["event_id"], cols["ts"], cols["user_id"],
                                         cols["event_type"], cols["value"], cols["props"])]
        n = len(payload)
        t = pa.Table.from_arrays([
            pa.array([str(f).encode()] * n, pa.binary()),
            pa.array(payload, pa.binary()),
            pa.array(["events"] * n, pa.string()),
            pa.array(np.zeros(n, dtype=np.int32), pa.int32()),
            pa.array(np.arange(offset, offset + n, dtype=np.int64), pa.int64()),
            pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
            pa.array(np.zeros(n, dtype=np.int32), pa.int32())],
            schema=ENVELOPE_SCHEMA)
        name = f"f{f:05d}.parquet"
        pq.write_table(t, os.path.join(sdir, name))
        k = f - WARM_FILES
        due = "-" if k < 0 else str(round(k * 1000 / FILES_PER_S))
        rows.append(f"stream/{name}\t{n}\t{due}")
        offset += n
    with open(os.path.join(out, "stream.tsv"), "w") as fh:
        fh.write("\n".join(rows) + "\n")
    plain = _event_table({k: np.concatenate([c[k] for c in files]) for k in later})
    plain = plain.append_column("file", pa.array(np.concatenate(
        [np.full(len(c["event_id"]), f, dtype=np.int64) for f, c in enumerate(files)])))
    pq.write_table(plain, os.path.join(out, "stream_events.parquet"))


def write_operator_tables(seed, out):
    """documents, embeddings and lineitem under <out>/sf, shaped like the
    reference tables the gates read."""
    rng = np.random.default_rng(seed)
    sf = os.path.join(out, "sf")
    os.makedirs(sf, exist_ok=True)
    vocab = np.array(VOCAB)
    texts = []
    for i in range(DOCS):
        if i > 10 and rng.random() < 0.15:  # near-duplicate of an earlier doc
            words = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(0, 4)):
                words[rng.integers(0, len(words))] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(8, 90))])
        texts.append(" ".join(words))
    langs = np.array(["de", "en", "es", "fr", "zh"])
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(DOCS, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.integers(0, len(langs), DOCS)], pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(sf, "documents.parquet"))

    labels = rng.integers(0, 10, EMBEDDINGS)
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0, 0.6, (EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.5).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }), os.path.join(sf, "embeddings.parquet"))

    lines = rng.integers(1, 8, ORDERS)
    orderkey = np.repeat(np.arange(1, ORDERS + 1, dtype=np.int64), lines)
    partkey = (rng.zipf(1.3, len(orderkey)) % PARTS + 1).astype(np.int64)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(orderkey), "l_partkey": pa.array(partkey),
        "l_linenumber": pa.array(linenumber),
    }), os.path.join(sf, "lineitem.parquet"))
