"""Seeded generator of the tables the traced batch pass reads: events,
documents and embeddings, with the schema and value shapes of the engine's
test tables at scale factor 0.01. The same seed always gives the same files."""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS, USERS, DOCS, VECS, DIM = 10_000, 150, 500, 500, 64
VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def events(rng):
    # time-ordered over 30 days from 2024-01-01 at microsecond resolution
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, EVENTS))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, EVENTS), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, EVENTS)),
        "value": pa.array(np.round(rng.exponential(50.0, EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)]),
    })


def documents(rng):
    # word salad over VOCAB; about one doc in ten copies an earlier one
    # with a single word replaced, so the near-dup operators find pairs
    texts = []
    for i in range(DOCS):
        if i > 0 and rng.random() < 0.1:
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = "dup"
        else:
            words = rng.choice(VOCAB, rng.integers(10, 100)).tolist()
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, DOCS, p=LANG_P)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng):
    # unit-normalised Gaussian vectors stored as float32, ten labels
    v = rng.standard_normal((VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(VECS), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, VECS), pa.int32()),
    })


def generate(out_dir, seed):
    rng = np.random.default_rng(seed)
    for name, make in (("events", events), ("documents", documents),
                       ("embeddings", embeddings)):
        pq.write_table(make(rng), f"{out_dir}/{name}.parquet")
