"""Seeded corpus generator for the benchmark workloads.

Reproduces the reference testdata sf0.1 (events.parquet, 100,000 rows;
documents.parquet, 5,000 rows) with the same physical types (events.ts is
parquet TIMESTAMP(MICROS)), so the program reads the corpus through its
normal table readers. Each constant below cites the sf0.1 figure it
reproduces, as `python3 perfbench/profile.py <sf0.1 dir>` prints it; the
benchmark itself reads nothing but the seed and settings.json.

Two departures from sf0.1, on purpose, are parameters in settings.json:
users are drawn Zipf-skewed (sf0.1's 1,500 users are near uniform, 45 to 99
events each), and a share of props is malformed (sf0.1 has none), so the
feed carries hot keys and dead letters.

  events      event_id int64, ts timestamp[us], user_id int64,
              event_type string, value double, props string
  documents   doc_id int64, text string, lang string, source string,
              n_chars int64
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# event_type: five types, 0.198-0.203 each. The change feed maps
# signup/purchase to insert, click/view to update, error to delete.
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# event_id: dense from 0, so event_id % 5 (the feed's table routing: 0, 1
# hypertable chunks, 2..4 base tables) is 0.2 each.
# ts: from 2024-01-01, exponential gaps over 30 days (gap p10/p50/p99 =
# 0.105/0.688/4.67 x mean), no ties.
T0 = "2024-01-01T00:00:00"
SPAN_DAYS = 30
# value: exponential, mean 49.87 (p10/p50/p99 5.35/34.77/228.1), two decimals.
VALUE_MEAN = 49.87
# props: '{"k": K}' with K uniform over 0..99 (100 distinct values).
PROPS_K = 100
# Malformed props (settings.json share; sf0.1 has none): each fails the
# feed's props parse in a different way.
MALFORMED_PROPS = ['{"k": ', "{}", '{"k": "x"}', "k=7;", "not json"]
# documents.text: 10..100 words (p10/p50/p90 = 19/54/90), uniform over a
# 30-word vocabulary; 5.0% end in the marker " dup" (4.86% are exactly
# another document's text plus the marker).
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
WORDS = (10, 100)
DUP_SHARE = 0.05
# lang: en 0.412, de 0.140, es 0.149, fr 0.148, zh 0.151.
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_SHARES = [0.41, 0.14, 0.15, 0.15, 0.15]
# source: src0..src19, 250 documents each.
N_SOURCES = 20


def zipf_choice(rng, n_items, s, size):
    """Bounded Zipf draw over 0..n_items-1 (rank 0 hottest)."""
    p = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=p / p.sum())


def events_table(seed, n, n_users, zipf_s, malformed_share):
    rng = np.random.default_rng([seed, 1])
    event_id = np.arange(n, dtype=np.int64)
    gaps = rng.exponential(SPAN_DAYS * 86400 * 10**6 / n, size=n).astype(np.int64) + 1
    ts = np.datetime64(T0, "us") + np.cumsum(gaps).astype("timedelta64[us]")
    # hot users are scattered over the id space, not the smallest ids
    user_id = rng.permutation(n_users)[zipf_choice(rng, n_users, zipf_s, n)]
    etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), size=n)]
    value = np.round(rng.exponential(VALUE_MEAN, size=n), 2)
    props = np.array([f'{{"k": {k}}}' for k in rng.integers(0, PROPS_K, size=n)],
                     dtype=object)
    bad = rng.random(n) < malformed_share
    props[bad] = np.array(MALFORMED_PROPS, dtype=object)[
        rng.integers(0, len(MALFORMED_PROPS), size=int(bad.sum()))]
    return pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user_id.astype(np.int64), pa.int64()),
        "event_type": pa.array(etype.tolist(), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props.tolist(), pa.string()),
    })


def documents_table(seed, n):
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), size=int(rng.integers(WORDS[0], WORDS[1] + 1)))])
             for _ in range(n)]
    # a near duplicate copies another (unmarked) document and adds the marker
    dups = np.flatnonzero(rng.random(n) < DUP_SHARE)
    originals = np.setdiff1d(np.arange(n), dups)
    for i, j in zip(dups, rng.choice(originals, size=len(dups))):
        texts[i] = texts[j] + " dup"
    lang = np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_SHARES)]
    source = [f"src{j}" for j in rng.integers(0, N_SOURCES, size=n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def generate(spec, seed, out_dir):
    """Write the tables `spec` asks for; returns {table: rows}."""
    tables = {}
    if "events" in spec:
        e = spec["events"]
        tables["events"] = events_table(seed, e["rows"], e["users"],
                                        e["zipf_s"], e["malformed_share"])
    if "documents" in spec:
        tables["documents"] = documents_table(seed, spec["documents"]["rows"])
    write(tables, out_dir)
    return {k: t.num_rows for k, t in tables.items()}
