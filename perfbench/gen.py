"""Seeded input generator for the benchmark.

Writes the tables the benchmark's queries read -- `events` and
`documents` -- as parquet with the schema of the repo's test data, at the
sizes given in `workloads.json`. Everything random is drawn from `numpy`
generators seeded with `--seed`: sampling jitter and gaps of the event
stream, the values, and which documents are exact or near duplicates of
earlier ones. The same (seed, sizes) gives byte-identical rows, and
`digest()` fingerprints them.

Usage: python3 perfbench/gen.py <out_dir> --seed N [--events N ...]
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
START_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC

DEFAULT_SIZES = {"events": 100_000, "users": 1500, "days": 30,
                 "documents": 5000, "exact_dup_rate": 0.02, "near_dup_rate": 0.08}


def events_table(rng, n, users, days):
    # exponential inter-arrival jitter, plus rare multi-hour gaps so some
    # windows are sparse or empty; integer microseconds >= 1 keep the
    # index strictly increasing (no ties for the oracles' ORDER BY ts)
    mean_gap = days * 86400e6 / n
    gaps = rng.exponential(mean_gap * 0.9, n)
    gaps[rng.random(n) < 2e-4] += rng.uniform(2, 8, 1)[0] * 3600e6
    gaps = np.maximum(gaps.astype(np.int64), 1)
    ts = START_US + np.cumsum(gaps)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]),
        # full precision: 2-decimal values make exact 6-decimal ties in
        # window means, which round either way with summation order
        "value": pa.array(rng.exponential(50.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _edit(rng, words):
    """A near duplicate: a few word substitutions, one insert or delete."""
    w = list(words)
    for _ in range(rng.integers(1, 3)):
        w[rng.integers(0, len(w))] = VOCAB[rng.integers(0, len(VOCAB))]
    if rng.random() < 0.5 and len(w) > 10:
        del w[rng.integers(0, len(w))]
    else:
        w.insert(rng.integers(0, len(w) + 1), VOCAB[rng.integers(0, len(VOCAB))])
    return w


def documents_table(rng, n, exact_rate, near_rate):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < exact_rate:
            texts.append(texts[rng.integers(0, i)])
        elif i > 0 and r < exact_rate + near_rate:
            texts.append(" ".join(_edit(rng, texts[rng.integers(0, i)].split())))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS, dtype=object)[
            rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def tables(seed, sizes, names=("events", "documents")):
    s = {**DEFAULT_SIZES, **sizes}
    # one child stream per table: resizing one table leaves the others'
    # rows unchanged
    ev, doc = (np.random.default_rng(c) for c in np.random.SeedSequence(seed).spawn(2))
    make = {
        "events": lambda: events_table(ev, s["events"], s["users"], s["days"]),
        "documents": lambda: documents_table(doc, s["documents"],
                                             s["exact_dup_rate"], s["near_dup_rate"]),
    }
    return {n: make[n]() for n in names}


def digest(tabs):
    """Order-sensitive fingerprint of every row of every table."""
    h = hashlib.sha256()
    for name in sorted(tabs):
        h.update(name.encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tabs[name].schema) as w:
            w.write_table(tabs[name])
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write(out_dir, seed, sizes, names=("events", "documents")):
    """Writes the tables once per (seed, sizes); returns the manifest."""
    man_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(man_path):
        return json.load(open(man_path))
    os.makedirs(out_dir, exist_ok=True)
    tabs = tables(seed, sizes, names)
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    man = {"seed": seed, "sizes": {**DEFAULT_SIZES, **sizes},
           "rows": {k: t.num_rows for k, t in tabs.items()},
           "digest": digest(tabs)}
    tmp = man_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(man, f, indent=1)
    os.replace(tmp, man_path)
    return man


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    for k, v in DEFAULT_SIZES.items():
        ap.add_argument(f"--{k}", type=type(v), default=v)
    a = ap.parse_args()
    print(json.dumps(write(a.out_dir, a.seed,
                           {k: getattr(a, k) for k in DEFAULT_SIZES})))
