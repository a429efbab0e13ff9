"""Regenerate an sf1.0-scale measurement dataset statistically matched
to the driver's shape (50k documents, 1M events; same
schemas, vocab, length and value distributions as /root/testdata/sf0.1).

The driver's own sf1.0 directory is NOT retained between rounds, so
absolute numbers on this data are only comparable to other runs on the
SAME generated directory (self-relative A/Bs) — never to
BENCH/bench_local_r9_sf1.json or the driver artifacts. Seeded and
deterministic.

`--src` names the dataset whose vocabulary, language mix and event
values are sampled (default `SRC`). The user base is fixed: events draw
`user_id` uniformly from 15,000 users whatever `--events` is, so a
larger dataset has more events per user, not more users.

Usage: python scripts/gen_scale_data.py /tmp/sfx1.0 [--src DIR --docs 50000 --events 1000000]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"


def gen_documents(
    src_dir: str, out_dir: str, n_docs: int, rng: np.random.Generator
) -> None:
    src = pq.read_table(f"{src_dir}/documents.parquet").to_pandas()
    toks = src.text.str.split()
    words = np.array(sorted(set(w for t in toks for w in t)))
    # empirical unigram weights
    from collections import Counter

    cnt = Counter(w for t in toks for w in t)
    weights = np.array([cnt[w] for w in words], dtype=np.float64)
    weights /= weights.sum()
    lens = rng.integers(10, 101, size=n_docs)
    langs = np.array(["en", "zh", "es", "fr", "de"])
    lang_w = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
    texts = []
    flat = rng.choice(len(words), size=int(lens.sum()), p=weights)
    pos = 0
    for L in lens:
        texts.append(" ".join(words[flat[pos : pos + L]]))
        pos += L
    tbl = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                langs[rng.choice(5, size=n_docs, p=lang_w / lang_w.sum())], pa.string()
            ),
            "source": pa.array(
                [f"src{i % 20}" for i in rng.integers(0, 20, size=n_docs)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{out_dir}/documents.parquet")


def gen_events(
    src_dir: str, out_dir: str, n_events: int, rng: np.random.Generator
) -> None:
    src = pq.read_table(f"{src_dir}/events.parquet", columns=["value"]).to_pandas()
    vals = rng.choice(src.value.values, size=n_events, replace=True)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = t0 + rng.integers(0, span_us, size=n_events).astype("timedelta64[us]")
    ts.sort()
    types = np.array(["signup", "purchase", "view", "click", "error"])
    tbl = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 15000, size=n_events), pa.int64()),
            "event_type": pa.array(types[rng.integers(0, 5, size=n_events)], pa.string()),
            "value": pa.array(vals, pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)],
                pa.string(),
            ),
        }
    )
    pq.write_table(tbl, f"{out_dir}/events.parquet")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--src", default=SRC, help="dataset to sample from")
    ap.add_argument("--docs", type=int, default=50_000)
    ap.add_argument("--events", type=int, default=1_000_000)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    os.makedirs(args.out_dir, exist_ok=True)
    rng = np.random.default_rng(args.seed)
    gen_documents(args.src, args.out_dir, args.docs, rng)
    gen_events(args.src, args.out_dir, args.events, rng)
    print(f"generated {args.out_dir}: docs={args.docs} events={args.events}")


if __name__ == "__main__":
    main()
