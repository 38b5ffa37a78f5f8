"""Seeded input generator for the benchmark, run as its own process.

    python3 perfbench/tapegen.py --seed 7 --out DIR --kind tape
    python3 perfbench/tapegen.py --seed 7 --out DIR --kind tables

`tape` writes Kafka-shaped JSON payloads, one message value per line, in
time-ordered files: DIR/prices/f00000.json ... and DIR/trades/f00000.json.
File i of both topics covers the same rounds, so a consumer reading k files
of each topic per epoch sees every event of epoch j before any of epoch
j+1. Each round emits one price per hub and, every second round, one trade
(about 8 prices per trade, 4 hubs x 3 accounts, as the reference producer).
Every event carries a distinct creation stamp `ts`.

`tables` writes the batch inputs the registry queries read:
DIR/events.parquet and DIR/documents.parquet, shaped like the driver's
testdata tables (about sf0.01).

The generator is single-threaded, uses only the standard library for the
tape (pyarrow for the tables), and depends on nothing but its arguments:
the same seed gives byte-identical files.
"""

from __future__ import annotations

import argparse
import json
import os
import random
from datetime import datetime, timedelta

HUBS = ["PJM-WEST", "ERCOT-HOUSTON", "NYISO-ZONEJ", "CAISO-NP15"]
ACCOUNTS = ["ACC1", "ACC2", "ACC3"]
MW_CHOICES = [5, 10, 25, 50]

TAPE_ROUNDS = 600         # 2,400 prices + 300 trades
TAPE_FILES = 12           # per topic; 50 rounds per file
TAPE_START = datetime(2024, 1, 1)
ROUND_US = 200_000        # the reference producer's 0.2 s cadence
# file mtimes drive the file source's order; pin them, one second apart
MTIME_START = 1_704_067_200

N_EVENTS = 10_000
N_DOCS = 500
WORDS = ("a the data table row column key value part line order customer "
         "query scan join merge sort hash group agg filter window stream "
         "batch spark fast slow big small vector").split()
LANGS = ["en"] * 4 + ["de", "fr", "es", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _stamp(us: int) -> str:
    return (TAPE_START + timedelta(microseconds=us)).isoformat(
        timespec="microseconds")


def write_tape(out: str, seed: int, rounds: int = TAPE_ROUNDS,
               files: int = TAPE_FILES) -> dict[str, int]:
    """Write the tape; returns the event count per topic."""
    rng = random.Random(seed)
    price = {h: round(rng.uniform(15.0, 75.0), 2) for h in HUBS}
    per_file = rounds // files
    counts = {"prices": 0, "trades": 0}
    trade_id = 0
    for topic in counts:
        os.makedirs(os.path.join(out, topic), exist_ok=True)
    for f in range(files):
        lines: dict[str, list[str]] = {"prices": [], "trades": []}
        for r in range(f * per_file, (f + 1) * per_file):
            base = r * ROUND_US
            for i, hub in enumerate(HUBS):
                step = rng.uniform(-0.3, 0.3) + rng.gauss(0.0, 0.8)
                price[hub] = round(max(5.0, price[hub] + step), 2)
                lines["prices"].append(json.dumps(
                    {"ts": _stamp(base + i * 1000), "hub": hub,
                     "price_mwh": price[hub]}))
            if r % 2 == 0:
                trade_id += 1
                hub = rng.choice(HUBS)
                lines["trades"].append(json.dumps(
                    {"trade_id": trade_id, "ts": _stamp(base + ROUND_US // 2),
                     "account": rng.choice(ACCOUNTS), "hub": hub,
                     "side": rng.choice(["BUY", "SELL"]),
                     "mw": rng.choice(MW_CHOICES),
                     "price_mwh": round(price[hub] + rng.uniform(-1, 1), 2)}))
        for topic, rows in lines.items():
            path = os.path.join(out, topic, f"f{f:05d}.json")
            with open(path, "w") as fh:
                fh.write("\n".join(rows) + "\n")
            os.utime(path, (MTIME_START + f, MTIME_START + f))
            counts[topic] += len(rows)
    return counts


def write_tables(out: str, seed: int, n_events: int = N_EVENTS,
                 n_docs: int = N_DOCS) -> None:
    """events.parquet and documents.parquet with the testdata schemas."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    span_us = 30 * 86_400 * 1_000_000
    stamps = sorted(rng.sample(range(span_us), n_events))  # distinct
    events = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([TAPE_START + timedelta(microseconds=u)
                        for u in stamps], pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(150) for _ in stamps], pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in stamps],
        "value": [round(rng.uniform(0.0, 50.0), 2) for _ in stamps],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in stamps],
    })
    pq.write_table(events, os.path.join(out, "events.parquet"))

    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < 0.15:   # near-duplicate of an earlier doc
            words = rng.choice(texts).split()
            for j in rng.sample(range(len(words)), max(1, len(words) // 12)):
                words[j] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(8, 90))]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in texts],
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--kind", choices=("tape", "tables"), required=True)
    args = ap.parse_args()
    if args.kind == "tape":
        print(json.dumps(write_tape(args.out, args.seed)))
    else:
        write_tables(args.out, args.seed)


if __name__ == "__main__":
    main()
