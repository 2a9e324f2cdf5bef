"""Seeded input generator for the medallion, stream_micro and lake_upsert
workloads.

Each workload's inputs go into one directory together with
`expected.json` (counts and reference results computed here, independently
of the program) and `manifest.json` (row counts and a sha256 per file).
The same seed gives byte-identical files; numpy and pyarrow run single
threaded here.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys
from fractions import Fraction

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
# Zipf-skewed trading symbols; A and N carry fee/tax rules in the gold
# layer, the rest fall back to the default region with zero rates.
SYMBOLS = ["A", "N", "R", "BTC", "ETH", "BNB", "SOL", "XRP", "ADA", "DOGE", "DOT", "LTC"]
RULES_BPS = {"A": (25, 10), "N": (30, 5)}

SIZES = {
    "medallion": dict(events=40_000, days=3, warm_events=3_000, warm_days=1),
    "stream_micro": dict(files=3, rows=4_000, file_minutes=40, warm_files=1, warm_rows=1_000),
    "lake_upsert": dict(base=60_000, days=30, batches=12, restate_days=2),
}
USERS = 2_000
DUP_FRACTION = 0.02
JITTER_S = 3.0


def zipf_index(rng, n, k, a=1.2):
    """n draws from {0..k-1} with P(i) proportional to 1/(i+1)^a."""
    p = 1.0 / np.arange(1, k + 1) ** a
    return rng.choice(k, size=n, p=p / p.sum())


def trade_events(rng, n, start_us, span_us):
    """n trade events plus ~2 % re-deliveries of earlier event ids; a
    re-delivery arrives 1-5 s after the original with a corrected price.
    Columns follow the program's events table; `value` is the price and
    props carries the integer quantity as {"k": q}."""
    ts = start_us + np.sort(rng.integers(0, span_us, n))
    ids = np.arange(n, dtype=np.int64)
    users = (zipf_index(rng, n, USERS, 1.1) + 1).astype(np.int64)
    sym = zipf_index(rng, n, len(SYMBOLS))
    cents = np.maximum(1, np.round(np.exp(rng.normal(3.0, 1.2, n)) * 100)).astype(np.int64)
    qty = rng.integers(1, 100, n).astype(np.int64)
    m = int(n * DUP_FRACTION)
    d = np.sort(rng.choice(n, m, replace=False))
    ids = np.concatenate([ids, ids[d]])
    ts = np.concatenate([ts, ts[d] + rng.integers(1_000_000, 5_000_000, m)])
    users = np.concatenate([users, users[d]])
    sym = np.concatenate([sym, sym[d]])
    cents = np.concatenate([cents, np.maximum(1, cents[d] + rng.integers(-50, 50, m))])
    qty = np.concatenate([qty, qty[d]])
    return dict(event_id=ids, ts=ts, user_id=users, sym=sym, cents=cents, qty=qty)


def events_table(ev, order):
    return pa.table({
        "event_id": pa.array(ev["event_id"][order], pa.int64()),
        "ts": pa.array(ev["ts"][order], pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"][order], pa.int64()),
        "event_type": pa.array([SYMBOLS[i] for i in ev["sym"][order]], pa.string()),
        "value": pa.array(ev["cents"][order] / 100.0, pa.float64()),
        "props": pa.array(['{"k": %d}' % q for q in ev["qty"][order]], pa.string()),
    })


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def medallion_expected(ev):
    """Silver keeps the latest delivery of each event id; gold sums
    price * quantity per (UTC date, symbol) and applies the fee/tax bps."""
    order = np.lexsort((ev["ts"], ev["event_id"]))
    ids = ev["event_id"][order]
    last = np.ones(len(ids), bool)
    last[:-1] = ids[:-1] != ids[1:]
    keep = order[last]
    day = ev["ts"][keep] // DAY_US
    notional = ev["cents"][keep] * ev["qty"][keep]  # in cents
    groups = {}
    for dd, s, v in zip(day.tolist(), ev["sym"][keep].tolist(), notional.tolist()):
        groups[(dd, s)] = groups.get((dd, s), 0) + v
    gold = []
    for (dd, s), tn in sorted(groups.items()):
        fee, tax = RULES_BPS.get(SYMBOLS[s], (0, 0))
        date = np.datetime64(int(dd), "D").astype(str)
        gold.append([date, SYMBOLS[s], float(Fraction(tn, 100)),
                     float(Fraction(tn * fee, 1_000_000)), float(Fraction(tn * tax, 1_000_000))])
    return {"events": int(len(ev["event_id"])), "unique": int(len(keep)),
            "groups": len(gold), "gold": gold}


def gen_medallion(rng, out, events, days, warm_events, warm_days):
    for sub, n, nd in (("", events, days), ("warm", warm_events, warm_days)):
        d = os.path.join(out, sub)
        os.makedirs(d, exist_ok=True)
        ev = trade_events(rng, n, START_US, nd * DAY_US)
        # file order follows arrival: event time plus seconds of jitter
        order = np.argsort(ev["ts"] + rng.normal(0, JITTER_S * 1e6, len(ev["ts"])), kind="stable")
        write(events_table(ev, order), os.path.join(d, "events.parquet"))
        with open(os.path.join(d, "expected.json"), "w") as f:
            json.dump(medallion_expected(ev), f)


def gen_stream(rng, out, files, rows, file_minutes, warm_files, warm_rows):
    """Time-ordered small files, one event-time slice each, rows shuffled
    within a file. Modification times increase with the file number, the
    order a file-stream source picks them up in."""
    for sub, nf, nr in (("files", files, rows), ("warm", warm_files, warm_rows)):
        d = os.path.join(out, sub)
        os.makedirs(d, exist_ok=True)
        span = nf * file_minutes * 60_000_000
        ev = trade_events(rng, int(nf * nr / (1 + DUP_FRACTION)), START_US, span)
        slot = np.minimum((ev["ts"] - START_US) * nf // span, nf - 1)
        for i in range(nf):
            idx = np.flatnonzero(slot == i)
            idx = idx[rng.permutation(len(idx))]
            p = os.path.join(d, "part-%05d.parquet" % i)
            write(events_table(ev, idx), p)
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"files": files, "warm_files": warm_files}, f)


def lake_hash(t):
    """Per-row hash the benchmark recomputes in Spark over the table."""
    return (t["trade_id"] * 1000003 + t["cents"] * 31 + t["milli"] + t["ts"] % 1000003) % 2147483647


def lake_table(t, idx):
    return pa.table({
        "trade_id": pa.array(t["trade_id"][idx], pa.int64()),
        "day": pa.array([str(np.datetime64(int(x), "D")) for x in t["ts"][idx] // DAY_US], pa.string()),
        "symbol": pa.array([SYMBOLS[i] for i in t["sym"][idx]], pa.string()),
        "price": pa.array(t["cents"][idx] / 100.0, pa.float64()),
        "qty": pa.array(t["milli"][idx] / 1000.0, pa.float64()),
        "ts": pa.array(t["ts"][idx], pa.int64()),
    })


def gen_lake(rng, out, base, days, batches, restate_days):
    """A base table of trades (ids increase with time) and correction
    batches. Each batch re-states `restate_days` consecutive days that no
    earlier batch re-stated, in a seed-chosen order: half of its rows
    replace live rows of those days, half are new trade ids. Disjoint days
    give every MERGE about the same amount of data to rewrite; with days
    drawn independently, how often a seed's batches hit days an earlier
    batch had grown set its merge times (NOTES.md)."""
    os.makedirs(out, exist_ok=True)
    n = base
    t = {
        "trade_id": np.arange(n, dtype=np.int64),
        "ts": START_US + np.sort(rng.integers(0, days * DAY_US, n)),
        "sym": zipf_index(rng, n, len(SYMBOLS)),
        "cents": np.maximum(1, np.round(np.exp(rng.normal(3.0, 1.2, n)) * 100)).astype(np.int64),
        "milli": rng.integers(1, 100_000, n).astype(np.int64),
    }
    write(lake_table(t, np.arange(n)), os.path.join(out, "base.parquet"))
    next_id = n
    steps = []
    per_day = n // days
    assert batches <= days // restate_days
    starts = rng.permutation(days // restate_days)[:batches] * restate_days
    for b in range(batches):
        d0 = int(starts[b])
        lo, hi = START_US + d0 * DAY_US, START_US + (d0 + restate_days) * DAY_US
        live = np.flatnonzero((t["ts"] >= lo) & (t["ts"] < hi))
        k = min(len(live), per_day * restate_days // 2)
        upd = np.sort(rng.choice(live, k, replace=False))
        new = {
            "trade_id": np.concatenate([t["trade_id"][upd], np.arange(next_id, next_id + k)]),
            "ts": np.concatenate([t["ts"][upd] + rng.integers(1, 60_000_000, k),
                                  lo + rng.integers(0, hi - lo, k)]),
            "sym": np.concatenate([t["sym"][upd], zipf_index(rng, k, len(SYMBOLS))]),
            "cents": np.maximum(1, np.round(np.exp(rng.normal(3.0, 1.2, 2 * k)) * 100)).astype(np.int64),
            "milli": rng.integers(1, 100_000, 2 * k).astype(np.int64),
        }
        # an update stays inside its day so it re-states that day only
        new["ts"][:k] = np.minimum(new["ts"][:k], (t["ts"][upd] // DAY_US + 1) * DAY_US - 1)
        next_id += k
        write(lake_table(new, np.arange(2 * k)), os.path.join(out, "batch-%03d.parquet" % b))
        for c in t:  # last write wins
            t[c][upd] = new[c][:k]
            t[c] = np.concatenate([t[c], new[c][k:]])
        steps.append([int(len(t["trade_id"])), int(t["trade_id"].sum()), int(lake_hash(t).sum())])
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"batches": batches, "steps": steps}, f)


def manifest(out):
    files = {}
    for root, _, names in os.walk(out):
        for name in sorted(names):
            if name == "manifest.json":
                continue
            p = os.path.join(root, name)
            rel = os.path.relpath(p, out)
            entry = {"sha256": hashlib.sha256(open(p, "rb").read()).hexdigest()}
            if name.endswith(".parquet"):
                entry["rows"] = pq.ParquetFile(p).metadata.num_rows
            files[rel] = entry
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(dict(sorted(files.items())), f, indent=1)
    return files


def generate(workload, seed, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    fn = {"medallion": gen_medallion, "stream_micro": gen_stream, "lake_upsert": gen_lake}[workload]
    fn(rng, out, **SIZES[workload])
    return manifest(out)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
