"""Seeded input generators for the lake benchmark.

Both workload feeds are cut from the sf0.1 tables in ``data/`` (verbatim
copies of the sf0.1 ``orders`` and ``events`` tables; see README.md).
They are deterministic (numpy PCG64, no clocks, no host state), so one
seed always yields byte-identical files:

* ``lake_feed``: the landed JSONL order feed of ``lake_etl``: a seeded
  sample of sf0.1 orders as one full snapshot plus seeded CDC deltas, one
  directory per run date, with messy column names, a nested JSON ``Props``
  document and a seeded share of invalid rows.
* ``stream_feed``: the micro-batch event files ``stream_feed`` stages on a
  schedule: a seeded run of consecutive sf0.1 events with bounded
  out-of-order delivery, in-watermark re-deliveries and a closing
  sentinel.

``corpus_curation`` needs no generator: it reads ``data/documents.parquet``
and ``data/embeddings.parquet`` as they are.

Run ``python3 gen.py <kind> <out_dir> --seed N`` to write one feed.
"""
import argparse
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
ORDERS = os.path.join(DATA, "orders.parquet")
EVENTS = os.path.join(DATA, "events.parquet")
CORPUS_TABLES = ("documents", "embeddings")


# ---------------------------------------------------------------- lake feed

LAKE_BASE_ROWS = 20000
LAKE_DELTA_ROWS = 4000
LAKE_RUN_DATES = ["2024-03-01", "2024-03-02", "2024-03-03"]
INVALID_SHARE = 0.04


def lake_feed(out_dir, seed, base_rows=LAKE_BASE_ROWS,
              delta_rows=LAKE_DELTA_ROWS, run_dates=LAKE_RUN_DATES,
              orders=ORDERS):
    """Landed JSONL order feed, one ``run_date=<d>/part-0.jsonl`` per date.

    Date 0 inserts ``base_rows`` orders drawn without replacement from the
    sf0.1 ``orders`` table (key, customer, status, total price, order date
    and, inside ``Props``, priority). Each later date carries ``delta_rows``
    CDC changes: inserts of further unused orders, updates that give a live
    order the status and price of another sf0.1 order, and deletes. The
    table has no sales channel, item count or ship mode, so ``Props``
    carries seeded ones. Every line has a unique ``Seq``. A seeded
    ``INVALID_SHARE`` of lines break one validation rule (missing key,
    malformed date, non-numeric price, unknown status).
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    t = pq.read_table(orders, columns=["o_orderkey", "o_custkey", "o_orderstatus",
                                       "o_totalprice", "o_orderdate", "o_orderpriority"])
    okey = t.column("o_orderkey").to_pylist()
    cust = t.column("o_custkey").to_pylist()
    status = t.column("o_orderstatus").to_pylist()
    price = t.column("o_totalprice").to_pylist()
    odate = [str(d)[:10] for d in t.column("o_orderdate").to_numpy()]
    prio = t.column("o_orderpriority").to_pylist()
    unused = iter(rng.permutation(t.num_rows).tolist())
    channels = ["web", "app", "store", "phone"]
    modes = ["AIR", "RAIL", "SHIP", "TRUCK"]
    live = []
    seq = 0
    for di, day in enumerate(run_dates):
        lines = []
        n = base_rows if di == 0 else delta_rows
        for _ in range(n):
            r = rng.random()
            if di == 0 or r < 0.35 or not live:
                op, row = "I", next(unused)
                live.append(row)
                st, pr = status[row], price[row]
            elif r < 0.9:
                op, row = "U", live[int(rng.integers(0, len(live)))]
                other = int(rng.integers(0, t.num_rows))
                st, pr = status[other], price[other]
            else:
                idx = int(rng.integers(0, len(live)))
                op, row = "D", live[idx]
                live[idx] = live[-1]
                live.pop()
                st, pr = status[row], price[row]
            seq += 1
            rec = {
                "Order Key": okey[row],
                "customerId": cust[row],
                "Order Status": st,
                "Total Price": f"{pr:.2f}",
                "Order Date": odate[row],
                "Op": op,
                "Seq": seq,
                "Props": json.dumps(
                    {"priority": prio[row],
                     "channel": channels[int(rng.integers(0, 4))],
                     "items": int(rng.integers(1, 20)),
                     "ship": {"mode": modes[int(rng.integers(0, 4))]}},
                    separators=(",", ":")),
            }
            if rng.random() < INVALID_SHARE:
                bad = int(rng.integers(0, 4))
                if bad == 0:
                    del rec["Order Key"]
                elif bad == 1:
                    rec["Order Date"] = rec["Order Date"].replace("-", "/")
                elif bad == 2:
                    rec["Total Price"] = "n/a"
                else:
                    rec["Order Status"] = "X"
            lines.append(json.dumps(rec, separators=(",", ":")))
        d = f"{out_dir}/run_date={day}"
        os.makedirs(d, exist_ok=True)
        with open(f"{d}/part-0.jsonl", "w") as f:
            f.write("\n".join(lines) + "\n")


# -------------------------------------------------------------- stream feed

STREAM_FILES = 40
STREAM_ROWS_PER_FILE = 250
STREAM_DISPLACE_US = 480_000_000   # late deliveries lag by < 8 min (watermark 10)
STREAM_LATE_SHARE = 0.3            # of the events that close enough to a file's end
STREAM_DUP_SHARE = 0.03            # exact re-deliveries of in-watermark events
STREAM_SENTINEL_US = 30 * 86_400_000_000


def stream_feed(out_dir, seed, files=STREAM_FILES,
                rows_per_file=STREAM_ROWS_PER_FILE, events=EVENTS):
    """``f-%05d.jsonl`` micro-batch files plus a final sentinel file.

    The files hold ``files * rows_per_file`` consecutive sf0.1 events from
    a seeded start, in event-time order, with the table's event type and
    user; ``text`` is the event's ``props`` document tagged with its id.
    Values are the table's rounded to a multiple of 1/4, so every window
    sum is exact in binary and the sink's content cannot depend on where
    batch boundaries fall. A seeded share of the events within
    ``STREAM_DISPLACE_US`` of a file's last event time arrive one file
    late, and a seeded share of rows re-deliver an event from the same
    span, so no event is ever later than the watermark.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    t = pq.read_table(events, columns=["event_id", "ts", "user_id", "event_type",
                                       "value", "props"])
    n = files * rows_per_file
    start = int(rng.integers(0, t.num_rows - n))
    t = t.slice(start, n)
    ts = t.column("ts").to_numpy().astype("int64")
    eid = t.column("event_id").to_pylist()
    uid = t.column("user_id").to_pylist()
    etype = t.column("event_type").to_pylist()
    value = t.column("value").to_pylist()
    props = t.column("props").to_pylist()

    def line(k):
        return json.dumps({
            "event_id": eid[k], "ts": _iso(ts[k]), "user_id": uid[k],
            "event_type": etype[k], "value": round(value[k] * 4) / 4,
            "text": f"{props[k]} #{eid[k]}"}, separators=(",", ":"))

    carried = []
    end = 0
    for i in range(files):
        own = list(range(i * rows_per_file, (i + 1) * rows_per_file))
        end = max(end, int(ts[own[-1]]))
        late = {k for k in own if i + 1 < files and ts[k] >= end - STREAM_DISPLACE_US
                and rng.random() < STREAM_LATE_SHARE}
        rows = [k for k in own if k not in late] + carried
        carried = sorted(late)
        recent = [k for k in rows if ts[k] >= end - STREAM_DISPLACE_US]
        out = [line(k) for k in rows]
        dups = int(rng.binomial(len(rows), STREAM_DUP_SHARE)) if recent else 0
        for _ in range(dups):
            out.insert(int(rng.integers(0, len(out) + 1)),
                       line(recent[int(rng.integers(0, len(recent)))]))
        with open(f"{out_dir}/f-{i:05d}.jsonl", "w") as f:
            f.write("\n".join(out) + "\n")
    sentinel = {"event_id": -1, "ts": _iso(end + STREAM_SENTINEL_US),
                "user_id": -1, "event_type": "__advance__", "value": 0.0,
                "text": "__sentinel__"}
    with open(f"{out_dir}/f-{files:05d}.jsonl", "w") as f:
        f.write(json.dumps(sentinel, separators=(",", ":")) + "\n")


def _iso(us):
    return str(np.datetime64(int(us), "us")).replace("T", " ")


def main(argv):
    p = argparse.ArgumentParser()
    p.add_argument("kind", choices=["lake_feed", "stream_feed"])
    p.add_argument("out_dir")
    p.add_argument("--seed", type=int, required=True)
    a = p.parse_args(argv)
    if a.kind == "lake_feed":
        lake_feed(a.out_dir, a.seed)
    else:
        stream_feed(a.out_dir, a.seed)


if __name__ == "__main__":
    main(sys.argv[1:])
