"""Seeded input generator for the graft benchmark.

Everything the benchmark feeds graft is made here from the committed
base tables (`data/base`, a copy of the sf0.01 star schema) and the
seed alone; graft sees only the files written to the output directory.

- query_mix, star schema: dimensions copied as they are; orders,
  lineitem and events replicated FACTOR times with per-copy key offsets, each copy keeping a
  seeded 95% of its orders (with their lineitems) and of its events.
- query_mix, corpus: documents and embeddings replicated FACTOR times. Every copy
  salts every third word with a seeded token, so copies are
  shingle-disjoint while each copy keeps the base corpus's
  near-duplicate structure; each copy shifts its vectors by a seeded
  offset and keeps a seeded 95% of the rows.
- lake_ingest: STEPS ingest batches of BATCH_ROWS generated rows and
  STEPS event micro-batches sampled from the base events with fresh ids
  and shifted timestamps.

Usage: python3 gen.py <workload> <seed> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "base")
FACTOR = 2
KEEP = 0.95
STEPS = 400
BATCH_ROWS = 2000
EVENTS_PER_MB = 400
WORDS = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "theta"]


def base(name):
    return pq.read_table(os.path.join(BASE, f"{name}.parquet"))


def write(table, out_dir, name):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def with_column(t, name, values):
    return t.set_column(t.schema.get_field_index(name), name, values)


def offset(t, col, by):
    return with_column(t, col, pc.add(t[col], pa.scalar(by, t.schema.field(col).type)))


def key_span(t, col):
    return int(pc.max(t[col]).as_py()) + 1


def warehouse(rng, out_dir, factor):
    for name in ["region", "nation", "customer", "supplier", "part"]:
        write(base(name), out_dir, name)
    orders, lineitem, events = base("orders"), base("lineitem"), base("events")
    span_o, span_e = key_span(orders, "o_orderkey"), key_span(events, "event_id")
    o_parts, l_parts, e_parts = [], [], []
    for i in range(factor):
        keep = orders.filter(pa.array(rng.random(orders.num_rows) < KEEP))
        kept_keys = keep["o_orderkey"]
        li = lineitem.filter(pc.is_in(lineitem["l_orderkey"], value_set=kept_keys))
        o_parts.append(offset(keep, "o_orderkey", i * span_o))
        l_parts.append(offset(li, "l_orderkey", i * span_o))
        ev = events.filter(pa.array(rng.random(events.num_rows) < KEEP))
        e_parts.append(offset(ev, "event_id", i * span_e))
    write(pa.concat_tables(o_parts), out_dir, "orders")
    write(pa.concat_tables(l_parts), out_dir, "lineitem")
    write(pa.concat_tables(e_parts), out_dir, "events")


def salt_text(text, salt):
    words = text.split(" ")
    return " ".join(w + "·" + salt if p % 3 == 0 else w for p, w in enumerate(words))


def curate(rng, out_dir, factor):
    docs, emb = base("documents"), base("embeddings")
    span_d, span_v = key_span(docs, "doc_id"), key_span(emb, "vec_id")
    d_parts, v_parts = [], []
    for i in range(factor):
        salt = f"{int(rng.integers(1 << 30)):x}{i}"
        d = docs.filter(pa.array(rng.random(docs.num_rows) < KEEP))
        text = [salt_text(s, salt) for s in d["text"].to_pylist()]
        d = with_column(d, "text", pa.array(text, pa.string()))
        d = with_column(d, "n_chars", pa.array([len(s) for s in text], pa.int64()))
        d_parts.append(offset(d, "doc_id", i * span_d))
        shift = np.float32((i + rng.random() * 0.5) * 0.001)
        v = emb.filter(pa.array(rng.random(emb.num_rows) < KEEP))
        vecs = [(np.asarray(x, dtype=np.float32) + shift).tolist() for x in v["embedding"].to_pylist()]
        v = with_column(v, "embedding", pa.array(vecs, pa.list_(pa.float32())))
        v_parts.append(offset(v, "vec_id", i * span_v))
    write(pa.concat_tables(d_parts), out_dir, "documents")
    write(pa.concat_tables(v_parts), out_dir, "embeddings")


def lake_ingest(rng, out_dir):
    n = STEPS * BATCH_ROWS
    batch = np.repeat(np.arange(STEPS, dtype=np.int32), BATCH_ROWS)
    notes = np.array(WORDS)[rng.integers(len(WORDS), size=n)]
    write(pa.table({
        "batch": batch,
        "k": np.arange(n, dtype=np.int64),
        "user_id": rng.integers(1, 5000, size=n, dtype=np.int64),
        "amount_cents": rng.integers(1, 1_000_000, size=n, dtype=np.int64),
        "note": pa.array(notes.tolist(), pa.string()),
    }), out_dir, "ingest_batches")

    ev = base("events")
    pick = rng.integers(ev.num_rows, size=STEPS * EVENTS_PER_MB)
    mb = np.repeat(np.arange(STEPS, dtype=np.int32), EVENTS_PER_MB)
    ts = ev["ts"].to_numpy()[pick] + (mb.astype("int64") * 3_600_000_000).astype("timedelta64[us]")
    write(pa.table({
        "mb": mb,
        "event_id": np.arange(STEPS * EVENTS_PER_MB, dtype=np.int64) + 1,
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": ev["user_id"].to_numpy()[pick],
        "event_type": ev["event_type"].take(pa.array(pick)),
        "value": ev["value"].to_numpy()[pick],
    }), out_dir, "stream_events")


def generate(workload, seed, out_dir):
    """Writes the workload's inputs for `seed` to `out_dir`; returns
    {table: {"rows": n, "bytes": b}}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    if workload == "lake_ingest":
        lake_ingest(rng, out_dir)
    elif workload == "query_mix":
        warehouse(rng, out_dir, FACTOR)
        curate(rng, out_dir, FACTOR)
    else:
        raise ValueError(f"unknown workload {workload}")
    out = {}
    for f in sorted(os.listdir(out_dir)):
        if f.endswith(".parquet"):
            p = os.path.join(out_dir, f)
            out[f[: -len(".parquet")]] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                                          "bytes": os.path.getsize(p)}
    return out


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
