"""Seeded input generators for the benchmark.

Every generator is a pure function of (seed, scale): the same arguments
write the same parquet bytes, another seed writes different bytes.

- `suite_tables` writes the ten tables the query suite reads (region,
  nation, customer, supplier, part, orders, lineitem, events, documents,
  embeddings) with the schemas, key ranges and value distributions of
  the TPC-H-ish test data the queries were written against.
- `pipe_table` writes the pipe workload's input: a long key, an int, a
  double and a string column whose lengths and share of tab, newline,
  backslash and null values are fixed by the seed.
- `ingest_files` writes the ingest workload's base documents and its
  per-tick files of new, partly perturbed copies.

Run `python3 perfbench/gen.py suite <outdir> <seed> <sf>` or
`python3 perfbench/gen.py pipe <outdir> <seed> <rows>x<parts>` or
`python3 perfbench/gen.py ingest <outdir> <seed> <base>x<files>x<docs>`.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401 (pa.compute)
import pyarrow.parquet as pq

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]


def _write(table, path):
    # one row group per file, like the test data the queries were tuned on
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, ndays, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, ndays, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _text(rng, n_words):
    idx = rng.integers(0, len(WORDS), n_words)
    return " ".join(WORDS[i] for i in idx)


def documents(rng, n, first_id=0, dup_share=0.05):
    """`n` documents of 10-100 words; `dup_share` of them copy an
    earlier document and append " dup" (the near-duplicate signal the
    dedup queries look for)."""
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def suite_tables(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150000 * sf), max(10, int(10000 * sf))
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS)}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    }), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
    }), f"{out}/lineitem.parquet")
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(15, int(15000 * sf)), n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }), f"{out}/events.parquet")
    _write(documents(rng, n_doc), f"{out}/documents.parquet")
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }), f"{out}/embeddings.parquet")


SPECIALS = [b"\t", b"\n", b"\\"]
ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789 ", dtype=np.uint8)


def pipe_table(out_dir, seed, rows, parts):
    """The pipe workload's input: `parts` parquet files of one row group
    each (one scan partition per file). The seed draws every string's
    length (0 to 32), the share of rows holding each special character,
    and the null share."""
    rng = np.random.default_rng([seed, 2])
    # narrow ranges: every seed asks the codecs for about the same work
    max_len = 32
    special_share = rng.uniform(0.02, 0.03, len(SPECIALS))
    null_share = float(rng.uniform(0.02, 0.03))
    lengths = rng.integers(0, max_len + 1, rows)
    offsets = np.zeros(rows + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    data = ALPHABET[rng.integers(0, len(ALPHABET), int(offsets[-1]))]
    for ch, share in zip(SPECIALS, special_share):
        hit = np.nonzero((rng.random(rows) < share) & (lengths > 0))[0]
        at = offsets[hit] + (rng.random(len(hit)) * lengths[hit]).astype(np.int32)
        data[at] = ch[0]
    strs = pa.StringArray.from_buffers(rows, pa.py_buffer(offsets.tobytes()),
                                       pa.py_buffer(data.tobytes()))
    nulls = rng.random((3, rows)) < null_share
    # int32 minimum is R's integer NA, so the range stops one above it
    ints = rng.integers(-2**31 + 1, 2**31 - 1, rows).astype(np.int32)
    dbls = np.round(rng.standard_normal(rows) * 1000.0, 3)
    table = pa.table({
        "k": np.arange(rows, dtype=np.int64) * 7919 + seed,
        "i": pa.array(ints, pa.int32(), mask=nulls[0]),
        "d": pa.array(dbls, pa.float64(), mask=nulls[1]),
        "s": pa.compute.if_else(pa.array(nulls[2]), pa.scalar(None, pa.string()), strs),
    })
    os.makedirs(out_dir, exist_ok=True)
    step = -(-rows // parts)
    for p in range(parts):
        _write(table.slice(p * step, step), f"{out_dir}/part-{p:03d}.parquet")


def ingest_files(out_dir, seed, n_base, n_files, docs_per_file):
    """The ingest workload's input: `base.parquet`, the documents the
    chunk index is built from, and `ticks/tick-NNNNN.parquet`, one file
    of new documents per generator tick. Each tick document copies a
    base document under a fresh doc_id; the seed fixes the share kept
    verbatim, and the rest have each word replaced with probability 1/8
    by a drawn vocabulary word."""
    rng = np.random.default_rng([seed, 3])
    base = documents(rng, n_base)
    os.makedirs(f"{out_dir}/ticks", exist_ok=True)
    _write(base, f"{out_dir}/base.parquet")
    texts = base.column("text").to_pylist()
    verbatim_share = float(rng.uniform(0.2, 0.6))
    next_id = n_base
    for f in range(n_files):
        out = []
        for b in rng.integers(0, n_base, docs_per_file):
            words = texts[b].split(" ")
            if rng.random() >= verbatim_share:
                swap = np.nonzero(rng.random(len(words)) < 0.125)[0]
                for w, v in zip(swap, rng.integers(0, len(WORDS), len(swap))):
                    words[w] = WORDS[v]
            out.append(" ".join(words))
        _write(pa.table({
            "doc_id": np.arange(next_id, next_id + docs_per_file, dtype=np.int64),
            "text": pa.array(out, pa.string()),
        }), f"{out_dir}/ticks/tick-{f:05d}.parquet")
        next_id += docs_per_file


if __name__ == "__main__":
    kind, out, seed, size = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]
    if kind == "suite":
        suite_tables(out, seed, float(size))
    elif kind == "pipe":
        rows, parts = size.split("x")
        pipe_table(out, seed, int(rows), int(parts))
    elif kind == "ingest":
        base, files, per = size.split("x")
        ingest_files(out, seed, int(base), int(files), int(per))
    else:
        sys.exit(f"unknown generator: {kind}")
