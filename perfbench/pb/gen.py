"""Seeded input generators. The same seed gives byte-identical inputs.

The synthetic tables follow the shape of the project's sf-scaled test
tables (TESTDATA.md): a documents table of random words over a 30-word
vocabulary, 64-d unit embeddings, an events stream and a TPC-H-like star.
"""
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# rows per table: "main" is the sf0.1 shape, "check" the sf0.001 shape with
# its documents cut to 60 rows (the DuckDB near-dup oracle is quadratic in
# documents: 27 s per query at 500 rows, about 1 s at 100)
SCALES = {
    "main": dict(documents=5000, embeddings=2000, events=100000, orders=150000,
                 customer=15000, lineitem=600000, users=1500),
    "check": dict(documents=60, embeddings=500, events=1000, orders=1500,
                  customer=150, lineitem=6000, users=150),
}
EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
ORDER_EPOCH = np.datetime64("1995-01-01", "D")

DOC_ROW_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                  ("media_ref", pa.string()), ("offset", pa.int32())]))),
])


def rng(seed, *stream):
    """Independent generator per (seed, stream) pair."""
    return np.random.default_rng([int(seed) & 0xFFFFFFFF, *stream])


def doc_id_offset(seed):
    """Seeded doc_id base. Ids stay below 1,000,000: queries plant copies at
    doc_id + 1,000,000."""
    return int(rng(seed, 1).integers(0, 900_000))


def documents(seed, n, offset):
    r = rng(seed, 2, n)
    texts = []
    for i in range(n):
        words = list(r.choice(VOCAB, size=int(r.integers(10, 101))))
        if r.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    # a few exact duplicates, as in the reference tables
    for _ in range(max(1, n // 600)):
        a, b = r.integers(0, n, size=2)
        texts[b] = texts[a]
    ids = np.arange(offset, offset + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": list(r.choice(LANGS, size=n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed, n):
    r = rng(seed, 3, n)
    x = r.standard_normal((n, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": r.integers(0, 10, size=n).astype(np.int32),
    })


def events(seed, n, users):
    r = rng(seed, 4, n)
    secs = np.sort(r.uniform(0, 30 * 86400, size=n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(EPOCH + (secs * 1e6).astype("timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": r.integers(0, users, size=n).astype(np.int64),
        "event_type": list(r.choice(["view", "click", "purchase", "signup", "error"], size=n)),
        "value": np.round(r.exponential(50.0, size=n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, size=n)],
    })


def tpch(seed, orders_n, customer_n, lineitem_n):
    r = rng(seed, 5, lineitem_n)
    order_days = r.integers(0, 2404, size=orders_n)
    orders = pa.table({
        "o_orderkey": np.arange(orders_n, dtype=np.int64),
        "o_custkey": r.integers(0, customer_n, size=orders_n).astype(np.int64),
        "o_orderstatus": list(r.choice(["O", "F", "P"], size=orders_n)),
        "o_totalprice": np.round(r.uniform(1000, 500000, size=orders_n), 2),
        "o_orderdate": pa.array((ORDER_EPOCH + order_days).astype("datetime64[us]"),
                                type=pa.timestamp("us")),
        "o_orderpriority": list(r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=orders_n)),
    })
    customer = pa.table({
        "c_custkey": np.arange(customer_n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(customer_n)],
        "c_nationkey": r.integers(0, 25, size=customer_n).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, size=customer_n), 2),
        "c_mktsegment": list(r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], size=customer_n)),
    })
    ship_days = r.integers(0, 2600, size=lineitem_n)
    lineitem = pa.table({
        "l_orderkey": r.integers(0, orders_n, size=lineitem_n).astype(np.int64),
        "l_partkey": r.integers(0, 20000, size=lineitem_n).astype(np.int64),
        "l_suppkey": r.integers(0, 1000, size=lineitem_n).astype(np.int64),
        "l_linenumber": r.integers(1, 8, size=lineitem_n).astype(np.int32),
        "l_quantity": r.integers(1, 51, size=lineitem_n).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 105000, size=lineitem_n), 2),
        "l_discount": np.round(r.uniform(0, 0.1, size=lineitem_n), 2),
        "l_tax": np.round(r.uniform(0, 0.08, size=lineitem_n), 2),
        "l_returnflag": list(r.choice(["A", "N", "R"], size=lineitem_n)),
        "l_linestatus": list(r.choice(["O", "F"], size=lineitem_n)),
        "l_shipdate": pa.array((ORDER_EPOCH + ship_days).astype("datetime64[us]"),
                               type=pa.timestamp("us")),
    })
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    return dict(orders=orders, customer=customer, lineitem=lineitem, nation=nation)


def write_tables(out_dir, seed, scale, tables=None):
    """Write the tables of one scale as <name>.parquet. Returns doc count."""
    s = SCALES[scale]
    os.makedirs(out_dir, exist_ok=True)
    t = {"documents": documents(seed, s["documents"], doc_id_offset(seed))}
    if tables is None or "embeddings" in tables:
        t["embeddings"] = embeddings(seed, s["embeddings"])
    if tables is None or "events" in tables:
        t["events"] = events(seed, s["events"], s["users"])
    if tables is None or "orders" in tables:
        t.update(tpch(seed, s["orders"], s["customer"], s["lineitem"]))
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return s["documents"]


# ------------------------------------------------------------ real pages

_SKIP = re.compile(r"(<script\b.*?</script\s*>|<style\b.*?</style\s*>|<!--.*?-->|<[^>]*>)",
                   re.S | re.I)
_WORD = re.compile(r"\b[^\W\d_]{4,}\b")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def page_variant(html, seed, variant):
    """Replace one word in every text run of three or more words with a
    seeded pseudo-word. Main content is made of such runs, so each variant's
    extracted text differs from every other variant's."""
    r = rng(seed, 6, variant)
    parts = _SKIP.split(html)
    for i in range(0, len(parts), 2):  # even parts are text between tags
        words = list(_WORD.finditer(parts[i]))
        if len(words) >= 3:
            w = words[int(r.integers(0, len(words)))]
            new = "".join(r.choice(_LETTERS, size=8))
            parts[i] = parts[i][:w.start()] + new + parts[i][w.end():]
    return "".join(parts)


def real_docs(pages, seed, per_page):
    """Seeded variants of each page as (doc_id, html) rows."""
    rows = []
    for p, html in enumerate(pages):
        for v in range(per_page):
            rows.append((f"real-{p}-{v}", page_variant(html, seed, p * 100003 + v)))
    order = rng(seed, 7).permutation(len(rows))
    return [rows[i] for i in order]


def write_doc_rows(path, rows):
    spans = [[{"kind": "html", "text": html, "media_ref": None, "offset": 0}] for _, html in rows]
    pq.write_table(pa.table({"doc_id": [d for d, _ in rows], "spans": spans},
                            schema=DOC_ROW_SCHEMA), path)


# ------------------------------------------------------------ bucketing

_M = 0xFFFFFFFF


def _rotl(x, r):
    return ((x << r) | (x >> (32 - r))) & _M


def _mix(h, k):
    k = (k * 0xCC9E2D51) & _M
    k = _rotl(k, 15)
    k = (k * 0x1B873593) & _M
    h ^= k
    h = _rotl(h, 13)
    return (h * 5 + 0xE6546B64) & _M


def spark_hash(s, seed=42):
    """Spark's `hash()` of a string column (Murmur3_x86_32.hashUnsafeBytes:
    4-byte little-endian blocks, then each tail byte mixed on its own)."""
    b = s.encode("utf-8")
    h = seed
    n4 = len(b) - len(b) % 4
    for i in range(0, n4, 4):
        h = _mix(h, int.from_bytes(b[i:i + 4], "little"))
    for x in b[n4:]:
        h = _mix(h, (x - 256 if x > 127 else x) & _M)
    h ^= len(b)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


def bucket_of(doc_id, buckets):
    """The runner's bucket: pmod(hash(doc_id), buckets)."""
    return spark_hash(doc_id) % buckets


def bucket_counts(doc_ids, buckets):
    counts = [0] * buckets
    for d in doc_ids:
        counts[bucket_of(d, buckets)] += 1
    return counts
