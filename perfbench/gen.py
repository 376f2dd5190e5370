"""Seeded input generator for the benchmark.

Writes the ten tables the program reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file each)
with the same schemas and value distributions as the project's test data:
uniform TPC-H-ish keys and measures, an `events` stream sorted by time,
30-word-vocabulary documents of which 5% are near-duplicates (another
document's text plus " dup"), and unit-norm 64-dim float embeddings with
ten labels. The same (seed, scale) always gives byte-identical files.

`write_corpus` builds the multi-copy curation corpus the way the
repository's `make_sf1` tool builds its scaling corpus: copy i of the
documents swaps vowels through its own alphabet and copy i of the
embeddings rotates each vector by i positions, so copies are not
near-duplicates of each other while each copy keeps the base corpus's own
near-duplicate density.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# Per-copy vowel alphabets for the multi-copy corpus; index 0 is identity.
VOWEL_MAPS = ["aeiou", "eioua", "iouae", "ouaei", "uaeio",
              "ycxwz", "bdfgh", "jklmn", "pqrst", "vwxyz"]
DIM = 64
US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(table, path):
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows))


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    n_dup = n // 20
    dup_ids = np.sort(rng.choice(n, n_dup, replace=False))
    for i in dup_ids:
        src = int(rng.integers(0, n - 1))
        src += src >= i
        texts[i] = texts[src] + " dup"
    return texts


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.standard_normal((10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = rng.standard_normal((n, DIM)) / np.sqrt(DIM) + 0.07 * centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), labels


def _vector_column(x):
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def write_tables(out, sf, seed):
    """All ten tables at scale factor `sf` (sf=0.1 gives 600k lineitems)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(1, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))

    _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": pa.array(REGIONS)}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust)}), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}),
        f"{out}/supplier.parquet")
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1))}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * US_PER_DAY),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord)}), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _choice(rng, ["N", "A", "R"], n_li),
        "l_linestatus": _choice(rng, ["O", "F"], n_li),
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2499, n_li)) * US_PER_DAY)}),
        f"{out}/lineitem.parquet")
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}),
        f"{out}/events.parquet")
    write_corpus(out, max(500, int(50_000 * sf)), max(500, int(20_000 * sf)), 1, seed)


def write_corpus(out, n_docs, n_vecs, copies, seed):
    """`documents` and `embeddings` as `copies` transformed copies of one
    seeded base corpus (constant near-duplicate density)."""
    assert 1 <= copies <= len(VOWEL_MAPS)
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    texts = _documents(rng, n_docs)
    langs = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    x, labels = _embeddings(rng, n_vecs)
    ids, out_texts = [], []
    for i in range(copies):
        table = str.maketrans("aeiouAEIOU", VOWEL_MAPS[i] + VOWEL_MAPS[i].upper())
        ids.append(np.arange(n_docs, dtype=np.int64) + i * 10_000_000)
        out_texts.extend(t.translate(table) for t in texts)
    doc_ids = np.concatenate(ids)
    _write(pa.table({
        "doc_id": pa.array(doc_ids),
        "text": pa.array(out_texts, pa.string()),
        "lang": pa.array(np.tile(langs, copies), pa.string()),
        "source": pa.array([f"src{d % 20}" for d in doc_ids % 10_000_000]),
        "n_chars": pa.array(np.array([len(t) for t in out_texts], dtype=np.int64))}),
        f"{out}/documents.parquet")
    vecs = np.concatenate([np.roll(x, i, axis=1) for i in range(copies)])
    _write(pa.table({
        "vec_id": pa.array(np.concatenate(
            [np.arange(n_vecs, dtype=np.int64) + i * 1_000_000 for i in range(copies)])),
        "embedding": _vector_column(vecs),
        "label": pa.array(np.tile(labels, copies))}), f"{out}/embeddings.parquet")
