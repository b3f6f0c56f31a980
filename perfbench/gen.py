"""Seeded input generators for the four benchmark workloads.

Every table is drawn from ``numpy.random.default_rng(seed)``: the same
seed gives the same bytes. Schemas follow the TPC-H-shaped tables the
engine's own tests use (lineitem/orders/customer/part/supplier/nation/
region, documents, embeddings); only the sizes and distributions below
are the benchmark's own. The program under test only ever sees the
parquet files these functions write.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# -- sizes (recorded in BENCHMARK.json) --------------------------------------

KERNEL_ORDERS = 15_000          # ~60k lineitem rows (4 lines per order on average)
BATCH_ORDERS = 30_000           # ~120k lineitem rows
N_PARTS = 20_000
N_SUPPLIERS = 1_000
N_CUSTOMERS = 15_000
PARTKEY_ZIPF_S = 1.1            # key skew of l_partkey (bounded Zipf exponent)

CORPUS_DOCS = 200
NEAR_DUP_SHARE = 0.20           # share of docs that are edited copies of another doc
EXACT_DUP_SHARE = 0.05          # share of docs that are case/whitespace copies
EMB_VECTORS = 400
EMB_DIM = 64
EMB_CLUSTERS = 32
EMB_DUP_SHARE = 0.05            # share of vectors that are jittered copies

LAKE_BATCH_ROWS = 2_000
#: parquet row-group size of every generated file: several row groups per
#: large table, so Spark can split a scan across cores
ROW_GROUP_ROWS = 50_000
LAKE_GROUPS = 24

_EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")

NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def write_table(df: pd.DataFrame, path: str) -> str:
    """Write *df* as one parquet file of ``ROW_GROUP_ROWS``-row groups.
    Naive timestamps are stored as UTC instants so Spark reads them as
    TIMESTAMP (not TIMESTAMP_NTZ)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_dtype(df[c]):
            df[c] = df[c].dt.tz_localize("UTC")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   row_group_size=ROW_GROUP_ROWS)
    return path


def _zipf_keys(rng, n_keys: int, size: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    return rng.choice(n_keys, size=size, p=w / w.sum()) + 1


# -- star schema --------------------------------------------------------------

def star_schema(seed: int, n_orders: int) -> dict[str, pd.DataFrame]:
    """lineitem + orders + the five dimension tables."""
    rng = np.random.default_rng(seed)
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                           "r_name": REGIONS})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": NATIONS,
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(1, N_SUPPLIERS + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, N_SUPPLIERS + 1)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIERS).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIERS), 2)})
    part = pd.DataFrame({
        "p_partkey": np.arange(1, N_PARTS + 1, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(1, N_PARTS + 1)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, N_PARTS)],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE",
                              "ECONOMY", "PROMO"], N_PARTS),
        "p_size": rng.integers(1, 51, N_PARTS).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2100, N_PARTS), 2)})
    customer = pd.DataFrame({
        "c_custkey": np.arange(1, N_CUSTOMERS + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, N_CUSTOMERS + 1)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMERS), 2),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMERS)})
    okeys = np.arange(1, n_orders + 1, dtype=np.int64)
    odate = _EPOCH_1992 + rng.integers(0, 2405, n_orders).astype(
        "timedelta64[D]")
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    l_orderkey = np.repeat(okeys, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    l_partkey = _zipf_keys(rng, N_PARTS, n, PARTKEY_ZIPF_S).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * part["p_retailprice"].to_numpy()[l_partkey - 1], 2)
    ship = (np.repeat(odate, lines)
            + rng.integers(1, 122, n).astype("timedelta64[D]"))
    lineitem = pd.DataFrame({
        "l_orderkey": l_orderkey,
        "l_partkey": l_partkey,
        "l_suppkey": rng.integers(1, N_SUPPLIERS + 1, n).astype(np.int64),
        "l_linenumber": l_linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": ship.astype("datetime64[us]")})
    totals = pd.Series(price).groupby(l_orderkey).sum().to_numpy()
    orders = pd.DataFrame({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, N_CUSTOMERS + 1, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(totals, 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})
    return {"lineitem": lineitem, "orders": orders, "customer": customer,
            "part": part, "supplier": supplier, "nation": nation,
            "region": region}


def write_star(seed: int, n_orders: int, out_dir: str,
               only: tuple[str, ...] | None = None) -> dict[str, pd.DataFrame]:
    """Generate the star schema and write the tables named in *only*
    (all of them by default); returns every table."""
    tables = star_schema(seed, n_orders)
    for name, df in tables.items():
        if only is None or name in only:
            write_table(df, os.path.join(out_dir, f"{name}.parquet"))
    return tables


# -- corpus -------------------------------------------------------------------

#: words that mark exactly one language in the engine's lang-id marker lists
LANG_WORDS = {"en": ["the", "and", "of", "you"],
              "de": ["der", "und", "ist", "nicht"],
              "fr": ["les", "et", "est", "pas"],
              "es": ["el", "los", "y", "por"]}
_SYLLABLES = ["ka", "lo", "mi", "ru", "te", "san", "vor", "qua", "zel", "bri",
              "nox", "fen", "tal", "gri", "mon", "pe", "sil", "dra", "vu", "hem"]


def _vocabulary(rng, size: int) -> list[str]:
    reserved = {w for ws in LANG_WORDS.values() for w in ws}
    reserved |= {"the", "and", "of", "to", "a", "in", "is", "it", "you",
                 "that", "der", "die", "das", "und", "ist", "nicht", "ein",
                 "ich", "zu", "mit", "le", "la", "les", "et", "est", "pas",
                 "une", "je", "que", "des", "el", "los", "y", "es", "no",
                 "una", "yo", "por"}
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(2, 5))
        w = "".join(rng.choice(_SYLLABLES, k))
        if w not in seen and w not in reserved:
            seen.add(w)
            words.append(w)
    return words


def corpus(seed: int, n_docs: int = CORPUS_DOCS) -> pd.DataFrame:
    """Documents with planted language, exact duplicates and near-duplicates.

    Columns: doc_id, text, lang (planted truth), source, n_chars,
    dup_of (-1, or the doc this one copies) and dup_kind
    ('', 'exact' or 'near')."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocabulary(rng, 3000))
    wz = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    wz /= wz.sum()
    langs = rng.choice(["en", "de", "fr", "es"], n_docs, p=[.5, .2, .15, .15])
    texts: list[str] = []
    dup_of = np.full(n_docs, -1, dtype=np.int64)
    kind = np.array([""] * n_docs, dtype=object)
    roll = rng.random(n_docs)
    for i in range(n_docs):
        if i >= 50 and roll[i] < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            j = int(rng.integers(0, i))
            while dup_of[j] >= 0:
                j = int(dup_of[j])
            dup_of[i] = j
            langs[i] = langs[j]
            words = texts[j].split()
            if roll[i] < EXACT_DUP_SHARE:
                kind[i] = "exact"
                texts.append("  " + " ".join(words).upper() + " ")
                continue
            kind[i] = "near"
            # replace ~1 word in 60: shingle Jaccard stays above ~0.9
            for _ in range(max(1, len(words) // 60)):
                words[int(rng.integers(0, len(words)))] = str(
                    rng.choice(vocab, p=wz))
            texts.append(" ".join(words))
            continue
        n = int(rng.integers(40, 120))
        words = list(rng.choice(vocab, n, p=wz))
        if rng.random() < 0.05:
            words = words[: n // 3] * 3          # boilerplate repetition
            n = len(words)
        markers = LANG_WORDS[langs[i]]
        for pos in rng.choice(n, max(3, n // 8), replace=False):
            words[pos] = markers[int(rng.integers(0, len(markers)))]
        if rng.random() < 0.1:
            words.insert(int(rng.integers(0, n)),
                         f"{words[0]}.{int(rng.integers(100, 999))}@example.com")
        if rng.random() < 0.1:
            words.insert(int(rng.integers(0, n)),
                         f"555-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))}")
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": rng.choice(["web", "books", "code", "forum"], n_docs),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        "dup_of": dup_of,
        "dup_kind": kind.astype(str)})


def embeddings(seed: int, n: int = EMB_VECTORS, dim: int = EMB_DIM,
               clusters: int = EMB_CLUSTERS):
    """Clustered unit-ish vectors plus jittered near-copies: a frame with
    vec_id, embedding and label (the cluster)."""
    rng = np.random.default_rng(seed + 7919)
    centers = rng.normal(size=(clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, clusters, n)
    vecs = centers[label] + rng.normal(scale=0.25, size=(n, dim))
    copy_rows = np.flatnonzero(rng.random(n) < EMB_DUP_SHARE)
    copy_rows = copy_rows[copy_rows > 0]
    src = (rng.random(len(copy_rows)) * copy_rows).astype(np.int64)
    # keep copies inside the source's cluster so blocking by label finds them
    label[copy_rows] = label[src]
    vecs[copy_rows] = vecs[src] + rng.normal(scale=0.01,
                                             size=(len(copy_rows), dim))
    vecs = vecs.astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(vecs),
                         "label": label.astype(np.int32)})


# -- lake batches -------------------------------------------------------------

def lake_batch(rng, start_id: int, rows: int = LAKE_BATCH_ROWS) -> pd.DataFrame:
    """One append batch of fresh ids starting at *start_id*."""
    ids = np.arange(start_id, start_id + rows, dtype=np.int64)
    return pd.DataFrame({
        "id": ids,
        "grp": np.array([f"g{g:02d}" for g in
                         _zipf_keys(rng, LAKE_GROUPS, rows, 0.8)]),
        "qty": rng.integers(1, 100, rows).astype(np.int64),
        "price": np.round(rng.uniform(1, 1000, rows), 2),
        "ts": (_EPOCH_1992 + rng.integers(0, 10 ** 6, rows)
               .astype("timedelta64[s]")).astype("datetime64[us]")})


def quotes(seed: int, quotes_per_part: int = 5) -> pd.DataFrame:
    """Price quotes per part at distinct, never-midnight instants — the
    right side of the as-of join (one match per (part, ship date))."""
    rng = np.random.default_rng(seed + 104729)
    pk = np.repeat(np.arange(1, N_PARTS + 1, dtype=np.int64), quotes_per_part)
    day = rng.integers(0, 2520, len(pk))
    sec = rng.integers(0, 43199, len(pk)) * 2 + 1      # odd second of day
    t = _EPOCH_1992 + (day * 86400 + sec).astype("timedelta64[s]")
    df = pd.DataFrame({"pk": pk, "t": t.astype("datetime64[us]"),
                       "q_price": np.round(rng.uniform(900, 2100, len(pk)), 2)})
    return df.drop_duplicates(["pk", "t"]).reset_index(drop=True)
