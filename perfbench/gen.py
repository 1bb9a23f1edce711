"""Seeded input generator for the benchmark.

Writes the test-table schemas (customer, orders, lineitem, part) and an
arriving-document corpus as parquet files. Every value is drawn from one
numpy generator seeded by the caller, and pyarrow writes parquet without
timestamps or random file names, so the same seed and sizes give
byte-identical files.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NATIONS = 25
BRANDS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = ["blue", "hot", "large", "ring", "bolt", "steel", "brass", "tin"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
FLAGS = ["A", "N", "R"]
DAY_US = 86_400_000_000
EPOCH_1992_US = 694_224_000_000_000
# Words the training-prep normalization scrubs; kept frequent in the corpus.
STOPWORDS = ["the", "a", "of", "and", "to"]
# The evaluation slice of the corpus (TrainingPrep.Config default).
EVAL_MODULUS = 97


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


ORDERS_PER_CUSTOMER = 10
LINES_PER_ORDER = 4  # mean; uniform over 1..7


def gen_tables(out: Path, seed: int, customers: int) -> dict:
    """customer, orders, lineitem and part, sized by `customers`.

    Customers are spread evenly over 25 nations (a seeded permutation of
    an exactly balanced assignment), so the same-nation peer pair count
    is customers^2 / 25. Lineitem brands follow a Zipf(1.1) popularity
    over 25 brands, which sets how many (customer, brand) ratings the ALS
    path sees.
    """
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    parts = max(BRANDS * 8, customers * 4 // 3)

    ck = np.arange(customers, dtype=np.int64)
    nation = rng.permutation(np.arange(customers) % NATIONS).astype(np.int32)
    acct = np.round(rng.uniform(-999.99, 9999.99, customers), 2)
    seg = rng.integers(0, len(SEGMENTS), customers)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": nation,
        "c_acctbal": acct,
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[seg],
    }), out / "customer.parquet")

    pk = np.arange(parts, dtype=np.int64)
    brand_of_part = rng.permutation(np.arange(parts) % BRANDS)
    w1 = rng.integers(0, len(PART_WORDS), parts)
    w2 = rng.integers(0, len(PART_WORDS), parts)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in zip(w1, w2)],
        "p_brand": [f"Brand#{b + 1}" for b in brand_of_part],
        "p_type": np.array(PART_TYPES, dtype=object)[rng.integers(0, len(PART_TYPES), parts)],
        "p_size": rng.integers(1, 51, parts).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 20001) / 10.0, 2),
    }), out / "part.parquet")

    n_orders = customers * ORDERS_PER_CUSTOMER
    ok = np.arange(n_orders, dtype=np.int64)
    ocust = rng.integers(0, customers, n_orders).astype(np.int64)
    odate = EPOCH_1992_US + rng.integers(0, 365 * 7, n_orders) * DAY_US
    _write(pa.table({
        "o_orderkey": ok,
        "o_custkey": ocust,
        "o_orderstatus": np.array(STATUSES, dtype=object)[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
        "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_orders)],
    }), out / "orders.parquet")

    n_lines = rng.integers(1, 2 * LINES_PER_ORDER, n_orders)
    lok = np.repeat(ok, n_lines)
    lnum = (np.arange(lok.size) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1)
    zipf = 1.0 / np.arange(1, BRANDS + 1) ** 1.1
    brand = rng.choice(BRANDS, size=lok.size, p=zipf / zipf.sum())
    # parts of brand b are sorted_parts[starts[b]:starts[b] + counts[b]]
    order = np.argsort(brand_of_part, kind="stable")
    counts = np.bincount(brand_of_part, minlength=BRANDS)
    starts = np.cumsum(counts) - counts
    lpart = order[starts[brand] + (rng.random(lok.size) * counts[brand]).astype(np.int64)]
    qty = rng.integers(1, 51, lok.size).astype(np.float64)
    ship = np.repeat(odate, n_lines) + rng.integers(1, 122, lok.size) * DAY_US
    _write(pa.table({
        "l_orderkey": lok,
        "l_partkey": lpart.astype(np.int64),
        "l_suppkey": rng.integers(0, max(1, customers // 15), lok.size).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_900.0, lok.size), 2),
        "l_discount": np.round(rng.integers(0, 11, lok.size) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, lok.size) / 100.0, 2),
        "l_returnflag": np.array(FLAGS, dtype=object)[rng.integers(0, 3, lok.size)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, lok.size)],
        "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
    }), out / "lineitem.parquet")
    return {"customers": customers, "orders": n_orders, "lineitems": int(lok.size),
            "parts": parts}


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "de",
            "fi", "go", "hu", "ja", "be", "co", "da", "el"]
    words = set()
    while len(words) < size:
        words.add("".join(syll[i] for i in rng.integers(0, len(syll), rng.integers(2, 4))))
    return sorted(words)


DUP_RATE, NEAR_RATE, CONTAM_RATE = 0.10, 0.10, 0.02


def gen_corpus(out: Path, seed: int, docs: int) -> dict:
    """documents(doc_id, text, lang, source, n_chars) with planted cases.

    Plain docs draw 25-70 tokens from a 1,500-word vocabulary plus the
    stopwords, so two plain docs almost never share a 3-gram. Planted
    cases, each taking its source from an earlier plain doc that no other
    planted doc uses:
      - exact duplicate: the source's text verbatim;
      - near duplicate: the source's text without its first token (3-gram
        Jaccard (n-3)/(n-2) >= 0.95 against the source);
      - contaminated: a plain doc carrying one 3-gram of an eval-slice doc.
    The plants are written beside the corpus as planted.parquet.
    """
    rng = np.random.default_rng(seed + 7919)
    out.mkdir(parents=True, exist_ok=True)
    vocab = np.array(_vocabulary(rng, 1500) + STOPWORDS * 40, dtype=object)
    texts, kinds, srcs = [], [], []
    free_sources: list[int] = []
    for d in range(docs):
        u = rng.random()
        if free_sources and d % EVAL_MODULUS != 0 and u < DUP_RATE + NEAR_RATE:
            src = free_sources.pop(int(rng.integers(0, len(free_sources))))
            if u < DUP_RATE:
                texts.append(texts[src]); kinds.append("exact")
            else:
                texts.append(texts[src].split(" ", 1)[1]); kinds.append("near")
            srcs.append(src)
            continue
        toks = list(vocab[rng.integers(0, vocab.size, int(rng.integers(25, 71)))])
        kind = "plain"
        evals = [e for e in range(0, d, EVAL_MODULUS) if kinds[e] == "plain"]
        if evals and d % EVAL_MODULUS != 0 and rng.random() < CONTAM_RATE:
            ev = texts[evals[int(rng.integers(0, len(evals)))]].split(" ")
            at = int(rng.integers(0, len(ev) - 2))
            pos = int(rng.integers(0, len(toks) - 2))
            toks[pos:pos + 3] = ev[at:at + 3]
            kind = "contaminated"
        texts.append(" ".join(toks)); kinds.append(kind); srcs.append(-1)
        if kind == "plain" and d % EVAL_MODULUS != 0:
            free_sources.append(d)
    ids = np.arange(docs, dtype=np.int64)
    _write(pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": ["en"] * docs,
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), out / "documents.parquet")
    planted = [(i, k, s) for i, (k, s) in enumerate(zip(kinds, srcs)) if k != "plain"]
    _write(pa.table({
        "doc_id": np.array([p[0] for p in planted], dtype=np.int64),
        "kind": [p[1] for p in planted],
        "source_id": np.array([p[2] for p in planted], dtype=np.int64),
    }), out / "planted.parquet")
    return {"docs": docs, "text_bytes": sum(len(t.encode()) for t in texts),
            "exact": kinds.count("exact"), "near": kinds.count("near"),
            "contaminated": kinds.count("contaminated")}

