"""Seeded benchmark inputs, cached in the work directory.

Every input is a pure function of ``(kind, size, seed)``.  A generated
input lives in its own directory with a ``_SUCCESS`` marker that records
the row count and a SHA-256 over every other file in the directory; a
cached directory is reused only when both still match, so an interrupted
write (a directory without a marker, or with a truncated file) is
regenerated instead of being read half-written.

Three kinds of input:

* ``web``: the north-rule ``documents_web`` corpus of
  ``archvisier_spark.corpus`` (half HTML, half PDF, five languages, every
  100th PDF repeating its pages x500).
* ``mega``: small corpus documents plus two mega-PDFs whose pages are all
  distinct, so no page-level memo can hit.
* ``tables``: the relational tables the declared ops queries read
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), shaped like the repository's TPC-H-ish test data (TESTDATA.md).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from datetime import datetime, timedelta

MARKER = "_SUCCESS"


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(directory):
        dirs.sort()
        for name in sorted(files):
            if name == MARKER:
                continue
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, directory).encode())
            with open(path, "rb") as f:
                for block in iter(lambda: f.read(1 << 20), b""):
                    h.update(block)
    return h.hexdigest()


def _valid(directory: str) -> bool:
    try:
        with open(os.path.join(directory, MARKER)) as f:
            marker = json.load(f)
    except (OSError, ValueError):
        return False
    return marker.get("rows") == _rows(directory) and marker.get("sha256") == _digest(directory)


def _rows(directory: str) -> int:
    import pyarrow.parquet as pq

    total = 0
    for root, _, files in os.walk(directory):
        for name in files:
            if name.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
    return total


def cached(directory: str, build) -> str:
    """Return ``directory``, first building it with ``build(tmp_dir)``
    unless a valid cached copy is already there."""
    if _valid(directory):
        return directory
    shutil.rmtree(directory, ignore_errors=True)
    tmp = directory + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, MARKER), "w") as f:
        json.dump({"rows": _rows(tmp), "sha256": _digest(tmp)}, f)
    os.rename(tmp, directory)
    return directory


def write_parquet(rows_or_table, path: str, row_group_rows: int = 256) -> None:
    """Small row groups keep the scan split-fed: Spark's 1 MB extraction
    splits can only cut at row-group boundaries."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = rows_or_table if isinstance(rows_or_table, pa.Table) else pa.Table.from_pylist(rows_or_table)
    pq.write_table(table, path, row_group_size=row_group_rows)


# --------------------------------------------------------------- corpora


def web_rows(n_docs: int, seed: int) -> list[dict]:
    from archvisier_spark.corpus import generate_rows

    return generate_rows(n_docs, seed=seed, skew_every=100, skew_factor=500)


def mega_rows(n_small: int, mega_pages: int, seed: int) -> list[dict]:
    """``n_small`` corpus documents plus two PDFs of ``mega_pages``
    distinct pages each."""
    from archvisier_spark.corpus import _SENTENCES, _expected_pdf_text, LANGS, generate_rows
    from archvisier_spark.kernel.pdf import build_pdf

    rows = generate_rows(n_small, seed=seed)
    rng = random.Random(seed * 7919 + 1)
    for k in range(2):
        pages = []
        for p in range(mega_pages):
            pool = _SENTENCES[LANGS[(p + k) % len(LANGS)]]
            # the page number makes every page distinct
            pages.append([f"Strona {p + 1} z {mega_pages}, tom {k + 1}"]
                         + [rng.choice(pool) for _ in range(rng.randint(2, 4))])
        rows.append({
            "url": f"https://archive.example/mega/vol{k:02d}-s{seed}",
            "warc_ts": datetime(2025, 6, 1) + timedelta(hours=k),
            "html": build_pdf(pages),
            "text": _expected_pdf_text(pages),
            "lang": "pl",
        })
    return rows


# ------------------------------------------------------------ ops tables

_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
          "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
          "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
          "value", "vector", "window")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _table_arrays(sf: float, seed: int) -> dict:
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    # documents are grouped by source (doc_id % 20); an odd count per
    # source (15 at sf 0.01) keeps the per-source averages of 4-decimal
    # ratios in text_quality_scores off exact rounding ties, where Spark
    # and DuckDB round differently
    n_doc, n_emb = int(30_000 * sf), int(50_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist())

    def days(start, span, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")

    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    names = [f"{a} {n}" for a in _PART_ADJ for n in _PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": pick(names, n_part),
        "p_brand": pick([f"Brand#{b}" for b in range(1, 26)], n_part),
        "p_type": pick(("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pick(("F", "O", "P"), n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": days("1995-01-01", 2404, n_ord),
        "o_orderpriority": pick(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        # whole hundreds: every discounted price and its sums then have at
        # most two decimals, so round(sum(...), 2) cannot land on a
        # rounding boundary where summation order decides the last digit
        "l_extendedprice": rng.integers(10, 1051, n_line) * 100.0,
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(("A", "N", "R"), n_line),
        "l_linestatus": pick(("F", "O"), n_line),
        "l_shipdate": days("1995-01-02", 2498, n_line),
    })
    span_us = 30 * 86_400 * 1_000_000
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), i64),
        "ts": np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 150, n_ev), i64),
        "event_type": pick(("click", "error", "purchase", "signup", "view"), n_ev),
        "value": money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(np.asarray(_VOCAB)[rng.integers(0, len(_VOCAB), rng.integers(10, 101))])
             for _ in range(n_doc)]
    # about one document in twenty is a near-duplicate: another document's
    # text plus a marker token
    for d in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[d] = texts[(d + 1 + rng.integers(0, n_doc - 1)) % n_doc] + " dup"
    langs = np.asarray(("en", "en", "en", "de", "es", "fr", "zh", "en"), dtype=object)
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), i64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)].tolist(),
        "source": [f"src{d % 20}" for d in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = rng.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), i64),
        "embedding": pa.array(vecs.astype("float32").tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return out


def tables(work: str, sf: float, seed: int) -> str:
    """Directory holding ``<table>.parquet`` for every ops table."""
    directory = os.path.join(work, "inputs", f"tables-sf{sf}-seed{seed}")

    def build(tmp):
        for name, table in _table_arrays(sf, seed).items():
            # one file and one row group per table, like the test data
            write_parquet(table, os.path.join(tmp, f"{name}.parquet"), row_group_rows=1 << 30)

    return cached(directory, build)
