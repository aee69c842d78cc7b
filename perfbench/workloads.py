"""The benchmark's workloads: what one pass runs and how its output is checked.

A workload has four parts:

* ``prepare(work, seed)`` makes the seeded inputs and their oracle (cached);
* ``run_pass(spark, tracer)`` is the timed closed-loop call; it returns
  the program's output;
* ``check(output)`` returns ``(attempted, failed)`` for that output;
* ``items`` is how many documents or query executions one pass completes.

Extraction workloads time ``with_new_names(extract_documents(docs),
keys_df=docs)`` collected to the client as Arrow.  A document fails when
its ``extracted_text`` differs from the generator's ``text``, its status is
not ``Sukces``, or its fields, spans, ``lp`` or ``new_name`` differ from a
sequential run of the kernel over the same input.

``ops_mix`` runs declared queries in a fixed order, each collected to the
client.  A query execution fails when it raises or its rows differ from
its DuckDB oracle (order-insensitive, floats rounded to 6 places, as in
tests/test_driver_contract.py).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import tempfile
import traceback
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

import inputs

FIELDS = ("data", "nadawca_odbiorca", "w_sprawie", "numer_dokumentu",
          "sygnatura_sprawy", "typ_dokumentu")
CHECKED = ("url", "extracted_text", "status", *FIELDS, "spans", "lp", "new_name")
OK_STATUS = "Sukces"


def _oracle_rows(rows: list[dict]) -> list[dict]:
    """Sequential kernel over ``rows``; ``lp`` is filled in by the caller."""
    from archvisier_spark.kernel.cascade import extract_info_from_text
    from archvisier_spark.kernel.document import extract_document_text
    from archvisier_spark.pipeline.extract import info_spans

    out = []
    for r in rows:
        text, _status, _fmt = extract_document_text(r["html"], "auto")
        info = extract_info_from_text(text, r["url"], "KP", "")
        out.append({"url": r["url"], "extracted_text": r["text"], "status": OK_STATUS,
                    **{f: info[f] for f in FIELDS}, "spans": info_spans(text, info)})
    return out


def kernel_oracle(rows: list[dict], workers: int) -> list[dict]:
    """Expected output rows for ``rows``, computed outside Spark."""
    from archvisier_spark.kernel.naming import filename_for

    step = max(1, math.ceil(len(rows) / (workers * 4)))
    chunks = [rows[i:i + step] for i in range(0, len(rows), step)]
    with ProcessPoolExecutor(workers, mp_context=get_context("spawn")) as pool:
        expected = [e for part in pool.map(_oracle_rows, chunks) for e in part]
    rank = {u: i + 1 for i, u in enumerate(sorted(r["url"] for r in rows))}
    for e in expected:
        e["lp"] = rank[e["url"]]
        e["new_name"] = filename_for(e, e["lp"])
    return expected


class Extraction:
    """Documents through the flagship public path, checked per document."""

    def __init__(self, name: str, kind: str, size: dict, workers: int):
        self.name, self.kind, self.size, self.workers = name, kind, size, workers

    def prepare(self, work: str, seed: int) -> None:
        import pyarrow.parquet as pq

        def build(tmp):
            rows = (inputs.web_rows(self.size["docs"], seed) if self.kind == "web"
                    else inputs.mega_rows(self.size["small"], self.size["pages"], seed))
            os.makedirs(os.path.join(tmp, "data"))
            inputs.write_parquet(rows, os.path.join(tmp, "data", "part-00000.parquet"))
            inputs.write_parquet(kernel_oracle(rows, self.workers), os.path.join(tmp, "oracle.parquet"))

        key = "-".join(f"{k}{v}" for k, v in sorted(self.size.items()))
        self.dir = inputs.cached(os.path.join(work, "inputs", f"{self.kind}-{key}-seed{seed}"), build)
        self.data_dir = os.path.join(self.dir, "data")
        expected = pq.read_table(os.path.join(self.dir, "oracle.parquet")).to_pylist()
        self.expected = {e["url"]: tuple(e[c] for c in CHECKED) for e in expected}
        self.items = len(self.expected)

    def run_pass(self, spark, tracer):
        from archvisier_spark.pipeline.extract import extract_documents, with_new_names

        docs = spark.read.parquet(self.data_dir)
        with tracer.span("pipeline.extract.extract_documents"):
            extracted = extract_documents(docs)
        with tracer.span("pipeline.numbering.with_new_names"):
            named = with_new_names(extracted, keys_df=docs)
        with tracer.span("session.collect"):
            return named.select(*CHECKED).toArrow()

    def check(self, output) -> tuple[int, int]:
        cols = [output.column(c).to_pylist() for c in CHECKED]
        seen, failed = set(), 0
        for row in zip(*cols):
            seen.add(row[0])
            failed += self.expected.get(row[0]) != row
        # a document missing from the output (or a duplicate row) fails too
        failed += len(self.expected.keys() - seen) + (len(cols[0]) - len(seen))
        return len(self.expected), failed


# ------------------------------------------------------------------ ops


def normalise(rows, cols) -> list[list[str]]:
    """Order-insensitive value form of a result, floats rounded to 6 places."""
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                v = round(v, 6)
                if math.isnan(v):
                    v = "NaN"
            vals.append(str(v))
        out.append(vals)
    return sorted(out)


def duckdb_results(tables_dir: str, names) -> dict:
    """Oracle results of ``names`` over the tables in ``tables_dir``."""
    import duckdb
    from archvisier_spark.ops import all_oracles

    # the lazy literal oracles read the corpus under test from this
    # variable and otherwise default to the sf0.01 test data
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = tables_dir
    sql = all_oracles()
    con = duckdb.connect()
    try:
        con.sql(f"SET temp_directory = '{tempfile.gettempdir()}/duckdb'")
        for t in inputs.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
        out = {}
        for name in names:
            res = con.sql(sql[name])
            cols = res.columns
            out[name] = {"columns": sorted(cols),
                         "rows": normalise([dict(zip(cols, r)) for r in res.fetchall()], cols)}
        return out
    finally:
        con.close()


class OpsMix:
    """Declared ops queries in a fixed order, each checked against DuckDB."""

    def __init__(self, name: str, queries: tuple, sf: float):
        self.name, self.queries, self.sf = name, queries, sf
        self.items = len(queries)

    def prepare(self, work: str, seed: int) -> None:
        self.dir = inputs.tables(work, self.sf, seed)

        def build(tmp):
            with open(os.path.join(tmp, "oracle.json"), "w") as f:
                json.dump(duckdb_results(self.dir, self.queries), f)

        key = hashlib.sha256(" ".join(self.queries).encode()).hexdigest()[:12]
        oracle = inputs.cached(os.path.join(work, "inputs", f"oracle-{key}-sf{self.sf}-seed{seed}"), build)
        with open(os.path.join(oracle, "oracle.json")) as f:
            self.expected = json.load(f)

    def run_pass(self, spark, tracer):
        from archvisier_spark.ops import all_queries

        queries = all_queries()
        out = {}
        for name in self.queries:
            with tracer.span(f"ops.{name}"):
                try:
                    df = queries[name](spark, self.dir)
                    out[name] = (df.columns, [r.asDict() for r in df.collect()])
                except Exception as e:  # a failed query is a counted failure
                    traceback.print_exc()
                    out[name] = e
        return out

    def check(self, output) -> tuple[int, int]:
        failed = 0
        for name in self.queries:
            got, want = output.get(name), self.expected[name]
            failed += (
                not isinstance(got, tuple)
                or sorted(got[0]) != want["columns"]
                or normalise(got[1], got[0]) != want["rows"]
            )
        return len(self.queries), failed
