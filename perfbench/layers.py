"""The layer ledger of a traced run.

Each layer is timed from outside, by calls into its public functions,
inside a span named after the layer:

* ``kernel``: single-process calls over a seeded sample of the workload's
  corpus (of a web corpus for ``ops_mix``), reported as documents per
  second per module;
* ``pipeline.extract``: an identity ``mapInArrow`` over the extraction
  input columns (the Arrow boundary floor) and ``extract_documents``
  alone; ``pipeline.numbering`` is the full path minus that stage;
* ``pipeline.paged``: a corpus of small documents and two mega-PDFs of
  distinct pages, with ``paged_threshold`` set so the mega-PDFs take the
  page-parallel path;
* ``pipeline.lineage``: ``run_resumable`` into 16 chunks, then
  ``finalize_names``;
* ``ops``: the median time of each mix query over the traced passes, and
  each ledger-only query built and collected once.

A traced run measures the layers its workload runs; the others report 0.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

LINEAGE_CHUNKS = 16


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_s(fn, tracer, name: str, repeats: int) -> float:
    times = []
    for _ in range(repeats):
        with tracer.span(name):
            t = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t)
    return statistics.median(times)


def kernel_rates(rows: list[dict], tracer, repeats: int = 3) -> dict[str, float]:
    from archvisier_spark.kernel.cascade import extract_info_from_text
    from archvisier_spark.kernel.charset import decode_payload
    from archvisier_spark.kernel.document import extract_document_text
    from archvisier_spark.kernel.html_extract import extract_main_text, html_blocks_fast
    from archvisier_spark.kernel.naming import filename_for
    from archvisier_spark.kernel.pdf import pdf_page_texts
    from archvisier_spark.kernel.sniffer import FORMAT_HTML, FORMAT_PDF, sniff_format
    from archvisier_spark.pipeline.extract import info_spans

    payloads = [r["html"] for r in rows]
    formats = [sniff_format(p) for p in payloads]
    html = [decode_payload(p, None) for p, f in zip(payloads, formats) if f == FORMAT_HTML]
    pdfs = [p for p, f in zip(payloads, formats) if f == FORMAT_PDF]
    texts = [extract_document_text(p, "auto")[0] for p in payloads]
    infos = [extract_info_from_text(t, r["url"], "KP", "") for t, r in zip(texts, rows)]

    def rate(name, fn, items):
        if not items:
            return 0.0
        s = _median_s(lambda: [fn(x) for x in items], tracer, f"kernel.{name}", repeats)
        return len(items) / s

    return {
        "kernel.sniffer.docs_per_s": rate("sniffer", sniff_format, payloads),
        "kernel.html_extract.docs_per_s": rate("html_extract", extract_main_text, html),
        "kernel.html_extract.fast_path_frac":
            sum(html_blocks_fast(h) is not None for h in html) / max(len(html), 1),
        "kernel.pdf.docs_per_s": rate("pdf", pdf_page_texts, pdfs),
        "kernel.document.docs_per_s": rate(
            "document", lambda p: extract_document_text(p, "auto"), payloads),
        "kernel.cascade.docs_per_s": rate(
            "cascade", lambda tr: extract_info_from_text(tr[0], tr[1]["url"], "KP", ""),
            list(zip(texts, rows))),
        "pipeline.extract.info_spans.docs_per_s": rate(
            "info_spans", lambda ti: info_spans(*ti), list(zip(texts, infos))),
        "kernel.naming.docs_per_s": rate(
            "naming", lambda ii: filename_for(ii[1], ii[0]), list(enumerate(infos, 1))),
    }


def read_corpus(data_dir: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(data_dir, columns=["url", "html"]).to_pylist()


def sample(rows: list[dict], seed: int, n: int) -> list[dict]:
    return random.Random(seed).sample(rows, min(n, len(rows)))


def pipeline_times(spark, extraction, mega, work: str, tracer, repeats: int = 3) -> dict[str, float]:
    from archvisier_spark.pipeline.extract import extract_documents, with_new_names
    from archvisier_spark.pipeline.lineage import finalize_names, run_resumable

    docs = spark.read.parquet(extraction.data_dir)
    cols = docs.select("url", "warc_ts", "html", "lang")

    def identity(batches):
        yield from batches

    floor = _median_s(lambda: _noop(cols.mapInArrow(identity, cols.schema)), tracer,
                      "pipeline.extract.arrow_floor", repeats)
    stage = _median_s(lambda: _noop(extract_documents(docs)), tracer,
                      "pipeline.extract.extract_documents", repeats)
    full = _median_s(lambda: _noop(with_new_names(extract_documents(docs), keys_df=docs)),
                     tracer, "pipeline.numbering.with_new_names", repeats)

    mega_docs = spark.read.parquet(mega.data_dir)
    # the two mega-PDFs are the two largest documents of their corpus
    threshold = sorted(r[0] for r in mega_docs.selectExpr("length(html)").collect())[-2]
    paged = _median_s(lambda: _noop(extract_documents(mega_docs, paged_threshold=threshold)),
                      tracer, "pipeline.paged.extract_documents_paged", 1)

    out_dir, ckpt = os.path.join(work, "lineage", "out"), os.path.join(work, "lineage", "ckpt")
    shutil.rmtree(os.path.join(work, "lineage"), ignore_errors=True)
    resumable = _median_s(lambda: run_resumable(spark, docs, out_dir, ckpt, n_chunks=LINEAGE_CHUNKS),
                          tracer, "pipeline.lineage.run_resumable", 1)
    finalize = _median_s(lambda: _noop(finalize_names(spark, out_dir)), tracer,
                         "pipeline.lineage.finalize_names", 1)
    shutil.rmtree(os.path.join(work, "lineage"), ignore_errors=True)
    return {
        "pipeline.extract.arrow_floor_s": floor,
        "pipeline.extract.stage_s": stage,
        "pipeline.numbering.s": full - stage,
        "pipeline.paged.s": paged,
        "pipeline.lineage.run_resumable_s": resumable,
        "pipeline.lineage.finalize_names_s": finalize,
    }


def span_medians(tracer, names, suffix: str) -> dict[str, float]:
    """Median duration of the spans called each of ``names``."""
    return {n + suffix: statistics.median(s["end"] - s["start"] for s in tracer.spans if s["name"] == n)
            for n in names}


def ops_times(spark, tables_dir: str, names, tracer) -> dict[str, float]:
    from archvisier_spark.ops import all_queries

    queries = all_queries()
    return {
        f"ops.{n}.s": _median_s(lambda: queries[n](spark, tables_dir).collect(), tracer, f"ops.{n}", 1)
        for n in names
    }
