"""The four workloads: the actions one pass issues, the lineage cuts the
traced run times, and the correctness check against the goldens.

Every action runs under a job description (``sc.setJobDescription``) so
the traced run can attribute Spark's event-log records to it: untimed and
timed passes use ``<workload>:<output>``, the traced rounds
``<workload>:traced:<cut>`` (``traced_desc``), so the warm-up and settle
passes never mix into the per-layer figures.
"""

from __future__ import annotations

import math
import os
import time
from typing import Dict, List, Tuple

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from typhoon_ocr_spark.operators import dedup, textstats
from typhoon_ocr_spark.operators.extract import (
    classify_pages,
    extract_documents,
    extract_pages,
    extract_pdf_tables,
    ocr_message_fingerprints,
)
from typhoon_ocr_spark.plans.session import PipelineConfig

DOC_COLUMNS = ["url", "kind", "extracted_text", "page_count", "success"]
EXTRACT_WORKLOADS = ("crawl_mix", "pdf_skew")


def traced_desc(workload: str, cut: str) -> str:
    """The job description of one cut of a traced round."""
    return f"{workload}:traced:{cut}"


def write(spark: SparkSession, desc: str, frame: DataFrame, out: str | None) -> float:
    """Run one action (parquet write, or the noop sink when ``out`` is
    None) under a job description; return its wall time."""
    spark.sparkContext.setJobDescription(desc)
    t0 = time.perf_counter()
    writer = frame.write.mode("overwrite")
    if out is None:
        writer.format("noop").save()
    else:
        writer.parquet(out)
    wall = time.perf_counter() - t0
    spark.sparkContext.setJobDescription(None)
    return wall


# --------------------------------------------------------------------------
# one pass per workload: {cut: frame builder}, written to parquet
# --------------------------------------------------------------------------

def _corpus_frames(docs: DataFrame) -> Dict[str, DataFrame]:
    return {
        "minhash_pairs": dedup.minhash_candidate_pairs(docs),
        "simhash": dedup.simhash_fingerprints(docs),
        "quality_lang": textstats.quality_scores(docs).join(
            textstats.language_id(docs), "doc_id"
        ),
        "gopher": textstats.gopher_quality(docs),
        "top_bigram": textstats.top_bigram(docs),
    }


def pass_frames(workload: str, spark: SparkSession, path: str) -> Dict[str, DataFrame]:
    """The frames one pass writes, keyed by output name."""
    src = spark.read.parquet(path)
    if workload in EXTRACT_WORKLOADS:
        return {"docs": extract_documents(src)}
    if workload == "ocr_prep":
        return {
            "message_shas": ocr_message_fingerprints(src),
            "tables": extract_pdf_tables(src),
        }
    return _corpus_frames(src)


def run_pass(workload: str, spark: SparkSession, path: str, out_dir: str) -> Dict[str, float]:
    """One closed-loop pass: every output of the workload written to
    parquet, one action at a time. Returns wall seconds per output."""
    return {
        name: write(spark, f"{workload}:{name}", frame, os.path.join(out_dir, name))
        for name, frame in pass_frames(workload, spark, path).items()
    }


# --------------------------------------------------------------------------
# lineage cuts (crawl_mix, pdf_skew): each cut adds one public call
# --------------------------------------------------------------------------

EXTRACT_CUTS = ("scan", "sniff", "stage1", "spread", "assemble", "write")


def extract_cut_frames(spark: SparkSession, path: str) -> List[Tuple[str, DataFrame]]:
    """(cut, frame) in lineage order; every cut but the last goes to the
    noop sink. The self time of a cut is its wall minus the previous cut's."""
    def src():
        return spark.read.parquet(path)

    return [
        ("scan", src()),
        ("sniff", classify_pages(src())),
        ("stage1", extract_pages(src(), PipelineConfig(page_spread=False))),
        ("spread", extract_pages(src())),
        ("assemble", extract_documents(src())),
        ("write", extract_documents(src())),
    ]


def run_extract_cuts(workload: str, spark: SparkSession, path: str, out_dir: str,
                     spans, round_no: int) -> Dict[str, float]:
    walls = {}
    for cut, frame in extract_cut_frames(spark, path):
        with spans.span(f"extract.{cut}", round=round_no):
            sink = os.path.join(out_dir, "docs") if cut == "write" else None
            walls[cut] = write(spark, traced_desc(workload, cut), frame, sink)
    return walls


# --------------------------------------------------------------------------
# correctness
# --------------------------------------------------------------------------

def _normalize(value):
    if isinstance(value, float):
        return "nan" if math.isnan(value) else f"{value:.6f}"
    return str(value)


def _diff(expected: dict, got: dict, duplicates: int) -> Tuple[int, int]:
    """(wrong, attempted): missing + extra + mismatched keys, over the
    keys attempted (the expected key count)."""
    missing = sum(1 for k in expected if k not in got)
    extra = sum(1 for k in got if k not in expected) + duplicates
    mismatched = sum(1 for k, v in expected.items() if k in got and got[k] != v)
    return missing + extra + mismatched, len(expected)


def _keyed(rows: List[tuple], key_len: int) -> Tuple[dict, int]:
    out, dups = {}, 0
    for row in rows:
        key = row[:key_len]
        dups += key in out
        out[key] = row[key_len:]
    return out, dups


def _read(out_dir: str, name: str, columns: List[str]) -> List[tuple]:
    table = pq.read_table(os.path.join(out_dir, name), columns=columns)
    return list(zip(*(table.column(c).to_pylist() for c in columns)))


def check(workload: str, expected: dict, out_dir: str) -> Dict[str, Tuple[int, int]]:
    """Compare the last pass's outputs with the goldens: {output:
    (wrong, attempted)}."""
    if workload in EXTRACT_WORKLOADS:
        want = {(u,): v for u, v in expected["docs"].items()}
        got, dups = _keyed(_read(out_dir, "docs", DOC_COLUMNS), 1)
        got = {k: (v[0], v[1], int(v[2]), bool(v[3])) for k, v in got.items()}
        return {"docs": _diff(want, got, dups)}
    if workload == "ocr_prep":
        result = {}
        for name, col in (("message_shas", "message_sha"), ("tables", "table_md")):
            want = {k: (v,) for k, v in expected[name].items()}
            got, dups = _keyed(_read(out_dir, name, ["url", "page", col]), 2)
            result[name] = _diff(want, got, dups)
        return result
    return _check_corpus(expected, out_dir)


# output -> (oracle queries joined on their first column, key width)
CORPUS_CHECKS = {
    "minhash_pairs": (("minhash_pairs",), 2),
    "simhash": (("simhash",), 1),
    "quality_lang": (("quality_scores", "lang_id"), 1),
    "gopher": (("gopher_quality",), 1),
    "top_bigram": (("top_bigram",), 1),
}


def _oracle_rows(expected: dict, queries: Tuple[str, ...]) -> Tuple[List[str], List[tuple]]:
    """Oracle rows of one output; two queries join on their first column."""
    first = expected[queries[0]]
    if len(queries) == 1:
        return first["columns"], first["rows"]
    second = expected[queries[1]]
    by_key = {r[0]: r[1:] for r in second["rows"]}
    cols = first["columns"] + second["columns"][1:]
    rows = [r + by_key[r[0]] for r in first["rows"] if r[0] in by_key]
    return cols, rows


def _check_corpus(expected: dict, out_dir: str) -> Dict[str, Tuple[int, int]]:
    result = {}
    for name, (queries, key_len) in CORPUS_CHECKS.items():
        cols, rows = _oracle_rows(expected, queries)
        want, _ = _keyed([tuple(_normalize(v) for v in r) for r in rows], key_len)
        got_rows = _read(out_dir, name, cols)
        got, dups = _keyed([tuple(_normalize(v) for v in r) for r in got_rows], key_len)
        result[name] = _diff(want, got, dups)
    return result


def corpus_counts(out_dir: str) -> Dict[str, int]:
    """Work counts of the corpus operators from the written outputs."""
    pairs = pq.read_table(os.path.join(out_dir, "minhash_pairs")).num_rows
    quality = pq.read_table(os.path.join(out_dir, "quality_lang"), columns=["doc_id", "keep"])
    gopher = pq.read_table(os.path.join(out_dir, "gopher"), columns=["doc_id", "keep"])
    kept_q = {d for d, k in zip(*(quality.column(c).to_pylist() for c in ("doc_id", "keep"))) if k}
    kept_g = {d for d, k in zip(*(gopher.column(c).to_pylist() for c in ("doc_id", "keep"))) if k}
    return {"dedup.candidate_pairs": pairs, "textstats.kept_docs": len(kept_q & kept_g)}

