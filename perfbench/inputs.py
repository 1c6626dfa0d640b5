"""Seeded benchmark inputs and their expected outputs.

Every input is a pure function of (workload, seed, doc_id): each document
draws from its own ``random.Random(f"{seed}:{workload}:{doc_id}")``, so
generation splits across worker processes and any seed is reproducible
row by row. Payloads come from the engine's fixture writers
(``sources.fixtures``); expected outputs come from the pure-Python oracle
(``fixtures.compute_expected*``) for the page workloads and from DuckDB
runs of the frozen ``oracle_sql()`` twins for ``corpus_filters``.

Nothing here writes into the repository's ``data/`` tree: inputs and
expected outputs are cached under the benchmark's work directory, keyed
by workload, seed, ``fixtures.CORPUS_VERSION`` and a hash of the engine
and benchmark sources (so a changed oracle never reads a stale golden).
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import random
from datetime import datetime, timedelta
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

from typhoon_ocr_spark.sources import fixtures

# Documents per workload, chosen so one warm pass on 4 cores takes a few
# seconds: long enough that per-pass scheduling jitter stays small,
# short enough that several passes fit in one run.
CRAWL_DOCS = 2000
CRAWL_GIANTS = 5            # rare giant PDFs in the crawl mix
CRAWL_GIANT_PAGES = (80, 160)
SKEW_DOCS = 400
SKEW_GIANTS = 9             # the dense cohort of documents of hundreds of pages
SKEW_GIANT_PAGES = (200, 300)
OCR_DOCS = 160
CORPUS_DOCS = 6000
# share of corpus documents that are near-duplicate copies of an
# earlier document (a few words substituted) and exact copies
NEAR_DUP_FRAC = 0.08
EXACT_DUP_FRAC = 0.01
# the warm-up slice that set-up runs once: the first documents of the
# table (four times as many of the narrow corpus rows)
WARM_DOCS = 64
# Every input table is a directory of this many parquet part files (at
# least one per core), laid out as fixtures.write_tier writes the sharded
# bench tiers: the scan then feeds every core by itself, so the engine's
# unsplittable-input guard (dedup._maybe_spread) stays off, as it does on
# a well-laid-out corpus.
SHARDS = 16

# Common-Crawl kind mix (fixtures.generate_pages): 62% html, 25% pdf,
# 8% image, 5% junk. Counts are exact per table (shuffled by seed) so
# throughput does not drift with the seed's kind draw.
CRAWL_MIX = (("html", 0.62), ("pdf", 0.25), ("image", 0.08), ("junk", 0.05))

# The frozen documents vocabulary of the testdata tables.
CORPUS_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
CORPUS_LANGS = ("en", "zh", "es", "de", "fr")
CORPUS_SOURCES = 20

CORPUS_QUERIES = (
    "minhash_pairs", "simhash", "quality_scores", "lang_id", "gopher_quality", "top_bigram",
)


# --------------------------------------------------------------------------
# page tables
# --------------------------------------------------------------------------

def _giants(rng: random.Random, pdf_ids: List[int], count: int, pages: tuple) -> Dict[int, int]:
    """{doc_id: n_pages} for the giant documents, drawn from the pdfs:
    page counts spaced evenly over ``pages`` (the same sizes for every
    seed, so the seed moves only their positions), one of them inside
    the warm-up slice so the warm-up pass exercises the spread path too."""
    lo, hi = pages
    sizes = [lo + (hi - lo) * k // max(count - 1, 1) for k in range(count)]
    warm = [i for i in pdf_ids if i < WARM_DOCS]
    rest = [i for i in pdf_ids if i >= WARM_DOCS]
    ids = [rng.choice(warm)] + rng.sample(rest, count - 1)
    return dict(zip(ids, sizes))


def _page_plan(workload: str, seed: int) -> List[tuple]:
    """(doc_id, kind, n_pages) for every document of a page workload
    (n_pages is 0 for non-pdf documents). Ordinary pdfs take 1-6 pages
    from a balanced cycle, shuffled within blocks of 1/SHARDS of them,
    so the page total is the same for every seed and spread evenly
    over the part files."""
    rng = random.Random(f"{seed}:{workload}:plan")
    if workload == "crawl_mix":
        n = CRAWL_DOCS
        kinds = [k for k, share in CRAWL_MIX for _ in range(round(n * share))]
        kinds = (kinds + ["html"] * n)[:n]
        rng.shuffle(kinds)
        pdfs = [i for i, k in enumerate(kinds) if k == "pdf"]
        giants = _giants(rng, pdfs, CRAWL_GIANTS, CRAWL_GIANT_PAGES)
    elif workload == "pdf_skew":
        kinds = ["pdf"] * SKEW_DOCS
        giants = _giants(rng, list(range(SKEW_DOCS)), SKEW_GIANTS, SKEW_GIANT_PAGES)
    elif workload == "ocr_prep":
        kinds, giants = ["pdf"] * OCR_DOCS, {}
    else:
        raise ValueError(f"not a page workload: {workload}")
    ordinary = [i for i, k in enumerate(kinds) if k == "pdf" and i not in giants]
    group = -(-len(ordinary) // SHARDS)
    sizes = []
    for start in range(0, len(ordinary), group):
        block = [1 + i % 6 for i in range(min(group, len(ordinary) - start))]
        rng.shuffle(block)
        sizes.extend(block)
    pages = {**dict(zip(ordinary, sizes)), **giants}
    return [(i, k, pages.get(i, 0)) for i, k in enumerate(kinds)]


def _page_doc(seed: int, workload: str, doc_id: int, kind: str, n_pages: int):
    rng = random.Random(f"{seed}:{workload}:{doc_id}")
    lang = "th" if rng.random() < 0.25 else "en"
    host = f"example-{rng.randrange(16 ** 4):04x}.test"
    url = f"https://{host}/{workload}/{doc_id:08d}"
    if kind == "html":
        payload = fixtures._html_payload(rng, doc_id, lang)
    elif kind == "pdf":
        payload = fixtures._pdf_payload(rng, doc_id, lang, n_pages)
    elif kind == "image":
        payload = fixtures._image_payload(rng, doc_id)
    else:
        payload = fixtures._junk_payload(rng)
    return url, payload, lang


def _page_chunk(args) -> dict:
    """Generate one chunk of a page table and its oracle outputs."""
    seed, workload, plan = args
    pages: Dict[str, list] = {"doc_id": [], "url": [], "html": [], "lang": []}
    for doc_id, kind, n_pages in plan:
        url, payload, lang = _page_doc(seed, workload, doc_id, kind, n_pages)
        pages["doc_id"].append(doc_id)
        pages["url"].append(url)
        pages["html"].append(payload)
        pages["lang"].append(lang)
    docs, per_page = fixtures.compute_expected(pages)
    messages = None
    if workload == "ocr_prep":
        messages = fixtures.compute_expected_messages(pages).to_pydict()
    return {"pages": pages, "docs": docs, "per_page": per_page, "messages": messages}


def _merge(parts: List[dict]) -> dict:
    out: dict = {}
    for part in parts:
        for key, value in part.items():
            out.setdefault(key, [])
            out[key].extend(value)
    return out


def _build_pages(workload: str, seed: int, pool, workers: int) -> dict:
    plan = _page_plan(workload, seed)
    # interleaved chunks balance the giant documents across workers
    n_chunks = 4 * workers
    chunks = [(seed, workload, plan[i::n_chunks]) for i in range(n_chunks)]
    results = list(pool.map(_page_chunk, chunks))
    pages = _merge([r["pages"] for r in results])
    order = sorted(range(len(pages["doc_id"])), key=pages["doc_id"].__getitem__)
    pages = {k: [v[i] for i in order] for k, v in pages.items()}
    return {
        "pages": pages,
        "docs": _merge([r["docs"] for r in results]),
        "per_page": _merge([r["per_page"] for r in results]),
        "messages": _merge([r["messages"] for r in results]) if workload == "ocr_prep" else None,
    }


def _pages_table(pages: dict, rows: slice = slice(None)) -> pa.Table:
    n = len(pages["url"][rows])
    t0 = datetime(2025, 1, 1)
    return pa.table(
        {
            "url": pages["url"][rows],
            "warc_ts": [t0 + timedelta(minutes=i) for i in range(n)],
            "html": pages["html"][rows],
            "text": [None] * n,
            "lang": pages["lang"][rows],
        },
        schema=fixtures._PAGES_SCHEMA,
    )


# --------------------------------------------------------------------------
# documents table (corpus_filters)
# --------------------------------------------------------------------------

def corpus_documents(seed: int, n_docs: int = CORPUS_DOCS) -> pa.Table:
    """A documents table with the testdata schema (doc_id, text, lang,
    source, n_chars) and planted near-duplicate cohorts: a share of the
    documents copy an earlier one with one to three words substituted,
    and a smaller share copy one verbatim."""
    texts: List[str] = []
    langs: List[str] = []
    for doc_id in range(n_docs):
        rng = random.Random(f"{seed}:corpus_filters:{doc_id}")
        roll = rng.random()
        if doc_id and roll < EXACT_DUP_FRAC:
            text = texts[rng.randrange(doc_id)]
        elif doc_id and roll < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            words = texts[rng.randrange(doc_id)].split()
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(CORPUS_WORDS)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(CORPUS_WORDS) for _ in range(rng.randint(8, 100)))
        texts.append(text)
        langs.append(rng.choice(CORPUS_LANGS))
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % CORPUS_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def corpus_expected(documents_path: str) -> Dict[str, dict]:
    """Run the frozen oracle_sql() twins in DuckDB over a `documents`
    view of the generated table: {query: {"columns": [...], "rows": [...]}}."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        path = os.path.join(documents_path, "*.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in CORPUS_QUERIES:
            rel = con.sql(sql[name])
            out[name] = {"columns": list(rel.columns), "rows": sorted(rel.fetchall(), key=repr)}
        return out
    finally:
        con.close()


# --------------------------------------------------------------------------
# cache
# --------------------------------------------------------------------------

def source_digest(repo_root: str) -> str:
    """Hash of every Python source the inputs or goldens depend on."""
    h = hashlib.sha256()
    roots = [
        os.path.join(repo_root, "typhoon_ocr_spark"),
        os.path.dirname(os.path.abspath(__file__)),
    ]
    files = [os.path.join(repo_root, "__spark_entry__.py")]
    for root in roots:
        for dirpath, _dirs, names in os.walk(root):
            files.extend(os.path.join(dirpath, n) for n in names if n.endswith(".py"))
    for path in sorted(files):
        h.update(os.path.relpath(path, repo_root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _canonical(obj):
    """JSON-ready form with dicts as key-sorted pair lists (keys may be tuples)."""
    if isinstance(obj, dict):
        return sorted(([_canonical(k), _canonical(v)] for k, v in obj.items()), key=repr)
    if isinstance(obj, (list, tuple)):
        return [_canonical(v) for v in obj]
    return obj


def expected_digest(expected: dict) -> str:
    """sha256 of a workload's expected outputs in canonical form."""
    blob = json.dumps(_canonical(expected), ensure_ascii=False)
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def prepare(workload: str, seed: int, work_dir: str, repo_root: str, workers: int) -> dict:
    """Write (or reuse) the workload's input tables and expected outputs.

    Returns {"input", "warm", "expected", "meta"}: the two parquet
    directories,
    the golden dict the checks compare against, and the work counts
    (``docs``, ``pdf_pages``) the throughput metrics divide by."""
    shards = max(SHARDS, workers)
    key = (f"{workload}-s{seed}-v{fixtures.CORPUS_VERSION}-p{shards}-"
           f"{source_digest(repo_root)}")
    out_dir = os.path.join(work_dir, "inputs", key)
    gold_path = os.path.join(out_dir, "expected.pickle")
    if not os.path.exists(gold_path):
        os.makedirs(out_dir, exist_ok=True)
        if workload == "corpus_filters":
            expected, meta = _write_corpus(seed, out_dir, shards)
        else:
            expected, meta = _write_pages(workload, seed, out_dir, workers, shards)
        tmp = gold_path + ".tmp"
        with open(tmp, "wb") as fh:
            pickle.dump({"expected": expected, "meta": meta}, fh)
        os.replace(tmp, gold_path)
    with open(gold_path, "rb") as fh:
        # written by prepare() above, in this work directory
        gold = pickle.load(fh)
    return {
        "input": os.path.join(out_dir, "input.parquet"),
        "warm": os.path.join(out_dir, "warm.parquet"),
        "expected": gold["expected"],
        "meta": gold["meta"],
    }


def _write_table(table: pa.Table, path: str, shards: int) -> None:
    """Write ``table`` as ``shards`` contiguous part files under ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // shards)
    for s in range(shards):
        chunk = table.slice(s * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(path, f"part-{s:05d}.parquet"))


def _stop_resource_tracker() -> None:
    """Stop multiprocessing's resource tracker and wait for it to exit.

    The spawn pool starts it, and it only exits when its pipe closes,
    which by default is when this process exits; a run would otherwise
    end with it still running. Called once the pool and its semaphores
    are gone, so nothing registers with the tracker again."""
    import gc
    from multiprocessing import resource_tracker

    gc.collect()   # finalize the pool's semaphores while the tracker still runs
    tracker = resource_tracker._resource_tracker
    if hasattr(tracker, "_stop"):   # Python >= 3.12
        tracker._stop()
        return
    with tracker._lock:
        if tracker._fd is None:
            return
        os.close(tracker._fd)
        os.waitpid(tracker._pid, 0)
        tracker._fd = tracker._pid = None


def _write_pages(workload: str, seed: int, out_dir: str, workers: int, shards: int):
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=workers, mp_context=ctx) as pool:
        built = _build_pages(workload, seed, pool, workers)
    del pool
    _stop_resource_tracker()
    pages = built["pages"]
    _write_table(_pages_table(pages), os.path.join(out_dir, "input.parquet"), shards)
    _write_table(_pages_table(pages, slice(0, WARM_DOCS)), os.path.join(out_dir, "warm.parquet"),
                 shards)
    docs, per_page = built["docs"], built["per_page"]
    if workload != "ocr_prep":
        expected = {
            "docs": {
                u: (k, t, int(n), bool(s))
                for u, k, t, n, s in zip(
                    docs["url"], docs["kind"], docs["extracted_text"],
                    docs["page_count"], docs["success"],
                )
            },
        }
    else:
        msgs = built["messages"]
        expected = {
            "message_shas": {
                (u, int(p)): sha
                for u, p, sha in zip(msgs["url"], msgs["page"], msgs["message_sha"])
            },
            "tables": {
                (u, int(p)): md
                for u, p, k, md in zip(
                    per_page["url"], per_page["page"], per_page["kind"], per_page["table_md"]
                )
                if k == "pdf" and md is not None
            },
        }
    meta = {
        "docs": len(pages["url"]),
        "pdf_pages": sum(1 for k in per_page["kind"] if k == "pdf"),
    }
    return expected, meta


def _write_corpus(seed: int, out_dir: str, shards: int):
    table = corpus_documents(seed)
    path = os.path.join(out_dir, "input.parquet")
    _write_table(table, path, shards)
    _write_table(table.slice(0, 4 * WARM_DOCS), os.path.join(out_dir, "warm.parquet"), shards)
    expected = corpus_expected(path)
    return expected, {"docs": table.num_rows, "pdf_pages": 0}


def payloads(input_path: str) -> Dict[str, list]:
    """The generated pages table as python lists (for direct oracle calls)."""
    return pq.read_table(input_path, columns=["url", "html"]).to_pydict()
