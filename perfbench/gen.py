"""Seeded load generator for the perfbench workloads.

Every input is built from the package's own ground-truth generators
(`fixtures.generate_doc_spans`, `render_markdown`, `generate_pdf`) over
seed-derived doc ids, plus synthetic `documents` / `embeddings` tables
shaped like the scale-factor test tables (`sf0.01`, `sf0.1`). Inputs and
their golden outputs go to a cache directory keyed by (workload, seed,
layout version), so the same seed always yields the same files and a
repeated seed skips generation.

Nothing here calls `fixtures.ensure_fixtures`: that writes into the repo's
`fixtures/` tree.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import resource_tracker
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generated layout or size changes, so stale caches are
# never reused.
LAYOUT_VERSION = "9"

GEN_PROCS = 4

# Statistics of the scale-factor `documents` tables, measured with
# `perfbench/tablestats.py` (see README): every word from this 30-word
# vocabulary, 10-100 words per document, 5% of rows a copy of another row's
# text with " dup" appended, source = src{doc_id % 20}, n_chars = len(text).
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20

SPAN_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("offset", pa.int32()), ("kind", pa.string()),
    ("text", pa.string()), ("media_ref", pa.string()),
])
SPAN_KEYS = ("doc_id", "offset", "kind", "text", "media_ref")

# Workload sizes (docs per input). The markdown and PDF corpora take a
# contiguous id block, so exactly one doc in 101 is a ~50x skew doc
# (fixtures.generate_doc_spans) on every seed.
MARKDOWN_DOCS = 3000
MARKDOWN_FILES = 24
BULK_COPIES = 2
PDF_DOCS = 400
# The store (~750 B per doc) stays below skew.MIN_SPREAD_BYTES (4 MiB), so
# the spread inside compute_boilerplate only probes on ingest steps: a
# 6000-doc base that crosses the gate cost 8-11 s more per run (see README).
INGEST_BASE_DOCS = 400
INGEST_BATCH_DOCS = 40
INGEST_MAX_STEPS = 40
INGEST_FAIL_SHARE = 0.01
# 3300 vectors (1.65x the sf0.1 table) put the projected embeddings scan at
# ~1.12 MB, above skew.HEAVY_KERNEL_MIN_BYTES (1 MiB), so the vector
# operators' spread repartitions. The documents table stays below it: its
# (doc_id, text) projection is ~54 B per row, so the gate would need more
# than 20k rows (see README).
CORPUS_DOCS = 1000
CORPUS_VECS = 3300
EMBED_DIM = 64
EMBED_LABELS = 10


def doc_text(did: int) -> str:
    """`documents`-table text for one doc id (seed-independent)."""
    rng = np.random.default_rng([7919, int(did)])
    return " ".join(rng.choice(WORDS, int(rng.integers(10, 101))))


def doc_key(did: int) -> str:
    return f"{did:09d}"


def _id_block(seed: int, salt: int, n: int) -> np.ndarray:
    start = int(np.random.default_rng([seed, salt]).integers(1, 10**7)) * 50
    return np.arange(start, start + n, dtype=np.int64)


def _spans_rows(did: int, spans: list[dict]) -> list[tuple]:
    key = doc_key(did)
    return [(key, s["offset"], s["kind"], s["text"], s["media_ref"])
            for s in spans]


def markdown_doc(did: int) -> tuple[str, str, list[tuple]]:
    from pdf_parse_bench_spark import fixtures as fx
    spans = fx.generate_doc_spans(did, doc_text(did))
    md = fx.render_markdown(did, spans, f"src{did % N_SOURCES}")
    return doc_key(did), md, _spans_rows(did, spans)


def pdf_doc(did: int) -> tuple[str, bytes, list[tuple]]:
    from pdf_parse_bench_spark import fixtures as fx
    spans = fx.generate_doc_spans(did, doc_text(did))
    pdf, _text, golden, _scheme, _imgs = fx.generate_pdf(did, spans)
    return doc_key(did), pdf, _spans_rows(did, golden)


def generate_docs(pool, kind: str, ids: np.ndarray) -> list[tuple]:
    """(doc_id, payload, golden rows) per id, in `ids` order, generated by
    the worker processes of `pool` (generation costs ~10x the kernel)."""
    fn = markdown_doc if kind == "markdown" else pdf_doc
    return list(pool.map(fn, (int(x) for x in ids), chunksize=64))


def spans_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in SPAN_KEYS]
    return pa.table([pa.array(c, t.type) for c, t in zip(cols, SPAN_SCHEMA)],
                    schema=SPAN_SCHEMA)


def sort_spans(t: pa.Table) -> pa.Table:
    return t.select(list(SPAN_KEYS)).sort_by(
        [("doc_id", "ascending"), ("offset", "ascending")])


def _write_markdown(rows, path: Path) -> None:
    pq.write_table(pa.table({"doc_id": [r[0] for r in rows],
                             "markdown": [r[1] for r in rows]}), path)


def _golden(rows) -> pa.Table:
    return sort_spans(spans_table([g for r in rows for g in r[2]]))


def _copies(rows: list[tuple]) -> list[tuple]:
    """BULK_COPIES copies of each generated doc under distinct doc ids
    (`<id>-<copy>`): more work per pass at the same generation cost. A
    doc's first and last lines then repeat BULK_COPIES < min_docs times,
    so compute_boilerplate still keeps them."""
    out = []
    for c in range(BULK_COPIES):
        for key, payload, golden in rows:
            cid = f"{key}-{c}"
            out.append((cid, payload, [(cid,) + g[1:] for g in golden]))
    return out


def build_bulk_extract(seed: int, d: Path, pool) -> None:
    """A markdown corpus written as many parquet files and a raw-PDF corpus
    written as one .pdf file per document, each with its golden spans."""
    md_ids = _id_block(seed, 1, MARKDOWN_DOCS)
    md_rows = _copies(generate_docs(pool, "markdown", md_ids))
    order = np.random.default_rng([seed, 11]).permutation(len(md_rows))
    md_rows = [md_rows[i] for i in order]
    files = d / "markdown" / "parsed_markdown.parquet"
    files.mkdir(parents=True)
    for i, part in enumerate(np.array_split(np.arange(len(md_rows)),
                                            MARKDOWN_FILES)):
        _write_markdown([md_rows[j] for j in part],
                        files / f"part-{i:05d}.parquet")
    pq.write_table(_golden(md_rows), d / "markdown" / "golden.parquet")

    pdf_rows = _copies(generate_docs(pool, "pdf",
                                     _id_block(seed, 2, PDF_DOCS)))
    (d / "pdf" / "pdfs").mkdir(parents=True)
    for key, pdf, _g in pdf_rows:
        (d / "pdf" / "pdfs" / f"{key}.pdf").write_bytes(pdf)
    pq.write_table(_golden(pdf_rows), d / "pdf" / "golden.parquet")


def build_incremental_ingest(seed: int, d: Path, pool) -> None:
    """A base batch plus INGEST_MAX_STEPS step batches, each one parquet
    file; 1% of step docs are marked to fail on their first attempt.

    The base batch is the first INGEST_BASE_DOCS ids of the block, so it
    holds exactly INGEST_BASE_DOCS / N_SOURCES docs of every source, and
    every source's header/footer lines reach compute_boilerplate's
    min_docs on the first step. A source first seen with fewer
    header-bearing docs would keep its header as a text span in docs
    checkpointed before the header crosses min_docs."""
    n = INGEST_BASE_DOCS + INGEST_BATCH_DOCS * INGEST_MAX_STEPS
    ids = _id_block(seed, 3, n)
    np.random.default_rng([seed, 13]).shuffle(ids[INGEST_BASE_DOCS:])
    rows = generate_docs(pool, "markdown", ids)
    bounds = [0, INGEST_BASE_DOCS] + [
        INGEST_BASE_DOCS + INGEST_BATCH_DOCS * (k + 1)
        for k in range(INGEST_MAX_STEPS)]
    (d / "batches").mkdir()
    for k, (a, b) in enumerate(zip(bounds, bounds[1:])):
        _write_markdown(rows[a:b], d / "batches" / f"batch-{k:05d}.parquet")
    step_keys = [r[0] for r in rows[INGEST_BASE_DOCS:]]
    n_fail = round(INGEST_FAIL_SHARE * len(step_keys))
    fail = np.random.default_rng([seed, 17]).choice(
        len(step_keys), n_fail, replace=False)
    pq.write_table(pa.table({"doc_id": sorted(step_keys[i] for i in fail)}),
                   d / "fail_docs.parquet")
    pq.write_table(_golden(rows), d / "golden.parquet")


def build_corpus_ops(seed: int, d: Path) -> None:
    """documents + embeddings tables in the scale-factor tables' schema,
    each one parquet file with a single row group (their layout), seed-chosen
    ids in seed-chosen row order."""
    rng = np.random.default_rng([seed, 4])
    ids = np.sort(rng.choice(10 * CORPUS_DOCS, CORPUS_DOCS, replace=False))
    texts = [doc_text(int(i)) for i in ids]
    n_dup = CORPUS_DOCS // 20
    for a, b in rng.choice(CORPUS_DOCS, (n_dup, 2), replace=False):
        texts[a] = texts[b] + " dup"
    order = rng.permutation(CORPUS_DOCS)
    docs = pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": [texts[i] for i in order],
        "lang": [str(x) for x in rng.choice(LANGS, CORPUS_DOCS, p=LANG_P)],
        "source": [f"src{int(ids[i]) % N_SOURCES}" for i in order],
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })
    pq.write_table(docs, d / "documents.parquet", row_group_size=1 << 30)

    # the scale-factor tables' vectors are unit-norm, with labels
    # independent of them
    # (same-label and cross-label mean cosine are both ~0)
    vec_ids = rng.choice(10 * CORPUS_VECS, CORPUS_VECS, replace=False)
    labels = rng.integers(0, EMBED_LABELS, CORPUS_VECS).astype(np.int32)
    x = rng.normal(0, 1, (CORPUS_VECS, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(emb, d / "embeddings.parquet", row_group_size=1 << 30)


def build_ingest_curate(seed: int, d: Path, pool) -> None:
    (d / "ingest").mkdir()
    build_incremental_ingest(seed, d / "ingest", pool)
    (d / "ops").mkdir()
    build_corpus_ops(seed, d / "ops")


BUILDERS = {
    "bulk_extract": build_bulk_extract,
    "ingest_curate": build_ingest_curate,
}


def prepare(workload: str, seed: int, cache_root: Path) -> Path:
    """Directory holding the workload's inputs and golden for `seed`,
    generating it on first use."""
    d = cache_root / f"{workload}-s{seed}-v{LAYOUT_VERSION}"
    if (d / "_COMPLETE").exists():
        return d
    tmp = d.with_name(d.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    with ProcessPoolExecutor(
            GEN_PROCS, mp_context=multiprocessing.get_context("spawn")) as pool:
        BUILDERS[workload](seed, tmp, pool)
    # the spawn pool started multiprocessing's resource tracker, which would
    # otherwise outlive generation as a child of this process; end and reap it
    resource_tracker._resource_tracker._stop()
    (tmp / "_COMPLETE").touch()
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d

