"""Seeded workload inputs for the benchmark.

Everything here is a pure function of ``(workload, seed)``: the registry
tables (``documents``/``events``/``embeddings``, shaped like the sf0.01
testdata the driver contract uses) and the extraction corpus (a spans table
plus a payload table of PNG pages). Inputs are written under a cache
directory keyed by ``(workload, seed, GEN_VERSION)``, so a repeated seed
skips generation. Generation runs in the benchmark's own process.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when any generator below changes its output for a given seed
GEN_VERSION = 2

PAGE_W, PAGE_H = 512, 640
PAGES_PER_FILE = 64  # payload parquet part size, as bench.py lays it out

#: the sf testdata word list (31 words incl. the near-duplicate marker)
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.43, 0.15, 0.145, 0.14, 0.135)
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")

#: registry table sizes (sf0.01 row counts)
REG_DOCS, REG_EVENTS, REG_USERS, REG_EMB = 500, 10_000, 150, 500

#: extraction corpus size: 2 media spans per doc -> ~2x nearly distinct pages
UNIQUE_DOCS = 128


def rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *salt])


# ---------------------------------------------------------------------------
# registry tables
# ---------------------------------------------------------------------------


def _word_texts(g: np.random.Generator, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    lens = g.integers(lo, hi + 1, n)
    words = np.array(VOCAB)
    return [" ".join(words[g.integers(0, len(words), k)]) for k in lens]


def make_documents(seed: int, n: int = REG_DOCS) -> pa.Table:
    """doc_id/text/lang/source/n_chars; ~5% of texts are another doc's text
    plus a trailing ``dup`` (the testdata's near-duplicate pattern)."""
    g = rng(seed, 1)
    texts = _word_texts(g, n)
    for i in np.flatnonzero(g.random(n) < 0.05):
        j = int(g.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    langs = [LANGS[k] for k in g.choice(len(LANGS), n, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def make_events(seed: int, n: int = REG_EVENTS, n_users: int = REG_USERS) -> pa.Table:
    g = rng(seed, 2)
    span_us = 30 * 86400 * 10**6
    gaps = g.exponential(span_us / n, n)
    ts = (np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]"))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(g.integers(0, n_users, n), pa.int64()),
            "event_type": [EVENT_TYPES[k] for k in g.integers(0, len(EVENT_TYPES), n)],
            "value": np.maximum(np.round(g.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n)],
        }
    )


def make_embeddings(seed: int, n: int = REG_EMB, dim: int = 64, n_labels: int = 10) -> pa.Table:
    """Unit-norm float32 vectors with a weak per-label centroid."""
    g = rng(seed, 3)
    labels = g.integers(0, n_labels, n)
    cents = g.normal(size=(n_labels, dim))
    v = g.normal(size=(n, dim)) + 0.15 * cents[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------


def render_page(seed: int, i: int) -> bytes:
    """Page ``i`` of a seed's page pool, bench.py's mix by ``i % 20``:
    16 clean, then salt-pepper, blur, 4° rotation, dot-comb watermark."""
    from document_quality_assessment_ocr_spark import png
    from document_quality_assessment_ocr_spark.sources import fixtures

    g = rng(seed, 4, i)
    k = i % 20
    if k == 19:
        arr = fixtures.periodic_dot_comb(PAGE_H, PAGE_W)
    else:
        arr = fixtures.draw_text_page(g, w=PAGE_W, h=PAGE_H)
        if k == 16:
            arr = fixtures.salt_pepper(g, arr)
        elif k == 17:
            arr = fixtures.gaussian_blur(arr, 5.0)
        elif k == 18:
            arr = fixtures.rotate_nearest(arr, 4.0)
    return png.encode_gray(arr, dpi=200)


# ---------------------------------------------------------------------------
# extraction corpora
# ---------------------------------------------------------------------------


def _span(kind: str, text: str, ref: str, offset: int) -> dict:
    return {"kind": kind, "text": text, "media_ref": ref, "offset": int(offset)}


def unique_pages_corpus(seed: int, n_docs: int = UNIQUE_DOCS) -> tuple[list, list]:
    """Docs of 3 text + 2 media spans (bench.py's layout) over nearly
    distinct pages; every page dpi=200; doc ids unique."""
    g = rng(seed, 5)
    texts = _word_texts(g, n_docs, 20, 100)
    n_pages = 2 * n_docs
    refs = g.permutation(n_pages)
    reuse = g.random(n_pages) < 0.03  # a few media spans repeat a page
    refs[reuse] = g.integers(0, n_pages, int(reuse.sum()))
    rows = []
    for j, text in enumerate(texts):
        third = max(1, len(text) // 3)
        rows.append(
            {
                "doc_id": f"u{j:06d}",
                "skip_checks": False,
                "ingest_seq": j,
                "spans": [
                    _span("text", text[:third], "", 0),
                    _span("media", "", f"p{refs[2 * j]:05d}", third),
                    _span("text", text[third : 2 * third], "", third + 1),
                    _span("media", "", f"p{refs[2 * j + 1]:05d}", 2 * third + 2),
                    _span("text", text[2 * third :], "", 2 * third + 3),
                ],
            }
        )
    pages = [(f"p{i:05d}", i, 200) for i in range(n_pages)]
    return rows, pages


def latest_rows(rows: list) -> dict:
    """doc_id -> its last-ingested row (the pipeline's last-wins dedup)."""
    latest = {}
    for r in sorted(rows, key=lambda r: r["ingest_seq"]):
        latest[r["doc_id"]] = r
    return latest


def k8_read_share(rows: list, payloads: dict, min_dpi: float = 72.0) -> float:
    """Pages whose K8 estimate the verdict reads ÷ pages K8 runs on.

    K8 runs on every payload; the verdict reads it only for page one of a
    checked document whose lowest page metadata dpi is below ``min_dpi``."""
    read = set()
    for r in latest_rows(rows).values():
        pages = sorted((s["offset"], s["media_ref"]) for s in r["spans"] if s["kind"] == "media")
        if r["skip_checks"] or not pages or any(ref not in payloads for _, ref in pages):
            continue
        if min(payloads[ref]["dpi"] for _, ref in pages) < min_dpi:
            read.add(pages[0][1])
    return len(read) / max(1, len(payloads))


def corpus_stats(rows: list, pages: list) -> dict:
    """Input properties the extraction layers depend on."""
    latest = latest_rows(rows)
    n_spans = sum(len(r["spans"]) for r in rows)
    media = [s["media_ref"] for r in rows for s in r["spans"] if s["kind"] == "media"]
    return {
        "docs": len(latest),
        "rows": len(rows),
        "spans": n_spans,
        "media_spans": len(media),
        "distinct_pages": len(pages),
        "page_reuse_ratio": len(media) / max(1, len(set(media))),
        "low_dpi_share": sum(1 for p in pages if p[2] < 72) / max(1, len(pages)),
        "dup_id_share": (len(rows) - len(latest)) / max(1, len(rows)),
        "largest_doc_spans": max((len(r["spans"]) for r in rows), default=0),
        "skip_checks_share": sum(1 for r in latest.values() if r["skip_checks"]) / max(1, len(latest)),
    }


# ---------------------------------------------------------------------------
# on-disk layout + cache
# ---------------------------------------------------------------------------


def input_dir(cache_root: str, workload: str, seed: int) -> str:
    return os.path.join(cache_root, "inputs", f"{workload}-s{seed}-g{GEN_VERSION}")


def build_extraction(out_dir: str, seed: int) -> dict:
    """Write spans.parquet, payloads/part-*.parquet and stats.json; return
    the stats."""
    from document_quality_assessment_ocr_spark.sources.fixtures import PAYLOADS_SCHEMA, SPANS_SCHEMA

    rows, pages = unique_pages_corpus(seed)
    blobs = [render_page(seed, p[1]) for p in pages]
    tmp = out_dir + ".tmp"
    os.makedirs(os.path.join(tmp, "payloads"), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=SPANS_SCHEMA), os.path.join(tmp, "spans.parquet"))
    for k in range(0, len(pages), PAGES_PER_FILE):
        part = [
            {"media_ref": ref, "width": PAGE_W, "height": PAGE_H, "dpi": dpi, "png": blob}
            for (ref, _, dpi), blob in zip(pages[k : k + PAGES_PER_FILE], blobs[k : k + PAGES_PER_FILE])
        ]
        pq.write_table(
            pa.Table.from_pylist(part, schema=PAYLOADS_SCHEMA),
            os.path.join(tmp, "payloads", f"part-{k // PAGES_PER_FILE:04d}.parquet"),
        )
    stats = corpus_stats(rows, pages)
    with open(os.path.join(tmp, "stats.json"), "w") as f:
        json.dump(stats, f, sort_keys=True)
    os.replace(tmp, out_dir)
    return stats


def build_registry(out_dir: str, seed: int) -> dict:
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(make_documents(seed), os.path.join(tmp, "documents.parquet"))
    pq.write_table(make_events(seed), os.path.join(tmp, "events.parquet"))
    pq.write_table(make_embeddings(seed), os.path.join(tmp, "embeddings.parquet"))
    stats = {"docs": REG_DOCS, "events": REG_EVENTS, "users": REG_USERS, "embeddings": REG_EMB}
    with open(os.path.join(tmp, "stats.json"), "w") as f:
        json.dump(stats, f, sort_keys=True)
    os.replace(tmp, out_dir)
    return stats


def prepare(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Input directory for ``(workload, seed)``, generated on first use."""
    import shutil

    d = input_dir(cache_root, workload, seed)
    if os.path.exists(os.path.join(d, "stats.json")):
        with open(os.path.join(d, "stats.json")) as f:
            return d, json.load(f)
    shutil.rmtree(d + ".tmp", ignore_errors=True)
    if workload == "registry_mix":
        return d, build_registry(d, seed)
    return d, build_extraction(d, seed)


def read_rows(in_dir: str) -> tuple[list, dict]:
    """(spans rows, payloads ref -> {png, dpi}) back from an input dir."""
    rows = pq.read_table(os.path.join(in_dir, "spans.parquet")).to_pylist()
    pay = {}
    for r in pq.read_table(os.path.join(in_dir, "payloads")).to_pylist():
        pay[r["media_ref"]] = {"png": r["png"], "dpi": r["dpi"]}
    return rows, pay
