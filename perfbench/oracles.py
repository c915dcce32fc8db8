"""Expected outputs and the comparisons that turn them into failed operations.

* Extraction: ``oracle.evaluate_corpus`` on the same generated input,
  cached per (seed, digest of oracle.py/kernels.py/png.py/config.py).
* Registry: each query's ``oracle_sql()`` text run on DuckDB over the same
  parquet files, cached per (seed, digest of __spark_entry__.py), compared
  with the rule of
  ``tests/test_driver_contract.py::test_all_queries_match_duckdb``.
"""

from __future__ import annotations

import hashlib
import os
import pickle

CRITICAL = "Critical error during evaluation: "
ORACLE_SOURCES = ("oracle.py", "kernels.py", "png.py", "config.py")


def digest(root: str, files) -> str:
    h = hashlib.sha256()
    for f in files:
        with open(os.path.join(root, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# extraction
# ---------------------------------------------------------------------------


def cached(path: str, compute):
    """``compute()`` once, then read back from the pickle at ``path``."""
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


def _span_key(spans) -> list:
    return [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans or []]


def check_extraction(out_rows: list[dict], expected: dict) -> dict:
    """Compare engine output rows (doc_id, accepted, reasons, warnings,
    spans) with the oracle. A document is one operation: it fails when its
    row is missing, duplicated or differs from the oracle. A document the
    oracle itself rejects for a corrupt or missing page, matched by the
    engine, is *rejected as data*, not failed."""
    got: dict = {}
    dup = set()
    for r in out_rows:
        if r["doc_id"] in got:
            dup.add(r["doc_id"])
        got[r["doc_id"]] = r
    failed, rejected_as_data, mismatches = 0, 0, []
    for doc_id, e in expected.items():
        r = got.get(doc_id)
        ok = (
            r is not None
            and doc_id not in dup
            and bool(r["accepted"]) == e["accepted"]
            and list(r["reasons"] or []) == e["reasons"]
            and list(r["warnings"] or []) == e["warnings"]
            and _span_key(r["spans"]) == _span_key(e["spans"])
        )
        if not ok:
            failed += 1
            if len(mismatches) < 5:
                mismatches.append(doc_id)
        elif not e["accepted"] and any(x.startswith(CRITICAL) for x in e["reasons"]):
            rejected_as_data += 1
    extra = len(set(got) - set(expected))
    return {
        "attempted": len(expected) + extra,
        "failed": failed + extra,
        "rejected_as_data": rejected_as_data,
        "mismatches": mismatches,
    }


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def duckdb_expected(data_dir: str, texts: dict[str, str]) -> dict:
    """name -> pandas DataFrame from DuckDB (or the exception text)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in ("documents", "events", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
        out = {}
        for name, sql in texts.items():
            try:
                out[name] = con.execute(sql).df()
            except duckdb.Error as e:
                out[name] = f"duckdb: {e}"
        return out
    finally:
        con.close()


def frames_match(sdf, odf) -> str | None:
    """None when equal under the driver-contract rule, else the reason."""
    import numpy as np

    if isinstance(odf, str):
        return odf
    cols = sorted(sdf.columns)
    if cols != sorted(odf.columns):
        return f"columns {list(sdf.columns)} vs {list(odf.columns)}"
    sdf = sdf[cols].sort_values(cols).reset_index(drop=True)
    odf = odf[cols].sort_values(cols).reset_index(drop=True)
    if sdf.shape != odf.shape:
        return f"shape {sdf.shape} vs {odf.shape}"
    for c in cols:
        a, b = sdf[c], odf[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = np.allclose(a.astype(float), b.astype(float), rtol=0, atol=0, equal_nan=True)
        else:
            ok = (a.astype(str) == b.astype(str)).all()
        if not ok:
            return f"values differ in column {c}"
    return None
