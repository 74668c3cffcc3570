"""Correctness checkers.  Each takes plain Python values (rows, maps,
file lists) so the benchmark's own tests can hand them a deliberately
corrupted result and watch them reject it."""

from __future__ import annotations

import glob
import hashlib
import json
import os

CELL_COLS = "row, family, qualifier, ts, type, seq, value"


def digest(rows) -> str:
    """Order-insensitive digest of result rows (tuples of plain values)."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def head_segment_files(table_dir: str) -> list[str]:
    """Parquet files of the segments HEAD's manifest lists, read straight
    from disk."""
    with open(os.path.join(table_dir, "HEAD.json")) as f:
        version = json.load(f)["version"]
    with open(os.path.join(table_dir, "manifests", f"v{version}.json")) as f:
        segs = json.load(f)["segments"]
    files = []
    for s in segs:
        files += sorted(glob.glob(os.path.join(table_dir, "segments", s,
                                               "*.parquet")))
    return files


def cells_sql(files: list[str]) -> str:
    lst = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"SELECT {CELL_COLS} FROM read_parquet([{lst}])"


def oracle_rows(files: list[str], **resolve_kwargs) -> list[tuple]:
    """Rows of ``oracle.resolve_sql`` evaluated by DuckDB over exactly
    ``files`` — the engine-independent twin of a resolved read."""
    import duckdb

    from hbase_snapshot_spark import oracle

    sql = oracle.resolve_sql(cells_sql=cells_sql(files), **resolve_kwargs)
    con = duckdb.connect()
    try:
        return [tuple(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()


def model_mismatches(model: dict, cells) -> list[str]:
    """Differences between the visible-value model {(row, family,
    qualifier): value} and a resolved max_versions=1 cell list of
    (row, family, qualifier, ts, value) tuples."""
    got = {(r, f, q): v for r, f, q, _ts, v in cells}
    out = []
    for k in sorted(set(model) | set(got)):
        if model.get(k) != got.get(k):
            out.append(f"{k}: want {model.get(k)!r} got {got.get(k)!r}")
    return out


def get_response_ok(model_row: dict, status: int, body: bytes) -> str | None:
    """Check one REST GET against the model's view of that row
    ({(family, qualifier): value}).  A 404 is right exactly when the
    model holds no visible cell.  Returns a problem string or None."""
    if not model_row:
        return None if status == 404 else f"want 404, got {status}"
    if status != 200:
        return f"want 200, got {status}: {body[:200]!r}"
    cells = json.loads(body)["cells"]
    got = {(c["family"], c["qualifier"]): c["value"] for c in cells}
    if got != model_row:
        diff = sorted(set(got.items()) ^ set(model_row.items()))[:4]
        return f"cells differ: {diff}"
    return None


def pairs_ok(pairs, planted: set) -> str | None:
    """Every verified near-duplicate pair must be one the generator
    planted, and at least half of the planted pairs must be found."""
    got = {(min(a, b), max(a, b)) for a, b in pairs}
    extra = got - planted
    if extra:
        return f"{len(extra)} unplanted pairs, e.g. {sorted(extra)[:3]}"
    if len(got) * 2 < len(planted):
        return f"found {len(got)} of {len(planted)} planted pairs"
    return None


def topk_expected(vectors, queries, k: int) -> set:
    """Exact cosine top-k by brute force: {(query_id, vec_id)}, ties
    broken by vec_id, cosine rounded to 6 places like the engine's."""
    import math

    def norm(v):
        return math.sqrt(sum(x * x for x in v))

    out = set()
    for qid, q in queries:
        qn = norm(q)
        scored = []
        for vid, v in vectors:
            vn = norm(v)
            cos = round(sum(a * b for a, b in zip(v, q)) / (vn * qn), 6)
            scored.append((-cos, vid))
        scored.sort()
        out.update((qid, vid) for _c, vid in scored[:k])
    return out
