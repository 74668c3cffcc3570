"""Seeded input generators.  Every function is a pure function of its
seed and size arguments: the same seed gives the same inputs, and the
engine sees nothing but what these return.

Cells are 7-tuples in the engine's cell order
``(row, family, qualifier, ts, type, seq, value)`` with string keys.
"""

from __future__ import annotations

import random

PUT, DELETE, DELETE_COLUMN, DELETE_FAMILY = 4, 8, 12, 14
FAMILIES = ("a", "b")
# A row is a YCSB record: ten 100-byte fields (YCSB's fieldcount and
# fieldlength defaults), here five qualifiers in each of two families.
QUALIFIERS = ("q0", "q1", "q2", "q3", "q4")
VALUE_LEN = 100


def row_key(i: int) -> str:
    return f"r{i:07d}"


def _value(rng: random.Random, n: int = VALUE_LEN) -> str:
    return rng.randbytes(n // 2).hex()


def versioned_cells(seed: int, rows: int, max_versions: int = 3,
                    tomb_share: float = 0.04, seq0: int = 1) -> list[tuple]:
    """A bulk-load cell set: ``rows`` rows x 2 families x 5 qualifiers,
    1..max_versions put versions per cell (uniform), and tombstones of
    all three types at ``tomb_share`` each: DeleteFamily on family
    ``b`` of a row, DeleteColumn between a cell's versions, and an exact
    Delete of a cell's newest version."""
    rng = random.Random(seed)
    out = []
    seq = seq0
    for i in range(rows):
        r = row_key(i)
        for fam in FAMILIES:
            for q in QUALIFIERS:
                nv = rng.randint(1, max_versions)
                ts_list = [1000 + 100 * k + rng.randint(0, 49) for k in range(nv)]
                for ts in ts_list:
                    out.append((r, fam, q, ts, PUT, seq, _value(rng)))
                    seq += 1
                if rng.random() < tomb_share and nv > 1:
                    # masks every version but the newest
                    out.append((r, fam, q, ts_list[-2], DELETE_COLUMN, seq, None))
                    seq += 1
                if rng.random() < tomb_share:
                    out.append((r, fam, q, ts_list[-1], DELETE, seq, None))
                    seq += 1
        if rng.random() < tomb_share:
            out.append((r, "b", None, 1000 + 100 * max_versions, DELETE_FAMILY,
                        seq, None))
            seq += 1
    return out


def wave_cells(seed: int, wave: int, rows: int, overwrite: int, new_rows: int,
               tombs: int, ts0: int, seq0: int) -> list[tuple]:
    """One append wave over a table of ``rows`` rows: ``overwrite`` newer
    puts on existing cells, ``new_rows`` fresh rows (10 cells each), and
    ``tombs`` tombstones of each of the three types: a DeleteColumn and a
    DeleteFamily on random old rows, and an exact Delete of one of this
    wave's overwrites."""
    rng = random.Random(seed * 1000 + wave)
    out = []
    seq = seq0
    ts = ts0
    puts = []
    for _ in range(overwrite):
        r = row_key(rng.randrange(rows))
        puts.append((r, rng.choice(FAMILIES), rng.choice(QUALIFIERS), ts, PUT, seq,
                     _value(rng)))
        seq += 1
        ts += 1
    out.extend(puts)
    for j in range(new_rows):
        r = row_key(rows + wave * new_rows + j)
        for fam in FAMILIES:
            for q in QUALIFIERS:
                out.append((r, fam, q, ts, PUT, seq, _value(rng)))
                seq += 1
        ts += 1
    for _ in range(tombs):
        r = row_key(rng.randrange(rows))
        out.append((r, rng.choice(FAMILIES), rng.choice(QUALIFIERS), ts,
                    DELETE_COLUMN, seq, None))
        pr, pf, pq, pts = rng.choice(puts)[:4]   # exactly one put's version
        out.append((pr, pf, pq, pts, DELETE, seq + 1, None))
        out.append((row_key(rng.randrange(rows)), "b", None, ts, DELETE_FAMILY,
                    seq + 2, None))
        seq += 3
        ts += 1
    return out


def visible_model(cells) -> dict:
    """Pure-Python twin of a max_versions=1 read: (row, family,
    qualifier) -> newest visible value.  A put survives unless a family
    or column tombstone at ts >= its ts, or an exact-version tombstone
    at its ts, masks it; among survivors at one coordinate the newest
    (ts, seq) wins."""
    fam_del: dict = {}
    col_del: dict = {}
    ver_del: set = set()
    for r, f, q, ts, typ, _s, _v in cells:
        if typ == DELETE_FAMILY:
            fam_del[(r, f)] = max(ts, fam_del.get((r, f), -1))
        elif typ == DELETE_COLUMN:
            col_del[(r, f, q)] = max(ts, col_del.get((r, f, q), -1))
        elif typ == DELETE:
            ver_del.add((r, f, q, ts))
    best: dict = {}
    for r, f, q, ts, typ, seq, v in cells:
        if typ != PUT:
            continue
        if ts <= fam_del.get((r, f), -1) or ts <= col_del.get((r, f, q), -1):
            continue
        if (r, f, q, ts) in ver_del:
            continue
        k = (r, f, q)
        if k not in best or (ts, seq) > best[k][:2]:
            best[k] = (ts, seq, v)
    return {k: v for k, (_t, _s, v) in best.items()}


def zipf_sampler(rng: random.Random, n: int, s: float = 0.99):
    """Zipf(s) draws over ranks 0..n-1 mapped through a seeded
    permutation, so which keys are hot changes with the seed.  The
    default exponent is YCSB's Zipfian constant; the permutation plays
    the part of its scrambled-Zipfian key hashing."""
    import bisect

    weights = [1.0 / (k + 1) ** s for k in range(n)]
    cum, acc = [], 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    perm = list(range(n))
    rng.shuffle(perm)

    def draw() -> int:
        return perm[min(n - 1, bisect.bisect_left(cum, rng.random() * acc))]

    return draw


# The interactive request pattern: every block of ten is 8 GETs, one
# PUT and one column DELETE in this fixed order, so a run of n requests
# holds the same mix whatever the seed.
BLOCK = ("get",) * 4 + ("put",) + ("get",) * 4 + ("delete",)
RECENT_SHARE = 0.3
RECENT_WINDOW = 16


def request_mix(seed: int, rows: int, n: int, ts0: int) -> list[tuple]:
    """The interactive request sequence: ``BLOCK`` repeated.  GET keys
    are Zipf-skewed, and ``RECENT_SHARE`` of them go to one of the last
    ``RECENT_WINDOW`` rows written (the idea of YCSB's "latest"
    distribution; the share and window are assumptions, listed with
    their reasons in README.md).  Mutations carry an explicit,
    strictly increasing ts from ``ts0`` (a logical clock above every
    loaded version).  Items: ("get", row) | ("put", row, fam, qual,
    value, ts) | ("delete", row, fam, qual, ts)."""
    rng = random.Random(seed ^ 0x5EED)
    draw = zipf_sampler(rng, rows)
    recent: list[str] = []
    out: list[tuple] = []
    ts = ts0
    while len(out) < n:
        for kind in BLOCK:
            if kind == "get":
                if recent and rng.random() < RECENT_SHARE:
                    out.append(("get", rng.choice(recent[-RECENT_WINDOW:])))
                else:
                    out.append(("get", row_key(draw())))
                continue
            r = row_key(draw())
            fam, q = rng.choice(FAMILIES), rng.choice(QUALIFIERS)
            ts += 1
            if kind == "put":
                out.append(("put", r, fam, q, _value(rng), ts))
            else:
                out.append(("delete", r, fam, q, ts))
            recent.append(r)
    return out[:n]


# ------------------------------------------------------------- corpus

_CONTENT = [
    "data", "model", "table", "spark", "river", "garden", "market", "engine",
    "window", "signal", "theory", "circuit", "harbor", "planet", "violin",
    "copper", "lantern", "meadow", "orbit", "puzzle", "quartz", "saddle",
    "timber", "velvet", "walnut", "yonder", "zephyr", "anchor", "basket",
    "candle", "desert", "ember", "falcon", "glacier", "hollow", "island",
]
LANG_MIX = (("en", 0.5), ("de", 0.2), ("es", 0.15), ("fr", 0.15))


def corpus_docs(seed: int, n_docs: int, near_dup_share: float = 0.15,
                exact_dup_share: float = 0.05, words: tuple = (80, 140)):
    """Documents with a fixed language mix and planted duplicates.
    Returns (docs, planted) where docs is [(doc_id, lang, text)] and
    planted is the set of (a, b) doc-id pairs, a < b, within one group
    of an original and its near or exact copies.  Near copies change ~3% of words; every other document
    draws fresh words, so unplanted pairs share almost no shingles."""
    from hbase_snapshot_spark.operators.text import STOPWORDS

    rng = random.Random(seed ^ 0xD0C)
    langs = [lang for lang, share in LANG_MIX for _ in range(int(share * 100))]
    n_near = int(n_docs * near_dup_share)
    n_exact = int(n_docs * exact_dup_share)
    n_orig = n_docs - n_near - n_exact
    docs = []
    groups: dict[int, list[int]] = {}
    for i in range(n_orig):
        lang = rng.choice(langs)
        stop = sorted(STOPWORDS[lang])
        n = rng.randint(*words)
        toks = [rng.choice(stop) if rng.random() < 0.4
                else f"{rng.choice(_CONTENT)}{rng.randrange(10_000)}"
                for _ in range(n)]
        docs.append((i + 1, lang, " ".join(toks)))
    for j in range(n_near + n_exact):
        src = docs[rng.randrange(n_orig)]
        toks = src[2].split(" ")
        if j < n_near:
            for _ in range(max(1, len(toks) // 33)):
                toks[rng.randrange(len(toks))] = f"edit{rng.randrange(10_000)}"
        doc_id = n_orig + j + 1
        docs.append((doc_id, src[1], " ".join(toks)))
        groups.setdefault(src[0], [src[0]]).append(doc_id)
    planted = {(a, b) for g in groups.values() for a in g for b in g if a < b}
    return docs, planted


def embeddings(seed: int, n: int, dim: int = 16, n_queries: int = 8):
    """(vectors, queries): seeded float vectors, one per document."""
    rng = random.Random(seed ^ 0xE3B)
    vecs = [(i + 1, [round(rng.gauss(0, 1), 6) for _ in range(dim)])
            for i in range(n)]
    qs = [(q, [round(rng.gauss(0, 1), 6) for _ in range(dim)])
          for q in range(n_queries)]
    return vecs, qs
