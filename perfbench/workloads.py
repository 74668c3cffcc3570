"""The workloads.  Each is a closed loop with a single caller: the next
operation starts only after the previous one returned.  Each one fills
a ``harness.Run`` with timed ops, setup samples, check results and its
workload-specific report, and touches the engine only through its
public functions.

Sizes are fixed per workload (``SIZES[...]["full"]``); ``"tiny"`` exists
only for the benchmark's own smoke tests.
"""

from __future__ import annotations

import os
import shutil
import time
import urllib.error
import urllib.request
from contextlib import nullcontext
from statistics import quantiles

from perfbench import check, gen
from perfbench.harness import cores, median

SETUP_REPEATS = {"full": 3, "tiny": 1}

SIZES = {
    "interactive_mixed": {
        "full": dict(rows=1000, warmup_requests=30, compact_every=4,
                     compact_threshold=4),
        "tiny": dict(rows=40, warmup_requests=10, compact_every=4,
                     compact_threshold=4),
    },
    "ingest_compact": {
        "full": dict(rows=3000, waves=4, overwrite=500, new_rows=50, tombs=20,
                     compact_threshold=3, snapshot_deletes=50,
                     docs=40, files=2, shards=2, queries=4, dim=8, k=5),
        "tiny": dict(rows=200, waves=2, overwrite=40, new_rows=10, tombs=4,
                     compact_threshold=3, snapshot_deletes=5,
                     docs=20, files=2, shards=2, queries=2, dim=8, k=3),
    },
}

RESOLVED_COLS = ["row", "family", "qualifier", "ts", "value"]
CAPS = {"a": 3, "b": 3}


# ------------------------------------------------------------ helpers

def _descriptor(name: str):
    from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor

    d = TableDescriptor(name)
    for fam in gen.FAMILIES:
        d.add_family(FamilyDescriptor(fam, max_versions=CAPS[fam],
                                      replication_scope=1))
    return d


def write_cells(path: str, cells) -> str:
    """Write generated cells as one parquet file (the user's input
    file; written without Spark, so generation stays off the engine)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*cells))
    types = (pa.string(), pa.string(), pa.string(), pa.int64(), pa.int32(),
             pa.int64(), pa.string())
    names = ("row", "family", "qualifier", "ts", "type", "seq", "value")
    pq.write_table(pa.table({n: pa.array(c, t) for n, c, t in
                             zip(names, cols, types)}), path)
    return path


def _cells_df(spark, path: str):
    from hbase_snapshot_spark.model import cell_schema

    return spark.read.schema(cell_schema(binary=False)).parquet(path)


def _bulk_table(spark, store, name: str, cells_path: str, out: str):
    """Create ``name`` and adopt one sorted, prunable bulk segment."""
    from hbase_snapshot_spark.sources.tools import bulk_load

    t = store.create_table(_descriptor(name))
    bulk_load(_cells_df(spark, cells_path), out, num_partitions=cores())
    t.adopt_segment(out, move=True)
    return t


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _d, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _user_bytes(cells) -> int:
    """Bytes a user handed the engine: key, column, value and an 8-byte
    timestamp per cell."""
    return sum(len(r) + len(f) + len(q or "") + len(v or "") + 8
               for r, f, q, _ts, _t, _s, v in cells)


def _df_digest(df) -> tuple:
    """(count, xxhash64 sum) of a resolved frame: an in-engine digest
    for comparing two reads of the same engine (before/after, source/
    peer), never against the oracle."""
    from pyspark.sql import functions as F

    r = df.select(*RESOLVED_COLS).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*RESOLVED_COLS).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (r["n"], str(r["h"]))


def _timed_setup(run, fn) -> None:
    t0 = time.perf_counter()
    fn()
    run.setup_samples.append(time.perf_counter() - t0)


# ------------------------------------------------- interactive_mixed

def _http(port: int, method: str, path: str, body: bytes | None = None):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", data=body,
                                 method=method)
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _count_rest(run, status: int, body: bytes, expect_404: bool) -> None:
    run.count("rest.requests")
    run.count("rest.response_bytes", len(body))
    if status != 200 and not (status == 404 and expect_404):
        run.count("rest.errors")


def interactive_mixed(spark, run, size: str = "full") -> None:
    """REST point-op client over a bulk-loaded, multi-version,
    tombstone-bearing table: 80% GET, 10% PUT, 10% column DELETE."""
    from hbase_snapshot_spark import rest
    from hbase_snapshot_spark.client import Scan
    from hbase_snapshot_spark.table import TableStore

    p = SIZES["interactive_mixed"][size]
    rows = p["rows"]
    state = {}

    def setup(rep: int):
        cells = gen.versioned_cells(run.seed, rows)
        base = os.path.join(run.work, f"im-{rep}")
        store = TableStore(spark, base)
        t = _bulk_table(spark, store, "im",
                        write_cells(os.path.join(run.work, f"im-{rep}.parquet"), cells),
                        os.path.join(base, "bulk"))
        srv, port = rest.serve(store)
        model: dict = {}
        for (r, f, q), v in gen.visible_model(cells).items():
            model.setdefault(r, {})[(f, q)] = v
        state.update(base=base, t=t, srv=srv, port=port, model=model)

    for rep in range(SETUP_REPEATS[size]):
        if state:
            state["srv"].shutdown()
            state["srv"].server_close()
        _timed_setup(run, lambda: setup(rep))

    t, port, model = state["t"], state["port"], state["model"]
    reqs = gen.request_mix(run.seed, rows, n=20_000, ts0=100_000)
    tally = {"writes": 0, "compactions": 0, "compact_s": 0.0, "cells_out": 0}

    def request(req, timed: bool) -> None:
        """One request, its read-your-writes check, and the inline
        compaction on the write cadence.  Only ``timed`` requests are
        recorded as loop ops."""
        status, body = 0, b""
        kind = "get" if req[0] == "get" else "mutate"
        t_op = run.op(kind, check=False) if timed else nullcontext()
        if req[0] == "get":
            r = req[1]
            with t_op:
                status, body = _http(port, "GET", f"/im/{r}")
            prob = check.get_response_ok(model.get(r, {}), status, body)
            run.check(prob is None, f"GET {r}: {prob}")
            if timed:
                _count_rest(run, status, body, expect_404=not model.get(r))
                tally["cells_out"] += len(model.get(r, {}))
            return
        if req[0] == "put":
            _k, r, f, q, v, ts = req
            with t_op:
                status, body = _http(port, "PUT", f"/im/{r}/{f}:{q}?ts={ts}",
                                     v.encode())
            if run.check(status == 200, f"PUT {r}: {status} {body[:200]!r}"):
                model.setdefault(r, {})[(f, q)] = v
        else:
            _k, r, f, q, ts = req
            with t_op:
                status, body = _http(port, "DELETE", f"/im/{r}/{f}:{q}?ts={ts}")
            if run.check(status == 200, f"DELETE {r}: {status} {body[:200]!r}"):
                model.get(r, {}).pop((f, q), None)
        tally["writes"] += 1
        if timed:
            _count_rest(run, status, body, expect_404=False)
            tally["cells_out"] += 1
        if tally["writes"] % p["compact_every"] == 0:
            tc = time.perf_counter()
            done = t.maybe_compact(threshold=p["compact_threshold"]) is not None
            if timed:
                tally["compactions"] += done
                tally["compact_s"] += time.perf_counter() - tc

    # warm-up (once, counted in setup_s): the first requests of the same
    # mix, checked but not timed, so the loop measures a JIT-warm engine
    # rather than the first tens of requests' falling latency
    tw = time.perf_counter()
    for req in reqs[:p["warmup_requests"]]:
        request(req, timed=False)
    run.warmup_s = time.perf_counter() - tw
    t0 = run.loop_start()
    deadline = t0 + run.seconds
    i = p["warmup_requests"]
    while time.perf_counter() < deadline:
        request(reqs[i], timed=True)
        i += 1
    run.loop_end(t0)
    run.items, run.items_time_s = tally["cells_out"], run.loop_wall_s
    segments_end = len(t.manifest()["segments"])
    run.count("table.bytes_on_disk", _dir_bytes(state["base"]))
    state["srv"].shutdown()
    state["srv"].server_close()

    # durability: only the segments HEAD lists, from disk, two readers
    flat = {(r, f, q): v for r, cols in model.items() for (f, q), v in cols.items()}
    fresh = TableStore(spark, state["base"]).table("im")
    got = [tuple(x) for x in fresh.client().scan(Scan()).select(
        *RESOLVED_COLS).collect()]
    bad = check.model_mismatches(flat, got)
    run.check(not bad, f"durability (fresh handle): {bad[:3]}")
    orc = check.oracle_rows(check.head_segment_files(fresh.dir),
                            max_versions=1, family_max_versions=CAPS)
    bad = check.model_mismatches(flat, orc)
    run.check(not bad, f"durability (DuckDB oracle): {bad[:3]}")

    gets = run.latencies_ms("get")
    muts = run.latencies_ms("mutate")
    run.report.update({
        "get_ms_p50": median(gets) if gets else None,
        "get_ms_p90": quantiles(gets, n=10)[-1] if len(gets) > 1 else None,
        "gets": len(gets),
        "mutate_ms_p50": median(muts) if muts else None,
        "mutates": len(muts),
        "inline_compactions": tally["compactions"],
        "inline_compact_s": tally["compact_s"],
        "segments_at_end": segments_end,
    })


# ---------------------------------------------------- ingest_compact

def _spot_checks(spark, run, src, bands, prefix: str, checks: bool) -> None:
    """The operator's read-back after the waves: the new-row bands via
    one multi-range scan, a row-prefix filtered scan and a point Get,
    each compared with DuckDB over the segments HEAD lists."""
    from hbase_snapshot_spark.client import Get, Scan
    from hbase_snapshot_spark.filters import PrefixFilter
    from hbase_snapshot_spark.resolve import ResolveSpec

    files = check.head_segment_files(src.dir)
    caps = dict(family_max_versions=CAPS)
    got = {}
    with run.op("query", check=False):
        got["bands"] = src.scan_ranges(bands, spec=ResolveSpec(max_versions=1)) \
            .select(*RESOLVED_COLS).collect()
        got["prefix"] = src.client().scan(Scan(filter=PrefixFilter(prefix))) \
            .select(*RESOLVED_COLS).collect()
        got["get"] = src.client().get(Get(bands[0][0])).select(
            *RESOLVED_COLS).collect()
    if not checks:
        return
    bands_sql = " OR ".join(f"(row >= '{lo}' AND row < '{hi}')" for lo, hi in bands)
    with run.untimed():
        want = {
            "bands": check.oracle_rows(files, max_versions=1, where=bands_sql,
                                       **caps),
            "prefix": check.oracle_rows(files, max_versions=1,
                                        where=f"starts_with(row, '{prefix}')",
                                        **caps),
            "get": check.oracle_rows(files, max_versions=1,
                                     where=f"row = '{bands[0][0]}'", **caps),
        }
    for k, rows in got.items():
        run.check(check.digest(tuple(r) for r in rows) == check.digest(want[k]),
                  f"spot check {k}: engine {len(rows)} rows, oracle "
                  f"{len(want[k])}")


def _write_warc(docs, directory: str, n_files: int) -> str:
    """The crawl the corpus builder reads: one HTTP-200 HTML response
    record per document, documents bucketed by ``doc_id % n_files``;
    returns the archives' glob."""
    from hbase_snapshot_spark.sources.warc import write_warc_file

    os.makedirs(directory)
    for i in range(n_files):
        recs = [{
            "headers": {
                "WARC-Type": "response",
                "WARC-Record-ID": f"<urn:uuid:doc-{doc_id}>",
                "WARC-Date": "2026-01-01T00:00:00Z",
                "WARC-Target-URI": f"http://bench.example/doc/{doc_id}",
                "Content-Type": "application/http; msgtype=response",
            },
            "block": (b"HTTP/1.1 200 OK\r\n"
                      b"Content-Type: text/html; charset=utf-8\r\n\r\n"
                      + f"<html><head><title>doc {doc_id}</title></head>"
                        f"<body><p>{text}</p></body></html>".encode()),
        } for doc_id, _lang, text in docs if doc_id % n_files == i]
        with open(os.path.join(directory, f"part-{i}.warc.gz"), "wb") as f:
            f.write(write_warc_file(recs, gzip_members=True))
    return os.path.join(directory, "*.warc.gz")


def _ingest_inputs(seed: int, p: dict, directory: str) -> dict:
    """Generate the base load and the waves, written as parquet files,
    and the corpus step's crawl (as .warc.gz) and embeddings."""
    os.makedirs(directory)
    rows = p["rows"]
    base = gen.versioned_cells(seed, rows, max_versions=1, tomb_share=0.0)
    docs, planted = gen.corpus_docs(seed, p["docs"])
    vecs, qs = gen.embeddings(seed, p["docs"], p["dim"], p["queries"])
    inp = {"base": base,
           "base_path": write_cells(os.path.join(directory, "base.parquet"), base),
           "waves": [], "wave_paths": [],
           "warc_glob": _write_warc(docs, os.path.join(directory, "warc"),
                                    p["files"]),
           "planted": planted, "vecs": vecs, "qs": qs,
           "want_topk": check.topk_expected(vecs, qs, p["k"])}
    seq, ts = len(base) + 1, 5000
    for w in range(p["waves"]):
        wave = gen.wave_cells(seed, w, rows, p["overwrite"], p["new_rows"],
                              p["tombs"], ts0=ts, seq0=seq)
        inp["waves"].append(wave)
        inp["wave_paths"].append(write_cells(
            os.path.join(directory, f"wave{w}.parquet"), wave))
        seq += len(wave)
        ts = max(c[3] for c in wave) + 1
    return inp


def _corpus_step(spark, run, p: dict, inp: dict, directory: str, acc: dict,
                 checks: bool) -> None:
    """The training-corpus build over the cycle's crawl: WARC archives ->
    documents -> preprocessed, packed chunks -> verified shards, plus
    MinHash near-duplicate pairs and an exact cosine top-k batch."""
    from pyspark.sql import functions as F

    from hbase_snapshot_spark.operators.dedup import minhash_dup_pairs, with_shingles
    from hbase_snapshot_spark.operators.pipeline import preprocess_corpus
    from hbase_snapshot_spark.operators.similarity import cosine_topk
    from hbase_snapshot_spark.sources.shards import (
        verify_training_shards,
        write_training_shards,
    )
    from hbase_snapshot_spark.sources.warc import warc_to_documents

    docs_dir, chunks_dir, shards_dir = (os.path.join(directory, x) for x in
                                        ("docs", "chunks", "shards"))
    manifest = docs = None
    problems, pairs, top = ["stage failed"], [], []
    t0 = len(run.ops)
    with run.op("extract", check=False):
        warc_to_documents(spark, inp["warc_glob"]).write.parquet(docs_dir)
    with run.op("preprocess", check=False):
        preprocess_corpus(spark.read.parquet(docs_dir),
                          min_quality=0.0).write.parquet(chunks_dir)
    with run.op("shards_write", check=False):
        manifest = write_training_shards(
            spark.read.parquet(chunks_dir), shards_dir,
            key=F.col("doc_id"), n_shards=p["shards"])
    with run.op("shards_verify", check=False):
        problems = verify_training_shards(spark, shards_dir, manifest)
    with run.op("minhash", check=False):
        docs = spark.read.parquet(docs_dir).select(
            F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
            .alias("doc_id"), "text")
        pairs = [(r["a"], r["b"]) for r in
                 minhash_dup_pairs(with_shingles(docs), id_col="doc_id")
                 .select("a", "b").collect()]
    with run.op("topk", check=False):
        top = cosine_topk(
            spark.createDataFrame(inp["vecs"], "vec_id long, embedding array<double>"),
            spark.createDataFrame(inp["qs"], "query_id long, embedding array<double>"),
            k=p["k"]).collect()
    acc["corpus_s"] += sum(run.latencies_ms()[t0:]) / 1000.0
    acc["docs"] += p["docs"]
    if not checks:
        return
    with run.untimed():
        if run.tracer is not None and docs is not None:
            # traced only: LSH candidates before Jaccard verification
            # (threshold 0 keeps every candidate)
            run.count("dedup.candidate_pairs", minhash_dup_pairs(
                with_shingles(docs), id_col="doc_id", threshold=0.0).count())
            run.count("dedup.verified_pairs", len(pairs))
        n_docs = spark.read.parquet(docs_dir).count()
        n_chunks = spark.read.parquet(chunks_dir).count()
    run.count("pipeline.docs_in", n_docs)
    run.count("pipeline.chunks_out", n_chunks)
    run.check(not problems, f"verify_training_shards: {problems[:3]}")
    run.check(n_docs == p["docs"], f"extracted {n_docs} of {p['docs']} docs")
    prob = check.pairs_ok(pairs, inp["planted"])
    run.check(prob is None, f"minhash pairs: {prob}")
    got_top = {(r["query_id"], r["vec_id"]) for r in top}
    run.check(got_top == inp["want_topk"],
              f"cosine_topk differs in {len(got_top ^ inp['want_topk'])} entries")
    now = (n_chunks, len(pairs))
    first = acc.setdefault("corpus_counts", now)
    run.check(first == now, f"chunk/pair counts moved between cycles: "
              f"{first} -> {now}")


def _ingest_cycle(spark, run, p: dict, inp: dict, base: str, acc: dict,
                  checks: bool = True) -> None:
    """One maintenance cycle on a fresh table under ``base``.  ``acc``
    accumulates the report's totals; ``checks=False`` (the warm-up)
    skips the correctness reads."""
    from hbase_snapshot_spark.resolve import ResolveSpec
    from hbase_snapshot_spark.sources.tools import bulk_load, export_table
    from hbase_snapshot_spark.streaming.replication import replicate
    from hbase_snapshot_spark.table import Delete, TableStore

    def verify(ok, what):
        if checks:
            run.check(ok, what)

    rows = p["rows"]
    spec_all = ResolveSpec(max_versions=None)
    store = TableStore(spark, base)
    src = store.create_table(_descriptor("ic"))
    peer = store.create_table(_descriptor("ic_peer"))
    seen: set = set()

    def new_bytes():
        segroot = os.path.join(src.dir, "segments")
        for s in os.listdir(segroot):
            if s not in seen:
                seen.add(s)
                acc["written"] += _dir_bytes(os.path.join(segroot, s))

    def digest(t, spec=spec_all):
        return _df_digest(t.read(spec)) if checks else None

    bulk_dir = os.path.join(base, "bulk")
    with run.op("bulk_load"):
        tw = time.perf_counter()
        bulk_load(_cells_df(spark, inp["base_path"]), bulk_dir,
                  num_partitions=cores())
        src.adopt_segment(bulk_dir)
        acc["write_s"] += time.perf_counter() - tw
    # bulk loads are not replicated (HBase parity): the peer adopts the
    # same files itself
    peer.adopt_segment(bulk_dir, move=True)
    new_bytes()
    acc["user_cells"] += len(inp["base"])
    acc["user_bytes"] += _user_bytes(inp["base"])
    ckpt = os.path.join(base, "repl-ckpt")
    for w, wave in enumerate(inp["waves"]):
        with run.op("append"):
            tw = time.perf_counter()
            src.append_cells(_cells_df(spark, inp["wave_paths"][w]))
            committed = time.perf_counter()
            acc["write_s"] += committed - tw
        new_bytes()
        acc["user_cells"] += len(wave)
        acc["user_bytes"] += _user_bytes(wave)
        with run.op("drain"):
            replicate(spark, src, peer, ckpt, once=True)
        acc["lags"].append(time.perf_counter() - committed)
        view = None     # the source's resolved-view digest, once known
        if len(src.manifest()["segments"]) >= p["compact_threshold"]:
            with run.untimed():
                before = digest(src)
            with run.op("compact_minor", check=False):
                src.maybe_compact(threshold=p["compact_threshold"])
            new_bytes()
            with run.untimed():
                view = digest(src)
            verify(view == before, f"minor compaction after wave {w} changed the view")
    verify(lambda: digest(peer) == (view or digest(src)),
           "replication peer differs from source")
    bands = [(gen.row_key(rows + w * p["new_rows"]),
              gen.row_key(rows + (w + 1) * p["new_rows"]))
             for w in range(p["waves"])]
    _spot_checks(spark, run, src, bands, gen.row_key(0)[:-2], checks)

    with run.untimed():
        before = view or digest(src)
    with run.op("compact_major", check=False):
        src.compact(major=True)
    new_bytes()
    with run.untimed():
        view = digest(src)
    verify(view == before, "major compaction changed the resolved view")

    with run.untimed():
        count_before = src.client().row_count() if checks else None
    victims = [gen.row_key(i) for i in range(p["snapshot_deletes"])]
    count_after = None
    with run.op("snapshot_cycle", check=False):
        ts0 = time.perf_counter()
        src.snapshot("s1")
        src.mutate([Delete(r) for r in victims])
        src.restore_snapshot("s1")
        count_after = src.client().row_count()
        acc["snap_s"].append(time.perf_counter() - ts0)
    new_bytes()
    acc["user_bytes"] += sum(len(r) + 8 for r in victims)
    verify(count_after == count_before,
           f"row_count {count_before} before snapshot, {count_after} after restore")

    clone = None
    with run.op("clone", check=False):
        clone = src.clone_to(store, "ic_clone", "s1")
    # snapshot s1 froze the post-compaction view that ``view`` holds
    verify(lambda: clone is not None and digest(clone) == view,
           "clone differs from the snapshot's source view")

    exp_dir = os.path.join(base, "export")
    with run.op("export", check=False):
        export_table(src.cells(), exp_dir, max_versions=1, family_max_versions=CAPS)
    verify(lambda: os.path.isdir(exp_dir) and _df_digest(spark.read.parquet(exp_dir))
           == digest(src, ResolveSpec(max_versions=1)),
           "export differs from a max_versions=1 read")

    def snapshot_digest(name: str):
        segs = [os.path.join(src.dir, "segments", x)
                for x in src.snapshot_manifest(name)["segments"]]
        if not all(os.path.isdir(x) for x in segs):
            return None
        return _df_digest(spark.read.parquet(*segs))

    with run.untimed():
        snap_before = ({s: snapshot_digest(s) for s in src.list_snapshots()}
                       if checks else {})
        if run.tracer is not None:
            run.tracer.vacuum_preview(src)
    with run.op("vacuum", check=False):
        src.vacuum()
    for s, d in snap_before.items():
        verify(lambda: snapshot_digest(s) == d, f"snapshot {s} unreadable after vacuum")
    with run.untimed():
        referenced = sum(_dir_bytes(os.path.join(src.dir, "segments", s))
                         for s in src.referenced_segments())
        live = src.read(spec_all).selectExpr(
            "sum(length(row) + length(family) + coalesce(length(qualifier), 0)"
            " + coalesce(length(value), 0) + 8) AS b").collect()[0]["b"]
        acc["space"].append(referenced / live)
        run.count("table.bytes_on_disk", _dir_bytes(base))
    _corpus_step(spark, run, p, inp, os.path.join(base, "corpus"), acc, checks)
    shutil.rmtree(base, ignore_errors=True)


def ingest_compact(spark, run, size: str = "full") -> None:
    """The ingest/maintenance operator, on a fresh table each cycle:
    bulk load; append waves, each drained to a replication peer, with
    incremental minor compaction; a read-back of the ingested bands; a
    major compaction; snapshot/mutate/restore; clone; export; vacuum;
    then the training-corpus build over a small crawl.  Setup generates
    the inputs (repeated; the median counts) and then runs one unchecked
    warm-up cycle at tiny size (once; it counts in full), so the timed
    cycles do not pay first-run JIT and code generation."""
    from perfbench.harness import Run

    p = SIZES["ingest_compact"][size]
    tiny = SIZES["ingest_compact"]["tiny"]
    inp = {}
    for rep in range(SETUP_REPEATS[size]):
        _timed_setup(run, lambda: inp.update(_ingest_inputs(
            run.seed, p, os.path.join(run.work, f"ic-inputs-{rep}"))))
    tw = time.perf_counter()
    _ingest_cycle(spark, Run("warm-up", run.seed, 0, run.work), tiny,
                  _ingest_inputs(run.seed, tiny, os.path.join(run.work, "ic-warm-in")),
                  os.path.join(run.work, "ic-warm"), _ingest_acc(), checks=False)
    run.warmup_s = time.perf_counter() - tw

    acc = _ingest_acc()
    t0 = run.loop_start()
    deadline = t0 + run.seconds
    cycle = 0
    while cycle == 0 or time.perf_counter() < deadline:
        _ingest_cycle(spark, run, p, inp, os.path.join(run.work, f"ic-{cycle}"), acc)
        cycle += 1
    run.loop_end(t0)
    run.items, run.items_time_s = acc["user_cells"], acc["write_s"]
    compact = run.latencies_ms("compact_minor", "compact_major")
    run.report.update({
        "ingest_cells_per_s": acc["user_cells"] / acc["write_s"],
        "compact_s": sum(compact) / 1000.0 / cycle,
        "write_amp": acc["written"] / acc["user_bytes"],
        "space_amp": median(acc["space"]),
        "snapshot_cycle_s": median(acc["snap_s"]),
        "replication_lag_s": median(acc["lags"]),
        "corpus_docs_per_s": acc["docs"] / acc["corpus_s"],
        "corpus_chunks_pairs": acc.get("corpus_counts"),
        "cycles": cycle,
        "ops": len(run.ops),
    })


def _ingest_acc() -> dict:
    return {"user_cells": 0, "user_bytes": 0, "written": 0, "write_s": 0.0,
            "lags": [], "snap_s": [], "space": [], "docs": 0, "corpus_s": 0.0}


WORKLOADS = {
    "interactive_mixed": interactive_mixed,
    "ingest_compact": ingest_compact,
}


