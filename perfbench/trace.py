"""Traced-run mode, entirely from the benchmark's side of the engine.

* Spans: at run time, wrap each layer's public functions (and Spark's
  DataFrame actions) so that every call records name, layer, start,
  end, parent span and request id.  Spans live in memory; per-layer
  self time is a span's duration minus the union of its children.
* Spark's own records: the uncompressed JSON event log that
  ``harness.make_spark(traced=True)`` turns on is parsed after the
  session stops — jobs, stages and task metrics are attributed to the
  request whose time window contains them (the loop has one caller, so
  every job inside a request's window belongs to it), and the SQL
  metrics of every executed plan are mapped to layers by operator.
* Catalyst: the QueryPlanningTracker phases of each DataFrame an
  action ran on.

Only the measured loop is recorded: spans, hook counters and Catalyst
samples are taken while a window is open (``Run.loop_start`` opens one,
``Run.untimed`` closes it for the length of a correctness check), and
event-log tasks and SQL executions count only when they start inside a
window.  Setup, warm-up and checks leave no trace in the per-layer
numbers.

Nothing here edits engine code: ``install`` swaps attributes on live
modules and classes, ``uninstall`` puts the originals back.
"""

from __future__ import annotations

import glob
import os
import sys
import threading
import time
from collections import defaultdict

from perfbench.eventlog import EventLog, union_length
from perfbench.harness import cores, median

OP_KINDS = ("get", "mutate", "query")

#: the layers that own spans, in report order
LAYERS = ("rest", "client", "filters", "plans", "resolve", "table", "layout",
          "tools", "replication", "warc", "pipeline", "dedup", "similarity",
          "shards", "spark")


def _p50(xs) -> float:
    return median(xs) if xs else 0.0


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.requests: list[dict] = []
        self.counts: dict = defaultdict(float)
        self.catalyst: list[tuple] = []       # (kind, analysis, opt, planning)
        self.repl_progress: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._req = None
        self._patches: list[tuple] = []
        self.active = False
        self.windows: list[tuple] = []    # recorded intervals, epoch ms
        self._w0 = 0.0

    def start_window(self) -> None:
        self.active = True
        self._w0 = time.time() * 1000.0

    def stop_window(self) -> None:
        if self.active:
            self.active = False
            self.windows.append((self._w0, time.time() * 1000.0))

    # ------------------------------------------------------- requests

    def begin_request(self, kind: str) -> None:
        self._req = {"id": len(self.requests), "kind": kind,
                     "t0": time.perf_counter(), "w0": time.time() * 1000.0}

    def end_request(self) -> None:
        r = self._req
        r["t1"] = time.perf_counter()
        r["w1"] = time.time() * 1000.0
        with self._lock:
            self.requests.append(r)
        self._req = None

    def count(self, name: str, v: float = 1.0) -> None:
        with self._lock:
            self.counts[name] += v

    # ---------------------------------------------------------- spans

    def _stack(self) -> list:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def wrap(self, fn, name: str, layer: str, after=None):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            req = tracer._req
            span = {"name": name, "layer": layer,
                    "parent": stack[-1] if stack else None,
                    "req": req["id"] if req else None,
                    "kind": req["kind"] if req else None,
                    "t0": time.perf_counter()}
            with tracer._lock:
                span["id"] = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(span["id"])
            ok = False
            try:
                out = fn(*args, **kwargs)
                ok = True
                return out
            finally:
                span["t1"] = time.perf_counter()
                stack.pop()
                if after is not None:
                    try:
                        after(span, args, kwargs, out if ok else None, ok)
                    except Exception as ex:  # noqa: BLE001 — tracing must not fail a run
                        tracer.count("trace.hook_errors")
                        span["hook_error"] = repr(ex)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        traced.__doc__ = getattr(fn, "__doc__", None)
        return traced

    def _patch(self, owner, attr: str, name: str, layer: str, after=None):
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(orig, (staticmethod, classmethod)):
            return
        new = self.wrap(orig, name, layer, after)
        setattr(owner, attr, new)
        self._patches.append((owner, attr, orig))
        if not isinstance(owner, type):
            # names imported elsewhere (``from x import f``) are bound
            # in other modules too: rebind every engine module's copy
            for mname, mod in list(sys.modules.items()):
                if (mname.startswith("hbase_snapshot_spark") and mod is not owner
                        and getattr(mod, attr, None) is orig):
                    setattr(mod, attr, new)
                    self._patches.append((mod, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -------------------------------------------------------- install

    def install(self) -> None:
        """Wrap every layer's public functions.  Each ``after`` hook
        turns the call's arguments and result into layer counters."""
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        mod = {n: importlib.import_module(f"hbase_snapshot_spark.{n}") for n in (
            "rest", "client", "filters", "plans.scan_exec", "plans.multirange",
            "resolve", "table", "operators.layout", "sources.tools",
            "streaming.replication", "sources.warc", "operators.pipeline",
            "operators.dedup", "operators.similarity", "sources.shards")}
        t = mod["table"].StoredTable

        for verb in ("do_GET", "do_PUT", "do_DELETE", "do_POST"):
            self._patch(mod["rest"]._Handler, verb, "rest.request", "rest")
        c = mod["client"].Table
        self._patch(t, "client", "client.open", "client")
        self._patch(c, "get", "client.get_build", "client")
        self._patch(c, "scan", "client.scan_build", "client")
        self._patch(c, "row_count", "client.row_count", "client")
        for cls in vars(mod["filters"]).values():
            if isinstance(cls, type) and "compile" in vars(cls):
                self._patch(cls, "compile", "filters.compile", "filters")
        self._patch(mod["plans.scan_exec"], "run_scan", "plans.run_scan", "plans")
        self._patch(mod["plans.multirange"], "restrict_row_ranges",
                    "plans.multirange", "plans", after=self._after_bands)
        self._patch(mod["resolve"], "resolve", "resolve.build", "resolve")

        self._patch(t, "manifest", "table.manifest", "table",
                    after=self._after_manifest)
        self._patch(t, "cells", "table.cells", "table")
        self._patch(t, "cells_for_ranges", "table.cells", "table")
        self._patch(t, "_commit", "table.commit", "table", after=self._after_commit)
        for attr, name in (("mutate", "table.mutate"),
                           ("append_cells", "table.append"),
                           ("adopt_segment", "table.adopt"),
                           ("snapshot", "table.snapshot"),
                           ("restore_snapshot", "table.restore")):
            self._patch(t, attr, name, "table")
        self._patch(t, "compact", "table.compact", "table", after=self._after_compact)
        self._patch(t, "clone_to", "table.clone", "table", after=self._after_clone)
        self._patch(t, "vacuum", "table.vacuum", "table")

        lay = mod["operators.layout"]
        self._patch(lay, "write_skipping_manifest", "layout.skip_manifest", "layout")
        self._patch(lay, "prune_files", "layout.prune", "layout")
        self._patch(lay, "prune_files_ranges", "layout.prune", "layout")
        self._patch(mod["sources.tools"], "bulk_load", "tools.bulk_load", "tools")
        self._patch(mod["sources.tools"], "export_table", "tools.export", "tools")
        self._patch(mod["streaming.replication"], "replicate", "replication.drain",
                    "replication", after=self._after_replicate)
        self._patch(mod["sources.warc"], "warc_to_documents", "warc.extract", "warc")
        self._patch(mod["operators.pipeline"], "preprocess_corpus",
                    "pipeline.preprocess", "pipeline")
        self._patch(mod["operators.dedup"], "minhash_dup_pairs", "dedup.minhash",
                    "dedup")
        self._patch(mod["operators.similarity"], "cosine_topk", "similarity.topk",
                    "similarity")
        self._patch(mod["sources.shards"], "write_training_shards", "shards.write",
                    "shards")
        self._patch(mod["sources.shards"], "verify_training_shards", "shards.verify",
                    "shards")

        for attr in ("collect", "count", "toLocalIterator", "isEmpty", "first",
                     "take", "toPandas"):
            self._patch(DataFrame, attr, "spark.action", "spark",
                        after=self._after_action)
        for attr in ("parquet", "save"):
            self._patch(DataFrameWriter, attr, "spark.write", "spark")

    # ----------------------------------------------------------- hooks

    def _after_bands(self, span, args, kwargs, out, ok):
        ranges = kwargs.get("ranges", args[1] if len(args) > 1 else [])
        self.count("plans.bands", len(ranges))

    def _after_manifest(self, span, args, kwargs, out, ok):
        if ok:
            st = args[0]
            span["segments"] = len(out["segments"])
            span["files"] = sum(len(glob.glob(os.path.join(
                st.dir, "segments", s, "*.parquet"))) for s in out["segments"])

    def _segment_bytes(self, st, segs) -> int:
        from perfbench.workloads import _dir_bytes

        return sum(_dir_bytes(os.path.join(st.dir, "segments", s)) for s in segs)

    def _after_commit(self, span, args, kwargs, out, ok):
        if not ok:
            return
        st, m2 = args[0], args[1]
        prev = st.__class__.manifest.__wrapped__(st, m2["version"] - 1)
        new = set(m2["segments"]) - set(prev["segments"])
        self.count("table.commits")
        self.count("table.segment_bytes_written", self._segment_bytes(st, new))

    def _after_compact(self, span, args, kwargs, out, ok):
        if not ok:
            return
        st = args[0]
        m = st.__class__.manifest.__wrapped__(st, None)
        prev = st.__class__.manifest.__wrapped__(st, m["version"] - 1)
        if m["version"] == prev["version"] or m["segments"] == prev["segments"]:
            return
        gone = set(prev["segments"]) - set(m["segments"])
        new = set(m["segments"]) - set(prev["segments"])
        self.count("table.compactions")
        self.count("table.compact_bytes_read", self._segment_bytes(st, gone))
        self.count("table.compact_bytes_written", self._segment_bytes(st, new))

    def _after_clone(self, span, args, kwargs, out, ok):
        if ok:
            self.count("table.clone_bytes_copied",
                       self._segment_bytes(out, out.manifest()["segments"]))

    def _after_replicate(self, span, args, kwargs, out, ok):
        if not ok:
            self.count("replication.batch_failures")
            return
        for p in out.recentProgress:
            self.repl_progress.append(p)

    def _after_action(self, span, args, kwargs, out, ok):
        """Catalyst phase times of the DataFrame the action ran on."""
        df = args[0]
        try:
            phases = df._jdf.queryExecution().tracker().phases()
        except Exception:  # noqa: BLE001 — a DataFrame without a JVM plan
            return
        vals = []
        for ph in ("analysis", "optimization", "planning"):
            o = phases.get(ph)
            vals.append(float(o.get().durationMs()) if o.isDefined() else None)
        self.catalyst.append((span["kind"], *vals))

    # ---------------------------------------------------- per-layer view

    def vacuum_preview(self, st) -> None:
        """Bytes the next vacuum will free (measured before it runs)."""
        refs = st.referenced_segments()
        segroot = os.path.join(st.dir, "segments")
        gone = [s for s in os.listdir(segroot) if s not in refs]
        self.count("table.vacuum_pending", self._segment_bytes(st, gone))

    def self_ms(self, by: str) -> dict:
        """Self time in ms per span ``layer`` or ``name``: each span's
        duration minus the union of its child spans."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and "t1" in s:
                kids[s["parent"]].append((s["t0"], s["t1"]))
        out = defaultdict(float)
        for s in self.spans:
            if "t1" in s:
                covered = union_length(kids.get(s["id"], []), s["t0"], s["t1"])
                out[s[by]] += (s["t1"] - s["t0"] - covered) * 1000.0
        return out

    def per_layer(self, run, work: str, probe_s: float) -> dict:
        ev = EventLog.load(os.path.join(work, "events"))
        m: dict = {}

        def put(name, value, unit):
            m[name] = (float(value), unit)

        sp = defaultdict(list)
        for s in self.spans:
            if "t1" in s:
                sp[s["name"]].append(s)

        def durs(name):
            return [(s["t1"] - s["t0"]) * 1000.0 for s in sp[name]]

        by_kind = defaultdict(list)
        for r in self.requests:
            by_kind[r["kind"]].append(r)

        # rest
        rest_req = [r for r in self.requests if r["kind"] in ("get", "mutate")]
        put("rest.requests", self.counts["rest.requests"], "count")
        put("rest.errors", self.counts["rest.errors"], "count")
        put("rest.response_bytes", self.counts["rest.response_bytes"], "bytes")
        engine = defaultdict(float)
        for s in self.spans:
            if "t1" in s and s["parent"] is not None and s["req"] is not None:
                par = self.spans[s["parent"]]
                if par["layer"] == "rest":
                    engine[s["req"]] += s["t1"] - s["t0"]
        put("rest.self_ms_p50", _p50([
            (r["t1"] - r["t0"] - engine[r["id"]]) * 1000.0 for r in rest_req]), "ms")

        # client / filters / plans / resolve: driver plan-build time
        put("client.open_ms_p50", _p50(durs("client.open")), "ms")
        put("client.get_build_ms_p50", _p50(durs("client.get_build")), "ms")
        put("client.scan_build_ms_p50", _p50(durs("client.scan_build")), "ms")
        put("client.row_count_ms", self.self_ms("name").get("client.row_count", 0.0),
            "ms")
        put("filters.compile_ms", sum(durs("filters.compile")), "ms")
        put("plans.run_scan_build_ms_p50", _p50(durs("plans.run_scan")), "ms")
        put("plans.multirange_build_ms", sum(durs("plans.multirange")), "ms")
        put("plans.bands", self.counts["plans.bands"], "count")
        put("resolve.build_ms", sum(durs("resolve.build")), "ms")
        for kind in OP_KINDS:
            put(f"driver.nonjob_ms_p50.{kind}", _p50([
                ev.nonjob_ms(r["w0"], r["w1"]) for r in by_kind[kind]]), "ms")

        # catalyst
        for i, ph in enumerate(("analysis", "optimization", "planning"), start=1):
            put(f"catalyst.{ph}_ms_p50",
                _p50([c[i] for c in self.catalyst if c[i] is not None]), "ms")

        # table: per op.  Files read come from the executed scans' own
        # SQL metric; files considered are the files HEAD listed, once
        # per scan the op executed.
        for kind in OP_KINDS:
            n = len(by_kind[kind])
            man = [s for s in sp["table.manifest"] if s["kind"] == kind]
            cons = read = 0.0
            for r in by_kind[kind]:
                scans, files = ev.scan_files(r["w0"], r["w1"])
                listed = [s["files"] for s in man if s["req"] == r["id"]]
                cons += scans * (max(listed) if listed else 0)
                read += files
            put(f"table.manifest_reads.{kind}", len(man) / n if n else 0, "count")
            put(f"table.segments_live_mean.{kind}",
                sum(s.get("segments", 0) for s in man) / len(man) if man else 0,
                "count")
            put(f"table.files_considered.{kind}", cons / n if n else 0, "count")
            put(f"table.files_read.{kind}", read / n if n else 0, "count")
            put(f"table.file_keep_ratio.{kind}", read / cons if cons else 0, "ratio")
        put("table.mutate_ms_p50", _p50(durs("table.mutate")), "ms")
        put("table.commits", self.counts["table.commits"], "count")
        put("table.segment_bytes_written", self.counts["table.segment_bytes_written"],
            "bytes")
        put("table.append_ms", sum(durs("table.append")), "ms")
        put("table.adopt_ms", sum(durs("table.adopt")), "ms")
        put("table.compactions", self.counts["table.compactions"], "count")
        put("table.compact_ms", sum(durs("table.compact")), "ms")
        put("table.compact_bytes_read", self.counts["table.compact_bytes_read"], "bytes")
        put("table.compact_bytes_written", self.counts["table.compact_bytes_written"],
            "bytes")
        put("table.snapshot_ms", sum(durs("table.snapshot")), "ms")
        put("table.restore_ms", sum(durs("table.restore")), "ms")
        put("table.clone_ms", sum(durs("table.clone")), "ms")
        put("table.clone_bytes_copied", self.counts["table.clone_bytes_copied"], "bytes")
        put("table.vacuum_ms", sum(durs("table.vacuum")), "ms")
        put("table.vacuum_bytes_freed", self.counts["table.vacuum_pending"], "bytes")
        put("table.bytes_on_disk", self.counts["table.bytes_on_disk"], "bytes")

        # layout / tools
        put("layout.skip_manifest_ms", sum(durs("layout.skip_manifest")), "ms")
        put("layout.skip_manifests_written", len(sp["layout.skip_manifest"]), "count")
        put("tools.bulk_load_ms", sum(durs("tools.bulk_load")), "ms")
        put("tools.export_ms", sum(durs("tools.export")), "ms")

        # replication
        drains = durs("replication.drain")
        put("replication.drains", len(drains), "count")
        put("replication.drain_ms_p50", _p50(drains), "ms")
        put("replication.rows_shipped",
            sum(p.get("numInputRows", 0) for p in self.repl_progress), "count")
        put("replication.batch_failures", self.counts["replication.batch_failures"],
            "count")
        for key, name in (("latestOffset", "latest_offset_ms"),
                          ("addBatch", "add_batch_ms"),
                          ("walCommit", "wal_commit_ms"),
                          ("queryPlanning", "query_planning_ms")):
            put(f"replication.{name}", sum(
                p.get("durationMs", {}).get(key, 0) for p in self.repl_progress), "ms")

        # corpus operators: stage wall times are the workload's own ops
        stage = {k: sum(run.latencies_ms(k)) for k in (
            "extract", "preprocess", "minhash", "topk", "shards_write",
            "shards_verify")}
        put("warc.extract_ms", stage["extract"], "ms")
        put("pipeline.preprocess_ms", stage["preprocess"], "ms")
        put("dedup.minhash_ms", stage["minhash"], "ms")
        put("similarity.topk_ms", stage["topk"], "ms")
        put("shards.write_ms", stage["shards_write"], "ms")
        put("shards.verify_ms", stage["shards_verify"], "ms")
        for name in ("pipeline.docs_in", "pipeline.chunks_out",
                     "dedup.candidate_pairs", "dedup.verified_pairs"):
            put(name, self.counts[name], "count")
        cand = self.counts["dedup.candidate_pairs"]
        put("dedup.pair_precision",
            self.counts["dedup.verified_pairs"] / cand if cand else 0, "ratio")
        sql = ev.sql_layer_metrics(self.windows)
        put("python.rows", sql.get("python.rows", 0), "count")
        put("python.bytes", sql.get("python.bytes", 0), "bytes")
        for layer in ("table", "resolve", "plans"):
            put(f"sql.{layer}.rows", sql.get(f"{layer}.rows", 0), "count")
            put(f"sql.{layer}.time_ms", sql.get(f"{layer}.time_ms", 0), "ms")

        # executor
        wall = run.loop_wall_s
        for kind in OP_KINDS:
            n = len(by_kind[kind])
            jobs = ev.jobs_in([(r["w0"], r["w1"]) for r in by_kind[kind]])
            put(f"executor.jobs.{kind}", len(jobs) / n if n else 0, "count")
            put(f"executor.stages.{kind}",
                sum(len(j["stages"]) for j in jobs) / n if n else 0, "count")
            put(f"executor.tasks.{kind}", ev.tasks_of(jobs) / n if n else 0, "count")
        tm = ev.task_totals(self.windows)
        put("executor.cpu_s", tm["cpu_ns"] / 1e9, "s")
        put("executor.run_s", tm["run_ms"] / 1e3, "s")
        put("executor.gc_s", tm["gc_ms"] / 1e3, "s")
        put("executor.shuffle_fetch_wait_ms", tm["fetch_wait_ms"], "ms")
        put("executor.input_bytes", tm["input_bytes"], "bytes")
        put("executor.input_records", tm["input_records"], "count")
        put("executor.shuffle_write_bytes", tm["shuffle_write_bytes"], "bytes")
        put("executor.shuffle_read_bytes", tm["shuffle_read_bytes"], "bytes")
        put("executor.spill_bytes", tm["spill_bytes"], "bytes")
        put("executor.output_bytes", tm["output_bytes"], "bytes")
        put("executor.task_retries", tm["retries"], "count")
        loop_run_ms = ev.task_run_ms_in(self.windows)
        put("executor.idle_frac",
            max(0.0, 1.0 - loop_run_ms / (cores() * wall * 1000.0)) if wall else 0,
            "fraction")

        # process
        put("process.driver_heap_peak_mb", ev.peak("JVMHeapMemory") / 2**20, "MB")
        put("process.storage_memory_peak_mb",
            ev.peak("OnHeapStorageMemory") / 2**20, "MB")
        put("host.probe_s", probe_s, "s")
        put("trace.hook_errors", self.counts["trace.hook_errors"], "count")

        # self time per layer
        selfs = self.self_ms("layer")
        for layer in LAYERS:
            put(f"self_ms.{layer}", selfs.get(layer, 0.0), "ms")
        return m
