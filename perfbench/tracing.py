"""Traced runs: spans around each layer's public entry points.

``Tracer.install()`` wraps, from outside the package, the entry points of
every layer a request crosses: the wire server, the ``BTrDB`` facade, the
point store, the rollup ladder, the operators, the stream registry and the
ingest pipeline. A wrapper records a span only inside a traced request, so
untraced requests of the same run pay one extra Python call per entry point.

A span is (id, parent, request id, name, start, end), kept in memory and
turned into metrics after the measured window. A layer's self time is the
duration of its spans minus the part covered by their child spans. Spark work
is attributed per request through job groups: ``pb<rid>.plan`` while the RPC
builds its answer, ``pb<rid>.drain`` while its result is drained.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import threading
import time
from collections import defaultdict

from wire import TRACE_HEADER

OP_CLASSES = ("insert", "flush", "stat", "point", "scan", "changes", "meta")
LAYERS = ("server", "api", "store", "rollup", "operators", "metadata", "streaming")
API_OPS = ("raw_values", "aligned_windows", "windows", "nearest", "changes")
OPERATOR_OPS = ("raw_values", "aligned_windows", "windows", "nearest", "coalesce_intervals")
META_OPS = ("lookup_streams", "list_collections", "stream_info")
RPC_CLASS = {
    "Insert": "insert",
    "AlignedWindows": "stat",
    "Windows": "stat",
    "Nearest": "point",
    "RawValues": "point",
    "ArrowRawValues": "scan",
    "Changes": "changes",
    "StreamInfo": "meta",
    "LookupStreams": "meta",
    "ListCollections": "meta",
}


class _Ctx:
    """Per-request trace state, carried in a thread-local."""

    def __init__(self, rid: int, cls: str | None):
        self.rid = rid
        self.cls = cls
        self.stack: list[int] = []
        self.t_entry = time.perf_counter()
        self.pre_rpc = None
        self.bytes_out = 0


class _CountingWriter:
    """Forwards writes to the handler's socket file, counting bytes."""

    def __init__(self, inner, ctx: _Ctx):
        self._inner, self._ctx = inner, ctx

    def write(self, b):
        self._ctx.bytes_out += len(b)
        return self._inner.write(b)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.local = threading.local()
        self.fallback: _Ctx | None = None  # ingest: the flush a callback serves
        self.lock = threading.Lock()
        self.ids = itertools.count(1)
        self.spans: list[tuple] = []  # (sid, parent, rid, name, t0, t1)
        self.ops: dict[int, _Ctx] = {}
        self.manifest_reads: dict[str, int] = defaultdict(int)

    # ------------------------------------------------------------- spans --

    def _ctx(self) -> _Ctx | None:
        return getattr(self.local, "ctx", None) or self.fallback

    def begin(self, name: str):
        ctx = self._ctx()
        if ctx is None:
            return None
        sid = next(self.ids)
        parent = ctx.stack[-1] if ctx.stack else None
        ctx.stack.append(sid)
        return (sid, parent, ctx, name, time.perf_counter())

    def end(self, tok) -> None:
        sid, parent, ctx, name, t0 = tok
        t1 = time.perf_counter()
        if ctx.stack and ctx.stack[-1] == sid:
            ctx.stack.pop()
        with self.lock:
            self.spans.append((sid, parent, ctx.rid, name, t0, t1))

    def _job_group(self, ctx: _Ctx, phase: str) -> None:
        self.sc.setJobGroup(f"pb{ctx.rid}.{phase}", phase)

    def _open(self, cls: str | None) -> _Ctx:
        ctx = _Ctx(next(self.ids), cls)
        with self.lock:
            self.ops[ctx.rid] = ctx
        self.local.ctx = ctx
        self._job_group(ctx, "plan")
        return ctx

    def _close(self) -> None:
        self.local.ctx = None
        self.sc._jsc.clearJobGroup()

    @contextlib.contextmanager
    def root(self, name: str, cls: str):
        """One traced request issued by the benchmark itself (an ingest
        Flush). Threads serving it without a trace context of their own,
        like the foreachBatch callback, join it."""
        self.fallback = self._open(cls)
        tok = self.begin(name)
        try:
            yield
        finally:
            self.end(tok)
            self.fallback = None
            self._close()

    # ---------------------------------------------------------- wrapping --

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **k):
            tok = tracer.begin(name)
            if tok is None:
                return orig(*a, **k)
            try:
                return orig(*a, **k)
            finally:
                tracer.end(tok)

        setattr(owner, attr, wrapper)

    def _wrap_fn(self, modules, attr: str, name: str) -> None:
        """Wrap a module-level function in its defining module and in every
        module that imported it by name, so all call sites see the span."""
        home = modules[0]
        orig = getattr(home, attr)
        self._wrap(home, attr, name)
        for m in modules[1:]:
            for k, v in vars(m).items():
                if v is orig:
                    setattr(m, k, getattr(home, attr))

    def install(self) -> None:
        from btrdb_server_spark import api, metadata, server, store
        from btrdb_server_spark.functions import commit_backend
        changes, nearest, raw, stat = (
            importlib.import_module(f"btrdb_server_spark.operators.{m}")
            for m in ("changes", "nearest", "raw", "stat")
        )
        from btrdb_server_spark.plans import rollup
        from btrdb_server_spark.streaming import ingest

        self._install_server(server.BTrDBHttpServer)
        for op in API_OPS:
            self._wrap(api.BTrDB, op, f"api.{op}")
        self._wrap(api.BTrDB, "insert", "api.insert")
        self._wrap(store.PointStore, "insert", "store.write")
        self._wrap(store.PointStore, "insert_many", "store.write")
        self._wrap(store.PointStore, "compact", "store.compact")
        self._wrap(store.PointStore, "points_at", "store.plan")
        self._wrap(store.PointStore, "stream_points", "store.plan")
        self._wrap(rollup.RollupLadder, "update_with_batch", "rollup.update")
        for m in ("serve_aligned", "serve_windows", "serve_aligned_all"):
            self._wrap(rollup.RollupLadder, m, "rollup.serve")
        self._wrap_fn([raw, api], "raw_values", "operators.raw_values")
        self._wrap_fn([stat, api], "aligned_windows", "operators.aligned_windows")
        self._wrap_fn([stat, api], "windows", "operators.windows")
        self._wrap_fn([nearest, api], "nearest", "operators.nearest")
        self._wrap_fn([changes, store], "coalesce_intervals", "operators.coalesce_intervals")
        for op in META_OPS:
            self._wrap(metadata.StreamRegistry, op, f"metadata.{op}")
        self._wrap(ingest.IngestPipeline, "_process_batch", "streaming.batch")
        self._install_batch_job_group(ingest.IngestPipeline)
        self._install_manifest_counter(commit_backend.PosixBackend)

    def _install_server(self, srv) -> None:
        """Each traced HTTP request is one trace: `_dispatch` opens it and
        counts the bytes written back, `rpc_*` marks where body parsing and
        the request-lock wait end, and a streamed result is drained under
        its own span and job group."""
        tracer = self
        orig_dispatch = srv._dispatch

        @functools.wraps(orig_dispatch)
        def dispatch(self_, h):
            if h.headers.get(TRACE_HEADER) != "1":
                return orig_dispatch(self_, h)
            ctx = tracer._open(None)
            inner = h.wfile
            h.wfile = _CountingWriter(inner, ctx)
            tok = tracer.begin("server.request")
            try:
                return orig_dispatch(self_, h)
            finally:
                tracer.end(tok)
                h.wfile = inner
                tracer._close()

        srv._dispatch = dispatch
        for attr in [a for a in vars(srv) if a.startswith("rpc_")]:
            setattr(srv, attr, self._rpc_wrapper(getattr(srv, attr), attr[4:]))

    def _rpc_wrapper(self, orig, method: str):
        tracer = self
        cls = RPC_CLASS.get(method, "meta")

        @functools.wraps(orig)
        def rpc(self_, req):
            ctx = getattr(tracer.local, "ctx", None)
            if ctx is None:
                return orig(self_, req)
            ctx.cls = cls
            ctx.pre_rpc = time.perf_counter() - ctx.t_entry
            tok = tracer.begin("server.rpc")
            try:
                out = orig(self_, req)
            finally:
                tracer.end(tok)
            return tracer._drain(out, ctx) if inspect.isgenerator(out) else out

        return rpc

    def _drain(self, gen, ctx: _Ctx):
        self._job_group(ctx, "drain")
        tok = self.begin("server.drain")
        try:
            yield from gen
        finally:
            self.end(tok)

    def _install_batch_job_group(self, pipeline) -> None:
        """foreachBatch runs on a callback thread: tag its Spark jobs with
        the flush's job group so they count toward that request."""
        orig = pipeline._process_batch
        tracer = self

        @functools.wraps(orig)
        def wrapper(self_, batch, batch_id):
            ctx = tracer._ctx()
            if ctx is not None:
                tracer._job_group(ctx, "plan")
            try:
                return orig(self_, batch, batch_id)
            finally:
                if ctx is not None:
                    tracer.sc._jsc.clearJobGroup()

        pipeline._process_batch = wrapper

    def _install_manifest_counter(self, backend) -> None:
        orig = backend.read
        tracer = self

        @functools.wraps(orig)
        def wrapper(self_, path):
            ctx = tracer._ctx()
            if ctx is not None and path.endswith("manifest.json"):
                with tracer.lock:
                    tracer.manifest_reads[ctx.cls] += 1
            return orig(self_, path)

        backend.read = wrapper

    # ------------------------------------------------------------ report --

    def _spark_by_class(self) -> dict:
        """Jobs, tasks and executor wall time per traced request, averaged
        per op class, from job groups and the application status store."""
        st = self.sc.statusTracker()
        status = self.sc._jsc.sc().statusStore()
        acc = defaultdict(lambda: defaultdict(float))
        for rid, ctx in self.ops.items():
            a = acc[ctx.cls]
            a["ops"] += 1
            for phase in ("plan", "drain"):
                for j in st.getJobIdsForGroup(f"pb{rid}.{phase}"):
                    a[f"{phase}_jobs"] += 1
                    info = st.getJobInfo(j)
                    for s in info.stageIds if info else ():
                        stage = st.getStageInfo(s)
                        a["tasks"] += stage.numTasks if stage else 0
                    jd = status.job(j)
                    sub, done = jd.submissionTime(), jd.completionTime()
                    if sub.isDefined() and done.isDefined():
                        a["exec_ms"] += done.get().getTime() - sub.get().getTime()
        out = {}
        for cls in OP_CLASSES:
            a = acc.get(cls, {})
            n = a.get("ops", 0) or 1
            plan, drain = a.get("plan_jobs", 0) / n, a.get("drain_jobs", 0) / n
            out[f"spark.jobs_per_op.{cls}"] = (plan + drain, "count")
            out[f"spark.plan_jobs_per_op.{cls}"] = (plan, "count")
            out[f"spark.drain_jobs_per_op.{cls}"] = (drain, "count")
            out[f"spark.tasks_per_op.{cls}"] = (a.get("tasks", 0) / n, "count")
            out[f"spark.exec_ms.{cls}"] = (a.get("exec_ms", 0) / n, "ms")
        return out

    def report(self) -> tuple[dict, dict]:
        """(metrics, self-time table). Metrics are {name: (value, unit)},
        means per call or per traced request; a layer that did not run
        reports 0."""
        spans = {s[0]: s for s in self.spans}
        children = defaultdict(list)
        for s in self.spans:
            if s[1] is not None:
                children[s[1]].append(s)

        def calls(name):
            # a span nested directly in a same-named span is one call
            return [
                s for s in self.spans
                if s[3] == name and (s[1] not in spans or spans[s[1]][3] != name)
            ]

        def mean_ms(name):
            c = calls(name)
            return 1000 * sum(s[5] - s[4] for s in c) / len(c) if c else 0.0

        def under(sid, prefix):
            return any(
                c[3].startswith(prefix) or under(c[0], prefix) for c in children[sid]
            )

        ops = list(self.ops.values())
        n_cls = defaultdict(int)
        for c in ops:
            n_cls[c.cls] += 1
        wire_ops = [c for c in ops if c.pre_rpc is not None]
        m = {
            "server.pre_rpc_ms": (
                1000 * sum(c.pre_rpc for c in wire_ops) / len(wire_ops) if wire_ops else 0.0,
                "ms",
            ),
            "server.rpc_ms": (mean_ms("server.rpc"), "ms"),
            "server.drain_ms": (mean_ms("server.drain"), "ms"),
            "server.bytes_out": (
                sum(c.bytes_out for c in wire_ops) / len(wire_ops) if wire_ops else 0.0,
                "B",
            ),
            "api.insert_ms": (mean_ms("api.insert"), "ms"),
            "store.write_ms": (mean_ms("store.write"), "ms"),
            "store.compact_ms": (mean_ms("store.compact"), "ms"),
            "store.plan_ms": (mean_ms("store.plan"), "ms"),
            "rollup.update_ms": (mean_ms("rollup.update"), "ms"),
            "rollup.serve_ms": (mean_ms("rollup.serve"), "ms"),
            "streaming.batch_ms": (mean_ms("streaming.batch"), "ms"),
            # from the query's progress reports; the ingest workload fills them
            "streaming.add_batch_ms": (0.0, "ms"),
            "streaming.processed_rows_per_s": (0.0, "rows/s"),
        }
        for op in API_OPS:
            m[f"api.plan_ms.{op}"] = (mean_ms(f"api.{op}"), "ms")
        for op in OPERATOR_OPS:
            m[f"operators.plan_ms.{op}"] = (mean_ms(f"operators.{op}"), "ms")
        for op in META_OPS:
            m[f"metadata.call_ms.{op}"] = (mean_ms(f"metadata.{op}"), "ms")
        for cls in OP_CLASSES:
            n = n_cls.get(cls, 0)
            m[f"store.manifest_reads.{cls}"] = (
                self.manifest_reads.get(cls, 0) / n if n else 0.0, "count"
            )
        routed = calls("rollup.serve")
        answered = [s for s in routed if not under(s[0], "operators.")]
        m["rollup.served_ratio"] = (
            len(answered) / len(routed) if routed else 0.0, "ratio"
        )
        m.update(self._spark_by_class())

        # self time: span duration minus the union of its children's spans
        self_ms = defaultdict(float)
        for s in self.spans:
            t0, t1 = s[4], s[5]
            covered, cur = 0.0, t0
            for c in sorted(children[s[0]], key=lambda c: c[4]):
                a, b = max(c[4], cur), min(c[5], t1)
                if b > a:
                    covered += b - a
                    cur = b
            self_ms[s[3].split(".")[0]] += 1000 * (t1 - t0 - covered)
        n_ops = len(ops) or 1
        total = sum(self_ms.values()) or 1.0
        table = {
            layer: {
                "self_ms_per_op": self_ms.get(layer, 0.0) / n_ops,
                "share": self_ms.get(layer, 0.0) / total,
            }
            for layer in LAYERS
        }
        for layer in LAYERS:
            m[f"{layer}.self_ms"] = (table[layer]["self_ms_per_op"], "ms")
        return m, table
