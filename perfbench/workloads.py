"""The three workloads: ``ingest``, ``dashboard`` and ``live``.

Each workload builds its engine from scratch in ``setup`` (called several
times; every call but the last is torn down again), runs closed-loop clients
against it in ``measure``, and recomputes sampled answers with the numpy
oracle in ``verify``. Response checks are deferred until after the measured
window so that they do not slow the clients.
"""

from __future__ import annotations

import collections
import http.client
import itertools
import os
import shutil
import threading
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracle
from common import du_bytes, log, median, tail
from datagen import NS, QUANTUM, fleet_table, make_fleet
from wire import WireClient, WireError, arrow_table, encode, messages

LADDER = [30, 36, 42]
DAY, WEEK = 86_400 * NS, 7 * 86_400 * NS
READ_CLASSES = ("stat", "point", "scan", "changes", "meta")
WRITE_CLASSES = ("insert", "flush")


@dataclass
class Sample:
    cls: str
    ms: float
    traced: bool
    warm: bool
    check: object = None  # deferred: () -> points answered; raises on mismatch
    ok: bool = True
    points: int = 0


class Mismatch(Exception):
    pass


def _expect(err) -> None:
    if err is not None:
        raise Mismatch(err)


class Workload:
    clients = 1
    classes: tuple = ()  # op classes the workload sends

    def __init__(self, spark, run, seed: int, scale: float, tracer=None):
        self.spark, self.run, self.seed = spark, run, seed
        self.scale = scale
        self.tracer = tracer
        self.samples: list[Sample] = []
        self.lock = threading.Lock()
        self.attempted = self.failed = 0
        self.elapsed = 0.0
        self.dir = None
        self.crash: BaseException | None = None  # a client's own bug
        self.extra: dict = {}  # workload-specific end-to-end detail
        self.layer: dict = {}  # workload-specific per-layer metrics

    def size(self, n: int) -> int:
        return max(1, int(n * self.scale))

    def _record(self, s: Sample) -> None:
        with self.lock:
            self.samples.append(s)

    def _fail(self, what: str) -> None:
        log("FAILED:", what)
        with self.lock:
            self.failed += 1

    def _run_clients(self, loops, seconds: float, warm: bool) -> None:
        """Start one thread per closed loop; each stops issuing requests
        at the deadline, and the window ends when the last one returns."""
        t0 = time.perf_counter()
        deadline = t0 + seconds
        threads = [
            threading.Thread(target=f, args=(deadline, warm), daemon=True)
            for f in loops
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if self.crash is not None:
            raise RuntimeError("a benchmark client crashed") from self.crash
        if not warm:
            self.elapsed = time.perf_counter() - t0

    def verify(self) -> None:
        for s in self.samples:
            self.attempted += 1
            if not s.ok:
                self.failed += 1
                continue
            try:
                s.points = s.check() if s.check else 0
            except (Mismatch, WireError, ValueError, KeyError, TypeError) as e:
                s.ok = False
                self._fail(f"{s.cls}: {e}")
            s.check = None

    def close(self) -> None:
        pass

    # ---------------------------------------------------------- metrics --

    def timed(self, classes=None) -> list[Sample]:
        return [
            s for s in self.samples
            if not s.warm and s.ok and (classes is None or s.cls in classes)
        ]

    def detail(self) -> dict:
        """Every end-to-end metric this workload defines: {name: (v, unit)}."""
        out = {}
        done = self.timed()
        out["ops_per_s"] = (len(done) / self.elapsed if self.elapsed else 0.0, "1/s")
        out["p50_ms"] = (median([s.ms for s in done]), "ms")
        # a metric of a class the workload sends reads null if the window
        # happened to hold none of its requests
        for prefix, classes in (("write", WRITE_CLASSES), ("read", READ_CLASSES)):
            if set(classes) & set(self.classes):
                lat = [s.ms for s in self.timed(classes)]
                t = tail(lat)
                out[f"{prefix}_p50_ms"] = (median(lat), "ms")
                out[f"{prefix}_tail_ms"] = (t["ms"], "ms", t["pct"], t["n"])
        for cls in ("stat", "point", "meta"):
            if cls in self.classes:
                out[f"{cls}_p50_ms"] = (median([s.ms for s in self.timed((cls,))]), "ms")
        out.update(self.extra)
        return out


# ------------------------------------------------------------------ wire --


class WireWorkload(Workload):
    """A workload served over the engine's HTTP wire."""

    def _engine(self, rep: int, n_streams: int, points: int) -> None:
        """Preload the fleet, build the ladder, compact, register every
        stream, and start the server."""
        from btrdb_server_spark.api import BTrDB
        from btrdb_server_spark.server import BTrDBHttpServer

        self.dir = self.run.sub(f"engine{rep}")
        self.fleet = make_fleet(self.seed, n_streams, points)
        src = os.path.join(self.dir, "preload.parquet")
        pq.write_table(fleet_table(self.fleet), src)
        db = BTrDB(
            self.spark,
            os.path.join(self.dir, "db"),
            rollup_levels=LADDER,
            rollup_quantum=QUANTUM,
        )
        db.store.insert_many(self.spark.read.parquet(src))
        db.ladder.rebuild(db.store.points_at())
        db.store.compact()
        for s in self.fleet:
            db.create(s.uuid, s.collection, s.tags)
            s.acked = len(s.times)
        self.preloaded = sum(s.acked for s in self.fleet)
        db.registry.compact()
        self.db = db
        self.server = BTrDBHttpServer(db).start()
        self.end_q = ((int(max(s.times[-1] for s in self.fleet)) >> 42) + 1) << 42

    def teardown(self) -> None:
        self.server.stop()
        shutil.rmtree(self.dir, ignore_errors=True)

    def engine_parts(self):
        return self.db.store, self.db.ladder, sum(s.acked for s in self.fleet)

    def sizes(self) -> dict:
        return {
            "streams": len(self.fleet),
            "points_preloaded": self.preloaded,
            "points_at_end": sum(s.acked for s in self.fleet),
        }

    def close(self) -> None:
        if getattr(self, "server", None) is not None:
            self.server.stop()

    def _client_loop(self, next_request):
        """A closed loop over `next_request() -> (cls, method, body, check,
        on_ok)`; `check(ctype, raw)` is deferred, `on_ok(ctype, raw)` runs
        at once (state the next request depends on)."""

        def loop(deadline: float, warm: bool) -> None:
            wc = WireClient(self.server.address)
            nth = collections.Counter()  # requests sent per op class
            try:
                while True:
                    if not warm and time.perf_counter() >= deadline:
                        break
                    req = next_request(warm)
                    if req is None:
                        break
                    cls, method, body, check, on_ok = req
                    # a traced run traces every other request of each op
                    # class, starting with the first
                    traced = self.tracer is not None and nth[cls] % 2 == 0
                    nth[cls] += 1
                    try:
                        dt, ctype, raw = wc.call(method, body, traced)
                        if not ctype.startswith("application/vnd.apache.arrow"):
                            messages(ctype, raw)  # raises on a non-zero stat
                        if on_ok:
                            on_ok(ctype, raw)
                    except (WireError, OSError, http.client.HTTPException) as e:
                        log("FAILED:", method, e)
                        self._record(Sample(cls, 0.0, traced, warm, ok=False))
                        wc.close()
                        wc = WireClient(self.server.address)
                        continue
                    self._record(
                        Sample(
                            cls, 1000 * dt, traced, warm,
                            check=check and (lambda c=check, t=ctype, r=raw: c(t, r)),
                        )
                    )
            except Exception as e:  # noqa: BLE001 — re-raised by _run_clients
                self.crash = e
            finally:
                wc.close()

        return loop


def _rows(ctype, raw, key="values") -> list[dict]:
    return [v for m in messages(ctype, raw) for v in m.get(key, [])]


def _take(next_request, n: int):
    """A request source that ends after `n` requests."""
    left = iter(range(n))

    def nxt(warm):
        return None if next(left, None) is None else next_request(warm)

    return nxt


def _zipf(rng, n: int, s: float = 1.1) -> np.ndarray:
    """Popularity of n streams, Zipf-skewed over a seeded ranking."""
    w = 1.0 / np.arange(1, n + 1) ** s
    p = np.empty(n)
    p[rng.permutation(n)] = w / w.sum()
    return p


class Dashboard(WireWorkload):
    """Read-only serving: 4 wire clients, a seeded mix of stat, point and
    registry requests over a preloaded, compacted fleet with a ladder."""

    clients = 4
    classes = ("stat", "point", "meta")
    # every 20 requests of a client: 10 AlignedWindows, 3 Windows, 3 Nearest,
    # 2 short RawValues, 2 registry calls, interleaved in a fixed order that
    # each client enters at a different offset. Point widths, window widths
    # and depths, slice lengths, directions and registry calls follow fixed
    # rotations and the seed picks streams and times, so every run sends the
    # same request shapes and its cost differs between seeds only by the data
    CYCLE = (
        "aw win aw near aw raw aw meta aw win aw near aw meta aw win aw near aw raw"
    ).split()
    WARMUP = 3  # requests per client before the window

    def setup(self, rep: int) -> None:
        self._engine(rep, 64, self.size(2000))
        rng = np.random.default_rng([self.seed, 7])
        self.pop = _zipf(rng, len(self.fleet))
        self.collections = sorted({s.collection for s in self.fleet})

    def loops(self):
        return [self._client_loop(self._requests(c)) for c in range(self.clients)]

    def warmup(self) -> None:
        """The four clients' closed loops for a fixed number of requests
        each, on request streams of their own; between them they send
        every request kind."""
        loops = []
        for c in range(self.clients):
            gen = self._requests(c, rng_key=900 + c)
            loops.append(self._client_loop(_take(gen, self.WARMUP)))
        self._run_clients(loops, 0, warm=True)

    def measure(self, seconds: float) -> None:
        self._run_clients(self.loops(), seconds, warm=False)

    def _requests(self, client: int, rng_key=None):
        rng = np.random.default_rng(
            [self.seed, 100 + client if rng_key is None else rng_key]
        )
        fleet, end = self.fleet, self.end_q

        def turns(xs):
            k = client % len(xs)
            return itertools.cycle(xs[k:] + xs[:k])

        order = itertools.cycle(self.CYCLE[5 * client :] + self.CYCLE[: 5 * client])
        spans = itertools.cycle([DAY, WEEK])  # last day / last week, in turn
        pws, depths = turns(list(range(36, 43))), turns(list(range(36, 42)))
        widths, lengths = turns([16, 64, 256]), turns([500, 1000, 2000])
        backs, metas = turns([False, True]), turns([0, 1, 2])

        def nxt(warm):
            kind = next(order)
            s = fleet[rng.choice(len(fleet), p=self.pop)]
            times, q = s.times, s.q
            if kind == "aw":
                pw = next(pws)
                start = end - next(spans)
                want = oracle.aligned_windows(times, q, start, end, pw)
                body = encode(
                    {"uuid": s.uuid, "start": start, "end": end, "pointWidth": pw}
                )

                def check(ct, raw, want=want):
                    rows = _rows(ct, raw)
                    _expect(oracle.check_stat(rows, want))
                    return sum(r["count"] for r in rows)

                return "stat", "AlignedWindows", body, check, None
            if kind == "win":
                depth = next(depths)
                width = (1 << 36) * next(widths)
                start = (end - next(spans)) >> 36 << 36
                want = oracle.windows(times, q, start, end, width)
                body = encode(
                    {"uuid": s.uuid, "start": start, "end": end,
                     "width": width, "depth": depth}
                )

                def check(ct, raw, want=want):
                    rows = _rows(ct, raw)
                    _expect(oracle.check_stat(rows, want))
                    return sum(r.get("count", 0) for r in rows)

                return "stat", "Windows", body, check, None
            if kind == "near":
                t = int(rng.integers(times[0] + 1, times[-1] + 1))
                back = next(backs)
                i = oracle.nearest(times, t, back)
                body = encode({"uuid": s.uuid, "time": t, "backward": back})

                def check(ct, raw, i=i):
                    v = messages(ct, raw)[0]["value"]
                    if v["time"] != times[i] or v["value"] != q[i] / 100.0:
                        raise Mismatch(f"nearest {v}, want {(times[i], q[i])}")
                    return 1

                return "point", "Nearest", body, check, None
            if kind == "raw":
                c = min(len(times), next(lengths))
                i = int(rng.integers(0, len(times) - c + 1))
                start, stop = int(times[i]), int(times[i + c - 1]) + 1
                body = encode({"uuid": s.uuid, "start": start, "end": stop})

                def check(ct, raw, i=i, c=c):
                    rows = _rows(ct, raw)
                    _expect(
                        oracle.check_raw(
                            [r["time"] for r in rows], [r["value"] for r in rows],
                            times[i : i + c], q[i : i + c],
                        )
                    )
                    return c

                return "point", "RawValues", body, check, None
            return self._meta(next(metas), s)

        return nxt

    def _meta(self, pick: int, s):
        if pick == 0:
            body = encode({"uuid": s.uuid})
            want_tags = sorted(s.tags.items())

            def check(ct, raw):
                d = messages(ct, raw)[0]["descriptor"]
                got = [(kv["key"], kv["value"]) for kv in d["tags"]]
                if d["collection"] != s.collection or got != want_tags:
                    raise Mismatch(f"stream info {d}")
                return 1

            return "meta", "StreamInfo", body, check, None
        if pick == 1:
            prefix = s.collection.split("/")[0] + "/"
            want = sorted(x.uuid for x in self.fleet if x.collection.startswith(prefix))
            body = encode({"collection": prefix, "isCollectionPrefix": True})

            def check(ct, raw):
                got = sorted(d["uuid"] for d in _rows(ct, raw, "results"))
                if got != want:
                    raise Mismatch(f"lookup {prefix}: {len(got)} streams")
                return len(got)

            return "meta", "LookupStreams", body, check, None
        body = encode({"prefix": "site", "limit": 1000})

        def check(ct, raw):
            got = messages(ct, raw)[0]["collections"]
            if got != self.collections:
                raise Mismatch(f"collections {got[:3]}...")
            return len(got)

        return "meta", "ListCollections", body, check, None


class Live(WireWorkload):
    """Writes beside reads: one writer of sync 5,000-point Inserts, one
    analyst reading what was just written, full histories, fine-grained
    stats over the fresh tail, and change sets."""

    clients = 2
    classes = ("insert", "point", "scan", "stat", "changes")
    INSERT = 5000

    def setup(self, rep: int) -> None:
        self._engine(rep, 16, self.size(8000))
        self.base_version = self.db.store.version
        self.versions = {s.uuid: [] for s in self.fleet}  # (ver, lo, hi)
        self.seen = {s.uuid: self.base_version for s in self.fleet}
        self.last_batch = None
        self.n_insert = 0
        self.state = threading.Lock()

    def _snap(self, s):
        with self.state:
            return s.times, s.q, s.acked

    def _writer(self, warm):
        s = self.fleet[self.n_insert % len(self.fleet)]
        self.n_insert += 1
        lo = len(s.times)
        t, q = s.extend(self.size(self.INSERT))
        body = encode(
            {
                "uuid": s.uuid,
                "values": [
                    {"time": a, "value": b / 100.0}
                    for a, b in zip(t.tolist(), q.tolist())
                ],
                "sync": True,
            }
        )

        def on_ok(ct, raw):
            v = messages(ct, raw)[0]["versionMajor"]
            with self.state:
                s.acked = len(s.times)
                self.versions[s.uuid].append((v, lo, s.acked))
                self.last_batch = (s, lo, s.acked)

        return "insert", "Insert", body, None, on_ok

    def _analyst(self):
        rng = np.random.default_rng([self.seed, 200])
        step = iter(range(1 << 62))

        def nxt(warm):
            k = next(step) % 4
            s = self.fleet[int(rng.integers(len(self.fleet)))]
            times, q, n = self._snap(s)
            if k == 0:  # read-your-writes of the writer's last batch
                with self.state:
                    last = self.last_batch
                if last is not None:
                    s, lo, hi = last
                    times, q, _ = self._snap(s)
                else:
                    lo, hi = n - self.size(self.INSERT), n
                body = encode(
                    {"uuid": s.uuid, "start": int(times[lo]),
                     "end": int(times[hi - 1]) + 1}
                )

                def check(ct, raw, times=times, q=q, lo=lo, hi=hi):
                    rows = _rows(ct, raw)
                    _expect(
                        oracle.check_raw(
                            [r["time"] for r in rows], [r["value"] for r in rows],
                            times[lo:hi], q[lo:hi],
                        )
                    )
                    return hi - lo

                return "point", "RawValues", body, check, None
            if k == 1:  # one stream's full acknowledged history
                body = encode(
                    {"uuid": s.uuid, "start": int(times[0]),
                     "end": int(times[n - 1]) + 1}
                )

                def check(ct, raw, times=times, q=q, n=n):
                    tab = arrow_table(ct, raw)
                    _expect(
                        oracle.check_raw(
                            tab.column("time").to_numpy(),
                            tab.column("value").to_numpy(),
                            times[:n], q[:n],
                        )
                    )
                    return n

                return "scan", "ArrowRawValues", body, check, None
            if k == 2:  # pw 20 is finer than the ladder: raw aggregation
                m = min(n, self.size(10_000))
                start, end = int(times[n - m]), int(times[n - 1])
                want = oracle.aligned_windows(times[:n], q[:n], start, end, 20)
                body = encode(
                    {"uuid": s.uuid, "start": start, "end": end, "pointWidth": 20}
                )

                def check(ct, raw, want=want):
                    rows = _rows(ct, raw)
                    _expect(oracle.check_stat(rows, want))
                    return sum(r["count"] for r in rows)

                return "stat", "AlignedWindows", body, check, None
            with self.state:  # changes since the version last seen
                frm = self.seen[s.uuid]
                log_ = list(self.versions[s.uuid])
            to = log_[-1][0] if log_ else frm
            fresh = [times[lo:hi] for v, lo, hi in log_ if frm < v <= to]
            want = oracle.changed_ranges(
                np.concatenate(fresh) if fresh else np.empty(0, np.int64), 36
            )
            body = encode(
                {"uuid": s.uuid, "fromMajor": frm, "toMajor": to, "resolution": 36}
            )

            def on_ok(ct, raw, u=s.uuid, to=to):
                with self.state:
                    self.seen[u] = max(self.seen[u], to)

            def check(ct, raw, want=want):
                got = [(r["start"], r["end"]) for r in _rows(ct, raw, "ranges")]
                if got != want:
                    raise Mismatch(f"changes: {len(got)} ranges, want {len(want)}")
                return len(got)

            return "changes", "Changes", body, check, on_ok

        return nxt

    def loops(self):
        return [
            self._client_loop(self._writer),
            self._client_loop(self._analyst()),
        ]

    def warmup(self) -> None:
        """One Insert, then one of each analyst request, in sequence."""
        an = self._analyst()
        reqs = iter([self._writer] + [an] * 4)

        def seq(warm):
            f = next(reqs, None)
            return None if f is None else f(warm)

        self._run_clients([self._client_loop(seq)], 0, warm=True)

    def measure(self, seconds: float) -> None:
        self._run_clients(self.loops(), seconds, warm=False)
        inserts = self.timed(("insert",))
        scans = self.timed(("scan",))
        self.extra["write_points_per_s"] = (
            len(inserts) * self.size(self.INSERT) / self.elapsed, "points/s"
        )
        self._scans = scans

    def verify(self) -> None:
        super().verify()
        scans = [s for s in self._scans if s.ok]
        self.extra["scan_points_per_s"] = (
            sum(s.points for s in scans) / (sum(s.ms for s in scans) / 1000)
            if scans else None,
            "points/s",
        )


# ---------------------------------------------------------------- ingest --


class Ingest(Workload):
    """Structured Streaming ingest from a parquet file source into the
    store, with ladder maintenance and a compaction after every batch."""

    classes = ("flush",)
    STREAMS = 16
    PER_FILE = 2000  # points per stream per file

    def setup(self, rep: int) -> None:
        from btrdb_server_spark.plans.rollup import RollupLadder
        from btrdb_server_spark.schemas import POINTS_SCHEMA
        from btrdb_server_spark.store import PointStore
        from btrdb_server_spark.streaming.ingest import IngestPipeline

        self.dir = self.run.sub(f"engine{rep}")
        self.src = os.path.join(self.dir, "src")
        os.makedirs(self.src)
        self.fleet = make_fleet(self.seed, self.STREAMS, 2)
        for s in self.fleet:  # the generator's seed points are not ingested
            s.times, s.q = s.times[-1:], s.q[-1:]
        self.written = 0
        self.files = 0
        self.store = PointStore(self.spark, os.path.join(self.dir, "store"))
        self.ladder = RollupLadder(
            self.spark, os.path.join(self.dir, "rollups"), LADDER,
            value_quantum=QUANTUM,
        )
        self.pipe = IngestPipeline(self.store, self.ladder, compact_every=1)
        source = self.spark.readStream.schema(POINTS_SCHEMA).parquet(self.src)
        self.pipe.start(source, os.path.join(self.dir, "checkpoint"))

    def teardown(self) -> None:
        self.pipe.stop()
        shutil.rmtree(self.dir, ignore_errors=True)

    def close(self) -> None:
        if getattr(self, "pipe", None) is not None:
            self.pipe.stop()

    def engine_parts(self):
        return self.store, self.ladder, self.written

    def sizes(self) -> dict:
        return {
            "streams": self.STREAMS,
            "points_per_file": self.size(self.PER_FILE) * self.STREAMS,
            "files": self.files,
            "points_committed": self.written,
        }

    def _flush(self, warm: bool, traced: bool = False) -> None:
        n = self.size(self.PER_FILE)
        cols = [s.extend(n) for s in self.fleet]
        table = pa.table(
            {
                "uuid": np.repeat([s.uuid for s in self.fleet], n),
                "time": np.concatenate([t for t, _ in cols]),
                "value": np.concatenate([q for _, q in cols]) / 100.0,
            }
        )
        tmp = os.path.join(self.src, f".part-{self.files:05d}.parquet")
        pq.write_table(table, tmp)
        before = self.store.version
        t0 = time.perf_counter()
        os.replace(tmp, os.path.join(self.src, f"part-{self.files:05d}.parquet"))
        if traced:
            with self.tracer.root("streaming.flush", "flush"):
                v = self.pipe.flush()
        else:
            v = self.pipe.flush()
        dt = time.perf_counter() - t0
        self.files += 1
        self.written += table.num_rows
        ok = v == before + 1
        if not ok:
            log("FAILED: flush committed version", v, "want", before + 1)
        self._record(Sample("flush", 1000 * dt, traced, warm, ok=ok))

    def warmup(self) -> None:
        # the first batch creates every ladder level and the base snapshot;
        # the second is the first incremental fold and compaction
        self._flush(warm=True)
        self._flush(warm=True)

    def measure(self, seconds: float) -> None:
        batch0 = self.pipe.query.lastProgress["batchId"]
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() < t0 + seconds:
            self._flush(warm=False, traced=self.tracer is not None and i % 2 == 0)
            i += 1
        self.elapsed = time.perf_counter() - t0
        flushes = self.timed(("flush",))
        self.extra["write_points_per_s"] = (
            len(flushes) * self.size(self.PER_FILE) * self.STREAMS / self.elapsed,
            "points/s",
        )
        progress = [
            p for p in self.pipe.query.recentProgress if p["batchId"] > batch0
        ]
        add = [p["durationMs"].get("addBatch", 0) for p in progress]
        rows = [p.get("processedRowsPerSecond", 0.0) for p in progress]
        self.layer = {
            "streaming.add_batch_ms": (sum(add) / len(add) if add else 0.0, "ms"),
            "streaming.processed_rows_per_s": (
                sum(rows) / len(rows) if rows else 0.0, "rows/s"
            ),
        }

    def verify(self) -> None:
        """Every flush committed one version (checked per flush); now the
        store holds exactly the points written, and sampled streams read
        back bit-exact, raw and through the ladder."""
        super().verify()
        from btrdb_server_spark.operators.raw import raw_values

        checks = 1
        got = self.store.points_at().count()
        if got != self.written:
            self._fail(f"store holds {got} points, want {self.written}")
        rng = np.random.default_rng([self.seed, 300])
        for i in rng.choice(len(self.fleet), 3, replace=False):
            s = self.fleet[int(i)]
            times, q = s.times[1:], s.q[1:]  # drop the generator's seed point
            lo, hi = int(times[0]), int(times[-1]) + 1
            pts = self.store.stream_points(s.uuid)
            pdf = raw_values(pts, s.uuid, lo, hi).toPandas()
            err = oracle.check_raw(pdf["time"], pdf["value"], times, q)
            if err:
                self._fail(f"ingest raw {s.uuid}: {err}")
            rows = [
                r.asDict()
                for r in self.ladder.serve_aligned(pts, s.uuid, lo, hi, 36).collect()
            ]
            err = oracle.check_stat(rows, oracle.aligned_windows(times, q, lo, hi, 36))
            if err:
                self._fail(f"ingest ladder {s.uuid}: {err}")
            checks += 2
        self.attempted += checks
        committed = self.written
        self.extra["store_bytes_per_point"] = (
            (du_bytes(self.store.path) + du_bytes(self.ladder.path)) / committed,
            "B",
        )


WORKLOADS = {"ingest": Ingest, "dashboard": Dashboard, "live": Live}
