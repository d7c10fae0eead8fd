"""Seeded synthetic sensor fleet.

Streams come in three cadences: 1 kHz (recorded in bursts), 1 Hz, and
jittered irregular arrivals. Every history has outage gaps, and values are a
random walk quantized to 0.01 (held as integer hundredths ``q``), the regime
the rollup ladder's ``vq`` sums are built for. The same seed always yields the
same fleet, the same tails and the same request stream.
"""

from __future__ import annotations

import uuid as uuidlib
from dataclasses import dataclass

import numpy as np

NS = 1_000_000_000
T_END = 1_767_225_600 * NS  # 2026-01-01T00:00:00Z: the fleet's "now"
KINDS = ("khz", "hz", "irregular")
BURST = 500  # points per 1 kHz burst
QUANTUM = 0.01


def _interval(kind: str, rng, n: int) -> np.ndarray:
    """Steady-state spacing (ns) of `n` consecutive points of a cadence."""
    if kind == "khz":
        return np.full(n, NS // 1000, dtype=np.int64)
    if kind == "hz":
        return np.full(n, NS, dtype=np.int64)
    return NS // 1000 + rng.exponential(20 * NS, n).astype(np.int64)


@dataclass
class Stream:
    uuid: str
    collection: str
    tags: dict
    kind: str
    rng: np.random.Generator
    times: np.ndarray
    q: np.ndarray
    acked: int = 0  # leading points the engine has acknowledged as committed

    @property
    def values(self) -> np.ndarray:
        return self.q / 100.0

    def extend(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """The next `n` points at the stream's tail, continuing its cadence
        and its random walk. The points join the stream's history."""
        t = self.times[-1] + np.cumsum(_interval(self.kind, self.rng, n))
        q = self.q[-1] + np.cumsum(self.rng.integers(-3, 4, n))
        self.times = np.concatenate([self.times, t])
        self.q = np.concatenate([self.q, q])
        return t, q


def _history(kind: str, rng, n: int, t_end: int) -> np.ndarray:
    gaps = _interval(kind, rng, n - 1)
    if kind == "khz":
        # one burst of BURST points an hour, start jittered by up to a minute
        gaps[BURST - 1 :: BURST] = 3600 * NS + rng.integers(0, 60 * NS)
    for i in rng.integers(0, n - 1, 2):  # two outages of 10 min to 3 h
        gaps[i] += rng.integers(600 * NS, 3 * 3600 * NS)
    last = t_end - int(rng.integers(0, 60 * NS))
    return last - np.concatenate([np.cumsum(gaps[::-1])[::-1], [0]])


def make_fleet(seed: int, n_streams: int, points: int, devices_per_site: int = 8):
    """`n_streams` streams of `points` points each, collections
    ``site<k>/<device>`` with identity tags.

    The identities are the same for every seed: a fixed fleet of devices
    whose readings (cadence jitter, gaps, values) the seed draws. The engine
    shards streams by a hash of the uuid, so seeded uuids would change how
    many shards a batch touches, and with it the work, from seed to seed."""
    rng = np.random.default_rng(0xF1EE7)
    fleet = []
    for i in range(n_streams):
        srng = np.random.default_rng([seed, i])
        kind = KINDS[i % len(KINDS)]
        site, dev = divmod(i, devices_per_site)
        times = _history(kind, srng, points, T_END)
        q = int(srng.integers(10_000, 50_000)) + np.cumsum(
            srng.integers(-3, 4, points)
        )
        fleet.append(
            Stream(
                uuid=str(uuidlib.UUID(bytes=rng.bytes(16), version=4)),
                collection=f"site{site}/dev{dev}",
                tags={"name": f"dev{dev}.{kind}", "unit": "V", "kind": kind},
                kind=kind,
                rng=srng,
                times=times,
                q=q,
            )
        )
    return fleet


def fleet_table(fleet):
    """The fleet's full history as one (uuid, time, value) Arrow table."""
    import pyarrow as pa

    return pa.table(
        {
            "uuid": np.concatenate(
                [np.full(len(s.times), s.uuid, dtype=object) for s in fleet]
            ),
            "time": np.concatenate([s.times for s in fleet]),
            "value": np.concatenate([s.values for s in fleet]),
        }
    )
