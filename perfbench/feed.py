"""Seeded synthetic AIS feed: NMEA lines built with the in-repo encoder,
plus the ground truth the pipeline's outputs are checked against.

A feed is a list of *records*; a record is one line, or the two lines of
a type-5 static/voyage message. Besides clean traffic it carries rows
every gate must drop: receiver tag block missing, bad checksum, a type
the router ignores, speed/heading out of range and unavailable
positions.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from redpanda_ais_demo_spark.sources import ais_codec
from redpanda_ais_demo_spark.streaming.enrich import stub_weather_fetch

BASE_TS = 1_700_000_000
NAMES = ["NORDIC STAR", "FJORD QUEEN", "POLAR WIND", "SKAGEN", "", "BERGEN EXPRESS", "TROLL", "LOFOTEN"]
PORTS = ["BERGEN", "OSLO", "TROMSO", "STAVANGER", "BODO", "ALESUND", "HAMMERFEST"]
SHIP_TYPES = [30, 31, 35, 36, 50, 51, 52, 55, 60, 70, 71, 80, 84, 90, 0]

# Wide box (more 0.1-degree cells than the enrich LRU holds) and a
# coastal strip (fewer cells than the LRU holds).
WIDE = (54.0, 72.0, -10.0, 32.0)
COASTAL = (59.0, 62.0, 4.0, 7.0)


@dataclass
class Feed:
    records: list[list[str]] = field(default_factory=list)
    # per record: (kind, mmsi, moving); kind is "kept" (passes decode,
    # route and the enrich gate), "routed" (dropped by the enrich gate),
    # "info" (a type-5 pair) or "drop"
    meta: list[tuple] = field(default_factory=list)

    @property
    def n_lines(self) -> int:
        return sum(len(r) for r in self.records)

    def truth(self, n_records: int | None = None) -> dict:
        """Expected outputs of the first ``n_records`` records."""
        meta = self.meta[:n_records]
        kept = [m for m in meta if m[0] == "kept"]
        return {
            "positions": len(kept),
            "routed": len(kept) + sum(1 for m in meta if m[0] == "routed"),
            "info": sum(1 for m in meta if m[0] == "info"),
            "ships": len({m[1] for m in kept}),
            "moving": len({m[1] for m in kept if m[2]}),
        }


def _gate_passes(lat: float, lon: float) -> bool:
    """The enrich error gate, decided from the same stub response."""
    wx = json.loads(stub_weather_fetch(lat, lon))
    return "error" not in wx and "location" in wx and "current" in wx


def make_feed(seed: int, n_lines: int, n_ships: int, box=WIDE, ts_per_line: float = 0.02) -> Feed:
    """``n_lines`` lines from ``n_ships`` ships inside ``box``; about 2.5%
    of the records are type-5 static/voyage pairs."""
    rng = random.Random(seed)
    lat0, lat1, lon0, lon1 = box
    ships = []
    for i in range(n_ships):
        ships.append(
            {
                "mmsi": 257_000_000 + i * 37 + rng.randrange(37),
                "class_b": rng.random() < 0.2,
                "lat": rng.uniform(lat0, lat1),
                "lon": rng.uniform(lon0, lon1),
                "speed": rng.choice([0, 1, 3, 5, 8, 11, 12, 14, 18, 22, 30]),
            }
        )
    feed = Feed()
    gate: dict[tuple[float, float], bool] = {}
    seq = 0
    i = 0
    while i < n_lines:
        ship = ships[rng.randrange(n_ships)]
        ts = BASE_TS + int(i * ts_per_line)
        if rng.random() < 0.025 and i + 1 < n_lines:
            seq = (seq + 1) % 10
            pair = ais_codec.encode_static(
                ship["mmsi"],
                rng.choice(NAMES),
                f"LX{rng.randrange(100):02d}",
                rng.choice(SHIP_TYPES),
                rng.choice(PORTS),
                seq_id=str(seq),
                receiver_ts=ts,
            )
            feed.records.append(pair)
            feed.meta.append(("info", ship["mmsi"], False))
            i += 2
            continue
        i += 1
        r = rng.random()
        if r < 0.03:
            feed.meta.append(("drop", ship["mmsi"], False))
        if r < 0.01:  # no tag block: dropped at the receiver-timestamp gate
            feed.records.append([ais_codec.encode_position(ship["mmsi"], 60.0, 5.0, 12, 90)])
            continue
        if r < 0.02:  # corrupt checksum: dropped by the parser
            line = ais_codec.encode_position(ship["mmsi"], 60.0, 5.0, 12, 90, receiver_ts=ts)
            feed.records.append([line[:-2] + ("00" if line[-2:] != "00" else "11")])
            continue
        if r < 0.03:  # class B static report: decoded, dropped by the router
            feed.records.append([ais_codec.encode_class_b_static(ship["mmsi"], 0, "SMALL BOAT", receiver_ts=ts)])
            continue
        # a position report; the ship drifts a little each time
        ship["lat"] = min(lat1, max(lat0, ship["lat"] + rng.uniform(-0.02, 0.02)))
        ship["lon"] = min(lon1, max(lon0, ship["lon"] + rng.uniform(-0.04, 0.04)))
        lat, lon, speed = ship["lat"], ship["lon"], ship["speed"]
        heading = rng.randrange(360)
        q = rng.random()
        if q < 0.01:
            heading = 360
        elif q < 0.02:
            speed = rng.choice([75, 80])
        elif q < 0.025:
            lat = lon = None
        if ship["class_b"]:
            line = ais_codec.encode_class_b_position(ship["mmsi"], lat, lon, speed, heading, receiver_ts=ts)
        else:
            status = rng.choice([0, 0, 0, 1, 5, 7, 15])
            line = ais_codec.encode_position(
                ship["mmsi"], lat, lon, speed, heading, status=status, msg_type=rng.choice([1, 3]), receiver_ts=ts
            )
        feed.records.append([line])
        if lat is None or not (2 < speed < 75) or heading >= 360:
            feed.meta.append(("drop", ship["mmsi"], False))
            continue
        # the decoder yields raw/600000; the enrich kernel rounds in numpy
        dlat = int(round(lat * 600_000)) / 600_000.0
        dlon = int(round(lon * 600_000)) / 600_000.0
        key = (float(np.round(dlat, 1)), float(np.round(dlon, 1)))
        ok = gate.get(key)
        if ok is None:
            ok = gate[key] = _gate_passes(*key)
        feed.meta.append(("kept" if ok else "routed", ship["mmsi"], speed > 10))
    return feed


def split_bounds(total: int, parts: int) -> set[int]:
    """Line numbers where the source's ``parts``-way split of ``total``
    lines starts a new partition."""
    step, extra = divmod(total, parts)
    bounds, pos = set(), 0
    for k in range(parts - 1):
        pos += step + (1 if k < extra else 0)
        bounds.add(pos)
    return bounds


def keep_pairs_inside(feed: Feed, bounds: set[int]) -> None:
    """Reorder records so no two-line record straddles one of ``bounds``:
    a type-5 pair split across partitions is dropped by design, which
    would make the output depend on the split instead of on the feed."""
    out, pending, n = [], [], 0
    for item in zip(feed.records, feed.meta):
        if len(item[0]) == 2 and n + 1 in bounds:
            pending.append(item)
            continue
        out.append(item)
        n += len(item[0])
        while pending and n + 1 not in bounds:
            out.append(pending.pop(0))
            n += 2
    if pending:
        raise RuntimeError("could not place a type-5 pair inside one partition")
    feed.records = [rec for rec, _ in out]
    feed.meta = [m for _, m in out]


def write_log(path: str, records: list[list[str]]) -> None:
    with open(path, "w") as f:
        for rec in records:
            f.write("\n".join(rec) + "\n")


class Appender(threading.Thread):
    """Open-loop generator: appends records to the log on a fixed schedule
    (``rate`` lines per second) that does not wait for the pipeline, and
    stamps each line's due time. Each tick's records go out in one
    ``os.write``, so a reader never sees half of a record."""

    TICK_S = 0.05

    def __init__(self, path: str, records: list[list[str]], rate: float):
        super().__init__(daemon=True)
        self.path = path
        self.records = records
        self.rate = rate
        self.due: list[float] = []  # due wall time of each appended line
        self.max_late_s = 0.0  # how far behind its schedule a write ran

    def run(self) -> None:
        fd = os.open(self.path, os.O_WRONLY | os.O_APPEND)
        try:
            t0 = time.time()
            n = r = 0  # lines and records written
            while r < len(self.records):
                now = time.time()
                first, chunk = n, []
                while r < len(self.records) and t0 + n / self.rate <= now:
                    rec = self.records[r]
                    for _ in rec:
                        self.due.append(t0 + n / self.rate)
                        n += 1
                    chunk.append("\n".join(rec) + "\n")
                    r += 1
                if chunk:
                    os.write(fd, "".join(chunk).encode())
                    self.max_late_s = max(self.max_late_s, time.time() - (t0 + first / self.rate))
                time.sleep(self.TICK_S)
        finally:
            os.close(fd)
