"""Seeded inputs for the serving workloads and the answers they must get.

Lines follow the FIXTURES.md F1 shape: 16 series, ``host`` x ``region``
tags, two numeric fields per line and nanosecond timestamps spread over
three days. Field values are whole cents, so every expected count, sum,
minimum and maximum is computed exactly from the generator's own record
of what it sent (``Model``)."""

from __future__ import annotations

import math
import random
from datetime import datetime, timedelta, timezone
from urllib.parse import urlencode

SERIES = [f"m{i:02d}" for i in range(16)]
HOT = SERIES[:2]  # about half of all serve reads land on these two
HOSTS = [f"h{i}" for i in range(8)]
REGIONS = ["us-east", "us-west", "eu-north", "ap-south"]
FIELDS = ("usage", "load")
BASE = datetime(2024, 1, 1, tzinfo=timezone.utc)
BASE_US = int(BASE.timestamp()) * 1_000_000
SPAN_US = 3 * 86_400 * 1_000_000
HOUR_US = 3_600 * 1_000_000


def _iso(us: int) -> str:
    return (BASE + timedelta(microseconds=us - BASE_US)).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _sql_ts(us: int) -> str:
    return (BASE + timedelta(microseconds=us - BASE_US)).strftime("%Y-%m-%d %H:%M:%S.%f")


class Model:
    """What the client has written, per series, as
    ``(time_us, host, region, field, cents)`` rows."""

    def __init__(self) -> None:
        self.rows: dict[str, list[tuple]] = {}

    def body(self, rng: random.Random, n_lines: int) -> tuple[str, int]:
        """A POST /write body of ``n_lines`` lines; records its rows and
        returns (body, rows it must write)."""
        lines = []
        for _ in range(n_lines):
            s = rng.choice(SERIES)
            host, region = rng.choice(HOSTS), rng.choice(REGIONS)
            t_us = BASE_US + rng.randrange(SPAN_US)
            cents = [rng.randrange(100_000) for _ in FIELDS]
            fields = ",".join(f"{k}={c // 100}.{c % 100:02d}" for k, c in zip(FIELDS, cents))
            lines.append(f"{s},host={host},region={region} {fields} {t_us * 1000}")
            rows = self.rows.setdefault(s, [])
            rows.extend((t_us, host, region, k, c) for k, c in zip(FIELDS, cents))
        return "\n".join(lines) + "\n", n_lines * len(FIELDS)

    def count(self, series: str) -> int:
        return len(self.rows.get(series, ()))


def _values(rows) -> list[float]:
    return sorted(r[4] / 100 for r in rows)


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def check_write(reply: dict, n_rows: int) -> bool:
    return reply == {"written": n_rows, "rejected": 0}


def check_values(reply: list, expected: list[float]) -> bool:
    return sorted(r["value"] for r in reply) == expected


def check_aggregate(reply: list, rows) -> bool:
    want = {}
    for r in rows:
        n, s, lo, hi = want.get(r[3], (0, 0, r[4], r[4]))
        want[r[3]] = (n + 1, s + r[4], min(lo, r[4]), max(hi, r[4]))
    got = {r["name"]: r for r in reply}
    return set(got) == set(want) and all(
        got[k]["n"] == n and _close(got[k]["s"], s / 100)
        and got[k]["lo"] == lo / 100 and got[k]["hi"] == hi / 100
        for k, (n, s, lo, hi) in want.items()
    )


# One block of the serve mix: 45% query (aggregate, filtered select),
# 35% range, 10% list, 10% write. Each block is shuffled, so every block
# holds exactly this mix.
BLOCK = ["aggregate"] * 5 + ["select"] * 4 + ["range"] * 7 + ["list"] * 2 + ["write"] * 2


def serve_ops(rng: random.Random, model: Model):
    """Endless seeded serve mix, ``len(BLOCK)`` requests per block:
    yields ``(kind, method, path, body, check)`` where ``check(reply)``
    says whether the reply is right. A write's rows enter the model when
    it is yielded; the client sends each request only after the previous
    reply, so later reads see it."""

    def pick_series() -> str:
        return rng.choice(HOT) if rng.random() < 0.5 else rng.choice(SERIES[2:])

    block = list(BLOCK)
    while True:
        rng.shuffle(block)
        for op in block:
            yield _serve_op(op, rng, model, pick_series)


def _serve_op(op: str, rng: random.Random, model: Model, pick_series):
    if op == "aggregate":
        s = pick_series()
        q = (f"SELECT name, count(*) AS n, sum(value) AS s, min(value) AS lo, "
             f"max(value) AS hi FROM {s} GROUP BY name")
        rows = list(model.rows[s])
        return "query", "POST", "/query", urlencode({"q": q}), lambda r: check_aggregate(r, rows)
    if op == "select":
        s, field, region = pick_series(), rng.choice(FIELDS), rng.choice(REGIONS)
        t0 = BASE_US + rng.randrange(0, SPAN_US - 12 * HOUR_US, HOUR_US)
        t1 = t0 + 12 * HOUR_US
        q = (f"SELECT time, value FROM {s} WHERE name = '{field}' AND "
             f"tags['region'] = '{region}' AND time >= TIMESTAMP '{_sql_ts(t0)}' "
             f"AND time < TIMESTAMP '{_sql_ts(t1)}'")
        want = _values(r for r in model.rows[s]
                       if r[3] == field and r[2] == region and t0 <= r[0] < t1)
        return "query", "POST", "/query", urlencode({"q": q}), lambda r: check_values(r, want)
    if op == "range":
        s = pick_series()
        t0 = BASE_US + rng.randrange(0, SPAN_US - HOUR_US, 60_000_000)
        t1 = t0 + HOUR_US
        want = _values(r for r in model.rows[s] if t0 <= r[0] <= t1)
        path = f"/range/{s}?start={_iso(t0)}&end={_iso(t1)}"
        return "range", "GET", path, None, lambda r: check_values(r, want)
    if op == "list":
        want = sorted(model.rows)
        return "list", "GET", "/", None, lambda r: r == want
    body, n = model.body(rng, 100)
    return "write", "POST", "/write", body, lambda r: check_write(r, n)
