"""Seeded inputs and their ground truth.

Everything the program sees is generated here from one seed: Postfix
mail logs (plain and gzip), the country and ASN range dims, and a
reverse-DNS resolver stub. The expected outputs are computed in plain
Python/NumPy from the same arrays, with no call into the package, so a
wrong answer from the engine cannot also be the expected answer.
"""

from __future__ import annotations

import datetime as dt
import gzip
import os
import time
import zlib
from collections import Counter
from dataclasses import dataclass

import numpy as np

YEAR = 2025
BASE_DATE = dt.date(YEAR, 1, 1)
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
COUNTRIES = [a + b for a in "ABCDEFGHIKLMNPRSTUVZ" for b in "AEGHKLNRSTUZ"]
RDNS_ERRORS = ["ERRNO 1", "ERRNO 2", "Timeout"]
SASL_SHARE = 0.15


class StubResolver:
    """Deterministic stand-in for ``socket.gethostbyaddr``.

    Every lookup waits ``delay_s``; one IP in three fails with a status
    that the SQL mapping's ENUM accepts. ``calls`` and ``wait`` are Spark
    accumulators, so lookups made inside Python workers are counted on
    the driver. Picklable by reference: workers import this module.
    """

    def __init__(self, delay_s: float, calls=None, wait=None):
        self.delay_s = delay_s
        self.calls = calls
        self.wait = wait

    def __call__(self, ip: str) -> tuple[str | None, str | None]:
        t0 = time.perf_counter()
        time.sleep(self.delay_s)
        if self.calls is not None:
            self.calls.add(1)
            self.wait.add(time.perf_counter() - t0)
        return rdns_answer(ip)


def rdns_answer(ip: str) -> tuple[str | None, str | None]:
    h = zlib.crc32(ip.encode())
    if h % 3 == 0:
        return None, RDNS_ERRORS[(h // 3) % 3]
    return f"host-{h % 100003}.example.net", None


def rdns_row(ip: str) -> tuple[str, str]:
    """(hostname, reverse_dns_status) as the store must hold them."""
    host, err = rdns_answer(ip)
    return (host, "OK") if host is not None else ("null", err)


@dataclass
class Dims:
    c_start: np.ndarray
    c_end: np.ndarray
    c_code: list[str]
    a_start: np.ndarray
    a_end: np.ndarray
    a_asn: list[str]
    a_aso: list[str]
    exploded_buckets: int  # rows the 16-bit bucketed range join makes


def _ranges(rng: np.random.Generator, n: int, n_wide: int):
    """Sorted, non-overlapping inclusive uint32 ranges: log-uniform widths
    (16 .. 65536 addresses) plus ``n_wide`` ranges of 4M-16M addresses,
    separated by log-uniform gaps, rescaled to fit the IPv4 space."""
    widths = np.floor(2.0 ** rng.uniform(4, 16, n))
    wide = rng.choice(n, n_wide, replace=False)
    widths[wide] = np.floor(2.0 ** rng.uniform(22, 24, n_wide))
    gaps = np.floor(2.0 ** rng.uniform(0, 13, n))
    span = widths.sum() + gaps.sum()
    if span > 2**32 - 1:
        scale = (2**32 - 1) / span
        widths = np.maximum(np.floor(widths * scale), 1)
        gaps = np.floor(gaps * scale)
    starts = np.cumsum(gaps + np.concatenate([[0], widths[:-1]])).astype(np.int64)
    ends = starts + widths.astype(np.int64) - 1
    return starts, ends


def _buckets(starts: np.ndarray, ends: np.ndarray) -> int:
    return int(((ends >> 16) - (starts >> 16) + 1).sum())


def make_dims(rng: np.random.Generator, n_ranges: int) -> Dims:
    cs, ce = _ranges(rng, n_ranges, 8)
    a_s, a_e = _ranges(rng, n_ranges, 8)
    codes = [COUNTRIES[i] for i in rng.integers(0, len(COUNTRIES), n_ranges)]
    asn_ids = rng.integers(1, 400_000, n_ranges)
    return Dims(
        cs, ce, codes, a_s, a_e,
        [str(a) for a in asn_ids],
        [f"Org-{a % 5000}" for a in asn_ids],
        _buckets(cs, ce) + _buckets(a_s, a_e),
    )


def write_dims(d: Dims, out_dir: str) -> tuple[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    cpath = os.path.join(out_dir, "geo_country.csv")
    apath = os.path.join(out_dir, "geo_asn.csv")
    with open(cpath, "w") as f:
        f.writelines(f"{s},{e},{c}\n" for s, e, c in zip(d.c_start, d.c_end, d.c_code))
    with open(apath, "w") as f:
        f.writelines(
            f"{s},{e},{a},{o}\n"
            for s, e, a, o in zip(d.a_start, d.a_end, d.a_asn, d.a_aso)
        )
    return cpath, apath


def _lookup(starts: np.ndarray, ends: np.ndarray, pts: np.ndarray) -> np.ndarray:
    """Index of the range holding each point, -1 on a miss (bisect_right
    over sorted starts, then an end check)."""
    i = np.searchsorted(starts, pts, side="right") - 1
    ok = (i >= 0) & (pts <= ends[np.clip(i, 0, None)])
    return np.where(ok, i, -1)


class IpPool:
    """``n`` distinct IPv4 addresses, drawn with Zipf-like weights."""

    def __init__(self, rng: np.random.Generator, n: int, dims: Dims):
        ints = np.unique(rng.integers(1 << 24, 0xDF000000, int(n * 1.05)))
        ints = rng.permutation(ints)[:n]
        self.ints = ints
        self.text = [f"{v >> 24}.{(v >> 16) & 255}.{(v >> 8) & 255}.{v & 255}"
                     for v in ints.tolist()]
        w = 1.0 / np.arange(1, n + 1) ** 1.1
        self.p = w / w.sum()
        ci = _lookup(dims.c_start, dims.c_end, ints)
        ai = _lookup(dims.a_start, dims.a_end, ints)
        self.geo = [
            (
                dims.c_code[c] if c >= 0 else "N/A",
                dims.a_asn[a] if a >= 0 else "N/A",
                dims.a_aso[a] if a >= 0 else "N/A",
            )
            for c, a in zip(ci.tolist(), ai.tolist())
        ]
        self.rdns = [rdns_row(t) for t in self.text]

    def draw(self, rng: np.random.Generator, k: int) -> np.ndarray:
        return rng.choice(len(self.ints), k, p=self.p)


SERVER = "mx1"
_OTHER = [
    "postfix/smtpd[{pid}]: connect from unknown[{ip}]",
    "postfix/smtpd[{pid}]: disconnect from unknown[{ip}] ehlo=1 auth=0/1 quit=1 commands=2/3",
    "postfix/smtpd[{pid}]: lost connection after AUTH from unknown[{ip}]",
    "postfix/qmgr[{pid}]: 4F{pid:05X}A: removed",
    "postfix/smtp[{pid}]: 4F{pid:05X}B: to=<u{pid}@dest.example>, relay=mx.dest.example[{ip}]:25, status=sent",
]


@dataclass
class LogBatch:
    """Generated lines plus the events they must turn into."""

    lines: list[str]
    events: Counter  # (date 'dd/MM/yyyy HH:mm', ip, user) -> count
    day_counts: Counter  # date -> count


def make_lines(rng: np.random.Generator, pool: IpPool, n_lines: int,
               day0: int, n_days: int, n_users: int) -> LogBatch:
    """``n_lines`` syslog lines over days ``day0 .. day0+n_days-1`` (day 0
    is 1 Jan ``YEAR``), about 15 % of them SASL failures, in time order."""
    secs = np.sort(rng.integers(0, n_days * 86400, n_lines)) + day0 * 86400
    sasl = rng.random(n_lines) < SASL_SHARE
    ips = pool.draw(rng, n_lines)
    users = np.floor(n_users * rng.random(n_lines) ** 3).astype(np.int64)
    kinds = rng.integers(0, len(_OTHER), n_lines)
    pids = rng.integers(100, 99999, n_lines)
    lines: list[str] = []
    events: Counter = Counter()
    day_counts: Counter = Counter()
    for s, is_sasl, ip_i, u, k, pid in zip(
        secs.tolist(), sasl.tolist(), ips.tolist(), users.tolist(),
        kinds.tolist(), pids.tolist()
    ):
        d = BASE_DATE + dt.timedelta(days=s // 86400)
        hh, mm, ss = (s % 86400) // 3600, (s % 3600) // 60, s % 60
        prefix = f"{MONTHS[d.month - 1]} {d.day:2d} {hh:02d}:{mm:02d}:{ss:02d} {SERVER} "
        ip = pool.text[ip_i]
        if is_sasl:
            user = f"user{u}@example.org" if u % 7 else f"admin{u}"
            lines.append(
                prefix + f"postfix/smtps/smtpd[{pid}]: warning: unknown[{ip}]: "
                "SASL LOGIN authentication failed: (reason unavailable), "
                f"sasl_username={user}\n"
            )
            date_s = f"{d.day:02d}/{d.month:02d}/{d.year} {hh:02d}:{mm:02d}"
            events[(date_s, ip, user)] += 1
            day_counts[date_s[:10]] += 1
        else:
            lines.append(prefix + _OTHER[k].format(pid=pid, ip=ip) + "\n")
    return LogBatch(lines, events, day_counts)


def write_log(path: str, lines: list[str]) -> None:
    data = "".join(lines).encode()
    if path.endswith(".gz"):
        with gzip.open(path, "wb", compresslevel=1) as f:
            f.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)


class Truth:
    """Expected store content, grown batch by batch."""

    def __init__(self, pool: IpPool):
        self.pool = pool
        self.ip_index = {t: i for i, t in enumerate(pool.text)}
        self.rows: Counter = Counter()
        self.day_counts: Counter = Counter()

    def add(self, batch: LogBatch) -> None:
        for (date_s, ip, user), n in batch.events.items():
            i = self.ip_index[ip]
            host, status = self.pool.rdns[i]
            self.rows[(SERVER, date_s, ip, user, host, status) + self.pool.geo[i]] += n
        self.day_counts.update(batch.day_counts)

    def total(self) -> int:
        return sum(self.day_counts.values())

    def day_rows(self, day: str):
        return [(r, n) for r, n in self.rows.items() if r[1].startswith(day)]
