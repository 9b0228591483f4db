"""Seeded inputs for the benchmark and the answers they must produce.

Everything here is plain Python (pyarrow writes the corpus file): the
expected answers are computed from the generated points, never by the
engine, so a wrong engine answer cannot also be the reference.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

NS = 1_000_000_000
T0 = 1_704_067_200 * NS  # 2024-01-01T00:00:00Z

MEASUREMENT = "telemetry"
DEVICES = [f"d{i:02d}" for i in range(8)]
FIELDS = ["f0", "f1", "f2", "f3"]

HISTORY_HOURS = 24
HISTORY_END = T0 + HISTORY_HOURS * 3600 * NS
HISTORY_STEP_NS = 240 * NS  # preloaded history: one point per 4 min
PRELOAD_BATCH_TIMESTAMPS = 180  # 180 x 8 devices = 1440 lines per preload write

LIVE_STEP_NS = 60 * NS  # live batches: one point per minute
BATCH_TIMESTAMPS = 20  # 20 x 8 devices = 160 lines = 640 points per write
DUPLICATE_SHARE = 0.03  # re-sent (device, time) lines per batch: LWW upserts


def site_of(device: str) -> str:
    return f"s{int(device[1:]) % 2}"


def _value(rng: random.Random) -> float:
    # quarter steps are exact in binary, so sums and means of these
    # values are exact on both sides of the comparison
    return rng.randrange(0, 4000) / 4


def _line(device: str, values: dict[str, float], ts: int) -> str:
    fields = ",".join(f"{f}={values[f]!r}" for f in FIELDS)
    return f"{MEASUREMENT},device={device},site={site_of(device)} {fields} {ts}"


@dataclass
class Points:
    """The generated series and every acknowledged point.

    ``acked`` maps (device, field) → {time_ns: value}; a later write of
    the same (device, field, time) replaces the earlier value, which is
    the store's last-write-wins contract.
    """

    seed: int
    rng: random.Random = field(init=False)
    acked: dict = field(init=False)
    head_ns: int = field(init=False)  # first timestamp not yet generated
    pending: list | None = field(init=False, default=None)  # the unacknowledged batch

    def __post_init__(self):
        self.rng = random.Random(self.seed)
        self.acked = {(d, f): {} for d in DEVICES for f in FIELDS}
        self.head_ns = T0

    # ------------------------------------------------------------ batches

    def history_batches(self) -> list[bytes]:
        """The preloaded day, as line-protocol write bodies."""
        stamps = list(range(T0, HISTORY_END, HISTORY_STEP_NS))
        out = []
        for i in range(0, len(stamps), PRELOAD_BATCH_TIMESTAMPS):
            out.append(self._batch(stamps[i:i + PRELOAD_BATCH_TIMESTAMPS], dup=False))
            self.ack()
        self.head_ns = HISTORY_END
        return out

    def live_batch(self) -> bytes:
        """The next live write: regular timestamps after the head plus a
        seeded share of re-sent live points from the last hour."""
        stamps = [self.head_ns + i * LIVE_STEP_NS for i in range(BATCH_TIMESTAMPS)]
        self.head_ns = stamps[-1] + LIVE_STEP_NS
        return self._batch(stamps, dup=True)

    def _batch(self, stamps: list[int], dup: bool) -> bytes:
        lines, points = [], []
        for ts in stamps:
            for d in DEVICES:
                vals = {f: _value(self.rng) for f in FIELDS}
                lines.append(_line(d, vals, ts))
                points.append((d, ts, vals))
        if dup:
            # re-sends stay in the live (uncompacted) day, so every write
            # touches one day partition whatever the seed
            lo = max(HISTORY_END, stamps[0] - 3600 * NS)
            for _ in range(round(DUPLICATE_SHARE * len(lines))):
                d = self.rng.choice(DEVICES)
                ts = self.rng.randrange(lo, stamps[-1] + 1, LIVE_STEP_NS)
                vals = {f: _value(self.rng) for f in FIELDS}
                lines.append(_line(d, vals, ts))
                points.append((d, ts, vals))
        self.pending = points
        return "\n".join(lines).encode()

    def ack(self) -> int:
        """Record the last batch as written; returns its point count."""
        n = 0
        for d, ts, vals in self.pending:
            for f, v in vals.items():
                self.acked[(d, f)][ts] = v
                n += 1
        self.pending = None
        return n

    def n_points(self) -> int:
        return sum(len(s) for s in self.acked.values())

    # ------------------------------------------------------ panel answers

    def window_agg(self, devices, fld, start, stop, every, fn):
        """{window start → fn(values)} over the given devices' points in
        [start, stop), windows aligned to ``every`` from T0."""
        out: dict = {}
        for d in devices:
            for ts, v in self.acked[(d, fld)].items():
                if start <= ts < stop:
                    w = ts - (ts - T0) % every
                    out.setdefault(w, []).append(v)
        return {w: fn(vs) for w, vs in out.items()}

    def ema(self, device, fld, start, stop, n):
        """Flux exponentialMovingAverage(n): SMA seed, then the
        recursive update; the first n-1 rows emit nothing."""
        series = sorted((ts, v) for ts, v in self.acked[(device, fld)].items()
                        if start <= ts < stop)
        k = 2 / (n + 1)
        out, acc = [], 0.0
        for i, (ts, v) in enumerate(series):
            if i < n:
                acc += v
                if i == n - 1:
                    acc = acc / n
                    out.append((ts, acc))
            else:
                acc = acc + k * (v - acc)
                out.append((ts, acc))
        return out


def mean(vs):
    return sum(vs) / len(vs)


# ---------------------------------------------------------------- corpus
#
# The corpus has the shape of the suite's ``documents`` table at sf0.1,
# as measured on that table: 5,000 docs; 10-99 tokens per doc, drawn
# uniformly from the 30-word vocabulary below; 5 % of the docs are
# another doc's text with " dup" appended (256 near-dup pairs at
# Jaccard >= 0.5 there); 41 % "en" and about 15 % each of the other
# four languages; sources src0..src19 in turn.

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS, LANG_WEIGHTS = ["en", "de", "es", "fr", "zh"], [0.40, 0.15, 0.15, 0.15, 0.15]
DOC_TOKENS = (10, 99)
NEAR_DUP_SHARE = 0.05


def write_corpus(path: str, seed: int, n_docs: int) -> None:
    """Write a seeded ``documents`` table with the suite's schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    base = [" ".join(rng.choices(VOCAB, k=rng.randint(*DOC_TOKENS))) for _ in range(n_docs)]
    texts = list(base)
    for i in rng.sample(range(n_docs), round(NEAR_DUP_SHARE * n_docs)):
        j = rng.randrange(n_docs - 1)  # any doc but i
        texts[i] = base[j if j < i else j + 1] + " dup"
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choices(LANGS, LANG_WEIGHTS, k=n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)
