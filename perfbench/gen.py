"""Seeded input generator: the only source of the benchmark's inputs.

Every value the program receives comes from here, derived from ``--seed``;
nothing is read from disk. Numeric fields are dyadic rationals (k/1024)
small enough that every sum over them is exact in float64 whatever the
order of addition, so the checks can compare aggregates for equality.
"""

from __future__ import annotations

import hashlib
import random
import re
from dataclasses import dataclass, field

import numpy as np

HOUR_US = 3_600_000_000
DAY_US = 24 * HOUR_US
HOSTS = 16
FIELDS = ("usage_user", "usage_system", "usage_idle")

# -- time-series inputs --------------------------------------------------------

PRELOAD_DAYS = 3          # hour-partitioned history the dashboard reads
PRELOAD_STEP_US = 20_000_000   # one row per host every 20 s
PRELOAD_BLOCK_H = 17      # older hours: sent in 17-hour blocks ...
PRELOAD_GROUPS = 2        # ... of 2 host groups: 2 files per hour
PRELOAD_HOT_H = 4         # newest hours (late arrivals): one block ...
PRELOAD_HOT_GROUPS = 6    # ... of 6 host groups: 6 files per hour


def time_base(seed: int) -> int:
    """Start of the preloaded history: a whole day, shifted by the seed."""
    return (1_700_000_000_000_000 // DAY_US + seed % 97) * DAY_US


def host_names(seed: int) -> list[str]:
    rng = random.Random(seed * 7919 + 1)
    return [f"{rng.choice(['web', 'db', 'api', 'edge'])}-{i:02d}"
            for i in range(HOSTS)]


def _field_values(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    return {f: rng.integers(0, 100 * 1024, n) / 1024.0 for f in FIELDS}


@dataclass
class CpuBatch:
    """One columnar batch of the ``cpu`` measurement."""
    time: np.ndarray
    host: list[str]
    values: dict[str, np.ndarray]

    @property
    def rows(self) -> int:
        return len(self.time)

    def columns(self) -> dict:
        return {"time": self.time, "host": self.host, **self.values}


def preload_batches(seed: int) -> list[CpuBatch]:
    """The dashboard history: PRELOAD_DAYS of ``cpu`` rows, sent as one
    batch per (block, host group) and flushed after each, so every older
    hour partition holds PRELOAD_GROUPS small files and each of the newest
    PRELOAD_HOT_H hours PRELOAD_HOT_GROUPS."""
    rng = np.random.default_rng(seed)
    names = host_names(seed)
    base = time_base(seed)
    cold_h = PRELOAD_DAYS * 24 - PRELOAD_HOT_H
    blocks = [(h, PRELOAD_BLOCK_H, PRELOAD_GROUPS)
              for h in range(0, cold_h, PRELOAD_BLOCK_H)]
    blocks.append((cold_h, PRELOAD_HOT_H, PRELOAD_HOT_GROUPS))
    out = []
    for start_h, hours, groups in blocks:
        steps = np.arange(hours * HOUR_US // PRELOAD_STEP_US, dtype=np.int64)
        t_block = base + start_h * HOUR_US
        for g in range(groups):
            hosts = list(range(g, HOSTS, groups))
            t = np.repeat(t_block + steps * PRELOAD_STEP_US, len(hosts))
            h = [names[i] for i in hosts] * len(steps)
            out.append(CpuBatch(t, h, _field_values(rng, len(t))))
    return out


def preload_end(seed: int) -> int:
    return time_base(seed) + PRELOAD_DAYS * DAY_US


@dataclass
class IngestRound:
    """One ingest round: msgpack ``cpu`` batches and line-protocol ``mem``
    batches, with their expected per-host aggregates."""
    cpu: list[CpuBatch]
    mem: list[bytes]
    mem_expect: dict[str, dict] = field(default_factory=dict)

    @property
    def rows(self) -> int:
        return sum(b.rows for b in self.cpu) + sum(
            e["count"] for e in self.mem_expect.values())


INGEST_CPU_BATCH = 5_000
INGEST_CPU_BATCHES = 40
INGEST_MEM_BATCH = 2_000
INGEST_MEM_BATCHES = 20


def ingest_round(seed: int) -> IngestRound:
    rng = np.random.default_rng(seed + 1_000_003)
    names = host_names(seed)
    base = preload_end(seed)
    cpu = []
    for b in range(INGEST_CPU_BATCHES):
        i = np.arange(b * INGEST_CPU_BATCH, (b + 1) * INGEST_CPU_BATCH,
                      dtype=np.int64)
        t = base + (i // HOSTS) * 1_000_000
        cpu.append(CpuBatch(t, [names[k] for k in (i % HOSTS)],
                            _field_values(rng, len(i))))
    mem, expect = [], {}
    for b in range(INGEST_MEM_BATCHES):
        lines = []
        for i in range(b * INGEST_MEM_BATCH, (b + 1) * INGEST_MEM_BATCH):
            host = names[i % HOSTS]
            t = base + (i // HOSTS) * 2_000_000
            used = int(rng.integers(0, 1 << 30))
            free = int(rng.integers(0, 1 << 30))
            lines.append(f"mem,host={host} used={used}i,free={free}i "
                         f"{t * 1000}")
            e = expect.setdefault(host, {"count": 0, "used": 0, "free": 0,
                                         "tmin": t, "tmax": t})
            e["count"] += 1
            e["used"] += used
            e["free"] += free
            e["tmin"] = min(e["tmin"], t)
            e["tmax"] = max(e["tmax"], t)
        mem.append("\n".join(lines).encode())
    return IngestRound(cpu, mem, expect)


def cpu_expect(batches: list[CpuBatch]) -> dict[str, dict]:
    """Per-host count, exact field sums and min/max time."""
    out: dict[str, dict] = {}
    for b in batches:
        hosts = np.array(b.host)
        for h in np.unique(hosts):
            m = hosts == h
            e = out.setdefault(str(h), {"count": 0, "tmin": None,
                                        "tmax": None,
                                        **{f: 0.0 for f in FIELDS}})
            e["count"] += int(m.sum())
            for f in FIELDS:
                e[f] += float(b.values[f][m].sum())
            lo, hi = int(b.time[m].min()), int(b.time[m].max())
            e["tmin"] = lo if e["tmin"] is None else min(e["tmin"], lo)
            e["tmax"] = hi if e["tmax"] is None else max(e["tmax"], hi)
    return out


MIXED_BATCH = 1_000
MIXED_HOURS = 2           # new hours the stream writes, after the preload
MIXED_DUP_EVERY = 20      # one row in 20 repeats a row of the batch before
MIXED_DUP_BATCHES = 0.5   # duplicates only in the first half of the stream


def mixed_stream(seed: int, n_batches: int) -> tuple[list[CpuBatch], list[int]]:
    """The mixed workload's write stream: ``n_batches`` msgpack batches of
    new ``cpu`` rows spread over MIXED_HOURS hours after the preload (every
    batch touches every one of those hours). In the first half of the
    stream, one row in MIXED_DUP_EVERY is an exact copy of a row of the
    previous batch. Returns (batches, duplicate rows per batch); a batch's
    duplicates are its last rows."""
    rng = np.random.default_rng(seed + 2_000_003)
    names = host_names(seed)
    base = preload_end(seed)
    steps = -(-n_batches * MIXED_BATCH // (MIXED_HOURS * HOSTS))
    step_us = HOUR_US // steps
    out, prev, dups = [], None, []
    for b in range(n_batches):
        i = np.arange(b * MIXED_BATCH, (b + 1) * MIXED_BATCH, dtype=np.int64)
        j = i // MIXED_HOURS
        t = base + (i % MIXED_HOURS) * HOUR_US + (j // HOSTS) * step_us
        hosts = [names[k] for k in j % HOSTS]
        vals = _field_values(rng, len(i))
        if prev is not None and b < n_batches * MIXED_DUP_BATCHES:
            sel = np.arange(0, MIXED_BATCH, MIXED_DUP_EVERY)
            keep = MIXED_BATCH - len(sel)
            t = np.concatenate([t[:keep], prev.time[sel]])
            hosts = hosts[:keep] + [prev.host[k] for k in sel]
            vals = {f: np.concatenate([v[:keep], prev.values[f][sel]])
                    for f, v in vals.items()}
            dups.append(len(sel))
        else:
            dups.append(0)
        batch = CpuBatch(t, hosts, vals)
        out.append(batch)
        prev = batch
    return out, dups


# -- curation corpus -------------------------------------------------------------

_WORDS = None


def _vocab() -> list[str]:
    global _WORDS
    if _WORDS is None:
        rng = random.Random(12345)
        letters = "abcdefghijklmnoprstuvwy"
        _WORDS = sorted({"".join(rng.choice(letters)
                                 for _ in range(rng.randint(3, 9)))
                         for _ in range(6000)})
    return _WORDS


EN_GLUE = ["the", "and", "is", "of", "to"]
DE_GLUE = ["der", "und", "die", "ist", "das"]


@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    good_ids: set[int]            # pass the quality and language gates
    planted_pairs: list[tuple[int, int]]  # near-duplicate pairs (a < b)


def _sentence(rng: random.Random, n: int, glue: list[str]) -> list[str]:
    vocab = _vocab()
    out = []
    for k in range(n):
        out.append(glue[k % len(glue)] if k % 4 == 3 else rng.choice(vocab))
    return out


def curate_corpus(seed: int, n_docs: int) -> Corpus:
    """Synthetic English corpus with planted structure: exact-duplicate
    clusters (same text, case and whitespace varied), near-duplicate
    clusters (a few words substituted), German-marker docs the language
    gate drops, and punctuation-soup docs the quality gate drops."""
    rng = random.Random(seed * 31 + 7)
    docs: list[tuple[int, str]] = []
    good: set[int] = set()
    planted: list[tuple[int, int]] = []
    originals: list[tuple[int, list[str]]] = []
    for i in range(n_docs):
        kind = rng.random()
        if kind < 0.06:      # junk: fails the quality gate
            text = " ".join("".join(rng.choice("#$%&*!?;:") for _ in range(
                rng.randint(2, 6))) for _ in range(rng.randint(20, 40)))
            docs.append((i, text))
            continue
        good.add(i)
        if kind < 0.12:      # German markers: fails the language gate
            good.discard(i)
            docs.append((i, " ".join(_sentence(rng, rng.randint(40, 70),
                                               DE_GLUE))))
        elif kind < 0.22 and originals:   # exact duplicate, case/space varied
            _, words = rng.choice(originals)
            text = " ".join(w.upper() if rng.random() < 0.3 else w
                            for w in words)
            docs.append((i, "  " + text.replace(" ", "   ", 2) + " "))
        elif kind < 0.34 and originals:   # near duplicate: 1-3 words swapped
            src, words = rng.choice(originals)
            words = list(words)
            for _ in range(rng.randint(1, 3)):
                k = rng.randrange(len(words))
                if k % 4 != 3:
                    words[k] = rng.choice(_vocab())
            docs.append((i, " ".join(words)))
            planted.append((src, i))
        else:
            words = _sentence(rng, rng.randint(40, 70), EN_GLUE)
            originals.append((i, words))
            docs.append((i, " ".join(words)))
    return Corpus(docs, good, planted)


def normalize(text: str) -> str:
    """Lowercase + whitespace-normalize (what exact dedup fingerprints)."""
    return re.sub(r"\s+", " ", text.strip()).lower()


def content_hash(text: str) -> str:
    return hashlib.md5(normalize(text).encode()).hexdigest()


def shingles(text: str, k: int = 3) -> set[str]:
    w = normalize(text).split(" ")
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)} \
        if len(w) >= k else set()


def jaccard(a: str, b: str, k: int = 3) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    if not sa and not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)
