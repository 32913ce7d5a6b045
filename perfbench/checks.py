"""Correctness checks, computed apart from the program.

Each check raises :class:`CheckFailed` naming what disagreed. Expected
values come from the generator (:mod:`gen`) or from DuckDB reading the
parquet files the program left on disk; response bodies are decoded with
:mod:`wire`. Nothing is compared against a stored copy of earlier output.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb

from gen import content_hash, jaccard


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def parquet_files(meas_dir: str) -> list[str]:
    """Every data file under a measurement directory (hidden and
    underscore-prefixed directories hold snapshots and staging)."""
    out = []
    for dirpath, dirnames, filenames in os.walk(meas_dir):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        out.extend(os.path.join(dirpath, f) for f in filenames
                   if f.endswith(".parquet") and not f.startswith("."))
    return sorted(out)


def duck(files: list[str]):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    listed = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_parquet([{listed}], "
        "hive_partitioning = false, union_by_name = true)")
    return con


def per_host(con, fields: tuple[str, ...]) -> dict[str, dict]:
    sums = ", ".join(f"SUM({f})" for f in fields)
    rows = con.execute(
        f"SELECT host, COUNT(*), MIN(epoch_us(time)), MAX(epoch_us(time))"
        f"{', ' + sums if fields else ''} FROM t GROUP BY host").fetchall()
    out = {}
    for r in rows:
        e = {"count": r[1], "tmin": r[2], "tmax": r[3]}
        e.update({f: v for f, v in zip(fields, r[4:])})
        out[r[0]] = e
    return out


def same_per_host(got: dict, want: dict, fields, what: str) -> None:
    expect(set(got) == set(want),
           f"{what}: hosts {sorted(got)} != {sorted(want)}")
    for h, w in want.items():
        g = got[h]
        for k in ("count", "tmin", "tmax", *fields):
            expect(g[k] == w[k], f"{what}: host {h} {k} {g[k]} != {w[k]}")


# -- query answers -------------------------------------------------------------

def _ts_us(v) -> int:
    """A typed-JSON timestamp ('2023-11-15T03:00:00[.ffffff]') as epoch µs."""
    t = dt.datetime.fromisoformat(v).replace(tzinfo=dt.timezone.utc)
    return int(t.timestamp()) * 1_000_000 + t.microsecond


def check_bucket(rows: list[list], con, lo: int, hi: int) -> None:
    """Per-host hourly AVG(usage_user) must equal DuckDB's exactly (the
    field values are dyadic, so sums and the division are exact)."""
    want = {(h, b): a for h, b, a in con.execute(
        "SELECT host, epoch_us(date_trunc('hour', time)), AVG(usage_user) "
        "FROM t WHERE epoch_us(time) >= ? AND epoch_us(time) < ? "
        "GROUP BY 1, 2", [lo, hi]).fetchall()}
    got = {(h, _ts_us(b)): a for h, b, a in rows}
    expect(len(rows) == len(got), "bucket: duplicate (host, bucket) rows")
    expect(got == want, f"bucket: {len(got)} groups differ from DuckDB's "
                         f"{len(want)}")


def check_groupby(rows: list[list], con) -> None:
    want = {h: (n, s, t0, t1) for h, n, s, t0, t1 in con.execute(
        "SELECT host, COUNT(*), SUM(usage_idle), MIN(epoch_us(time)), "
        "MAX(epoch_us(time)) FROM t GROUP BY host").fetchall()}
    got = {h: (n, s, _ts_us(t0), _ts_us(t1)) for h, n, s, t0, t1 in rows}
    expect(got == want, "group by host: differs from DuckDB")


def check_count(value: int, con) -> None:
    n = con.execute("SELECT COUNT(*) FROM t").fetchone()[0]
    expect(value == n, f"count: {value} != DuckDB {n}")


def check_page(times_us: list[int], lo: int, hi: int, n_min: int,
               n_max: int) -> None:
    """A raw time-range LIMIT page: every row in [lo, hi), and
    n_min <= rows <= n_max. Over data at rest both are min(limit, rows in
    range); while rows are being written, n_min counts only the rows that
    were committed before the query and n_max is the limit."""
    expect(all(lo <= t < hi for t in times_us),
           f"page: row outside [{lo}, {hi})")
    expect(n_min <= len(times_us) <= n_max,
           f"page: {len(times_us)} rows outside [{n_min}, {n_max}]")


def rows_in_range(con, lo: int, hi: int) -> int:
    return con.execute("SELECT COUNT(*) FROM t WHERE epoch_us(time) >= ? "
                       "AND epoch_us(time) < ?", [lo, hi]).fetchone()[0]


# -- mixed: counts observed while writing ----------------------------------------

def check_observed_counts(obs: list[dict], dup_drop_after: float,
                          max_drop: int) -> None:
    """``obs``: COUNT(*) observations in send order, each with ``value``,
    ``lo`` (rows known committed before the send) and ``hi`` (rows acked by
    the reply, plus one in-flight batch). Counts never decrease, except
    that observations sent after ``dup_drop_after`` may fall by at most
    ``max_drop`` rows (compaction collapsing duplicates)."""
    prev = None
    for o in obs:
        expect(o["lo"] <= o["value"] <= o["hi"],
               f"observed count {o['value']} outside [{o['lo']}, {o['hi']}]")
        if prev is not None:
            floor = prev["value"] - (max_drop if o["sent"] >= dup_drop_after
                                     else 0)
            expect(o["value"] >= floor,
                   f"observed count fell from {prev['value']} to "
                   f"{o['value']}")
        prev = o


# -- curate --------------------------------------------------------------------------

def check_curate(corpus, survivors: int, pairs_ng: list, pairs_mh: list,
                 threshold: float, margin: float) -> None:
    docs = dict(corpus.docs)
    good = sorted(corpus.good_ids)
    distinct = {content_hash(docs[d]) for d in good}
    expect(survivors == len(distinct),
           f"exact dedup kept {survivors}, distinct content {len(distinct)}")
    for name, pairs in (("ngram", pairs_ng), ("minhash", pairs_mh)):
        for a, b in pairs:
            j = jaccard(docs[a], docs[b])
            expect(j >= threshold,
                   f"{name}: pair ({a}, {b}) Jaccard {j:.3f} < {threshold}")
    # the near-dup stage sees one doc per content hash (the lowest id)
    kept = {}
    for d in good:
        kept.setdefault(content_hash(docs[d]), d)
    live = set(kept.values())
    for name, pairs in (("ngram", pairs_ng), ("minhash", pairs_mh)):
        found = {tuple(sorted(p)) for p in pairs}
        for a, b in corpus.planted_pairs:
            if a in live and b in live and \
                    jaccard(docs[a], docs[b]) >= threshold + margin:
                expect((min(a, b), max(a, b)) in found,
                       f"{name}: planted pair ({a}, {b}) missed")

