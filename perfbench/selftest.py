"""The benchmark's own self-tests.

Usage: python3 perfbench/selftest.py [--no-smoke]

1. Every correctness check fails when fed a corrupted answer — a dropped
   row, a perturbed aggregate, a missed planted duplicate, a near-duplicate
   pair below the threshold, a page row out of range, a count that falls —
   and passes on the uncorrupted one.
2. Every workload runs end to end at smoke size (--seconds 1) with zero
   failed operations (skipped with --no-smoke; takes a few minutes).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402

FAILURES: list[str] = []


def must_fail(name: str, fn) -> None:
    try:
        fn()
    except checks.CheckFailed:
        print(f"ok   {name}: corrupted answer rejected")
        return
    FAILURES.append(name)
    print(f"FAIL {name}: corrupted answer accepted")


def must_pass(name: str, fn) -> None:
    try:
        fn()
    except checks.CheckFailed as e:
        FAILURES.append(name)
        print(f"FAIL {name}: correct answer rejected ({e})")
        return
    print(f"ok   {name}: correct answer accepted")


def _iso(us: int) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc) \
        .replace(tzinfo=None).isoformat()


def check_series(tmp: str) -> None:
    """Checks over a small cpu table written as parquet."""
    batches = gen.preload_batches(3)[:2]
    cols = {"time": [], "host": [], **{f: [] for f in gen.FIELDS}}
    for b in batches:
        cols["time"].append(b.time)
        cols["host"].extend(b.host)
        for f in gen.FIELDS:
            cols[f].append(b.values[f])
    table = pa.table({
        "time": pa.array(np.concatenate(cols["time"]), pa.timestamp("us")),
        "host": cols["host"],
        **{f: np.concatenate(cols[f]) for f in gen.FIELDS}})
    path = os.path.join(tmp, "cpu.parquet")
    pq.write_table(table, path)
    con = checks.duck([path])
    want = gen.cpu_expect(batches)
    got = checks.per_host(con, gen.FIELDS)

    must_pass("per-host", lambda: checks.same_per_host(
        got, want, gen.FIELDS, "cpu"))
    dropped = json.loads(json.dumps(got))
    h = next(iter(dropped))
    dropped[h]["count"] -= 1
    must_fail("per-host, dropped row", lambda: checks.same_per_host(
        dropped, want, gen.FIELDS, "cpu"))
    must_pass("count", lambda: checks.check_count(table.num_rows, con))
    must_fail("count, dropped row",
              lambda: checks.check_count(table.num_rows - 1, con))

    lo = int(batches[0].time.min())
    hi = lo + 2 * gen.HOUR_US
    rows = [[h, _iso(b), a] for h, b, a in con.execute(
        "SELECT host, epoch_us(date_trunc('hour', time)), AVG(usage_user) "
        "FROM t WHERE epoch_us(time) >= ? AND epoch_us(time) < ? "
        "GROUP BY 1, 2", [lo, hi]).fetchall()]
    must_pass("bucket", lambda: checks.check_bucket(rows, con, lo, hi))
    bad = [r[:] for r in rows]
    bad[0][2] += 1 / 1024
    must_fail("bucket, perturbed aggregate",
              lambda: checks.check_bucket(bad, con, lo, hi))
    must_fail("bucket, dropped group",
              lambda: checks.check_bucket(rows[1:], con, lo, hi))

    grp = [[h, n, s, _iso(t0), _iso(t1)] for h, n, s, t0, t1 in con.execute(
        "SELECT host, COUNT(*), SUM(usage_idle), MIN(epoch_us(time)), "
        "MAX(epoch_us(time)) FROM t GROUP BY host").fetchall()]
    must_pass("group by", lambda: checks.check_groupby(grp, con))
    bad = [r[:] for r in grp]
    bad[-1][2] -= 0.5
    must_fail("group by, perturbed aggregate",
              lambda: checks.check_groupby(bad, con))

    times = sorted(int(t) for t in batches[0].time if lo <= t < hi)[:100]
    must_pass("page", lambda: checks.check_page(times, lo, hi, 100, 100))
    must_fail("page, dropped row",
              lambda: checks.check_page(times[1:], lo, hi, 100, 100))
    must_fail("page, row out of range",
              lambda: checks.check_page(times[:-1] + [hi], lo, hi, 100, 100))

    obs = [{"value": v, "lo": 0, "hi": 100, "sent": float(i)}
           for i, v in enumerate((10, 20, 30))]
    must_pass("observed counts",
              lambda: checks.check_observed_counts(obs, 99.0, 0))
    fell = [dict(o) for o in obs]
    fell[2]["value"] = 15
    must_fail("observed counts, count falls",
              lambda: checks.check_observed_counts(fell, 99.0, 0))
    must_fail("observed counts, dropped rows below committed", lambda:
              checks.check_observed_counts(
                  [{"value": 5, "lo": 10, "hi": 100, "sent": 0.0}], 99.0, 0))


def check_curation() -> None:
    corpus = gen.curate_corpus(5, 600)
    docs = dict(corpus.docs)
    good = sorted(corpus.good_ids)
    survivors = len({gen.content_hash(docs[d]) for d in good})
    live = {}
    for d in good:
        live.setdefault(gen.content_hash(docs[d]), d)
    pairs = [(a, b) for a, b in corpus.planted_pairs
             if a in live.values() and b in live.values()
             and gen.jaccard(docs[a], docs[b]) >= 0.7]
    must_pass("curate", lambda: checks.check_curate(
        corpus, survivors, pairs, pairs, 0.7, 0.1))
    must_fail("curate, missed planted duplicate", lambda: checks.check_curate(
        corpus, survivors + 1, pairs, pairs, 0.7, 0.1))
    strong = [p for p in pairs if gen.jaccard(docs[p[0]], docs[p[1]]) >= 0.8]
    must_fail("curate, missed planted near-duplicate pair",
              lambda: checks.check_curate(corpus, survivors, pairs,
                                          [p for p in pairs
                                           if p != strong[0]], 0.7, 0.1))
    far = next((a, b) for a in good for b in good
               if a < b and gen.jaccard(docs[a], docs[b]) < 0.7)
    must_fail("curate, pair below threshold", lambda: checks.check_curate(
        corpus, survivors, pairs + [far], pairs, 0.7, 0.1))


def smoke() -> None:
    root = os.path.dirname(HERE)
    for w in ("ingest", "dashboard", "mixed", "curate"):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seconds", "1"], cwd=root, capture_output=True, text=True,
            timeout=600)
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {}
        ok = (out.returncode == 0 and res.get("correct")
              and res.get("failed") == 0 and res.get("attempted", 0) > 0)
        if not ok:
            FAILURES.append("smoke " + w)
            sys.stderr.write(out.stderr[-2000:])
        print(f"{'ok  ' if ok else 'FAIL'} smoke {w}: "
              f"attempted {res.get('attempted')} failed {res.get('failed')}")


def main() -> int:
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(
        os.path.dirname(HERE), ".perfbench") if os.path.isdir(os.path.join(
            os.path.dirname(HERE), ".perfbench")) else None)
    try:
        check_series(tmp)
        check_curation()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if "--no-smoke" not in sys.argv:
        smoke()
    print("selftest:", "FAILED " + ", ".join(FAILURES) if FAILURES
          else "all passed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
