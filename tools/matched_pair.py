"""Matched-pair benchmark: run each headline query through DuckDB
(oracle SQL) AND Spark (queries() entry) back-to-back in ONE session,
so host-load swings hit both sides of every ratio equally.

Why this exists: the single-sided methodology (bench.py one day,
duck_bench.py another) produced a recorded ratio that swung
1.11x -> 1.44x across rounds on mostly-unchanged code purely from
noisy-neighbor load (round-8 verdict, "What's wrong" #3).  Pairing the
runs makes the ratio load-invariant: whatever the host is doing during
query q, it is doing it to BOTH engines.

Noise discipline (round-9 verdict items 2-4): a SINGLE warm sample per
side still let a noisy-neighbor burst write a physically impossible
reading into the artifact (dictionary_tag warm 2.25 s > cold 1.41 s in
the same committed run).  So:

* entries whose duck cold run is < 1 s take MEDIAN-OF-3 warm samples
  per side (the sub-second class is where one burst flips a gate
  verdict; the expensive class amortizes its own noise and stays at
  one warm sample to bound total runtime);
* if the median warm still reads slower than the cold sample — the
  impossible steady-state — two more samples are taken and the overall
  median recorded, with the retake flagged;
* the retake is SYMMETRIC (round-10 advice): large warm-sample
  dispersion (max/min > ``DISPERSION_RETAKE``) triggers the same two
  extra samples even when the median looks plausibly fast — a burst
  that lands on the FIRST warm samples would otherwise bias recorded
  medians (and ratios) downward; the per-side dispersion is recorded
  either way so residual noise is visible in the artifact;
* before each query the 1-minute load average is polled; above
  ``--max-load`` (default 4.0) the runner SLEEPS until the host
  quiets (up to 10 min, recorded as ``wait_s``), and the per-query
  load series is written into the artifact so a loaded tail is visible
  instead of silently inflating walls.

Per query: duck cold, spark cold, then the warm sample block — the
warm medians are the headline (same two-run methodology as bench.py
and BASELINE.md; cold includes one-time codegen JIT for Spark and
nothing comparable for DuckDB, so only the warm pair is a fair ratio).

Prints ONE JSON line and writes MATCHED_PAIR.json with per-query
detail: {"spark_total": s, "duck_total": s, "ratio": r,
"queries": {name: {"duck": s, "spark": s, "ratio": r, ...}}, ...}.

Usage: python tools/matched_pair.py [sf_dir] [query ...]
       [--max-load L] (wait threshold; 0 disables the guard)
       [--out FILE]   (artifact name override, relative to repo root)
       [--resume]     (with --out: keep FILE's already-recorded queries
                       and run only the missing ones — lets an
                       expensive full-set pair, e.g. /tmp/sf1, be
                       accumulated across several quiet windows into
                       ONE artifact; totals/ratio are recomputed over
                       the merged set and per-query load context is
                       preserved from whichever window ran it)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from bench import HEADLINE  # noqa: E402
from etl_excel_to_hyper_tableau_spark import get_spark  # noqa: E402

MEDIAN3_BELOW_S = 1.0    # duck-cold threshold for the 3-sample class
QUIET_TIMEOUT_S = 600    # max time to wait for the host to quiet
DISPERSION_RETAKE = 1.5  # max/min warm-sample spread that triggers retake


def retake_needed(samples: list[float], cold: float) -> bool:
    """Pure retake predicate (unit-testable): more warm samples are
    needed when (a) the warm median reads SLOWER than the cold sample —
    a physically impossible steady-state — or (b) the warm block's
    max/min spread exceeds ``DISPERSION_RETAKE`` in EITHER direction
    (the symmetric trigger: a burst that lands on the first samples
    would otherwise bias recorded medians downward).  Only meaningful
    for multi-sample blocks; callers gate on ``n_samples > 1``."""
    if not samples:
        return False
    if statistics.median(samples) > cold:
        return True
    mn = min(samples)
    return mn > 0 and max(samples) / mn > DISPERSION_RETAKE


def _load_avg() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover - non-POSIX
        return -1.0


def _wait_quiet(max_load: float) -> float:
    """Sleep until 1-min load < max_load (or timeout); returns seconds
    waited.  0/negative max_load disables the guard."""
    if max_load <= 0:
        return 0.0
    t0 = time.perf_counter()
    while _load_avg() >= max_load:
        if time.perf_counter() - t0 > QUIET_TIMEOUT_S:
            break
        time.sleep(10)
    return round(time.perf_counter() - t0, 1)


def main() -> None:
    args = sys.argv[1:]
    max_load = 4.0
    if "--max-load" in args:
        i = args.index("--max-load")
        max_load = float(args[i + 1])
        del args[i:i + 2]
    out_override = None
    if "--out" in args:
        i = args.index("--out")
        out_override = args[i + 1]
        del args[i:i + 2]
    resume = "--resume" in args
    if resume:
        args.remove("--resume")
        if not out_override:
            sys.exit("--resume requires --out FILE (the artifact to "
                     "accumulate into)")
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    oracles = entry.oracle_sql()
    names = args or [q for q in HEADLINE if q in oracles]
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prior: dict[str, dict] = {}
    prior_loads: list[float] = []
    if resume and os.path.exists(os.path.join(repo_root, out_override)):
        with open(os.path.join(repo_root, out_override)) as f:
            prev = json.load(f)
        if prev.get("sf_dir") not in (None, sf_dir):
            sys.exit(f"--resume artifact was recorded at "
                     f"{prev.get('sf_dir')}, not {sf_dir}")
        prior = prev.get("queries", {})
        prior_loads = prev.get("load_series", [])
        names = [n for n in names if n not in prior]
        print(f"# resume: {len(prior)} recorded, {len(names)} to run",
              file=sys.stderr)
    # literal-bearing oracles (embedding_whiten) build their literals
    # for the sf the oracle will RUN on
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    load_start = _load_avg()
    spark = get_spark(app_name="matched_pair")
    qs = entry.queries()
    con = duckdb.connect()
    for t in entry.TABLES:
        src_pq = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src_pq):  # Spark-written table = a directory
            src_pq += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src_pq}'")

    entry.warm_up(spark, sf_dir)  # same warm-up as bench.py

    detail: dict[str, dict] = {}
    load_series: list[float] = []
    total_wait = 0.0
    for name in names:
        sql, fn = oracles[name], qs[name]
        total_wait += _wait_quiet(max_load)
        load_series.append(_load_avg())

        def duck_run() -> tuple[float, int]:
            t0 = time.perf_counter()
            n = len(con.execute(sql).fetchdf())
            return time.perf_counter() - t0, n

        def spark_run() -> tuple[float, int]:
            t0 = time.perf_counter()
            n = len(fn(spark, sf_dir).toPandas())
            return time.perf_counter() - t0, n

        duck_cold, dn = duck_run()
        spark_cold, sn = spark_run()
        n_samples = 3 if duck_cold < MEDIAN3_BELOW_S else 1
        duck_w, spark_w = [], []
        for _ in range(n_samples):  # interleaved warm block
            duck_w.append(duck_run()[0])
            spark_w.append(spark_run()[0])
        retaken = False
        # Retake triggers (both need n_samples > 1 to be meaningful):
        # (a) a median warm slower than its cold is a physically
        #     impossible steady-state (warm reuses JIT/codegen and OS
        #     page cache) — the signature of a load burst;
        # (b) SYMMETRICALLY, a large max/min spread within the warm
        #     block flags a burst regardless of which direction it
        #     pushed the median — without this the retake only ever
        #     fires when warm reads slow, biasing medians downward.
        for side, runner in (("duck", duck_run), ("spark", spark_run)):
            samples, cold = ((duck_w, duck_cold) if side == "duck"
                             else (spark_w, spark_cold))
            if n_samples > 1 and retake_needed(samples, cold):
                samples.extend(runner()[0] for _ in range(2))
                retaken = True
        duck_warm = round(statistics.median(duck_w), 3)
        spark_warm = round(statistics.median(spark_w), 3)
        ratio = (round(spark_warm / duck_warm, 3) if duck_warm > 0
                 else None)
        detail[name] = {"duck": duck_warm,
                        "spark": spark_warm,
                        "duck_cold": round(duck_cold, 3),
                        "spark_cold": round(spark_cold, 3),
                        "duck_samples": [round(t, 3) for t in duck_w],
                        "spark_samples": [round(t, 3) for t in spark_w],
                        "n_warm_samples": len(spark_w),
                        "ratio": ratio,
                        "load_1m": load_series[-1],
                        "duck_dispersion": (
                            round(max(duck_w) / min(duck_w), 2)
                            if min(duck_w) > 0 else None),
                        "spark_dispersion": (
                            round(max(spark_w) / min(spark_w), 2)
                            if min(spark_w) > 0 else None),
                        "rows": sn}
        if retaken:
            detail[name]["warm_retake"] = True
        if dn != sn:  # parity is the driver's job; still flag loudly
            detail[name]["row_mismatch"] = [dn, sn]
        print(f"# {name}: duck {duck_warm:.3f}s "
              f"spark {spark_warm:.3f}s ratio {ratio} "
              f"(n={len(spark_w)}, load {load_series[-1]})",
              file=sys.stderr)

    if prior:  # --resume merge: totals recompute over the union
        merged = dict(prior)
        merged.update(detail)
        detail = merged
        load_series = prior_loads + load_series
    spark_total = round(sum(d["spark"] for d in detail.values()), 3)
    duck_total = round(sum(d["duck"] for d in detail.values()), 3)
    summary = {
        "metric": "matched_pair_wall_seconds",
        "spark_total": spark_total,
        "duck_total": duck_total,
        "ratio": round(spark_total / duck_total, 3) if duck_total else None,
        "n_queries": len(detail),
        "sf_dir": sf_dir,
        "load_avg_start": load_start,
        "load_avg_end": _load_avg(),
        "load_max_seen": max(load_series) if load_series else None,
        "quiet_wait_s": round(total_wait, 1),
        "max_load_threshold": max_load,
        "detail": "MATCHED_PAIR.json",
    }
    out = dict(summary)
    out["queries"] = detail
    out["load_series"] = load_series
    # a subset run (explicit query names) must not clobber the full
    # recorded artifact — it writes a side file instead; likewise a
    # non-default sf (e.g. /tmp/sf1) records under an sf-tagged name
    if out_override:
        fname = out_override
    elif args:
        fname = "MATCHED_PAIR_subset.json"
    elif sf_dir != "/root/testdata/sf0.1":
        fname = ("MATCHED_PAIR_"
                 + sf_dir.strip("/").replace("/", "_") + ".json")
    else:
        fname = "MATCHED_PAIR.json"
    summary["detail"] = out["detail"] = fname
    with open(os.path.join(repo_root, fname), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
