"""sf >= 1 overflow-and-validity audit of the fixed-point catalog
(round-12 verdict item #1).

The catalog's oracle compares run at sf0.01 and SCALE.md measures TIME,
not correctness, at sf1 — so an int64/decimal overflow that only
manifests at scale is invisible to every existing gate. The MCC margin
product proved the class is real: four BIGINT counts multiplied
overflowed int64 at sf >= 1 while every sf0.01 compare stayed green
(fixed in 498e572 with per-margin guards). This script closes the gap:

1. Enumerates the arithmetic-heaviest oracle-paired queries — the ones
   whose Spark source or oracle SQL uses fixed-point e6/e9 products,
   HUGEINT cross-moments, POWER(10,..) scalings, or n^2 count terms
   (the verdict's grep ``_e6|_e9|HUGEINT`` plus literal 1e6/1e9
   multipliers), scored by match density.
2. Runs the STRICT oracle compare (same canonicalization as
   blow_spark.oracle) for the top ``--limit`` (default 60) at an
   sf1-shaped dataset (scripts/scale_sf1.build_sf1's FK-consistent
   10x replication of sf0.1 — the committed round-3 methodology).
   Results past ``--rowcap`` rows fall back to a SUMMARY compare
   (COUNT + per-column SUM/MIN/MAX computed inside each engine): an
   overflow distorts those aggregates with probability ~1, and neither
   engine materializes the full result in driver memory.
3. Derives a HEADROOM table for every candidate: max |v| over the
   result's integer columns at sf0.1 and sf1 -> per-decade growth g ->
   extrapolated magnitude at sf100 (two more decades, m1 * g^2) vs the
   int64 bound. Queries with < 10x headroom at sf100 are flagged even
   if their sf1 compare is green.

Run:  python scripts/overflow_audit.py --sf-dir DIR    (~25 min incl. build)
      python scripts/overflow_audit.py --reuse DIR     (skip build)
      python scripts/overflow_audit.py --only a,b --reuse DIR
      python scripts/overflow_audit.py --limit 60 --rowcap 300000
``--sf-dir`` (the sf0.1 fixtures the sf1 dataset is built from and
compared against) defaults to ``$SPARK_GRAFT_SF_DIR``.

Prints one JSON document; also writes a ready-to-paste markdown table
to /tmp/overflow_audit_table.md.
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import re
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

INT64_MAX = 2**63 - 1
PATTERN = re.compile(
    r"_e6|_e9|HUGEINT|hugeint|POWER\(10|\* *1000000\b|\* *1000000000\b|1e6\b|1e9\b"
)


def fixed_point_candidates(cat, oracles) -> list[tuple[str, int]]:
    """(name, score) for every oracle-paired query whose Spark source or
    oracle SQL matches the fixed-point pattern, densest first."""
    out = []
    for name, sql in oracles.items():
        score = len(PATTERN.findall(sql))
        try:
            score += len(PATTERN.findall(inspect.getsource(cat[name])))
        except (OSError, TypeError):
            pass
        if score:
            out.append((name, score))
    out.sort(key=lambda kv: (-kv[1], kv[0]))
    return out


def duckdb_connect_dir(sf_dir: str):
    """A DuckDB connection with the standard table views, accepting
    BOTH file-per-table dirs (driver fixtures) and Spark-written
    directory datasets (build_sf1 output)."""
    import duckdb

    from blow_spark.sources import TPCH_TABLES

    con = duckdb.connect()
    for t in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')"
            )
        elif os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def duckdb_with_timeout(con, fn, seconds: float):
    """Run ``fn(con)``; a timer thread interrupts the connection if it
    exceeds ``seconds`` (duckdb raises InterruptException -> we map to
    TimeoutError)."""
    timer = threading.Timer(seconds, con.interrupt)
    timer.start()
    try:
        return fn(con)
    except Exception as e:  # noqa: BLE001 — classify interrupt vs real error
        if "INTERRUPT" in str(e).upper() or type(e).__name__ == "InterruptException":
            raise TimeoutError(f"duckdb exceeded {seconds}s") from None
        raise
    finally:
        timer.cancel()


def spark_with_timeout(spark, fn, seconds: float, tag: str):
    """Run ``fn()`` under a job group that a timer thread cancels."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag, interruptOnCancel=True)
    timer = threading.Timer(seconds, lambda: sc.cancelJobGroup(tag))
    timer.start()
    try:
        return fn()
    except Exception as e:  # noqa: BLE001
        if "cancelled" in str(e).lower() or "canceled" in str(e).lower():
            raise TimeoutError(f"spark exceeded {seconds}s") from None
        raise
    finally:
        timer.cancel()
        sc.setJobGroup("", "")


_INT_TYPES = {"tinyint", "smallint", "int", "bigint", "long", "integer", "short"}


def int_extrema(df) -> dict[str, int]:
    """max |v| per integer (and decimal) column of a Spark result —
    the raw material of the headroom table. One aggregate job."""
    from pyspark.sql import functions as F

    cols = [
        f
        for f in df.schema.fields
        if f.dataType.simpleString() in _INT_TYPES
        or f.dataType.simpleString().startswith("decimal")
    ]
    if not cols:
        return {}
    aggs = [
        F.greatest(F.abs(F.max(f.name)), F.abs(F.min(f.name))).alias(f.name)
        for f in cols
    ]
    row = df.agg(*aggs).collect()[0].asDict()
    return {k: int(v) for k, v in row.items() if v is not None}


#: Queries whose oracle EQUALITY holds only inside a documented
#: exactness region that the gate SFs sit in (their docstrings state
#: the region and the degradation bound). At sf1 they are compared
#: against the documented ERROR BOUND instead of bit-equality — an
#: overflow/defect still trips the bound; honest approximation noise
#: does not. value = relative tolerance (3x the documented rsd).
REGION_BOUNDED = {
    # HLL lgK=16 coupon phase is exact to ~2^14 distinct (gate SFs);
    # sf1 has ~2e5 distinct parts/flag -> estimate mode, rsd ~0.4%
    "agg_approx_sketches": 0.012,
    "agg_hll_sketch_union": 0.012,
    # KLL k=65535 >= gate-sf TOTAL rows (its docstring's bound); sf1's
    # 6M rows compact -> bounded rank error, ~1e-4 in value space on
    # the dense price distribution (measured 2.7e-5..5.4e-5 at sf1)
    "agg_kll_quantile_rollup": 0.01,
}


def summary_compare(
    spark_df, con, sql: str, budget: float, rel_tol: float = 1e-6
) -> tuple[bool, str]:
    """COUNT + per-numeric-column SUM/MIN/MAX compared across engines,
    for results too large to canonicalize row-by-row. SUMs of floats
    are rounded to 6 dp relative (engine-order addition differs);
    ``rel_tol`` widens the per-aggregate relative tolerance for the
    REGION_BOUNDED queries."""
    from pyspark.sql import functions as F

    num_prefixes = ("tinyint", "smallint", "int", "bigint", "long", "float", "double", "decimal")
    cols = [
        f.name
        for f in spark_df.schema.fields
        if f.dataType.simpleString().startswith(num_prefixes)
    ]
    # integer columns sum in DECIMAL(38,0)/HUGEINT — the harness's own
    # SUM(bigint) overflowed int64 at sf1 on join_geo_haversine_radius
    # (round 14), turning a green query into a red audit row
    int_cols = {
        f.name
        for f in spark_df.schema.fields
        if f.dataType.simpleString() in _INT_TYPES
        or f.dataType.simpleString().startswith("decimal")
    }
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        sum_src = (
            F.col(c).cast("decimal(38,0)") if c in int_cols else F.col(c)
        )
        aggs += [
            F.sum(sum_src).alias(f"sum_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    s = spark_df.agg(*aggs).collect()[0].asDict()

    def _dd(con):
        con.execute(f"CREATE OR REPLACE TEMP TABLE __r AS ({sql})")
        parts = ["COUNT(*) AS __n"]
        for c in cols:
            src = f'CAST("{c}" AS HUGEINT)' if c in int_cols else f'"{c}"'
            parts += [
                f'SUM({src}) AS "sum_{c}"',
                f'MIN("{c}") AS "min_{c}"',
                f'MAX("{c}") AS "max_{c}"',
            ]
        return con.execute(f"SELECT {', '.join(parts)} FROM __r").df().iloc[0].to_dict()

    o = duckdb_with_timeout(con, _dd, budget)
    diffs = []
    n_rows = float(s.get("__n") or 0)
    for k, sv in s.items():
        ov = o.get(k)
        if sv is None and ov is None:
            continue
        if isinstance(sv, float) or isinstance(ov, float):
            svf, ovf = float(sv or 0), float(ov or 0)
            if k.startswith("sum_"):
                # accumulation-noise floor (round-14): a float SUM's
                # engine-order slack is bounded by n * column_scale *
                # machine-eps-ish — and when the column partially
                # CANCELS (mixed signs), the total can be far smaller
                # than that slack, so a relative test divides noise by
                # a near-arbitrary total (caught twice live: sum_z
                # -7.1e-13 vs -8.2e-12 on 300k unit-scale rows, then a
                # cosine column at sf1). A diff UNDER the accumulation
                # envelope is engine-order noise, never a defect — a
                # real overflow/wrong-answer distorts the sum at the
                # value scale, orders of magnitude above it.
                col = k[4:]
                scale = max(
                    abs(float(s.get(f"min_{col}") or 0)),
                    abs(float(s.get(f"max_{col}") or 0)),
                )
                floor = max(n_rows * scale * 1e-12, 1e-12)
                if abs(svf - ovf) <= floor:
                    continue
            denom = max(abs(svf), abs(ovf), 1e-12)
            if abs(svf - ovf) / denom > rel_tol:
                diffs.append(f"{k}: spark={sv} oracle={ov}")
        elif int(sv) != int(ov):
            if rel_tol > 1e-6 and k != "__n":
                a, b = int(sv), int(ov)
                if abs(a - b) <= rel_tol * max(abs(a), abs(b)):
                    continue
            diffs.append(f"{k}: spark={sv} oracle={ov}")
    return (not diffs, "; ".join(diffs[:4]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"), help="sf0.1 fixture dir"
    )
    ap.add_argument("--reuse", help="existing sf1 dataset dir (skip build)")
    ap.add_argument("--limit", type=int, default=60, help="strict-compare count")
    ap.add_argument("--only", help="comma-separated query names (overrides --limit)")
    ap.add_argument(
        "--all",
        action="store_true",
        help=(
            "value-verify EVERY oracle-paired query at sf1 (round-13 "
            "verdict item #2): strict compare when the result fits "
            "--rowcap, the summary compare (COUNT + per-column "
            "SUM/MIN/MAX inside each engine) past it; headroom extrema "
            "still run only for the fixed-point candidates — the "
            "compare is the point of this mode"
        ),
    )
    ap.add_argument("--rowcap", type=int, default=300_000)
    ap.add_argument("--budget", type=float, default=240.0, help="per-engine seconds")
    args = ap.parse_args()
    if not args.sf_dir:
        raise SystemExit("--sf-dir (or $SPARK_GRAFT_SF_DIR) is required")

    import __spark_entry__ as E
    from scale_sf1 import build_sf1

    from blow_spark.oracle import canonical_rows
    from blow_spark.session import get_spark

    spark = get_spark(app_name="overflow_audit")
    cat, oracles = E.queries(), E.oracle_sql()
    candidates = fixed_point_candidates(cat, oracles)
    print(f"{len(candidates)} fixed-point candidates", file=sys.stderr)

    if args.reuse:
        sf1 = args.reuse
    else:
        t0 = time.time()
        sf1 = build_sf1(spark, args.sf_dir)
        print(f"built sf1 at {sf1} in {time.time() - t0:.0f}s", file=sys.stderr)

    scored = dict(candidates)
    if args.all:
        candidates = candidates + sorted(
            (n, 0) for n in oracles if n not in scored
        )
        strict_names = list(oracles)
    elif args.only:
        # --only restricts BOTH the loop and the compare set (it may
        # name score-0 queries the candidate list would never visit)
        strict_names = args.only.split(",")
        candidates = [(n, scored.get(n, 0)) for n in strict_names]
    else:
        strict_names = [n for n, _ in candidates[: args.limit]]
    strict_set = set(strict_names)

    results: dict[str, dict] = {}
    for idx, (name, score) in enumerate(candidates):
        rec: dict = {"score": score, "mode": None, "ok": None, "detail": ""}
        results[name] = rec
        t0 = time.time()
        try:
            df1 = cat[name](spark, sf1)
            # headroom extrema only for fixed-point candidates — two
            # extra full executions per query, pointless for score-0
            # rows whose outputs carry no fixed-point accumulators
            worst = None
            if score:
                ext1 = spark_with_timeout(
                    spark, lambda: int_extrema(df1), args.budget, f"ext1_{name}"
                )
                df01 = cat[name](spark, args.sf_dir)
                ext01 = spark_with_timeout(
                    spark, lambda: int_extrema(df01), args.budget, f"ext01_{name}"
                )
                # headroom: per-decade growth of the worst integer
                # column, extrapolated two decades past sf1 (-> sf100)
                for col, m1 in ext1.items():
                    m01 = ext01.get(col, 0)
                    g = (m1 / m01) if m01 else 1.0
                    m100 = m1 * max(g, 1.0) ** 2
                    ratio = INT64_MAX / m100 if m100 else float("inf")
                    if worst is None or ratio < worst[1]:
                        worst = (col, ratio, m1, round(g, 2))
            if worst:
                rec["headroom_col"], rec["headroom_x"], rec["max_sf1"], rec["growth"] = (
                    worst[0],
                    (round(worst[1], 1) if worst[1] != float("inf") else None),
                    worst[2],
                    worst[3],
                )
            if name in strict_set:
                spdf = spark_with_timeout(
                    spark,
                    lambda: df1.limit(args.rowcap + 1).toPandas(),
                    args.budget,
                    f"cmp_{name}",
                )
                con = duckdb_connect_dir(sf1)
                try:
                    if name in REGION_BOUNDED:
                        rec["mode"] = "region-bound"
                        ok, detail = summary_compare(
                            df1, con, oracles[name], args.budget,
                            rel_tol=REGION_BOUNDED[name],
                        )
                        rec["ok"], rec["detail"] = ok, detail
                    elif len(spdf) > args.rowcap:
                        rec["mode"] = "summary"
                        ok, detail = summary_compare(
                            df1, con, oracles[name], args.budget
                        )
                        rec["ok"], rec["detail"] = ok, detail
                    else:
                        rec["mode"] = "strict"
                        opdf = duckdb_with_timeout(
                            con, lambda c: c.execute(oracles[name]).df(), args.budget
                        )
                        if len(spdf) != len(opdf):
                            rec["ok"] = False
                            rec["detail"] = f"rows {len(spdf)} != {len(opdf)}"
                        elif sorted(spdf.columns) != sorted(opdf.columns):
                            rec["ok"] = False
                            rec["detail"] = "column mismatch"
                        else:
                            sr, orr = canonical_rows(spdf), canonical_rows(opdf)
                            if sr == orr:
                                rec["ok"] = True
                            else:
                                rec["ok"] = False
                                rec["detail"] = "; ".join(
                                    f"spark={a} oracle={b}"
                                    for a, b in zip(sr, orr)
                                    if a != b
                                )[:300]
                finally:
                    con.close()
            else:
                rec["mode"] = "headroom-only"
                rec["ok"] = True
        except TimeoutError as e:
            rec["mode"] = rec["mode"] or "timeout"
            rec["ok"] = None
            rec["detail"] = str(e)
        except Exception as e:  # noqa: BLE001 — audit must finish the list
            rec["ok"] = False
            rec["detail"] = f"{type(e).__name__}: {e}"[:300]
        rec["sec"] = round(time.time() - t0, 1)
        spark.catalog.clearCache()
        status = {True: "ok", False: "FAIL", None: "timeout"}[rec["ok"]]
        print(
            f"[{idx + 1}/{len(candidates)}] {name}: {status} "
            f"({rec['mode']}, {rec['sec']}s, headroom="
            f"{rec.get('headroom_x', 'n/a')}x)",
            file=sys.stderr,
        )

    flagged = {
        n: r
        for n, r in results.items()
        if r["ok"] is False
        or (r.get("headroom_x") is not None and r["headroom_x"] < 10)
    }
    table = [
        "| query | mode | sf1 compare | worst int col | max@sf1 | growth/decade | headroom@sf100 |",
        "|---|---|---|---|---|---|---|",
    ]
    for n, r in sorted(results.items(), key=lambda kv: kv[1].get("headroom_x") or 1e18):
        if r.get("headroom_col") is None and r["ok"] is True and r["mode"] == "headroom-only":
            continue  # no integer columns: nothing to overflow
        table.append(
            f"| {n} | {r['mode']} | "
            f"{'green' if r['ok'] else ('RED' if r['ok'] is False else 'timeout')} | "
            f"{r.get('headroom_col', '—')} | {r.get('max_sf1', '—')} | "
            f"{r.get('growth', '—')} | "
            f"{str(r.get('headroom_x')) + 'x' if r.get('headroom_x') is not None else 'inf'} |"
        )
    with open("/tmp/overflow_audit_table.md", "w") as fh:
        fh.write("\n".join(table) + "\n")

    print(
        json.dumps(
            {
                "sf1_dir": sf1,
                "n_candidates": len(candidates),
                "n_strict": len(strict_set),
                "n_green": sum(1 for r in results.values() if r["ok"] is True),
                "n_fail": sum(1 for r in results.values() if r["ok"] is False),
                "n_timeout": sum(1 for r in results.values() if r["ok"] is None),
                "flagged": flagged,
                "results": results,
            },
            indent=1,
            default=str,
        )
    )


if __name__ == "__main__":
    main()
