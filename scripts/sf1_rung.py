#!/usr/bin/env python3
"""sf1 heavy rung (VERDICT r10 item 4): a MATERIALIZED 10x parquet
scale under the slowest bench queries.

The in-memory/replica probes (scale_probe*.py) time plans over
unioned DataFrames; this rung instead writes a real sf1-sized parquet
directory (10x sf0.1 rows) and runs the REGISTERED query functions on
it — paying real parquet scans, real AQE over real file statistics,
and real spill, the things replica probes can mask (reference
analogue: tests/spark-it/.../HugeDataTest.scala:40 materializes its
large input rather than cloning in memory).

Replica construction (one-time, `--materialize`): 10 disjoint copies
of every sf0.1 table with shifted integer keys (users/orders/docs/
vectors are NEW populations, so per-key group sizes stay realistic
while key cardinality and row mass grow 10x), per-replica token
prefixes for documents (the corpus vocabulary grows — no cross-replica
text dups), and per-replica element-wise perturbation for embeddings
(+((31*i + j) mod 7)/100 on dimension j of replica i): identical
vectors across replicas would collide in the SAME near-dup signature
buckets and grow candidate pairs QUADRATICALLY in the replica count —
a pathology real sf1 data does not have. Graph queries see 10 disjoint
copies of the co-purchase graph: same diameter, 10x nodes/edges —
exactly the regime where a broadcast-sized or single-partition
assumption would break.

Usage:
  python scripts/sf1_rung.py --materialize   # build .sf1/ (once)
  python scripts/sf1_rung.py                 # run the rung, print ledger

Ledger = per query at sf0.1 and sf1: wall (best of 2), exchange count
from the AQE-final executed plan, shuffle-write bytes and spill from
plans.metrics.measure_action. Pass/fail reading: wall growth <= ~10x
per 10x rows and no spill explosion. Results are committed to
COVERAGE.md (r11 "sf1 heavy rung" section).

Last run (idle host, local[32], round 11; wall = best of 2, build
inside the timer; 10x rows sf0.1 -> sf1):

    query                          sf0.1          sf1          growth
    q_hits                       5.74s/32MB   13.17s/437MB     2.3x
    q_pagerank                   3.21s/13MB    6.97s/215MB     2.2x
    q_pagerank_weighted          2.53s/13MB    6.18s/219MB     2.4x
    q_coverage_select            3.89s/ 3MB    8.14s/ 48MB     2.1x
    q_dedup_groups               3.00s/ 4MB    6.92s/ 39MB     2.3x
    q_label_propagation          3.02s/12MB    6.51s/153MB     2.2x
    q_shortest_path              3.26s/16MB    5.71s/194MB     1.8x
    q_ktruss                     1.87s/0.6MB   3.46s/  7MB     1.9x
    q_embedding_near_dup         3.55s/0.7MB   5.49s/  7MB     1.5x
    q_embedding_near_dup_verified 1.60s/1.2MB  2.14s/ 11MB     1.3x
    q_interval_merge             1.72s/ 8MB    1.85s/ 85MB     1.1x
    q_stream_stream_left_join    2.85s/0.4MB   4.08s/  3MB     1.4x

Zero spill anywhere; exchange counts IDENTICAL at both scales (the
plan shape does not degrade with data); shuffle bytes grow ~10-13x
(linear in rows — the 13x on hits/pagerank is the 10x edge mass plus
AQE choosing more post-shuffle partitions). Wall grows 1.1-2.4x for
10x rows: the heavies are dominated by bounded-iteration fixed cost
at these scales, with per-row throughput far from saturation.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from celeborn_spark import registry
from celeborn_spark.catalog import TABLES, load_table
from celeborn_spark.operators.textops import tokens
from celeborn_spark.plans.explain import count_exchanges
from celeborn_spark.plans.metrics import measure_action
from celeborn_spark.session import get_spark

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".sf1")
K = 10

# Key shifts per replica — a disjoint population per copy, all tables
# included so any query runs (the r9 q_homophily lesson: a missing replica
# table crashes the probe).
SHIFTS = {
    "region": {"r_regionkey": 1_000},
    "nation": {"n_nationkey": 1_000, "n_regionkey": 1_000},
    "part": {"p_partkey": 10_000_000},
    "supplier": {"s_suppkey": 10_000_000},
    "customer": {"c_custkey": 10_000_000},
    "orders": {"o_orderkey": 1_000_000_000, "o_custkey": 10_000_000},
    "lineitem": {
        "l_orderkey": 1_000_000_000,
        "l_suppkey": 10_000_000,
        "l_partkey": 10_000_000,
    },
    "events": {"event_id": 1_000_000_000, "user_id": 10_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000, "label": 1_000},
}

# The 10-slowest-bench set named in VERDICT r10 item 4, plus the
# verified embedding twin (the oracle path) and the weighted pagerank
# variant (its map-side-combine skew claim is the one to stress).
HEAVIES = (
    "q_hits",
    "q_pagerank",
    "q_pagerank_weighted",
    "q_coverage_select",
    "q_dedup_groups",
    "q_label_propagation",
    "q_shortest_path",
    "q_ktruss",
    "q_embedding_near_dup",
    "q_embedding_near_dup_verified",
    "q_interval_merge",
    "q_stream_stream_left_join",
    # r12: the r11 verdict's one super-2.5x sf1 mover ("watch at r12")
    # — pair mass grows with basket co-membership; rung-tracked until
    # two consecutive rounds hold its growth factor stable.
    "q_item_neighbors",
)


def _prefix_tokens(i: int):
    return lambda x: F.concat(F.lit(f"r{i}_"), x)


def _perturb_embedding(i: int):
    # 2-arg lambda -> F.transform passes (element, index)
    return lambda x, j: (
        x + ((F.lit(31 * i) + j) % 7).cast("float") / 100.0
    ).cast("float")


def materialize(spark) -> None:
    os.makedirs(SF1, exist_ok=True)
    for table in TABLES:
        df = load_table(spark, SF01, table)
        shifts = SHIFTS[table]
        parts = []
        for i in range(K):
            cols = []
            for c, dt in df.dtypes:
                if c in shifts:
                    cols.append(
                        (F.col(c) + F.lit(i * shifts[c])).cast(dt).alias(c)
                    )
                elif table == "documents" and c == "text":
                    cols.append(
                        F.array_join(
                            F.transform(tokens(F.col(c)), _prefix_tokens(i)),
                            " ",
                        ).alias(c)
                    )
                elif table == "embeddings" and c == "embedding":
                    # decorrelate replicas (see module docstring)
                    cols.append(
                        F.transform(F.col(c), _perturb_embedding(i)).alias(c)
                    )
                else:
                    cols.append(F.col(c))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        dest = f"{SF1}/{table}.parquet"
        out.write.mode("overwrite").parquet(dest)
        print(f"materialized {dest}", flush=True)


def run_rung(spark, names=HEAVIES) -> None:
    qs = registry.queries()
    print(f"{'query':34s} {'sf':5s} {'wall':>7s} {'exch':>5s} "
          f"{'shuf_w MB':>10s} {'spill MB':>9s} {'rows':>9s}", flush=True)
    for name in names:
        for label, sf_dir in (("0.1", SF01), ("1", SF1)):
            walls = []
            metrics = None
            df = None
            for rep in range(2):
                # plan BUILD inside the timer AND inside the metric
                # window: iterative operators (hits, pagerank,
                # dedup_groups) run eager localCheckpoints during
                # build — timing/metering only the final action would
                # miss most of their work.
                t0 = time.perf_counter()
                if rep == 1:
                    metrics = measure_action(
                        df, action=lambda _df: qs[name](spark, sf_dir).count()
                    )
                else:
                    df = qs[name](spark, sf_dir)
                    df.count()
                walls.append(time.perf_counter() - t0)
            exch = count_exchanges(df)
            spill = metrics.memory_spill_bytes + metrics.disk_spill_bytes
            print(
                f"{name:34s} {label:5s} {min(walls):7.2f} {exch:5d} "
                f"{metrics.shuffle_write_bytes / 1e6:10.2f} "
                f"{spill / 1e6:9.2f} {metrics.n_rows:9d}",
                flush=True,
            )


def run_headline(spark) -> None:
    """Round-close one-liner ledger (VERDICT r11 item 6): the FULL
    bench headline set at sf0.1 vs sf1 — total wall ratio, per-query
    max growth, and the exchange-count-flat check (a plan whose
    exchange count grows with data has a scale-dependent shape bug).
    Prints one JSON line for COVERAGE.md."""
    import json

    import bench

    qs = registry.queries()
    names = bench.headline_names()
    totals = {"0.1": 0.0, "1": 0.0}
    worst = ("", 0.0)
    exch_moves = []
    failed = []
    jvm_gc = spark._jvm.System.gc
    for name in names:
        walls = {}
        exch = {}
        for label, sf_dir in (("0.1", SF01), ("1", SF1)):
            # untimed GC before EACH (label, sf_dir) rep pair, not once
            # per query (r12 ADVICE item 4): with a single per-query GC
            # the sf1 pair runs after the sf0.1 pair's allocations, and
            # late-positional GC landing inside the sf1 reps inflates
            # exactly the numerator of the growth ratio this ledger
            # measures.
            jvm_gc()
            try:
                best = None
                df = None
                for _rep in range(2):
                    t0 = time.perf_counter()
                    df = qs[name](spark, sf_dir)
                    df.count()
                    dt = time.perf_counter() - t0
                    best = dt if best is None else min(best, dt)
                walls[label] = best
                exch[label] = count_exchanges(df)
            except Exception as exc:  # noqa: BLE001
                failed.append(f"{name}@{label}: {exc}")
                walls[label] = None
        if walls["0.1"] and walls["1"]:
            totals["0.1"] += walls["0.1"]
            totals["1"] += walls["1"]
            g = walls["1"] / walls["0.1"]
            if g > worst[1]:
                worst = (name, g)
            if exch.get("1") != exch.get("0.1"):
                exch_moves.append(
                    f"{name}:{exch.get('0.1')}->{exch.get('1')}"
                )
        print(
            f"{name:36s} {walls['0.1'] or -1:7.2f} {walls['1'] or -1:7.2f}",
            flush=True,
        )
    print(
        json.dumps(
            {
                "headline_n": len(names),
                "failed": failed,
                "wall_sf01": round(totals["0.1"], 2),
                "wall_sf1": round(totals["1"], 2),
                "wall_ratio": round(totals["1"] / max(totals["0.1"], 1e-9), 2),
                "worst_query": worst[0],
                "worst_growth": round(worst[1], 2),
                "exchange_count_moves": exch_moves,
            },
            separators=(",", ":"),
        ),
        flush=True,
    )


def main() -> None:
    spark = get_spark(app_name="sf1_rung")
    spark.sparkContext.setLogLevel("ERROR")
    if "--materialize" in sys.argv:
        materialize(spark)
    elif "--headline" in sys.argv:
        if not os.path.isdir(SF1):
            sys.exit(f"{SF1} missing — run with --materialize first")
        run_headline(spark)
    else:
        if not os.path.isdir(SF1):
            sys.exit(f"{SF1} missing — run with --materialize first")
        # positional args select an explicit query set (e.g. the
        # operators a session touched); default stays the HEAVIES set.
        names = [a for a in sys.argv[1:] if not a.startswith("-")]
        # Fail fast on typos BEFORE the Spark session does any work: an
        # unknown name otherwise dies as a KeyError deep inside run_rung
        # after earlier queries already ran (r13 ADVICE).
        if names:
            known = registry.queries()
            unknown = [n for n in names if n not in known]
            if unknown:
                import difflib

                hints = {
                    n: difflib.get_close_matches(n, known, n=1)
                    for n in unknown
                }
                sys.exit(
                    "sf1_rung: unknown query names: "
                    + ", ".join(
                        f"{n}" + (f" (did you mean {h[0]}?)" if (h := hints[n]) else "")
                        for n in unknown
                    )
                )
        run_rung(spark, tuple(names) if names else HEAVIES)
    spark.stop()


if __name__ == "__main__":
    main()
