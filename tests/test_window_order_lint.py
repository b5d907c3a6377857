"""Lint: every SQL window ORDER BY must be a total order over its input.

The interval-merge flake (VERDICT r9 item 1) was a third static bug
class alongside the round()-of-integer-ratio and bigint/decimal-literal
lints: a window ORDER BY whose key set is NOT unique over the window
input, feeding a second window pass. Engines order tied rows
arbitrarily and independently per pass, so a running sum computed in
one pass over head flags computed in another can assign a tied twin to
the wrong island/session — the same query on the same data passes or
fails by engine-internal row order. Even a SINGLE pass is
value-nondeterministic when a ROWS-framed running aggregate or
row_number over tied keys is emitted as output.

Rule enforced here, over every `OVER (... ORDER BY ...)` clause in
celeborn_spark (the DuckDB-oracle contract surface — Spark-side specs
evaluate all functions of one WindowSpec in a single sort pass, and
their cross-engine drift surfaces through these same oracle clauses):

  (a) the order-key list ends in a known-unique id column, or
  (b) the window input is grouped/distincted on an order key within the
      enclosing function (the histogram discipline: windows over
      grouped-distinct VALUES are unique by construction), or
  (c) the site is in the ALLOWLIST below with a written justification
      from the r10 manual audit.

Any new window clause that satisfies none of these fails the lint and
must either gain a tiebreaker, a dedupe-before-window (the
merge_intervals fix), or an audited allowlist entry.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "celeborn_spark"

OVER_RE = re.compile(
    r"OVER\s*\(\s*(PARTITION BY\s+[^()]*?)?\s*ORDER BY\s+([^()]*?)\s*(?:ROWS|RANGE|\))",
    re.IGNORECASE | re.DOTALL,
)

# Columns unique by data-model construction REGARDLESS of the window
# input relation — true per-relation primary keys only (r10 ADVICE:
# the earlier suffix rule accepted ANY *_id/*key tail, so e.g.
# ORDER BY ts, user_id over raw events — many rows per user — would
# have passed, a false-negative path for the exact flake class this
# lint was built to catch). event_id is the events PK; doc_id/vec_id
# the documents/embeddings PKs; o_orderkey the orders PK; rn names a
# row_number (unique within its own window's partition by
# construction). l_linenumber is only unique WITHIN l_orderkey, so it
# is handled pairwise in the test body, not here. Context-dependent
# names (user_id, item, tok, g, b, ...) are unique only over
# grouped/deduped inputs — they must pass the nearby-GROUP-BY
# heuristic or carry a per-site ALLOWLIST entry naming the deduped
# input relation.
UNIQUE_FINAL_KEYS = {"event_id", "vec_id", "doc_id", "o_orderkey", "rn"}

# (file, order-by text) pairs audited by hand in round 10. Each entry
# documents WHY the key set is a total order even though neither the
# unique-tail rule nor the nearby-GROUP-BY heuristic can see it.
ALLOWLIST: dict[tuple[str, str], str] = {
    ("operators/evaluation.py", "day"):
        "pettitt_oracle_sql: `daily` is the caller's per-day aggregate "
        "(queries/evaluation.py q_pettitt_changepoint GROUP BY 1) — day "
        "is unique by the operator's input contract (docstring).",
    ("operators/stats.py", "day"):
        "r13 series-desk oracles (von_neumann/snht/buishand/"
        "permutation_entropy): series_sql is the caller's per-day "
        "aggregate (queries/stats.py _DAILY_KUSD_SQL GROUP BY 1) — day "
        "is unique by the operators' input contract (docstrings).",
    ("operators/stats.py", "{ob}"):
        "ewma/cusum/lag1_autocorr oracles: order_cols is a caller "
        "parameter; every call site passes ('ts', 'event_id') — "
        "event_id-terminated, total.",
    ("operators/stats.py", "{ob_desc}"):
        "same parametric contract as {ob} (ewma reverse pass).",
    ("operators/textops.py", "bm25 desc, {id_col}"):
        "bm25_oracle_sql: id_col is the caller's unique doc id.",
    ("operators/textops.py", "sel_rank"):
        "max-coverage greedy: sel_rank is the selection round — one row "
        "per round by the LIMIT 1 construction, unique.",
    ("queries/temporal.py", "o_orderdate"):
        "q_point_in_time_join: lead() runs over `latest WHERE rn = 1`, "
        "deduped to one row per (o_custkey, o_orderdate) — unique "
        "within the custkey partition.",
    ("queries/windows.py", "l_shipdate, l_orderkey, l_linenumber, l_quantity"):
        "contains the lineitem PK (l_orderkey, l_linenumber) — total "
        "order regardless of the trailing l_quantity.",
    # --- r11 audit: sites surfaced when the *_id/*key suffix rule was
    # restricted to true per-relation PKs (r10 ADVICE item 1) ---
    ("operators/sampling.py", "b, k"):
        "dense_ids_oracle_sql: the window input is `kb`, built from "
        "SELECT DISTINCT {key_sql} AS k — k is unique by construction "
        "and b = md5(k) % n_buckets is a function of k, so (b, k) is "
        "a total order over kb.",
    ("operators/stats.py", "t"):
        "rmst_oracle_sql / km_survival_oracle_sql: the window input is "
        "the distinct-duration KM table (durs GROUPs BY t; rmst_km is "
        "km's output) — one row per duration t by construction.",
    ("queries/similarity.py", "sim desc, centroid_id"):
        "IVF cell assignment (q_ann_ivf_topk / q_knn_join oracles): "
        "the window input is `sims` = v CROSS JOIN c — exactly one "
        "row per (vec_id, centroid_id), so within the PARTITION BY "
        "vec_id partition centroid_id is unique; the trailing "
        "centroid_id makes (sim, centroid_id) total.",
}


def _final_key(order: str) -> str:
    last = order.split(",")[-1].strip()
    last = re.sub(r"\s+(asc|desc)$", "", last, flags=re.IGNORECASE)
    return last.split(".")[-1].strip("{}").strip()


def test_window_order_keys_are_total_orders():
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        rel = str(p.relative_to(PKG.parent / "celeborn_spark")).replace("\\", "/")
        rel = f"{p.parent.name}/{p.name}" if p.parent != PKG else p.name
        text = p.read_text()
        for m in OVER_RE.finditer(text):
            order = " ".join(m.group(2).split()).lower()
            last = _final_key(order)
            if last in UNIQUE_FINAL_KEYS:
                continue
            # The lineitem PK is the PAIR (l_orderkey, l_linenumber):
            # accept l_linenumber only when l_orderkey is also a key.
            if last == "l_linenumber" and "l_orderkey" in order:
                continue
            if (rel, order) in ALLOWLIST:
                continue
            first = order.split(",")[0].strip().split(" ")[0].split(".")[-1].strip("{}")
            start = text.rfind("\ndef ", 0, m.start())
            ctx = text[max(0, start):m.end() + 2500].lower()
            grouped = (
                re.search(rf"group by[^\n]*\b{re.escape(first)}\b", ctx)
                or re.search(rf"group by[^\n]*\b{re.escape(last)}\b", ctx)
                or "group by 1" in ctx
                or re.search(rf"select distinct[^\n]*\b{re.escape(first)}\b", ctx)
                or re.search(rf"\.groupby\([^\n]*\b{re.escape(first)}\b", ctx)
                or re.search(rf"\.dropduplicates\(", ctx)
            )
            if grouped:
                continue
            ln = text[: m.start()].count("\n") + 1
            offenders.append(f"{rel}:{ln}: OVER(... ORDER BY {order})")
    assert not offenders, (
        "window ORDER BY keys that are not provably total orders "
        "(add a tiebreaker, dedupe-before-window, or an audited "
        "ALLOWLIST entry):\n" + "\n".join(offenders)
    )


# Spark-side companion: every PARTITION-LESS Window.orderBy in package
# code serializes its input onto one task, so each site must carry its
# boundedness argument in-line — a marker word within the 8 lines above
# (how the input is cardinality-bounded: a value histogram/grid, a
# calendar, a count-of-counts, a post-limit prefix, bucket offsets, a
# replicate count). The r10 sweep fixed seven sites where the input
# scaled with the catalog/corpus (ROC family, SPRT walk, streaming
# leaderboard, decayed popularity, session paths, vocab coverage,
# Burrows top-m); this lint keeps the next one from landing silently.
SPARK_SITE_MARKERS = re.compile(
    r"bounded|grid|histogram|<=|k-row|bucket|calendar|decile|offset|"
    r"limit|distinct|vocab|prefix|replica|200|top-?m|top-?k|n_buckets|"
    r"count-of-counts",
    re.IGNORECASE,
)
SPARK_WINDOW_RE = re.compile(r"\b(?:Window|W|WW)\.orderBy\(")


def test_partitionless_spark_windows_document_boundedness():
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        rel = f"{p.parent.name}/{p.name}" if p.parent != PKG else p.name
        lines = p.read_text().split("\n")
        text = "\n".join(lines)
        for m in SPARK_WINDOW_RE.finditer(text):
            ln = text[: m.start()].count("\n")
            ctx = "\n".join(lines[max(0, ln - 8):ln + 2])
            if not SPARK_SITE_MARKERS.search(ctx):
                offenders.append(f"{rel}:{ln + 1}")
    assert not offenders, (
        "partition-less Window.orderBy sites without an in-line "
        "boundedness justification (document how the window input is "
        "cardinality-bounded, or bound it):\n" + "\n".join(offenders)
    )


# Third companion (VERDICT r10 item 6): every driver-side collect() /
# first() in package code pulls its input onto the driver, so each
# site must say — within the 12 lines above (collects end long
# builder chains) — WHY that input is
# cardinality-bounded (a 1-row scalar, a length histogram, a
# diagnostic/test-only path, a plan-time peek). A collect of row data
# is the "operator isn't distributed" smell; this lint keeps the next
# one from landing silently.
COLLECT_SITE_MARKERS = re.compile(
    r"bounded|scalar|1-row|one[- ]row|tiny|histogram|diagnostic|"
    r"fixed-point|plan[- ]time|peek|footer|<=",
    re.IGNORECASE,
)
COLLECT_RE = re.compile(r"\.(?:collect|first)\(\)")


def test_driver_collect_sites_document_boundedness():
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        rel = f"{p.parent.name}/{p.name}" if p.parent != PKG else p.name
        lines = p.read_text().split("\n")
        text = "\n".join(lines)
        for m in COLLECT_RE.finditer(text):
            ln = text[: m.start()].count("\n")
            ctx = "\n".join(lines[max(0, ln - 12):ln + 1])
            if not COLLECT_SITE_MARKERS.search(ctx):
                offenders.append(f"{rel}:{ln + 1}")
    assert not offenders, (
        "driver-side collect()/first() sites without an in-line "
        "boundedness justification (document why the collected "
        "relation is cardinality-bounded, or keep it distributed):\n"
        + "\n".join(offenders)
    )


# Fourth companion: each engine decision has one home. A top-level
# function defined in two modules is a copy that drifts (three copies
# of the narrow-input _spread once lived in dedup, similarity and
# multimodal); shared helpers live in one module and are imported.
def test_top_level_function_names_are_defined_once():
    import ast
    from collections import defaultdict

    homes = defaultdict(list)
    for p in sorted(PKG.rglob("*.py")):
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                homes[node.name].append(str(p.relative_to(PKG)))
    dups = {name: mods for name, mods in homes.items() if len(mods) > 1}
    assert not dups, (
        "top-level functions defined in more than one module under "
        "celeborn_spark/ (keep one definition and import it):\n"
        + "\n".join(f"{n}: {', '.join(m)}" for n, m in sorted(dups.items()))
    )


# Fifth companion: persisted relations have one owner. Engine code
# caches through operators.hold, and only operators.release_held, which
# every registered query runs first, unpersists. A bare persist() would
# outlive the invocation and serve a later one rows the CacheManager
# matched by file path, not by file content.
def test_persist_calls_go_through_hold():
    import ast

    owner = {"persist": "hold", "unpersist": "release_held"}
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        home = p == PKG / "operators" / "__init__.py"
        for top in ast.parse(p.read_text()).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in owner
                    and not (home and getattr(top, "name", "") == owner[node.func.attr])
                ):
                    offenders.append(
                        f"{p.relative_to(PKG)}:{node.lineno}: .{node.func.attr}()"
                    )
    assert not offenders, (
        "persist()/unpersist() outside operators.hold/release_held "
        "(cache with df.transform(hold); the registry releases it when "
        "the next query is invoked):\n" + "\n".join(offenders)
    )
