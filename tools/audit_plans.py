"""Scale-hazard audit over every contract query's physical plan.

Runs each ``queries()`` entry at a small SF and inspects the EXECUTED
plan string for patterns that are harmless at test scale but fatal at
100 TB — the class of defect benchmarks miss because small inputs make
bad plans fast (round 3's ``dns_match_once``: Catalyst broadcast a
corpus-sized join side because sf0.1 stats sat under the 10 MB
threshold).

The audit session sets ``spark.sql.autoBroadcastJoinThreshold=-1`` (and
the AQE equivalent): at 100 TB no corpus-derived side fits any
threshold, so size-triggered broadcasts simply don't happen there — they
are small-data artifacts, not plan defects. What remains after disabling
them is exactly what the CODE forces: explicit ``F.broadcast()`` /
``hint()`` calls and structural join choices. Those are what must be
scale-safe.

Hazards flagged:

- ``broadcast-of-fact``: a (code-forced) BroadcastExchange whose subtree
  scans a FACT table (events / lineitem / orders / documents /
  embeddings) with no aggregation, limit, top-k, or literal local table
  between the scan and the broadcast — the build side grows with the
  corpus, so the plan dies at scale. Aggregated/limited subtrees (gram
  sets, centroid tables, per-group stats) broadcast legitimately.
- ``nested-loop``: CartesianProduct / BroadcastNestedLoopJoin whose
  subtree is NOT bounded (no reducer and no LocalTableScan) — a
  cross join against a handful of collected query vectors is fine, a
  cross join of two corpus-derived sides is not.
- ``python-row-udf``: BatchEvalPython (row-at-a-time Python UDF) in the
  plan; Arrow paths (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)
  are fine and NOT flagged.
- ``unresolved-hint``: a ``/*+ BROADCAST(x) */`` (or ``.hint()``) whose
  relation name does not resolve — Spark DROPS the hint with only a
  HintErrorLogger WARN, so the intended broadcast silently becomes a
  shuffle at scale. Detected generically: every ``UnresolvedHint`` in
  the parsed plan must survive analysis as a ``ResolvedHint`` (found
  twice in round 6: hints naming the CTE instead of its join alias).
- ``global-window``: a WindowExec with an EMPTY partition spec whose
  input subtree scans a fact table with no reducer, WindowGroupLimit,
  or limit in between — "No Partition Defined for Window operation":
  the whole corpus moves to ONE task. A rank<=k that Spark rewrote to
  WindowGroupLimit is fine (per-partition top-k bounds the single
  partition's input to partitions*k rows) and NOT flagged; so are
  windows above aggregates. The partition spec is parsed from
  ``windowspecdefinition(part..., order ASC/DESC..., frame)`` — order
  columns carry a sort direction, partition columns don't (a
  partition-only window prints two bracket groups, same as an
  order-only one, so group counting misclassifies both).

Exit code 1 if any hazard is found. Known-quadratic verifier queries
(documented as ground-truth-only, never the production path) are
listed in WAIVED with the reason.

Additionally prints an INFO tag (never a failure) when a plan re-scans
a fact table's PAYLOAD column (embedding vector / document text) four
or more times — the scan-multiplicity census (see ``scan_census``).

Usage:
    python tools/audit_plans.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import re
import sys

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
ONLY = set(sys.argv[2:])

#: tables that scale with the corpus — broadcasting an unreduced scan of
#: these is the hazard. The TPC-H dims are fine to broadcast.
FACT_TABLES = ("events", "lineitem", "orders", "documents", "embeddings")

#: nodes that make a subtree's output bounded (safe to broadcast even if
#: a fact scan sits below): aggregations, limits, top-k, literal tables.
REDUCERS = (
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "TakeOrderedAndProject",
    "GlobalLimit",
    "CollectLimit",
    "LocalLimit",
    "LocalTableScan",
)

#: (query, hazard) pairs that are by-design, with the reason. EMPTY since
#: r9: the three quadratic ground-truth verifiers
#: (dedup_ngram_jaccard / dedup_embedding_cosine /
#: dedup_embedding_lsh_recall) now run on the deterministic 1/7 pair
#: sample via residue-keyed EQUI-joins (functions/ground_truth.py) — the
#: nested-loop plans the waivers excused no longer exist; the full exact
#: forms remain in dedup.py/similarity.py for the test suite only.
WAIVED: dict[tuple[str, str], str] = {}

#: Known scale risks the plan STRING cannot reveal (equi-joins whose
#: quadratic blowup lives in the DATA's key-frequency distribution, not
#: the operator tree). Printed as an informational "note" line on every
#: run so the risk is named explicitly in the audit output (r5 verdict
#: item 4) rather than silently passing shape checks — these are NOT
#: excused hazards (the hazard list for these plans is empty).
DECLARED: dict[str, str] = {
    "dedup_ngram_jaccard": (
        "hot-shingle skew, bounded since r9: the sampled verifier joins "
        "on (shingle, pair-residue), spreading a hot shingle of document "
        "frequency f over GT_SAMPLE_MOD tasks of (f/M)^2 rows each "
        "(49x smaller stragglers, 7x less total pair state) — still a "
        "verifier, not the scale path"
    ),
}

#: the per-table PAYLOAD column — the wide thing a scan actually pays
#: for at 100 TB (the vector / the document body). Other fact columns
#: are narrow keys; parquet column pruning makes re-scanning them cheap.
HEAVY_COLS = {"embeddings": "embedding", "documents": "text"}

#: payload-scan multiplicity at or above this prints an info tag.
SCAN_INFO_AT = 4


def scan_census(plan: str) -> dict[str, tuple[int, int]]:
    """Per fact table: (parquet scans, payload-column scans) in one
    executed-plan treeString. Spark inlines multi-referenced
    deterministic CTEs, so a cheap map-CTE over the corpus (quantize,
    norm) re-scans its parquet once per reference — harmless for narrow
    keys, but each PAYLOAD re-scan re-reads the corpus' wide column.
    INFO, not a hazard: the expensive CTEs (Lloyd rounds, pair joins)
    are single-referenced in every contract plan (test-pinned), the
    repeated subtrees are map-only, and a deployment stages/persists
    the mapped corpus once (the `materialize_scan` idiom). The census
    makes the multiplicity visible so a future plan that silently
    multiplies payload passes shows up in the audit output."""
    out: dict[str, tuple[int, int]] = {}
    lines = plan.split("\n")
    # scans printed INSIDE an InMemoryRelation block are the cached
    # plan's display, not re-executions — a persisted DataFrame (the
    # pagerank/kcore/farthest forms) READS the cache; counting its
    # rendered lineage would report the opposite of the truth. Skip
    # every line at deeper indentation than an InMemoryRelation root.
    skip_until: int | None = None  # uses the module-level _depth

    for line in lines:
        if skip_until is not None:
            if line.strip() and _depth(line) <= skip_until:
                skip_until = None
            else:
                continue
        if "InMemoryRelation" in line:
            skip_until = _depth(line)
            continue
        if "FileScan parquet" not in line and "Scan parquet" not in line:
            continue
        for t in FACT_TABLES:
            if re.search(rf"{t}(\.parquet|/)", line):
                tot, heavy = out.get(t, (0, 0))
                col = HEAVY_COLS.get(t)
                h = 1 if (col and re.search(rf"\b{col}\b", line)) else 0
                out[t] = (tot + 1, heavy + h)
    return out


def scan_census_df(df) -> dict[str, tuple[int, int]]:
    """Leaf-exact census for a live DataFrame: collect the physical
    plan's leaf operators — MAIN plan plus every (scalar/IN) subquery
    plan, recursively — and count parquet scans among them.

    Why leaves, not treeString: the AQE plan string renders each query
    stage ~3x (a display artifact that inflated the first census
    round's numbers), and a persisted upstream prints its cached
    lineage nested hundreds of times while executing it ZERO times
    (InMemoryTableScan reads the cache). Leaf operators count each
    scan node exactly once; a duplicate subtree deduplicated by the
    physical ReuseExchange rule appears as a ReusedExchange leaf and
    is correctly NOT counted. Under AQE the walk reads the pre-AQE
    input plan, so this is the STATIC plan's scan-leaf count, not the
    number of scans that execute: AQE's run-time stage reuse can share
    leaves the static plan repeats (the SQL-form graph entries count
    lineitem x14-x36 and run 13-15 ReusedExchange stages in the triangle
    census), and can also miss some (the pre-fix yield funnel re-ran
    its gate pipeline per stage, 5x wall). A high count is a reason to
    time the entry, not a cost by itself."""
    lines: list[str] = []

    def walk(p) -> None:
        # AQE wraps a plan in a CHILDLESS AdaptiveSparkPlanExec —
        # unwrap to its input plan (pre-AQE physical tree, exchange
        # reuse NOT yet applied: exactly the duplication that executes
        # when AQE's runtime reuse doesn't fire)
        if p.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            walk(p.inputPlan())
            return
        leaves = p.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
                walk(leaf.inputPlan())
            else:
                lines.append(leaf.toString().split("\n")[0])
        subs = p.subqueriesAll()  # scalar/IN subquery plans, recursive
        for i in range(subs.size()):
            walk(subs.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return scan_census("\n".join(lines))


def _depth(s: str) -> int:
    """Tree depth of a treeString line: the length of its branch-marker
    prefix (spaces, ``:``, ``+``, ``-``). The whole-stage-codegen label
    ``*(n)`` that FOLLOWS the marker is part of the node name, NOT
    indentation — stripping ``*(`` too made a codegen node read 2-3
    levels deeper than its non-codegen sibling, so an ancestor walk
    could mistake the OTHER join side's non-codegen aggregate for an
    ancestor (review finding: a false negative in the global-window
    path check whenever codegen/non-codegen siblings mix)."""
    return len(s) - len(s.lstrip(" :+-"))


def _subtree(lines: list[str], start: int) -> list[str]:
    """Lines belonging to the operator subtree rooted at ``start`` in a
    treeString (children are more-indented until a sibling at <= depth)."""
    d0 = _depth(lines[start])
    out = [lines[start]]
    for line in lines[start + 1 :]:
        if line.strip() and _depth(line) <= d0:
            break
        out.append(line)
    return out

def _bounded(body: str) -> bool:
    return any(r in body for r in REDUCERS)

def _scans_fact(body: str) -> bool:
    return any(re.search(rf"{t}\.parquet", body) for t in FACT_TABLES)

def _split_top_level(args: str) -> list[str]:
    """Split a treeString argument list at TOP-LEVEL commas only — a
    naive split breaks on any multi-argument expression
    (``coalesce(a#1, b#2) ASC`` would split mid-expression and lose its
    direction marker; review finding)."""
    out, depth, cur = [], 0, []
    for ch in args:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def _window_unpartitioned(line: str) -> bool:
    """True iff a ``Window`` treeString line's spec has NO partition
    columns. In ``windowspecdefinition(args..., specifiedwindowframe(...``
    the leading args are partition columns (bare) then order columns
    (``col ASC|DESC NULLS ...``); empty args or an order-only list means
    the corpus-wide single-partition WindowExec."""
    m = re.search(r"windowspecdefinition\((.*?)specifiedwindowframe\(", line)
    if not m:
        return False
    args = m.group(1).strip().rstrip(",").strip()
    if not args:
        return True  # e.g. count(1) OVER () — no partition, no order
    parts = _split_top_level(args)
    if not parts:
        return True
    first = parts[0]
    # a partition column is a bare expression; an order column carries
    # a direction marker. Partition columns always precede order ones.
    return first.endswith(("ASC", "DESC")) or " ASC NULLS" in first or " DESC NULLS" in first


def _unreduced_fact_path(sub: list[str]) -> bool:
    """True iff some FACT scan in the subtree reaches the root (the
    window's input) with NO reducer / WindowGroupLimit on its ancestor
    chain. "Reducer anywhere in the subtree" is wrong for windows: the
    window consumes the JOIN OUTPUT, so an aggregate on one join side
    bounds nothing about the other side's rows (review finding)."""
    depth = _depth  # codegen-marker-aware shared definition
    bounded_marks = REDUCERS + ("WindowGroupLimit",)
    for j, line in enumerate(sub):
        if j == 0 or not _scans_fact(line):
            continue
        cur = depth(line)
        path_bounded = False
        for k in range(j - 1, 0, -1):  # ancestors strictly below the root
            if not sub[k].strip():
                continue
            if depth(sub[k]) < cur:
                cur = depth(sub[k])
                if any(r in sub[k] for r in bounded_marks):
                    path_bounded = True
                    break
        if not path_bounded:
            return True
    return False


def audit_plan(plan: str) -> list[str]:
    """Return hazard tags found in one executed-plan treeString."""
    hazards: list[str] = []
    lines = plan.split("\n")
    for i, line in enumerate(lines):
        if re.search(r"\bWindow \[", line) and _window_unpartitioned(line):
            sub = _subtree(lines, i)
            if _unreduced_fact_path(sub) and "global-window" not in hazards:
                hazards.append("global-window")
        if "CartesianProduct" in line or "BroadcastNestedLoopJoin" in line:
            body = "\n".join(_subtree(lines, i))
            # bounded if ANY side is literal/reduced; a corpus x corpus
            # cross join has a fact scan and no reducer anywhere
            if not _bounded(body) and "nested-loop" not in hazards:
                hazards.append("nested-loop")
        if "BroadcastExchange" in line:
            body = "\n".join(_subtree(lines, i))
            if _scans_fact(body) and not _bounded(body) and "broadcast-of-fact" not in hazards:
                hazards.append("broadcast-of-fact")
    if re.search(r"\bBatchEvalPython\b", plan):
        hazards.append("python-row-udf")
    return hazards


#: join-strategy hint names — the only hints ResolveJoinStrategyHints
#: turns into ResolvedHint nodes (REPARTITION/COALESCE/REBALANCE resolve
#: to Repartition nodes and must not enter the name-vs-ResolvedHint sum)
_JOIN_HINTS = frozenset({
    "BROADCAST", "BROADCASTJOIN", "MAPJOIN",
    "MERGE", "MERGEJOIN", "SHUFFLE_MERGE",
    "SHUFFLE_HASH", "SHUFFLE_REPLICATE_NL",
})


def audit_hints(df) -> int:
    """Number of DROPPED hint applications: join-strategy relation names
    in parsed UnresolvedHint nodes that did not survive analysis as
    ResolvedHint nodes. Analysis applies a hint once PER NAMED RELATION
    (ResolveJoinStrategyHints) and silently discards unmatched names with
    a WARN — so the comparison must count NAMES, not nodes: a multi-name
    /*+ BROADCAST(a, b) */ with one name dropped is 2 names vs 1
    ResolvedHint = 1 dropped (node-counting read it as 1 vs 1 = 0, the
    r6 ADVICE false negative). A df.hint(...) resolves EAGERLY — it is
    already a ResolvedHint in the parsed plan — so pre-resolved nodes
    are subtracted from the analyzed count, or one of them would mask a
    dropped named hint elsewhere in the same plan. 0 = every hint
    applied."""
    qe = df._jdf.queryExecution()
    logical = qe.logical().toString()
    hinted = 0
    # the ', [params]' suffix is optional: Spark's treeString omits an
    # empty arg list, so a no-parameter SQL hint (/*+ BROADCAST */ — one
    # hint application, resolved against the single join below it) would
    # otherwise be invisible here while still producing a ResolvedHint,
    # inflating resolved_from_named and masking one genuinely dropped
    # named hint elsewhere in the same plan (r7 ADVICE)
    for m in re.finditer(r"UnresolvedHint (\w+)(?:, \[([^\]]*)\])?", logical):
        if m.group(1).upper() not in _JOIN_HINTS:
            continue
        params = (m.group(2) or "").strip()
        hinted += len([p for p in params.split(",") if p.strip()]) if params else 1
    analyzed = qe.analyzed().toString().count("ResolvedHint")
    resolved_from_named = max(analyzed - logical.count("ResolvedHint"), 0)
    return max(hinted - resolved_from_named, 0)

def main() -> int:
    sys.path.insert(0, "/root/repo")
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("audit_plans")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # model the 100 TB regime: size-triggered broadcasts don't exist
    # there, so disable them — remaining broadcasts are code-forced.
    # Set post-hoc (runtime confs) so a pre-existing session in the same
    # process is also covered, not just a freshly built one.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    failures = 0
    qs = entry.queries()
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            # a prior entry's persist() would otherwise substitute into
            # THIS plan via the CacheManager (plans become audit-order-
            # dependent); clear so every entry is audited standalone
            spark.catalog.clearCache()
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # streaming-only entries can't batch-plan
            print(f"SKIP  {name}: {type(exc).__name__}")
            continue
        hazards = audit_plan(plan)
        try:
            if audit_hints(df):
                hazards.append("unresolved-hint")
        except Exception:  # noqa: BLE001 — reflection shape drift: info-only
            pass
        flagged = [h for h in hazards if (name, h) not in WAIVED]
        waived = [h for h in hazards if (name, h) in WAIVED]
        notes = [f"declared[{DECLARED[name]}]"] if name in DECLARED else []
        try:
            # info-only: a census failure (py4j reflection on an
            # unexpected plan node under a different Spark minor) must
            # not kill the audit — one bad entry never aborts the list
            census = scan_census_df(df)
        except Exception:  # noqa: BLE001
            census = {}
        # payload re-reads for the wide-column tables; TOTAL scan count
        # for the rest (lineitem/orders/events have no single payload
        # column). A multiplicity tag marks a plan to time, not a cost:
        # the census counts static-plan leaves, and AQE's run-time
        # stage reuse can share them (the SQL-form graph entries carry
        # lineitem x14-x36 and still run their edge build once)
        info = ", ".join(
            f"{t} x{heavy}" if t in HEAVY_COLS else f"{t} x{tot} total"
            for t, (tot, heavy) in sorted(census.items())
            if (heavy if t in HEAVY_COLS else tot) >= SCAN_INFO_AT
        )
        tag = f"  [payload scans: {info}]" if info else ""
        if flagged:
            failures += 1
            print(f"FAIL  {name}: {', '.join(flagged)}")
        elif waived:
            # an excused DETECTED hazard — distinct from an informational
            # note: a WAIVE line means the plan still carries the hazard
            reasons = "; ".join(f"{h}: {WAIVED[(name, h)]}" for h in waived)
            print(f"WAIVE {name}: {reasons}{tag}")
        elif notes:
            # hazard-free plan with a declared data-distribution caveat
            print(f"note  {name}: {'; '.join(notes)}{tag}")
        else:
            print(f"ok    {name}{tag}")
    print(f"\nhazard failures: {failures}")
    return 1 if failures else 0

if __name__ == "__main__":
    raise SystemExit(main())
