"""Plan inspection helpers — the 100 TB posture's feedback loop.

The scale rules (SURVEY §4, instructions): filters and projections must
reach the parquet scan, partition predicates must prune directories, and
the hot path must stay inside whole-stage codegen (no Python row UDFs).
These helpers turn those rules into assertions usable in tests.

The four scale guards (``python_udf_nodes``, ``global_window_nodes``,
``unbounded_nested_loop_joins``, ``unbounded_broadcast_hints``) read
the two strings ``plan_texts`` computes; tests/test_plan_guards.py runs
all four over every batch registry query from one build of each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the formatted plan (empty if none)."""
    plan = explain_str(df)
    return "\n".join(line for line in plan.splitlines() if "PushedFilters" in line)


def has_partition_filter(df: DataFrame, column: str) -> bool:
    plan = explain_str(df)
    for line in plan.splitlines():
        if "PartitionFilters" in line and column in line:
            return True
    return False


def plan_texts(df: DataFrame) -> tuple[str, str]:
    """The formatted physical plan and the analyzed logical plan: the two
    strings every scale guard below reads. Computing them once per frame
    lets one registry sweep run all four guards on one build of each
    query (tests/test_plan_guards.py)."""
    return explain_str(df), _analyzed(df)


def _formatted(plan: DataFrame | str) -> str:
    return plan if isinstance(plan, str) else explain_str(plan)


def _analyzed(plan: DataFrame | str) -> str:
    return plan if isinstance(plan, str) else plan._jdf.queryExecution().analyzed().toString()


def python_udf_nodes(plan: DataFrame | str) -> list[str]:
    """Lines of the formatted plan that run a row-at-a-time Python UDF
    (BatchEvalPython). Arrow-batched pandas UDFs (ArrowEvalPython /
    FlatMapGroupsInPandas / MapInPandas) are the sanctioned Python path
    and are not reported. ``plan`` is a DataFrame or its formatted plan."""
    return [ln.strip() for ln in _formatted(plan).splitlines() if "BatchEvalPython" in ln]


def assert_no_python_udf(df: DataFrame) -> None:
    """Fail if the plan contains a row-at-a-time Python UDF."""
    bad = python_udf_nodes(df)
    if bad:
        raise AssertionError("row-at-a-time Python UDF in plan:\n" + "\n".join(bad))


def global_window_nodes(plan: DataFrame | str) -> list[str]:
    """Arguments lines of Window nodes that plan with an EMPTY partition
    spec — the 'WindowExec: No Partition Defined' shape that serializes the
    whole input through one task at 100 TB. ``plan`` is a DataFrame or its
    formatted plan.

    Detection (formatted plan): a Window/WindowInPandas node prints
    ``Arguments: [exprs], [partitionSpec], [orderSpec]`` with empty specs
    OMITTED, so the bracket-group count disambiguates:
      3 groups -> partitioned (safe);
      2 groups -> global IFF the trailing group is an order spec (every
        sort order prints ``ASC``/``DESC``); else it is a partition spec
        with no ordering (safe);
      1 group -> global, unordered frame.
    """
    import re

    lines = _formatted(plan).splitlines()
    bad: list[str] = []
    for i, ln in enumerate(lines):
        if not re.match(r"\(\d+\) (Window|WindowInPandas)\b", ln.strip()):
            continue
        for j in range(i + 1, min(i + 8, len(lines))):
            stripped = lines[j].strip()
            if not stripped.startswith("Arguments:"):
                continue
            args = stripped[len("Arguments:"):]
            groups = _bracket_groups(args)
            is_global = len(groups) <= 1 or (
                len(groups) == 2
                and (" ASC" in groups[-1] or " DESC" in groups[-1])
            )
            if is_global:
                bad.append(ln.strip() + " " + args.strip())
            break
    return bad


def assert_no_global_window(df: DataFrame) -> None:
    """Fail if the plan contains an unpartitioned Window (single-partition
    bottleneck at scale)."""
    bad = global_window_nodes(df)
    if bad:
        raise AssertionError(
            "global (unpartitioned) Window in plan — single-partition "
            "bottleneck at scale:\n" + "\n".join(bad)
        )


#: Node names that bound a subtree's cardinality independent of corpus size:
#: keyless aggregates (<=1 row; checked separately via Keys: []), explicit
#: count limits, literal tables.
_BOUNDING_NODES = ("GlobalLimit", "TakeOrderedAndProject", "CollectLimit", "LocalTableScan")
_NESTED_LOOP_NODES = ("CartesianProduct", "BroadcastNestedLoopJoin")
_RANGE_BOUND = 10_000  # a literal Range below this is a spine, not a corpus


def _parse_plan_tree(plan: str) -> tuple[list[tuple[int, int, str]], dict[int, str]]:
    """Parse the formatted physical-plan outline into
    ``[(node_id, depth, node_name), ...]`` (pre-order) plus a node-id ->
    detail-text map from the numbered details section."""
    import re

    outline: list[tuple[int, int, str]] = []
    details: dict[int, str] = {}
    cur_id = None
    for raw in plan.splitlines():
        m = re.match(r"^([:+\-| ]*)\*?\s*([A-Za-z][A-Za-z0-9 .$\[\]]*?)\s*\((\d+)\)\s*$", raw)
        if m and not raw.lstrip().startswith("("):
            prefix, name, nid = m.group(1), m.group(2).strip(), int(m.group(3))
            outline.append((nid, len(prefix), name))
            continue
        m = re.match(r"^\((\d+)\)\s", raw.strip())
        if m:
            cur_id = int(m.group(1))
            details[cur_id] = raw.strip()
        elif cur_id is not None and raw.strip():
            details[cur_id] = details.get(cur_id, "") + "\n" + raw.strip()
        elif not raw.strip():
            cur_id = None
    return outline, details


def _subtree_bounded(nodes: list[tuple[int, int, str]], details: dict[int, str]) -> bool:
    """A subtree's output is corpus-size-independent if any node in it caps
    cardinality: a LIMIT shape, a literal table, a keyless (<=1 row)
    aggregate, or a small literal Range."""
    import re

    for nid, _, name in nodes:
        head = name.split()[0]
        if head in _BOUNDING_NODES:
            return True
        if "OneRowRelation" in name:  # literal spine (explode over 1 row)
            return True
        if head.endswith("Aggregate") and "Keys: []" in details.get(nid, ""):
            return True
        if head == "Range":
            m = re.search(r"Range \((\-?\d+), (\-?\d+)", details.get(nid, ""))
            if m and int(m.group(2)) - int(m.group(1)) <= _RANGE_BOUND:
                return True
    return False


def unbounded_nested_loop_joins(plan: DataFrame | str) -> list[str]:
    """Nested-loop join nodes (CartesianProduct / BroadcastNestedLoopJoin)
    where NEITHER input is provably cardinality-bounded — the
    proportional-quadratic shape (round-4 defect class: a pair join whose
    sides both scale with the corpus does O(N^2) work at 100 TB no matter
    how honest it looks at sf0.1). Equality joins (SortMergeJoin /
    BroadcastHashJoin / ShuffledHashJoin) never appear here: blocking on a
    key IS the fix this guard enforces.

    A side counts as bounded if its subtree contains a LIMIT
    (GlobalLimit / TakeOrderedAndProject / CollectLimit — the hash-rank
    fixed-count sample idiom), a keyless aggregate (<=1 row), a literal
    LocalTableScan, or a Range below {bound} rows (a spine). ``plan`` is a
    DataFrame or its formatted plan.
    """.format(bound=_RANGE_BOUND)
    outline, details = _parse_plan_tree(_formatted(plan))
    offenders: list[str] = []
    for i, (nid, depth, name) in enumerate(outline):
        if name.split()[0] not in _NESTED_LOOP_NODES:
            continue
        # operators/scan_prefix.py triangular close: the `_g_prev < _g`
        # condition only ever joins the per-group totals frame, which is
        # group_width (4096x) smaller than its input by construction —
        # the documented bounded-reduction exception.
        if "_g_prev" in details.get(nid, ""):
            continue
        # children: maximal consecutive subtrees at depth' > depth after i
        subtrees: list[list[tuple[int, int, str]]] = []
        j = i + 1
        while j < len(outline) and outline[j][1] > depth:
            child_depth = outline[j][1]
            k = j + 1
            while k < len(outline) and outline[k][1] > child_depth:
                k += 1
            subtrees.append(outline[j:k])
            j = k
        if not any(_subtree_bounded(st, details) for st in subtrees):
            offenders.append(f"{name} ({nid})")
    return offenders


#: Corpus tables that GROW with the corpus: a pinned broadcast of one of
#: these (or of a frame derived from one without a cardinality bound in
#: between) is a driver/executor OOM at 100 TB, because Spark honors
#: explicit broadcast hints regardless of size and AQE cannot demote them.
#: nation/region are true enums (25/5 rows at any scale) and are safe.
_GROWING_TABLE_COLUMNS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_partkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

#: Logical nodes that cap a subtree's output independent of corpus size.
#: Aggregate/Deduplicate bound output to the grouping-key DOMAIN (keyless:
#: <=1 row) — whether a key domain itself grows with the corpus (user keys
#: vs event-type enums) is a semantic question the plan cannot answer; it
#: is adjudicated in query docstrings/PLANS.md. The guard's target is the
#: round-7 defect class: a hint over a RAW (un-aggregated, un-limited)
#: growing scan.
_LOGICAL_BOUNDING = (
    "Aggregate",
    "Deduplicate",
    "GlobalLimit",
    "LocalLimit",
    "LocalRelation",
    "OneRowRelation",
)


def _logical_outline_lines(plan_str: str) -> list[tuple[int, str, str]]:
    """Pre-order ``[(indent, head, line), ...]`` of a logical-plan
    ``toString()`` tree (one node per line, children strictly deeper)."""
    import re

    out: list[tuple[int, str, str]] = []
    for ln in plan_str.splitlines():
        m = re.match(r"^([ :+\-]*)([A-Za-z][A-Za-z0-9]*)(.*)$", ln)
        if m:
            out.append((len(m.group(1)), m.group(2), ln))
    return out


def _bracket_groups(s: str) -> list[str]:
    """Top-level ``[...]`` groups of a node's argument string."""
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def _node_bounds(head: str, line: str) -> bool:
    import re

    if head in _LOGICAL_BOUNDING:
        return True
    if head == "Range":
        m = re.search(r"Range \((\-?\d+), (\-?\d+)", line)
        if m and int(m.group(2)) - int(m.group(1)) <= _RANGE_BOUND:
            return True
    return False


def _child_spans(
    nodes: list[tuple[int, str, str]], i: int
) -> list[tuple[int, int]]:
    """Index spans ``[(start, end), ...]`` of node i's direct children."""
    indent = nodes[i][0]
    spans: list[tuple[int, int]] = []
    j = i + 1
    while j < len(nodes) and nodes[j][0] > indent:
        cind = nodes[j][0]
        k = j + 1
        while k < len(nodes) and nodes[k][0] > cind:
            k += 1
        spans.append((j, k))
        j = k
    return spans


def _unbounded_witnesses(
    nodes: list[tuple[int, str, str]], i: int
) -> list[str]:
    """Leaf descriptions proving node i's output can grow with the corpus;
    empty list = bounded. Bottom-up semantics:
      * a bounding node (aggregate, limit, literal, small range) caps its
        whole subtree;
      * a left-semi/anti join is capped iff its LEFT input is;
      * any other join is capped iff ALL inputs are; a join of a bounded
        keyset against a growing side yields a distinguishable
        ``join-multiplicity`` witness (bounded only if the growing side is
        unique per key — semantic, sanctioned per query);
      * everything else (project/filter/window/union/...) is capped iff
        ALL inputs are.
    Witness leaves: growing corpus Relations (by column-name identity) and
    LogicalRDD checkpoint barriers (cardinality unknowable from the plan —
    callers may sanction those per query with a documented rationale)."""
    indent, head, line = nodes[i]
    if _node_bounds(head, line):
        return []
    spans = _child_spans(nodes, i)
    if not spans:  # leaf
        if head == "Relation":
            for table, cols in _GROWING_TABLE_COLUMNS.items():
                if any(f"{c}#" in line for c in cols):
                    return [f"unbounded {table} scan: {line.strip()[:120]}"]
            return []  # nation/region enum (or unrecognized literal)
        if head == "LogicalRDD":
            return [
                "checkpoint barrier (LogicalRDD), cardinality unknowable: "
                + line.strip()[:120]
            ]
        return []
    child_ws = [_unbounded_witnesses(nodes, s) for s, _ in spans]
    if head == "Join":
        if "LeftSemi" in line or "LeftAnti" in line:
            return child_ws[0]
        if all(not w for w in child_ws):
            return []
        if any(not w for w in child_ws):
            # One side bounded, the other grows: the output is bounded only
            # if the growing side is UNIQUE per join key (a LIMIT-ed keyset
            # probing a primary key), which is semantic, not mechanical — a
            # fact side with many rows per key grows with the corpus even
            # behind a K-row keyset. Emit a distinguishable witness class so
            # callers can sanction the genuinely-unique cases per query with
            # a documented rationale (tests/test_plan_guards.py
            # ALLOWED_JOIN_MULTIPLICITY), mirroring the LogicalRDD pattern.
            grown = [w for ws in child_ws for w in ws]
            return [
                "join-multiplicity (bounded keyset joined to a growing "
                "side; bounded only if that side is unique per key): "
                + grown[0]
            ]
        return [w for ws in child_ws for w in ws]
    return [w for ws in child_ws for w in ws]


def unbounded_broadcast_hints(plan: DataFrame | str) -> list[str]:
    """Broadcast-hint nodes in the ANALYZED logical plan whose hinted side
    can GROW with the corpus — no aggregate, limit, literal, small range,
    or bounded-join cap between the hint and a growing-table scan. This is
    the round-7 defect class: ``F.broadcast`` pinned on a side that scales
    with the corpus (filtered orders, customer projections, supplier
    keysets). Spark honors the hint regardless of size, so at 100 TB each
    one is an OOM the optimizer cannot demote (and the static-size gate in
    ``fastpath.broadcast_if_small`` exists precisely to drop such pins at
    scale — audit with the gate forced shut to see the at-scale plan).

    Aggregates bound their subtree to the grouping-key domain; whether a
    KEY DOMAIN itself grows (user keys vs event-type enums) is semantic
    and adjudicated in docstrings/PLANS.md, not here. LogicalRDD
    (checkpoint) leaves are reported as witnesses because the truncated
    plan hides what was materialized; per-query sanctions with rationale
    live in tests/test_plan_guards.py.

    Table identity is recovered from each Relation leaf's column names
    (the analyzed tree prints no file path); nation/region enum leaves
    are always bounded. ``plan`` is a DataFrame or its analyzed plan
    string.
    """
    nodes = _logical_outline_lines(_analyzed(plan))
    offenders: list[str] = []
    for i, (indent, head, line) in enumerate(nodes):
        if head != "ResolvedHint" or "strategy=broadcast" not in line:
            continue
        for w in _unbounded_witnesses(nodes, i):
            offenders.append(f"broadcast hint over {w}")
    return offenders


def read_schema_report(df: DataFrame) -> dict[str, list[str]]:
    """Column-level scan lineage: which columns each parquet scan actually
    reads (the pruned ReadSchema), keyed by the scan's file location.
    This is the column-pruning audit in programmatic form — at 100 TB the
    difference between a 2-column and a 40-column ReadSchema IS the query
    cost, and this report is how a pipeline asserts it mechanically
    (tools/explain_audit.py renders the human version)."""
    import re

    plan = explain_str(df)
    report: dict[str, list[str]] = {}
    location = None
    for line in plan.splitlines():
        m = re.search(r"Location:.*\[([^\]]*)\]", line)
        if m:
            location = m.group(1).rstrip("/").rsplit("/", 1)[-1]
        m = re.search(r"ReadSchema: struct<([^>]*)>", line)
        if m and location is not None:
            cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
            report.setdefault(location, sorted(set(cols)))
            location = None
    return report
