"""Plan inspection: one structural walk of a DataFrame's physical plan.

Tests pin the scale-critical plan properties (SURVEY §4) on the nodes
`plan_nodes` returns: filters pushed to the parquet reader, scans
pruned to the projected columns, broadcast joins where a dimension is
small, and wide WholeStageCodegen spans.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

from pyspark import SparkContext
from pyspark.sql import DataFrame

# Render every field of a node's arguments; explain text truncates at
# spark.sql.debug.maxToStringFields.
_ALL_FIELDS = 2**31 - 1
# The metadata() keys a file scan reports. Read one by one: iterating
# the whole map ends in a py4j exception that PySpark takes ~20 ms to
# convert.
_SCAN_META = (
    "PushedFilters", "PartitionFilters", "ReadSchema", "Batched", "Bucketed", "Location",
)


@dataclass(eq=False)
class PlanNode:
    """One physical operator.

    `name` is the stripped nodeName(), e.g. "Scan parquet" or
    "BroadcastHashJoin" (the join type and build side are in `args`).
    `args` and `meta` are read from the JVM on first use: each is a
    py4j round trip, and most callers need only the names."""

    name: str
    children: list[PlanNode] = field(default_factory=list, repr=False)
    _jnode: object = field(default=None, repr=False)

    @cached_property
    def args(self) -> str:
        """The node's one-line argument text, untruncated."""
        return self._jnode.argString(_ALL_FIELDS)

    @cached_property
    def meta(self) -> dict[str, str]:
        """A file scan's untruncated metadata() (PushedFilters,
        PartitionFilters, ReadSchema, Batched, Bucketed, Location);
        empty for every other node."""
        jnode = self._jnode
        if not self.name.startswith("Scan ") or (
            jnode.getClass().getSimpleName() != "FileSourceScanExec"
        ):
            return {}
        meta = SparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(jnode.metadata())
        return {k: v for k in _SCAN_META if (v := meta.get(k)) is not None}


def plan_nodes(df: DataFrame) -> list[PlanNode]:
    """Every node of `df`'s executed plan, each once, in pre-order; the
    plans of its subqueries follow the main tree.

    Descent: AdaptiveSparkPlan into its current plan (the initial plan
    before execution, the final one after), a query stage into its
    plan, InMemoryTableScan into the cached plan; ReusedExchange is a
    leaf. A subquery's wrapper (Subquery, SubqueryBroadcast, ...) is
    not a node, as in explain("formatted"), and a ReusedSubquery adds
    nothing. A plan that several places hold, a subquery's or a cached
    one, is walked at the first of them only."""
    identity = df._sc._jvm.System.identityHashCode
    out: list[PlanNode] = []
    subqueries: list = []
    seen: set[int] = set()

    def first_sight(jplan) -> bool:
        key = identity(jplan)
        new = key not in seen
        seen.add(key)
        return new

    def region(jroot) -> PlanNode:
        """Walk what `jroot` reaches through children(), queueing the
        plans of all their subqueries (one py4j call, not one a node)."""
        subqueries.extend(
            s.child() for s in _seq(jroot.subqueriesAll()) if s.nodeName() != "ReusedSubquery"
        )
        return walk(jroot)

    def walk(jnode) -> PlanNode:
        node = PlanNode(jnode.nodeName().strip(), _jnode=jnode)
        out.append(node)
        if node.name == "AdaptiveSparkPlan":
            node.children = [region(jnode.executedPlan())]
        elif node.name.endswith("QueryStage"):
            node.children = [region(jnode.plan())]
        elif node.name == "InMemoryTableScan":
            cached = jnode.relation().cachedPlan()
            node.children = [region(cached)] if first_sight(cached) else []
        else:
            node.children = [walk(k) for k in _seq(jnode.children())]
        return node

    region(df._jdf.queryExecution().executedPlan())
    while subqueries:
        root = subqueries.pop(0)
        if first_sight(root):
            region(root)
    return out


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]
