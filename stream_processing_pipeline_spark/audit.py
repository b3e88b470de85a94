"""Logical-plan audits: scale-safety properties checked over plan trees.

:func:`broadcast_hint_violations` enforces the VERDICT-r3 rule that a
``broadcast()`` hint — which Spark honors unconditionally, overriding AQE's
size check — may only be placed on a side bounded INDEPENDENTLY of scale
factor. A hint on a side that grows with the data (customer, orders, part,
even filtered slices of them) is an executor OOM at the 100 TB design point
no matter how fast it runs at test SF. Applied to every registered query
by ``tests/test_plans.py::test_no_broadcast_hint_on_fact_grain``.

Boundedness rules over the ANALYZED logical plan (which keeps full relation
schemas, so table signatures always show):

- a leaf relation is unbounded iff it is one of the catalog fact tables
  (recognized by a signature key column);
- a Limit / Sample bounds everything beneath it;
- an Aggregate / Deduplicate bounds its subtree unless it groups by a
  fact-grain id (custkey / orderkey / partkey / suppkey / user_id / doc_id
  / vec_id / event_id) or a DERIVED per-entity column (content hashes:
  ``text_hash`` / ``*_fingerprint``) — per-key marginals are as big as
  the key space;
- a Filter of the form ``vec_id < <literal>`` bounds (the similarity
  family's fixed query workload is declared exactly this way);
- an Inner join with a bounded side is bounded ONLY when every column in
  its join condition is a catalog-declared unique key
  (``sources.registry.UNIQUE_KEYS`` — VERDICT r5 #7): each bounded-side
  row then matches <= 1 row of the unique side, so enrichment preserves
  cardinality. An inner join on any non-unique column (a token / shingle
  hash / band grain, or lineitem's non-unique ``l_orderkey``) is treated
  as multiplying even with a bounded side — the many-to-many false
  negative this rule closes used to be only a docstring caveat. Left*
  joins take the left side's boundedness;
- any other node is unbounded iff some child is.

Known false-negative classes (heuristic, not a proof): a grouping by a
derived per-entity column not matched by the regexes below (a novel
hash/bucket name at entity grain) would read as bounded. When adding
queries with such shapes, extend ``_ID_GROUP_RE`` (entity-grain derived
columns) or add the query to the violation allowlist with a reason —
don't rely on the guard silently covering them. The unique-key rule is
name-based: a join on a RENAMED unique key (``doc_a``/``db``) reads as
multiplying — conservative by design (a false positive is an allowlist
entry with a reason; a false negative is a silent OOM at scale).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from .sources.registry import UNIQUE_KEY_COLUMNS

__all__ = [
    "BROADCAST_HINT_ALLOWED",
    "broadcast_hint_violations",
    "subtree_is_unbounded",
]

#: one column that appears in (only) each sf-proportional catalog table
FACT_SIGNATURES = (
    "c_custkey",   # customer
    "o_orderkey",  # orders
    "l_orderkey",  # lineitem
    "s_suppkey",   # supplier
    "p_partkey",   # part
    "event_id",    # events
    "doc_id",      # documents
    "vec_id",      # embeddings
)

#: grouping by any of these keeps fact grain (one row per entity) —
#: including DERIVED per-entity columns (content hashes / fingerprints,
#: which have ~one distinct value per document)
_ID_GROUP_RE = re.compile(
    r"custkey|orderkey|partkey|suppkey|user_id|doc_id|vec_id|event_id"
    r"|text_hash|content_hash|fingerprint"
)

#: a literal upper bound on the embedding/query id — the similarity
#: family's "first N vectors are the query workload" declaration
#: (literals may appear cast: ``vec_id#12L < cast(100 as bigint)``)
_BOUNDED_FILTER_RE = re.compile(r"(vec_id|query_id)#\d+\w*\s*<\s*(cast\()?\d+")

#: queries allowed to hint an sf-proportional side, with the reason
BROADCAST_HINT_ALLOWED = {
    # reference J1 parity: the reference broadcast-joins its stream against
    # a STATIC 265-row zone lookup (/root/reference/src/spark_streaming.py
    # 304-312); the fixture mapping casts `customer` in that bounded-lookup
    # role, and streaming plans can't rely on AQE (no per-micro-batch
    # re-optimization), so the explicit hint IS the faithful re-expression.
    "q6_counts_by_segment",
    # the SAME plan compiled from the JSON pipeline spec (r12): the spec's
    # dim_join op maps onto operators.joins.dim_join, so the compiled twin
    # carries the identical J1-parity hint for the identical reason.
    "spec_q6_counts_by_segment",
}


_ATTR_REF_RE = re.compile(r"(\w+)#\d+")


def _join_condition_on_unique_keys(head: str) -> bool:
    """True iff EVERY attribute referenced in the join condition is a
    catalog-declared unique-key column (``sources.registry.UNIQUE_KEYS``).
    The condition is the segment after the join type in the node head
    (``Join Inner, ((doc_id#3L = doc_id#17L))``). Attribute extraction is
    deliberately blunt — any non-key column anywhere in the condition
    (including inside casts or coalesce wrappers) disqualifies, and a
    condition-less inner join (cross product) returns False."""
    _, _, cond = head.partition(", ")
    names = set(_ATTR_REF_RE.findall(cond))
    return bool(names) and names <= UNIQUE_KEY_COLUMNS


def _children(jnode):
    seq = jnode.children()
    return [seq.apply(i) for i in range(seq.size())]


def _head(jnode) -> str:
    return jnode.toString().splitlines()[0]


def subtree_is_unbounded(jnode) -> bool:
    """True if this logical subtree can grow with scale factor."""
    name = jnode.nodeName()
    if name in ("GlobalLimit", "LocalLimit", "Sample"):
        return False
    head = _head(jnode)
    if name == "Filter" and _BOUNDED_FILTER_RE.search(head):
        return False
    if name in ("Aggregate", "Deduplicate"):
        # head = "Aggregate [groupExprs], [aggExprs]" / "Deduplicate [keys]"
        # — test the grouping/key segment only (aggregate exprs may mention
        # id columns harmlessly). A SCALAR aggregate prints with a single
        # bracket list (just the agg exprs, e.g. "Aggregate [max(doc_id)
        # AS n]") — one output row, bounded regardless of which columns
        # the expressions mention (the max-of-id bounds pattern).
        if name == "Aggregate" and "], [" not in head:
            return False
        group_seg = head.split("], [")[0]
        if not _ID_GROUP_RE.search(group_seg):
            return False  # bounded-cardinality grouping (or scalar agg)
        # fact-grain grouping: as unbounded as what it aggregates
        return any(subtree_is_unbounded(c) for c in _children(jnode))
    kids = _children(jnode)
    if name == "Join" and len(kids) == 2:
        # "Join Inner, (cond)" / "Join LeftSemi, ..." — an inner equi-join
        # with a bounded side stays bounded ONLY on catalog-declared unique
        # keys (each bounded row matches <= 1 unique-side row); any other
        # key is treated as many-to-many and multiplies. Left* joins are
        # bounded iff their left (row-preserved) side is.
        if "Inner" in head:
            unbounded = [subtree_is_unbounded(c) for c in kids]
            if not any(unbounded):
                return False
            if all(unbounded):
                return True
            return not _join_condition_on_unique_keys(head)
        if any(t in head for t in ("LeftSemi", "LeftAnti", "LeftOuter")):
            return subtree_is_unbounded(kids[0])
        return any(subtree_is_unbounded(c) for c in kids)
    if not kids:  # leaf: Relation / LocalRelation / Range / LogicalRDD
        return name in (
            "LogicalRelation", "Relation", "DataSourceV2Relation", "LogicalRDD"
        ) and any(sig in head for sig in FACT_SIGNATURES)
    return any(subtree_is_unbounded(c) for c in kids)


def broadcast_hint_violations(df: DataFrame) -> list[str]:
    """Heads of broadcast-hinted subtrees that are sf-proportional."""
    bad: list[str] = []

    def visit(jnode):
        if jnode.nodeName() == "ResolvedHint" and "broadcast" in _head(jnode):
            for c in _children(jnode):
                if subtree_is_unbounded(c):
                    bad.append(_head(c))
            return  # nested hints inside a bounded subtree are fine
        for c in _children(jnode):
            visit(c)

    visit(df._jdf.queryExecution().analyzed())
    return bad
