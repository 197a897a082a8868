"""Physical-plan audit over the query registry — the scale linter.

For every registered query, builds the DataFrame (no execution) and
inspects the formatted physical plan for patterns that are fine at
sf0.1 but lethal at 100 TB:

* ``CartesianProduct``  — an unconditional O(N*M) join. A broadcast
  nested-loop against a 1-row threshold frame is fine (that's how
  uncorrelated scalar subqueries decorrelate); a shuffled cartesian is
  a bug, always.
* ``BatchEvalPython``   — row-at-a-time Python UDF in the plan. All
  Python must go through Arrow (``ArrowEvalPython`` / ``MapInPandas``
  / ``FlatMapGroupsInPandas`` are the allowed forms).
* ``SortMergeJoin on a dim table`` is NOT flagged — AQE converts
  eligible ones at runtime; the audit sticks to static certainties.

Also reports per-plan Exchange (shuffle) counts so regressions in
shuffle shape show up in review diffs.

Usage: python tools/planaudit.py [sf_dir] [query ...]
Exit code 1 if any hard flag fires.
"""

from __future__ import annotations

import contextlib
import io
import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HARD_FLAGS = {
    "CartesianProduct": "unconditional shuffled cross join",
    "BatchEvalPython": "row-at-a-time Python UDF (use Arrow forms)",
}


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit_plan(plan: str) -> tuple[list[str], int]:
    flags = [msg for pat, msg in HARD_FLAGS.items() if pat in plan]
    n_exchange = len(re.findall(r"\bExchange\b", plan))
    return flags, n_exchange


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from go_nats_to_clickhouse_spark.queries import QUERIES
    from go_nats_to_clickhouse_spark.session import get_spark

    names = sys.argv[2:] or list(QUERIES)
    spark = get_spark(app_name="gntcs-planaudit")
    failures = 0
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        flags, n_exchange = audit_plan(formatted_plan(df))
        flags += audit_hints(df)
        status = "FLAG" if flags else "ok"
        print(f"{status:4} {name}: exchanges={n_exchange}"
              + (f" :: {'; '.join(flags)}" if flags else ""))
        failures += bool(flags)
    print(f"\n{failures} flagged / {len(names)} plans")
    return 1 if failures else 0




# ---------------------------------------------------------------------------
# Forbidden-hint rule (VERDICT r9 #2): a broadcast HINT is honored
# regardless of runtime size — AQE never demotes a hinted side — so a hint
# is only legal on a frame whose row count is BOUNDED BY CONSTRUCTION:
# fixed-cardinality dims (nation=25, region=5 at every sf), global (group-
# less) aggregates, LIMIT/top-k results, in-memory literal frames, or
# geometry-bounded index sidecars (IVF centroids / PQ codebooks / one-row
# stats). Anything that scales with sf (part/supplier/customer/orders/
# lineitem/events/documents/embeddings or corpus-derived mat tables) must
# NOT be hinted — AQE picks broadcast at small sf from its own size
# estimate and degrades gracefully at 100 TB instead of aborting.
# ---------------------------------------------------------------------------

#: path substrings of file-backed relations that are bounded at every sf
BOUNDED_PATHS = (
    "nation.parquet",
    "region.parquet",
    "centroids",   # IVF cell centroids: n_lists rows by construction
    "codebook",    # PQ codebooks: m * 2^bits rows by construction
    "bm25_stats",  # single global-aggregate row
)


def _scala_seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


def _iter_tree(node):
    yield node
    for child in _scala_seq(node.children()):
        yield from _iter_tree(child)


def _leaf_paths(node) -> list[str]:
    """Root paths of every file-backed relation in the subtree."""
    paths = []
    for n in _iter_tree(node):
        if n.getClass().getSimpleName() == "LogicalRelation":
            try:
                loc = n.relation().location()
                paths.extend(p.toString() for p in _scala_seq(loc.rootPaths()))
            except Exception:  # non-HadoopFs relation — treat as bounded
                pass
    return paths


#: alias prefix declaring a contractual bound (operators/hints.bounded)
BOUNDED_ALIAS_PREFIX = "__bounded__"


def _subtree_is_bounded(node) -> bool:
    """True iff the hinted subtree cannot scale with the data volume."""
    cls = node.getClass().getSimpleName()
    if cls == "Aggregate" and node.groupingExpressions().isEmpty():
        return True  # global aggregate: one row at any sf
    if cls in ("GlobalLimit", "Limit"):
        return True  # top-k: bounded by the literal k
    if cls == "SubqueryAlias" and str(node.alias()).startswith(
        BOUNDED_ALIAS_PREFIX
    ):
        return True  # declared bounded-by-contract (operators/hints)
    if cls == "LogicalRelation":
        try:
            loc = node.relation().location()
            paths = [p.toString() for p in _scala_seq(loc.rootPaths())]
        except Exception:
            return True  # in-memory / non-file relation
        return all(any(b in p for b in BOUNDED_PATHS) for p in paths)
    if cls in ("LocalRelation", "OneRowRelation", "Range"):
        return True
    # LogicalRDD is deliberately NOT bounded (code review r10): it covers
    # both createDataFrame literals (bounded) AND localCheckpoint'ed
    # frames of ANY size — blessing the class would let a checkpoint
    # launder a corpus-scale frame past the rule. Literal sites must
    # carry an explicit operators/hints.bounded marker instead.
    kids = _scala_seq(node.children())
    if not kids:  # unknown leaf: conservative — NOT bounded
        return False
    # joins/unions/projects are bounded only if every input is; a join
    # can multiply rows but only of already-bounded (constant-size) sides
    return all(_subtree_is_bounded(k) for k in kids)


def audit_hints(df) -> list[str]:
    """Offending broadcast hints in the ANALYZED logical plan: every
    ResolvedHint whose subtree is not bounded by construction."""
    analyzed = df._jdf.queryExecution().analyzed()
    bad = []
    for node in _iter_tree(analyzed):
        if node.getClass().getSimpleName() != "ResolvedHint":
            continue
        child = node.children().apply(0)
        if not _subtree_is_bounded(child):
            scaling = [
                p for p in _leaf_paths(child)
                if not any(b in p for b in BOUNDED_PATHS)
            ]
            label = ", ".join(sorted({p.rsplit("/", 1)[-1] for p in scaling})) \
                or child.getClass().getSimpleName()
            bad.append(f"broadcast hint on sf-scaling frame ({label})")
    return bad


if __name__ == "__main__":
    sys.exit(main())
