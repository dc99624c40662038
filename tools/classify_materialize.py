"""Classify every query-path materialization site as grid vs proxy
(round 16, VERDICT r15 item 3).

Scans ``opentimes_spark/plans/queries.py`` (and the shared helpers and
the produce pipeline, whose routed O×D matrix is a ``proxy`` site: fact
row count, 3 columns) for
``.transform(mz_grid)`` / ``.transform(mz_proxy)`` sites, prints one
table row per site (enclosing query, line, class, grouping keys), and
cross-checks the committed class against the same heuristics that
produced the original classification:

- ``proxy`` when the materialized statement has no aggregation (it is a
  projection/filter/window/melt of its input, so its row count is the
  input's), when it explodes an array (token/gram melts), or when its
  grouping keys are entity-grain (user/doc/order/part/customer/
  supplier/vector/token/term/gram ids — cardinality grows with the
  data);
- ``grid`` when the statement aggregates onto value-bounded keys
  (nation, month, flag, priority, bucket, decile, ... — bounded at any
  scale factor).

Heuristics only ever *flag* (exit 1 with a [suspect] line) — the
committed class in the source is the reviewed ground truth; overrides
recorded in ``_REVIEWED`` document why the heuristic is wrong there.

Usage: python tools/classify_materialize.py [--table]  # table to stdout
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FILES = [
    "opentimes_spark/plans/queries.py",
    "opentimes_spark/functions/text.py",
    "opentimes_spark/plans/pipeline.py",
]

# entity-grain key fragments: cardinality grows with the fact tables
_ENTITY = re.compile(
    r"user_id|doc_id|o_orderkey|l_orderkey|orderkey|c_custkey|custkey"
    r"|s_suppkey|suppkey|p_partkey|partkey|vec_id|\btoken\b|\bterm\b"
    r"|\bgram\b|\bshingle\b|\bword\b|\bbigram\b|event_id|\"id\"|'id'"
)

# Sites where the statement-local heuristic misreads the frame;
# reviewed by hand (r16).  Keyed "function:class" (class = the
# committed, reviewed classification); the value records why the
# heuristic's guess is wrong there.
_REVIEWED: dict[str, str] = {
    # bounded by a constant predicate, not by the fact tables
    "graph_triangle_count:grid": "edge set capped by l_orderkey<=1500",
    "graph_clustering_coefficient:grid": "co-edge set capped by l_orderkey<=1500",
    # value/domain-bounded frames the no-agg heuristic can't see
    "events_markov_2step:grid": "event-type transition matrix <= |types|^2",
    "tokens_heaps_law:grid": "decile join frame: 10 rows",
    "events_daily_autocorrelation:grid": "lagged day grid (date domain)",
    "events_hill_tail_index:grid": "top-51 rank frame",
    "cust_acctbal_hill_tail:grid": "top-101 rank frame",
    "sim_eval_mrr_ndcg:grid": "k-per-probe-query shortlist (fixed probe set)",
    "events_haar_energy:grid": "16-row dyadic signal",
    "orders_group_medians_grid:grid": "derived from the materialized value grid",
    "embed_davies_bouldin:grid": "label x dim centroid table (k x 64)",
    "orders_diff_in_means_bootstrap:grid": "B=100 replicate grid",
    "orders_theil_sen_monthly:grid": "month-pair slope grid (month domain)",
    "orders_sen_slope_ci:grid": "ranked month-pair slope grid",
    "orders_snht_changepoint:grid": "month-grid cross 1-row stats",
    "lineitem_ansari_bradley:grid": "l_quantity grid (1-50)",
    "lineitem_brunner_munzel:grid": "l_quantity grid (1-50)",
    "lineitem_lepage_flags:grid": "l_quantity grid (1-50)",
    "lineitem_siegel_tukey:grid": "l_quantity grid (1-50)",
    "lineitem_klotz_dispersion:grid": "l_quantity grid (1-50)",
    "lineitem_cucconi_flags:grid": "l_quantity grid (1-50)",
    "lineitem_moses_spans:grid": "blocks derived from the quantity grid",
    "nations_moran_geary_balance:grid": "<=25-row nation frame",
    # nation-graph frames: domain-bounded by |nation|^2 = 625 rows
    "nations_pagerank:grid": "<=625-row nation edge frame",
    "nations_trade_communities:grid": "<=625-row nation edge frame",
    "nations_bfs_hops:grid": "<=625-row nation edge frame",
    "nations_hits_hubs_authorities:grid": "<=625-row nation edge frame",
    "nations_katz_path_counts:grid": "<=625-row nation adjacency",
    "nations_ppr_from_seed:grid": "<=625-row nation edge frame",
    "nations_trade_triangle_support:grid": "<=625-row nation edge frame",
    # vocab-grain keys the entity regex misses: cardinality grows with
    # the corpus (Heaps), so these are fact-width proxies
    "docs_ngram_novelty_by_shard:proxy": "(shard, 8-gram) key grows with corpus vocab",
    "score_bigram_kneser_ney:proxy": "(w1, w2) bigram vocab grows with corpus",
}


def _statements(path: str):
    """Yield (enclosing_def, lineno, statement_text, cls) per site."""
    src = open(os.path.join(ROOT, path)).read().splitlines()
    fn = None
    for i, line in enumerate(src):
        m = re.match(r"def (\w+)\(", line)
        if m:
            fn = m.group(1)
        mm = re.search(r"\.transform\(mz_(grid|proxy)\)", line)
        if not mm or line.strip().startswith("#"):
            continue
        # backtrack to statement start: first line at lower indent that
        # opens the expression (assignment or return)
        j = i
        while j > 0:
            t = src[j].strip()
            if re.match(r"^(\w+(\s*,\s*\w+)*\s*=|return\b|yield\b)", t) and not t.startswith("=="):
                break
            j -= 1
        stmt = "\n".join(src[j : i + 1])
        yield fn, i + 1, stmt, mm.group(1), path


def _heuristic(stmt: str) -> str:
    has_agg = ".agg(" in stmt or re.search(r"\.count\(\)", stmt)
    if re.search(r"explode|posexplode", stmt):
        return "proxy"
    gb = re.findall(r"\.groupBy\(([^)]*)\)", stmt)
    gb_text = " ".join(gb)
    if has_agg and gb_text and not _ENTITY.search(gb_text):
        return "grid"
    if has_agg and not gb_text:
        return "grid"  # global aggregate: 1 row
    if has_agg and _ENTITY.search(gb_text):
        return "proxy"
    return "proxy"  # no aggregation: row count is the input's


def main() -> int:
    rows = []
    for path in FILES:
        rows.extend(_statements(path))
    n_suspect = 0
    print(f"{'query':42s} {'line':>6s} {'class':6s} heuristic")
    for fn, ln, stmt, cls, path in rows:
        h = _heuristic(stmt)
        mark = ""
        if h != cls:
            key = f"{fn}:{cls}"
            if key not in _REVIEWED:
                mark = "  [suspect]"
                n_suspect += 1
        print(f"{fn:42s} {ln:>6d} {cls:6s} {h}{mark}")
    g = sum(1 for r in rows if r[3] == "grid")
    p = sum(1 for r in rows if r[3] == "proxy")
    print(f"\n{len(rows)} sites: {g} grid, {p} proxy; {n_suspect} suspect")
    return 1 if n_suspect else 0


if __name__ == "__main__":
    raise SystemExit(main())
