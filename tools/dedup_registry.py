"""Registry near-twin gate (preflight stage ``registry-dedup``).

The r11 incident: two freshly-added entries (``orders_benford``,
``orders_mannwhitney``) duplicated statistics the registry already
carried (``dq_benford_orders``, ``stat_orders_mannwhitney``) and
survived until a same-day manual audit. This gate catches the next
twin at COMMIT time: every pair of ``oracle_sql()`` entries is scored
with token-BAG Jaccard (multiset of identifier/number tokens — bag,
not set, so two queries sharing vocabulary but differing in constants
and clause counts score apart), and any pair at or above
``THRESHOLD`` that is not in the adjudicated ``ALLOW`` list fails the
gate. No Spark session needed — pure text, runs in ~1s.

The ALLOW list is the audit trail: each pair was inspected and is an
INTENTIONAL family (sketch-vs-exact twins sharing a replay CTE, a
pipeline's split/probe stages over the same committed index, a
detector and its pair-emitting sibling). Adding a twin requires either
removing the duplicate (the usual answer) or consciously extending the
list — never silence.

Self-test (the seeded red fixture): ``--self-test`` injects a
cosmetically-edited copy of an existing oracle under a fake name and
asserts the gate flags it; exits nonzero if the seed escapes.
"""

from __future__ import annotations

import itertools
import os
import re
import sys
from collections import Counter

THRESHOLD = 0.80

#: adjudicated intentional near-twins (see module docstring)
ALLOW = {
    frozenset(p) for p in [
        ("doc_bpe_encode", "doc_bpe_train"),
        ("doc_dedup_clusters", "doc_dedup_corpus"),
        ("doc_dedup_clusters", "doc_dedup_report"),
        ("doc_dedup_clusters", "doc_dup_triangles"),
        ("doc_dedup_clusters", "doc_minhash_pairs"),
        ("doc_dedup_corpus", "doc_dedup_report"),
        ("doc_dedup_corpus", "doc_dup_triangles"),
        ("doc_dedup_corpus", "doc_minhash_pairs"),
        ("doc_dup_triangles", "doc_minhash_pairs"),
        ("doc_minhash_pairs", "doc_minhash_verified"),
        ("doc_simhash", "doc_simhash_pairs"),
        ("emb_ann_recall", "emb_mrr_eval"),
        ("emb_bq_hamming", "emb_bq_rerank"),
        ("emb_cosine_topk", "emb_filtered_topk"),
        ("emb_cosine_topk", "emb_range_search"),
        ("emb_incr_ann", "emb_lsh_ann"),
        ("emb_incr_ivf", "emb_kmeans_ivf"),
        ("emb_lsh_ann", "emb_lsh_range"),
        ("ev_daily_active", "ev_daily_active_approx"),
        ("ev_funnel", "ev_funnel_windowed"),
        ("ev_session_durations", "ev_sessionize"),
    ]
}


def _tokens(sql: str) -> Counter:
    return Counter(re.findall(r"[a-z0-9_]+", sql.lower()))


def _bag_jaccard(a: Counter, b: Counter) -> float:
    keys = set(a) | set(b)
    mx = sum(max(a[k], b[k]) for k in keys)
    if not mx:
        return 0.0
    return sum(min(a[k], b[k]) for k in keys) / mx


def find_twins(oracles: dict[str, str],
               threshold: float = THRESHOLD,
               allow: set[frozenset] = ALLOW) -> list[tuple[float, str, str]]:
    """Pairs at/above ``threshold`` not adjudicated in ``allow``,
    most-similar first."""
    toks = {k: _tokens(v) for k, v in oracles.items()}
    out = []
    for a, b in itertools.combinations(sorted(oracles), 2):
        if frozenset((a, b)) in allow:
            continue
        sim = _bag_jaccard(toks[a], toks[b])
        if sim >= threshold:
            out.append((round(sim, 3), a, b))
    return sorted(out, reverse=True)


def _self_test(oracles: dict[str, str]) -> int:
    """Seeded red fixture: a cosmetically-edited copy of an existing
    oracle (the benford incident's shape) MUST be flagged."""
    donor = "dq_benford_orders"
    seeded = dict(oracles)
    seeded["orders_benford_twin"] = (
        oracles[donor]
        .replace("n_obs", "observed_n")      # a renamed output column
        .replace("  ", " ")                  # reflowed whitespace
        + "\n-- same statistic, new name"
    )
    twins = find_twins(seeded)
    hit = [t for t in twins
           if {t[1], t[2]} == {donor, "orders_benford_twin"}]
    if not hit:
        print("registry-dedup SELF-TEST FAILED: the seeded twin of "
              f"{donor} escaped the gate (threshold {THRESHOLD})")
        return 1
    print(f"registry-dedup self-test ok: seeded twin flagged at "
          f"{hit[0][0]:.3f}")
    return 0


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    if "--self-test" in sys.argv[1:]:
        rc = _self_test(oracles)
        if rc:
            return rc
    twins = find_twins(oracles)
    if twins:
        print(f"registry-dedup: {len(twins)} unadjudicated near-twin "
              f"pair(s) at threshold {THRESHOLD}:")
        for sim, a, b in twins:
            print(f"  {sim:.3f}  {a}  ~  {b}")
        print("remove the duplicate entry, or adjudicate the pair into "
              "tools/dedup_registry.py ALLOW with a reason")
        return 1
    print(f"registry-dedup clean over {len(oracles)} entries "
          f"({len(ALLOW)} adjudicated pairs)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
