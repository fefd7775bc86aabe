"""Engine-robustness lint for every ``queries()``/``oracle_sql()`` pair.

The r3/r4 driver rounds proved that "bit-exact vs local DuckDB" is NOT
the same thing as "bit-exact vs the driver's DuckDB": formulations that
lean on engine-library statistics or on digit-materialization of huge
doubles ship green locally and go red at the driver when the engine
version differs. The driver samples 50 of the 183 entries, so the other
133 carry un-exercised instances of whatever this lint would catch —
it therefore runs over ALL entries and is wired into the test suite
(tests/test_lint.py).

Rules (each with the incident that motivated it):

A. BANNED ORACLE FUNCTIONS — ``ntile`` / ``percent_rank`` /
   ``cume_dist`` / ``nth_value`` and the statistic aggregates
   (``corr``, ``stddev*``, ``var_samp/var_pop``, ``covar*``,
   ``skewness``, ``kurtosis``, ``regr_*``) may not appear in an oracle
   at all. w_customer_value_bands was driver-red in r3 AND r4 while
   bit-green against local DuckDB at three SFs; the only constructs it
   used beyond integer-exact window functions were ntile (a GROUP key)
   and nth_value. DuckDB's rank-statistic behavior has changed across
   releases; row_number()/rank()/count(*) are the only window
   functions every engine agrees on bit-for-bit. Derive bands and
   ranks from those via pure integer arithmetic (Spark ``DIV`` ↔
   DuckDB ``//``) on BOTH sides — see w_customer_value_bands /
   w_order_stats (operators/relational.py) for the house pattern, and
   stat_sales_corr for corr/slope from exact decimal sums.

B. NO WIDE-DECIMAL MATERIALIZATION OF DOUBLES — no ``CAST(expr AS
   DECIMAL(p>18, ...))`` where ``expr`` involves double arithmetic
   (ROUND / a DOUBLE cast / division / float literals).
   orders_value_anova REGRESSED green→red in r4 when ``ROUND(x, 0)``
   of a ~1e19 double was cast to DECIMAL(38,0): converting a >2^53
   double to decimal digits is engine-dependent (Spark
   BigDecimal.valueOf shortest-repr vs DuckDB exact-binary). Scale the
   double below 2^53 FIRST (``ROUND(x / 1e6)`` → BIGINT) or keep the
   algebra exact. Widening an exact integer/decimal (e.g. ``CAST(s AS
   DECIMAL(19,0))`` of a BIGINT so products don't overflow, cf.
   emb_label_centroids) is the one legitimate wide-decimal use and is
   not flagged.

B2. NO DECIMAL MATERIALIZATION OF DOUBLE-SOURCED VALUES AT *ANY*
   PRECISION — the r5-verdict hole that kept w_customer_value_bands
   red for three rounds while rule B looked only at p>18: its exposed
   ``CAST(MIN/MAX(c_acctbal) AS DECIMAL(12,2))`` materializes the
   decimal digits of an aggregated DOUBLE, and even below 2^53 that
   conversion differs across engine versions (Spark shortest-repr
   BigDecimal + HALF_UP vs DuckDB exact-binary conversion whose
   rounding mode changed across releases). Flag every ``CAST(expr AS
   DECIMAL(p,s))`` — any precision — whose body still touches a raw
   DOUBLE after the sanctioned normalizations are masked out:
     - a raw DOUBLE-typed source column (c_acctbal, o_totalprice,
       l_extendedprice, events.value, …) that is NOT bare-column
       decimal-normalized (``CAST(col AS DECIMAL(p,s))`` — the
       scan-time idiom proven driver-green by
       orders_median_by_priority, masked before matching);
     - an ``AS DOUBLE`` cast inside the body (a double value flowing
       into decimal digits);
     - a scientific-notation literal (``1e6`` is DOUBLE in both
       engines).
   Exact-DECIMAL-sourced casts (sums of normalized decimals, integer
   grids widened to DECIMAL) pass the mask automatically; anything
   else must be rewritten onto a BIGINT grid or audited into
   ``B2_ALLOWLIST`` with the reason recorded there.

E. NO ENGINE STRINGIFICATION OF DOUBLES OR TIMESTAMPS — no
   ``CAST(expr AS VARCHAR/STRING)`` where ``expr`` is double-sourced
   (same mask as rule B2) or a raw TIMESTAMP column. Double→string
   rendering is shortest-repr vs printf-style across engines, and
   timestamp→string differs in fractional-second padding — both are
   the hash-mismatch class with rows+schema green. Integer/boolean
   stringification (every current use: id grids, `SUM(viol) = 0`
   flags) renders identically and passes. Render timestamps with an
   explicit ``date_format``/``strftime`` pattern instead.

C. NO FRACTIONAL ROUND — ``ROUND(x, k>=1)`` exposed from an oracle is
   the r3 incident class: the 10^-k scaling path rounds a last-ulp
   boundary differently across engine versions. Integer ROUND
   (``ROUND(x)`` / ``ROUND(x, 0)``) of a sub-2^53 double is the safe
   class (both engines round half-away-from-zero); ppm/millions
   BIGINT grids are the house style.

F. OVERFLOW HEADROOM — the r9 incident class: a lint-clean BIGINT
   formula that is green at every preflight SF and dies with
   ARITHMETIC_OVERFLOW at the driver's bench SF (orders_gini_by_nation:
   ``(2·Σi·x − (n+1)·Σx) × 1e6`` ≈ 2.1e19 > 2⁶³−1 at sf0.1; Spark 4
   ANSI throws, DuckDB's HUGEINT SUM promotion silently tolerates it —
   so sf0.001 parity structurally CANNOT see it). Every multiplication
   that can leave the BIGINT range at 100 TB magnitudes (10¹⁰
   rows/day, cents grids to ~2e18) must be WIDE — lexically inside or
   beside a ``CAST(... AS HUGEINT)`` / ``CAST(... AS DECIMAL(38,...))``
   (the DuckDB/Spark exact-to-1e38 pair) or composed of values an
   audit bounds away from 2⁶². Flagged shapes, after masking wide
   casts and resolving wide-cast aliases:
     (1) an integer literal ≥ 10⁴ (ppm/ppb grids) multiplied by a
         non-wide term;
     (2) aggregate × aggregate products (``SUM(x) * SUM(x)``,
         ``COUNT(*) * SUM(...)`` — each factor alone can be ~1e16);
     (3) a bare alias squared (``c * c``, ``total * total``) outside
         a wide context;
     (4) a product of two non-literal terms INSIDE an aggregate
         (``SUM(i * x)`` — the per-row product feeds a 2⁶³
         accumulator on the Spark side even when DuckDB promotes).
   A finding is either recomposed onto the DECIMAL(38,0)/HUGEINT grid
   (house pattern: orders_gini_by_nation, ev_fano_factor) or recorded
   in ``F_ALLOWLIST`` with the audited magnitude bound that keeps its
   worst case below 2⁶² — the allowlist entry IS the audit.

D. EXPOSED DOUBLES ARE AUDITED — an output column of type DOUBLE is
   only allowed if (entry, column) is in ``DOUBLE_ALLOWLIST`` below.
   Every listed column was audited to be deterministic by
   construction, i.e. one of:
     (1) a raw input column passed through unchanged;
     (2) a single row-local CAST(exact DECIMAL/BIGINT AS DOUBLE) as
         the final operation (identical correctly-rounded conversion
         on both engines);
     (3) row-local IEEE arithmetic whose operands are exact
         (integer counts / decimal sums cast to double) — identical
         expression tree => identical bits on both engines.
   What is NEVER safe (and why a new double must be audited here):
   cross-row SUM/AVG over doubles (accumulation order differs by
   engine AND by partitioning) and engine statistic libraries (rule
   A). Adding an entry to the allowlist is a statement that you
   checked the column against (1)-(3).

Run: ``python tools/lint_formulations.py`` (exit 1 on any finding).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BANNED_FNS = re.compile(
    r"\b(ntile|percent_rank|cume_dist|nth_value|corr|stddev|stddev_samp|"
    r"stddev_pop|var_samp|var_pop|variance|covar_samp|covar_pop|skewness|"
    r"kurtosis|regr_[a-z]+)\s*\(",
    re.IGNORECASE,
)

# Inner-expression markers that mean "this value went through double
# arithmetic" — digit-materializing such a value into a wide DECIMAL
# is the rule-B incident class.
_DOUBLEISH = re.compile(r"\bROUND\b|\bDOUBLE\b|/|\d\.\d|\de\d", re.IGNORECASE)


def _decimal_casts(sql: str):
    """Yield (precision, inner_expr) for EVERY CAST(expr AS DECIMAL(p,...)),
    by balancing parens from each CAST( site. Only THIS cast's own
    target type counts: the ``AS DECIMAL`` must sit at paren depth 0
    within the body, not inside a nested CAST."""
    for m in re.finditer(r"\bCAST\s*\(", sql, re.IGNORECASE):
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        body = sql[m.end():i - 1]
        for tail in re.finditer(r"\bAS\s+DECIMAL\s*\(\s*(\d+)\s*[,)]",
                                body, re.IGNORECASE):
            prefix = body[:tail.start()]
            if prefix.count("(") == prefix.count(")"):
                yield int(tail.group(1)), prefix
                break


# Rule B2 machinery: the raw DOUBLE-typed source columns across the ten
# testdata tables (embeddings' FLOAT[] never meets a DECIMAL cast).
DOUBLE_SOURCE_COLS = (
    "c_acctbal", "s_acctbal", "p_retailprice", "o_totalprice",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "value",
)
_RAW_DOUBLE_COL = re.compile(
    r"\b(" + "|".join(DOUBLE_SOURCE_COLS) + r")\b", re.IGNORECASE
)
# The sanctioned scan-time normalization — a BARE double column cast
# straight to DECIMAL, no arithmetic and no aggregate inside the cast
# (orders_median_by_priority's driver-green idiom). Masked out before
# rule B2 looks for raw doubles.
_DECNORM = re.compile(
    r"CAST\s*\(\s*(?:[A-Za-z_][A-Za-z0-9_]*\s*\.\s*)?(?:"
    + "|".join(DOUBLE_SOURCE_COLS)
    + r")\s+AS\s+DECIMAL\s*\(\s*\d+\s*,\s*\d+\s*\)\s*\)",
    re.IGNORECASE,
)
# Double markers surviving the mask: an AS DOUBLE cast in the body, or
# a scientific-notation literal (DOUBLE-typed in Spark AND DuckDB).
_B2_DOUBLE_MARKER = re.compile(
    r"\bAS\s+DOUBLE\b|\b\d+(?:\.\d+)?[eE][-+]?\d+\b"
)

# (key) entries whose flagged DECIMAL cast was hand-audited safe.
# Adding a key here is a statement that every rule-B2 hit in its oracle
# was traced to an exact-DECIMAL/BIGINT source (alias shadowing a
# normalized column, never a raw double). Keep the reason inline.
B2_ALLOWLIST: dict[str, str] = {}

# Rule E: CAST(... AS VARCHAR/STRING) extraction mirrors _decimal_casts
_STRING_CAST_TAIL = re.compile(r"\bAS\s+(?:VARCHAR|STRING)\s*\)",
                               re.IGNORECASE)
_RAW_TS_COL = re.compile(r"\bts\b", re.IGNORECASE)


def _string_casts(sql: str):
    """Yield the inner expr of every CAST(expr AS VARCHAR/STRING), with
    the AS at paren depth 0 of the cast body."""
    for m in re.finditer(r"\bCAST\s*\(", sql, re.IGNORECASE):
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        body = sql[m.end():i - 1]
        for tail in re.finditer(r"\bAS\s+(?:VARCHAR|STRING)\b",
                                body, re.IGNORECASE):
            prefix = body[:tail.start()]
            if prefix.count("(") == prefix.count(")"):
                yield prefix
                break

# -- Rule F machinery ------------------------------------------------------
# Wide targets: DuckDB HUGEINT (int128) and DECIMAL(30..38, s) — the
# pair of types both engines evaluate exactly to >=1e30. A product with
# a wide factor is computed wide in BOTH engines (Spark decimal
# arithmetic, DuckDB HUGEINT promotion), so it cannot hit the 2^63 wall.
_WIDE_TARGET = re.compile(
    r"\bAS\s+(?:HUGEINT|DECIMAL\s*\(\s*3[0-8]\s*[,)])", re.IGNORECASE)
_BIG_LITERAL = re.compile(r"\b\d{4,}\b")
_AGG_FN = r"(?:SUM|COUNT|MIN|MAX|AVG)"
_AGG_X_AGG = re.compile(
    rf"\b{_AGG_FN}\s*\((?:[^()]|\([^()]*\))*\)\s*\*\s*{_AGG_FN}\s*\(",
    re.IGNORECASE,
)
_SELF_PRODUCT = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\*\s*\1\b")
_AGG_INNER_PRODUCT = re.compile(
    r"\b(?:SUM|AVG)\s*\(\s*((?:[^()]|\([^()]*\))*)\)", re.IGNORECASE)
_STOP_KEYWORDS = {
    "DIV", "AS", "FROM", "WHERE", "GROUP", "ORDER", "AND", "OR",
    "THEN", "WHEN", "ELSE", "END", "BETWEEN", "OVER", "IN", "IS",
}


def _mask_wide_casts(sql: str) -> str:
    """Replace every CAST(... AS HUGEINT/DECIMAL(30..38,...)) region —
    body included — with __WIDE__, then mark every alias DEFINED from a
    wide expression (``... __WIDE__ ... AS name``) so later references
    to it count as wide too. Lexical and conservative: a wide value
    re-narrowed via CAST(... AS BIGINT) before a product is a known
    blind spot (not house style — the grid divides ONCE at the end)."""
    out, changed = sql, True
    while changed:
        changed = False
        for m in re.finditer(r"\bCAST\s*\(", out, re.IGNORECASE):
            depth, i = 1, m.end()
            while i < len(out) and depth:
                if out[i] == "(":
                    depth += 1
                elif out[i] == ")":
                    depth -= 1
                i += 1
            body = out[m.end():i - 1]
            for tail in _WIDE_TARGET.finditer(body):
                prefix = body[:tail.start()]
                if prefix.count("(") == prefix.count(")"):
                    out = out[:m.start()] + " __WIDE__ " + out[i:]
                    changed = True
                    break
            if changed:
                break
    # SUM over a DECIMAL-typed argument accumulates wide in BOTH
    # engines with no lexical cast (DuckDB promotes to DECIMAL(38,s),
    # Spark to DECIMAL(p+10,s)) — mask those regions wide too.
    changed = True
    while changed:
        changed = False
        for m in re.finditer(r"\bSUM\s*\(", out, re.IGNORECASE):
            depth, i = 1, m.end()
            while i < len(out) and depth:
                if out[i] == "(":
                    depth += 1
                elif out[i] == ")":
                    depth -= 1
                i += 1
            body = out[m.end():i - 1]
            if re.search(r"\bDECIMAL\b|__WIDE__", body, re.IGNORECASE):
                out = out[:m.start()] + " __WIDE__ " + out[i:]
                changed = True
                break
    # a CAST back to a 64-bit-or-smaller integer KILLS wideness — the
    # value re-enters BIGINT range and downstream products are narrow.
    out = re.sub(
        r"\bCAST\s*\(\s*__WIDE__\s*AS\s+(?:BIGINT|INT|INTEGER|SMALLINT|"
        r"TINYINT)\s*\)",
        " __NARROW__ ", out, flags=re.IGNORECASE)
    # a wide value cast to DOUBLE is IEEE-typed from there on — its
    # products saturate rather than overflowing (rules B2/D govern
    # them). Collapse before alias propagation so `AS DOUBLE` cannot
    # be mistaken for an alias name.
    out = re.sub(
        r"\bCAST\s*\(\s*__WIDE__\s+AS\s+DOUBLE\s*\)",
        " __CASTDOUBLE__ ", out, flags=re.IGNORECASE)
    _TYPEWORDS = {"DOUBLE", "BIGINT", "HUGEINT", "DECIMAL", "INT",
                  "INTEGER", "VARCHAR", "TIMESTAMP", "DATE", "BOOLEAN"}
    # propagate wideness through aliases: `__WIDE__ ... AS name` at the
    # top level of a select item makes every later `name` wide.
    # Iterate to a fixpoint so wideness flows through alias CHAINS
    # (diff -> MAX(diff) AS max_diff -> 1e6 * max_diff).
    changed = True
    while changed:
        changed = False
        for stmt_m in re.finditer(
            r"__WIDE__[^,]*?\bAS\s+([A-Za-z_][A-Za-z0-9_]*)", out
        ):
            a = stmt_m.group(1)
            if a.upper() not in _TYPEWORDS:
                new = re.sub(rf"\b{a}\b", "__WIDE__", out)
                if new != out:
                    out, changed = new, True
                    break
    # an alias defined by a DECIMAL(p,s) cast of ANY precision is
    # decimal-typed: both engines compute its products in widened
    # decimal (Spark p1+p2+1 capped at 38, DuckDB likewise), so there
    # is no 2⁶³ wall — the 1e38 decimal wall needs ~1e19-per-factor
    # magnitudes no real grid reaches. Mark references wide.
    dec_aliases = set()
    for stmt_m in re.finditer(
        r"\bAS\s+DECIMAL\s*\(\s*\d+\s*,\s*\d+\s*\)\s*\)\s*"
        r"AS\s+([A-Za-z_][A-Za-z0-9_]*)",
        out, re.IGNORECASE,
    ):
        if stmt_m.group(1).upper() not in {"DOUBLE", "BIGINT"}:
            dec_aliases.add(stmt_m.group(1))
    for a in dec_aliases:
        out = re.sub(rf"\b{a}\b", "__WIDE__", out)
    # propagate double-ness the same way: `__CASTDOUBLE__ ... AS name`
    # (or a plain `CAST(col AS DOUBLE) AS name` item) marks the alias.
    dbl_aliases = set()
    for stmt_m in re.finditer(
        r"(?:__CASTDOUBLE__|\bAS\s+DOUBLE\s*\))[^,]*?"
        r"\bAS\s+([A-Za-z_][A-Za-z0-9_]*)",
        out, re.IGNORECASE,
    ):
        if stmt_m.group(1).upper() not in _TYPEWORDS:
            dbl_aliases.add(stmt_m.group(1))
    for a in dbl_aliases:
        out = re.sub(rf"\b{a}\b", "__CASTDOUBLE__", out)
    return out


def _operand(s: str, i: int, step: int) -> str:
    """The multiplicand starting at s[i] scanning by step (+1 right,
    -1 left), stopping at an operator / keyword / unbalanced paren."""
    chars: list[str] = []
    depth = 0
    n = len(s)
    while 0 <= i < n:
        ch = s[i]
        open_, close = ("(", ")") if step > 0 else (")", "(")
        if ch == open_:
            depth += 1
        elif ch == close:
            if depth == 0:
                break
            depth -= 1
        elif depth == 0 and ch in "+-*/,%":
            break
        chars.append(ch)
        if depth == 0 and ch.isspace():
            # peek the next word — SQL keywords end the operand
            j = i + step
            while 0 <= j < n and s[j].isspace():
                j += step
            word: list[str] = []
            while 0 <= j < n and (s[j].isalnum() or s[j] == "_"):
                word.append(s[j])
                j += step
            w = "".join(word if step > 0 else reversed(word)).upper()
            if w in _STOP_KEYWORDS:
                break
        i += step
    return "".join(chars if step > 0 else reversed(chars)).strip()


def _wideish(expr: str) -> bool:
    return "__WIDE__" in expr


def _mul_chain(s: str, star: int) -> str:
    """The full multiplicative chain around the ``*`` at ``star``:
    expand left/right across consecutive ``operand * operand`` tokens
    at the same paren depth. Multiplication is left-associative, so
    ONE wide factor anywhere earlier in the chain makes every later
    product wide — checking only the two adjacent operands would flag
    ``CAST(a AS HUGEINT) * b * 1000000`` spuriously."""
    def _operand_extent(i: int, step: int) -> int:
        """Index just past the operand scanning from s[i] by step
        (exclusive bound on the far side), honoring balanced parens
        and the keyword stops — mirrors _operand but returns the
        consumed extent instead of stripped text."""
        depth = 0
        n = len(s)
        while 0 <= i < n:
            ch = s[i]
            open_, close = ("(", ")") if step > 0 else (")", "(")
            if ch == open_:
                depth += 1
            elif ch == close:
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0 and ch in "+-*/,%":
                break
            if depth == 0 and ch.isspace():
                j = i + step
                while 0 <= j < n and s[j].isspace():
                    j += step
                word = []
                while 0 <= j < n and (s[j].isalnum() or s[j] == "_"):
                    word.append(s[j])
                    j += step
                w = "".join(word if step > 0 else reversed(word)).upper()
                if w in _STOP_KEYWORDS:
                    break
            i += step
        return i

    lo, hi = star, star + 1
    while True:
        i = lo - 1
        while i >= 0 and s[i].isspace():
            i -= 1
        end = _operand_extent(i, -1)
        j = end
        while j >= 0 and s[j].isspace():
            j -= 1
        if j >= 0 and s[j] == "*":
            lo = j
            continue
        lo = end + 1
        break
    while True:
        i = hi
        while i < len(s) and s[i].isspace():
            i += 1
        end = _operand_extent(i, +1)
        j = end
        while j < len(s) and s[j].isspace():
            j += 1
        if j < len(s) and s[j] == "*":
            hi = j + 1
            continue
        hi = end
        break
    return s[max(lo, 0):hi]


def _is_literal(expr: str) -> bool:
    return bool(re.fullmatch(r"[\d.]+", expr.strip()))


# A DOUBLE-typed factor saturates rather than overflowing — the product
# is IEEE math, governed by rules B2/D, not by BIGINT headroom. Lexical
# evidence that an operand is double-typed: an AS DOUBLE cast, a float
# literal, or a raw double-source column as the bare operand.
_DOUBLE_OPERAND = re.compile(
    r"\bAS\s+DOUBLE\b|::\s*DOUBLE\b|__CASTDOUBLE__|\d\.\d|\b(?:"
    + "|".join(DOUBLE_SOURCE_COLS) + r")\b",
    re.IGNORECASE,
)


def _doubleish_operand(expr: str) -> bool:
    return bool(_DOUBLE_OPERAND.search(expr))


# key -> audited magnitude bound keeping every flagged product < 2^62.
# Adding an entry is a statement that you traced each flagged factor to
# the recorded bound (shares <= 1e6 on the ppm grid, counts bounded by
# a small domain, etc.). Populated by the rule-F audit sweep (r10);
# everything data-proportional was instead WIDENED onto the
# DECIMAL(38,0)/HUGEINT grid in the same sweep.
_EMB_GRID_BOUND = (
    "1e6-grid embedding components: |comp| <= ~1 (unit-normalized, "
    "dim 64) so |x| <= ~2e6; per-pair dot/square dim-sums <= 64*4e12 "
    "~ 2.6e14 < 2^62 — per-vector quantities, independent of corpus "
    "size; recall counts <= k*|Q| with the fixed 10-query probe set"
)
F_ALLOWLIST: dict[str, str] = {
    # -- embeddings: every product is on the per-vector 1e6 grid
    "emb_ann_recall": _EMB_GRID_BOUND,
    "emb_bq_rerank": _EMB_GRID_BOUND,
    "emb_centroid_confusion": _EMB_GRID_BOUND,
    "emb_cosine_topk": _EMB_GRID_BOUND,
    "emb_dim_stats": _EMB_GRID_BOUND,
    "emb_filtered_topk": _EMB_GRID_BOUND,
    "emb_hard_negatives": _EMB_GRID_BOUND,
    "emb_incr_ann": _EMB_GRID_BOUND,
    "emb_incr_ivf": _EMB_GRID_BOUND,  # same oracle construction as
    #    emb_kmeans_ivf (shared generator, split params only)
    "emb_incr_semdedup": _EMB_GRID_BOUND,  # same shared k-means CTE
    #    prefix; the dedup tail's products are per-pair dim-sums on
    #    the same 1e6 grid
    "emb_ivf_ann": _EMB_GRID_BOUND,
    "emb_kmeans_ivf": _EMB_GRID_BOUND,
    "emb_knn_margin": _EMB_GRID_BOUND,
    "emb_lsh_ann": _EMB_GRID_BOUND,
    "emb_lsh_range": _EMB_GRID_BOUND,
    "emb_matryoshka_overlap": _EMB_GRID_BOUND,
    "emb_mmr_diversify": _EMB_GRID_BOUND,
    "emb_mrr_eval": _EMB_GRID_BOUND,
    "emb_neardup_pairs": _EMB_GRID_BOUND,
    "emb_nprobe_sweep": _EMB_GRID_BOUND,
    "emb_outliers": _EMB_GRID_BOUND,
    "emb_pq_trained": _EMB_GRID_BOUND,
    "emb_range_search": _EMB_GRID_BOUND,
    "emb_semdedup": _EMB_GRID_BOUND,
    "emb_threshold_sweep": _EMB_GRID_BOUND,
    "emb_whiten": _EMB_GRID_BOUND,
    "emb_ivf_build_stats": _EMB_GRID_BOUND,
    "emb_silhouette": _EMB_GRID_BOUND,
    "hybrid_search_rrf": _EMB_GRID_BOUND,
    # -- documents: per-DOC quantities, bounded by doc length not
    #    corpus size
    "doc_blocklist_filter": "n_bad*12 <= 12*doc words (doc-local)",
    "doc_containment_pairs": (
        "inter <= per-doc shingle count (doc-local, <= ~1e8); "
        "x1e6 <= ~1e14 < 2^62"
    ),
    "doc_dedup_best_quality": (
        "FLOOR(quality_score*1e6): score is a double in [0,1] -> "
        "product <= 1e6"
    ),
    "doc_importance_sample": (
        "FLOOR(quality_score*1e6): score is a double in [0,1] -> "
        "product <= 1e6"
    ),
    "doc_substr_dup": (
        "window counts grouped per doc_id (doc-local <= ~1e8); "
        "x1e6 <= ~1e14 < 2^62"
    ),
    "doc_ttr_hapax": (
        "distinct-word vocabulary per source: Heaps-bounded <= ~1e10 "
        "-> x1e6 <= 1e16 < 2^62"
    ),
    "doc_zipf_slope": (
        "rank set fixed at rk <= 100; x,y = ln*1e6 <= 3.5e7 -> "
        "COUNT*SUM(x*y) <= 100*100*1.2e15 bounded < 2^62"
    ),
    "doc_weighted_sample": (
        "quality_score in [0,1] by construction -> w_ppm <= 1e6; the "
        "A-ES key is a row-local double (|ln(u)|/w <= ~1.4e7 at "
        "w_ppm=1) rounded onto e6 <= 1.4e13 < 2^62; no cross-row "
        "integer products"
    ),
    "stat_orders_mannkendall": (
        "t and n_months are CALENDAR-bounded (months, ~100 at any "
        "corpus size): t(t-1)(2t+5) <= 100*99*205 ~ 2e6; |S| <= "
        "n_months^2/2 <= 5e3 -> 1e6*S <= 5e9 < 2^62; the Z "
        "denominator is a row-local double sqrt over those ints"
    ),
    "stat_nation_kendall": (
        "SIGN(..)*SIGN(..) is in {-1,0,1} by construction; the pair "
        "table is |nations|^2 <= 625 (nation is a DIMENSION, fixed "
        "25 keys at every SF), so 1e6*(C-D) <= 1e6*625 < 2^62; the "
        "tau denominator is a row-local double sqrt over those ints"
    ),
    "doc_word_entropy": (
        "ln(c) <= ln(doc-local token count) <= ~21 (c <= ~1e9 tokens "
        "per doc) -> c*ROUND(ln(c)*1e9) <= 1e9*21*1e9... bounded "
        "per-GROUP: c <= ~1e6 realistic doc tokens -> <= 1.4e16 < "
        "2^62; SUM per doc <= n*ln(n)*1e9 <= 2e16; h_e6 <= ln(n)*1e6 "
        "<= 2.1e7, per-source SUM(h_e6) <= n_docs*2.1e7 < 2^62 up to "
        "~4e11 docs per source"
    ),
    "stat_orders_hill_tail": (
        "li = ln(cents)*1e6 <= ln(2^63)*1e6 ~ 4.4e7 < 2^62; "
        "k_used*lk <= 100*4.4e7 = 4.4e9; SUM(li) over k<=100 rows "
        "<= 4.4e9; the (k-1)*1e12 numerator is DECIMAL(38,0)/HUGEINT"
    ),
    "doc_length_lognormal_fit": (
        "x = ln(length)*1e6: ln of any representable string length "
        "<= ln(2^63) ~ 43.7 -> x <= 4.4e7 < 2^62; every cross-row "
        "sum/product (sx, sxx, n*sxx, sx*sx) is DECIMAL(38,0)/HUGEINT"
    ),
    # -- events/orders: grid-bounded factors
    "ev_watermark_sweep": (
        "delay_s is the fixed 60..86400 s grid -> delay_s*1e6 <= "
        "8.64e10 (the drop count product is widened to HUGEINT)"
    ),
    "orders_priority_share_trend": (
        "x = month index <= ~1e4, y = share ppm <= 1e6: "
        "COUNT*SUM(x*y) <= 1e4*1e14 = 1e18 < 2^62"
    ),
    "orders_theilsen_trend": (
        "pair_key = m*1e5 + m: m is a month index <= ~1e5 -> "
        "<= 1e10 (the slope numerator is widened to DECIMAL(38,0))"
    ),
    "orders_seasonal_index": (
        "remaining hit 1e6*rev_share_ppm: share <= 1e6 by "
        "construction -> <= 1e12 (cents/n_orders products widened)"
    ),
    # -- layout histograms: bit-interleave grids
    "hilbert_layout_hist": (
        "literal x 3-bit interleave value <= 3*16384 — constant grid"
    ),
    "zorder_layout_hist": (
        "literal x 1-bit value <= 32768 — constant grid"
    ),
    # -- window ranks bounded by group size
    "w_customer_value_bands": (
        "rn <= customers per nation (~6e8 at sf1e5) -> rn*1e6 <= "
        "6e14 < 2^62"
    ),
    "w_order_stats": (
        "seq <= orders per customer (~40, schema-fixed) -> "
        "seq*1e6 <= 4e7"
    ),
    "doc_charclass_profile": (
        "digits*5 is PER-DOC (digits <= chars <= doc length ~1e7) -> "
        "<= 5e7; the corpus-level ppm sums are already on the "
        "DECIMAL(38,0)/HUGEINT grid"
    ),
}


def lint_overflow(oracles: dict[str, str]) -> list[str]:
    """Rule F over every oracle SQL string (the oracle mirrors the
    Spark formulation term-for-term, so its products are the Spark
    products — and the oracle side is where HUGEINT promotion hides
    exactly this class from sf-small parity)."""
    findings = []
    for key, sql in sorted(oracles.items()):
        if key in F_ALLOWLIST:
            continue
        masked = _mask_wide_casts(sql)
        hits: list[str] = []
        # (1) big ppm/ppb literal times a non-wide term
        for m in re.finditer(r"\*", masked):
            left = _operand(masked, m.start() - 1, -1)
            right = _operand(masked, m.end(), +1)
            for lit_side, other in ((left, right), (right, left)):
                lm = re.fullmatch(r"\d{4,}", lit_side.strip())
                if lm and int(lm.group(0)) >= 10_000:
                    if not (_wideish(other) or _is_literal(other)
                            or _doubleish_operand(other)
                            or _wideish(_mul_chain(masked, m.start()))):
                        hits.append(
                            f"literal {lm.group(0)} × non-wide "
                            f"term {other[:40]!r}"
                        )
        # (2) aggregate × aggregate — the second aggregate's balanced
        # body (not covered by the regex match) may hold the wide cast
        for m in _AGG_X_AGG.finditer(masked):
            depth, i = 1, m.end()
            while i < len(masked) and depth:
                if masked[i] == "(":
                    depth += 1
                elif masked[i] == ")":
                    depth -= 1
                i += 1
            full = masked[m.start():i]
            if not _wideish(full) and not _doubleish_operand(full):
                hits.append(f"agg×agg product {full[:60]!r}")
        # (3) bare alias squared
        for m in _SELF_PRODUCT.finditer(masked):
            if (m.group(1) != "__WIDE__"
                    and not _doubleish_operand(m.group(1))):
                hits.append(f"self-product {m.group(0)!r}")
        # (4) product of two non-literal terms inside SUM/AVG
        for m in _AGG_INNER_PRODUCT.finditer(masked):
            body = m.group(1)
            for p in re.finditer(r"\*", body):
                left = _operand(body, p.start() - 1, -1)
                right = _operand(body, p.end(), +1)
                if (left and right
                        and not _is_literal(left) and not _is_literal(right)
                        and not _wideish(left) and not _wideish(right)
                        and not _doubleish_operand(left)
                        and not _doubleish_operand(right)):
                    hits.append(
                        f"in-aggregate product {left[:25]!r}*{right[:25]!r}"
                    )
        for h in dict.fromkeys(hits):
            findings.append(
                f"{key}: rule F — {h}: BIGINT product can pass 2^63 at "
                f"100 TB magnitudes (the orders_gini_by_nation sf0.1 "
                f"ARITHMETIC_OVERFLOW class); widen to "
                f"HUGEINT/DECIMAL(38,0) or record the audited bound in "
                f"F_ALLOWLIST"
            )
    return findings


# ROUND with an explicit second argument; nested parens up to 2 deep.
FRACTIONAL_ROUND = re.compile(
    r"\bROUND\s*\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*,\s*([1-9]\d*)\s*\)",
    re.IGNORECASE,
)

# (entry, column) pairs audited deterministic-by-construction per rule
# D's classes (1)-(3). Grouped by family; every pair is local-green at
# sf0.001/0.01/0.1 and the relational core is driver-green (r4).
DOUBLE_ALLOWLIST: dict[str, set[str]] = {
    # -- relational core: exact DECIMAL sum -> one final double cast (2)
    "q1_pricing_summary": {"sum_qty", "sum_base_price", "sum_disc_price",
                           "sum_charge", "avg_qty", "avg_price", "avg_disc"},
    "q2_min_cost_supplier": {"unit_cost"},
    "q3_shipping_priority": {"revenue"},
    "q5_local_supplier_volume": {"revenue"},
    "q6_revenue_forecast": {"revenue"},
    "q7_volume_shipping": {"revenue"},
    "q8_market_share": {"mkt_share"},
    "q9_product_profit": {"sum_profit"},
    "q10_returned_items": {"c_acctbal", "revenue"},
    "q11_important_stock": {"part_value"},
    "q14_promo_revenue": {"promo_revenue"},
    "q15_top_supplier": {"total_revenue"},
    "q17_small_quantity": {"avg_yearly"},
    "q18_large_orders": {"o_totalprice", "sum_qty"},
    "q19_banded_revenue": {"revenue"},
    "q22_idle_customers": {"totacctbal"},
    "rollup_sales": {"total_sales"},
    "cube_sales": {"total_sales"},
    "grouping_sets_orders": {"total_price"},
    "sql_revenue_by_region": {"revenue"},
    "sql_top_customer_per_nation": {"total_spend"},
    "yoy_nation_growth": {"revenue", "prev_revenue", "yoy_growth"},
    "nation_trade_balance": {"export_rev", "import_rev", "balance"},
    "part_type_hhi": {"total_cost"},
    "supplier_scorecard": {"revenue", "on_time_rate", "avg_ship_days"},
    "customer_ltv_cohorts": {"cum_revenue"},
    "w_running_totals": {"running_total", "prev_price"},
    "w_topk_orders_per_cust": {"o_totalprice"},
    "stats_equidepth_hist": {"lo", "hi"},
    "agg_incremental_rollup": {"total_sales"},
    "snapshot_merge_cow": {"total_sales"},
    # same audited construction as snapshot_merge_cow: DOUBLE cast
    # of an exact DECIMAL(18,4) sum (safe construction #2)
    "snapshot_dv_read": {"total_sales"},
    "snapshot_partition_retention": {"total_sales"},
    "snapshot_generated_retention": {"total_sales"},
    # DOUBLE cast of an exact DECIMAL(18,4) sum (safe construction #2)
    "snapshot_replace_where": {"total_sales"},
    # DOUBLE cast of an exact DECIMAL(18,4) sum merged decimal-
    # exact from CDF deltas (safe construction #2)
    "agg_incremental_cdf": {"total_sales"},
    "snapshot_read_version": {"total_sales"},
    "cdc_merge_orders": {"o_totalprice"},
    "snapshot_changes_cdf": {"o_totalprice"},
    "hidden_partition_prune": {"total_value"},
    "profile_columns": {"min_val", "max_val"},
    # -- events: value is a raw input column (1) or exact-decimal cast (2)
    "ev_tumbling_window": {"total_value", "avg_value"},
    "ev_skew_salted_join": {"total_value"},
    "ev_sessionize": {"total_value"},
    "ev_session_window": {"total_value"},
    "ev_topk_users": {"total_value"},
    "ev_dedup_latest": {"value"},
    "ev_asof_view": {"value"},
    "ev_error_window_join": {"window_value"},
    "ev_attribution_revenue": {"revenue"},
    "ev_daily_anomaly": {"day_value"},
    "ev_moving_avg_7d": {"day_value"},
    "ev_daily_gapfill": {"total_value"},
    "ev_hourly_heatmap": {"total_value"},
    "ev_value_histogram": {"bucket_value"},
    "ev_rfm_segments": {"monetary"},
    "ev_user_lifetime": {"events_per_active_day", "total_value"},
    "ev_bounce_rate": {"bounce_rate"},
    "ev_power_users_pareto": {"user_frac"},
    "ev_transition_matrix": {"prob"},
    "ev_ab_test": {"rate_a", "rate_b", "z_stat"},
    "ev_exp_smoothing": {"last_value", "smoothed"},
    "ev_holt_forecast": {"level", "trend", "forecast_next"},
    "ev_holtwinters_forecast": {"level", "trend", "season_next",
                                "forecast_next"},
    # lower median is an actual observation passed through unchanged (1)
    "ev_rolling_median_7d": {"med_lo"},
    # -- documents/text: row-local IEEE over exact integer counts (3)
    "doc_quality": {"dup_ratio", "avg_word_len", "stop_ratio",
                    "quality_score"},
    "doc_gopher_quality": {"mean_word_len", "frac_stop", "top_bigram_frac"},
    "doc_contamination": {"overlap_frac"},
    "doc_split_leakage": {"leak_frac"},
    "doc_ngram_jaccard": {"jaccard"},
    "doc_ngram_novelty": {"novelty"},
    "doc_oov_rate": {"oov_rate"},
    "doc_bpe_pretokens": {"pretokens_per_word"},
    "doc_mixture_report": {"mean_tokens", "doc_share", "token_share"},
    "doc_dedup_report": {"keep_rate"},
    "doc_minhash_pairs": {"est_jaccard"},
    "doc_minhash64_pairs": {"est_jaccard"},
    "doc_minhash_verified": {"est_jaccard", "exact_jaccard"},
    "doc_pagerank": {"rank"},
    # -- embeddings: row-local IEEE over the (identical) float inputs (3)
    "emb_cosine_topk": {"sim"},
    # margin = difference of two sims from exact integer dot/norms
    # (safe construction #2: deterministic doubles from exact inputs)
    "emb_knn_margin": {"margin"},
    "emb_bq_rerank": {"sim"},
    "emb_filtered_topk": {"sim"},
    "emb_incr_ann": {"sim"},
    "emb_incr_ivf": {"sim"},
    "emb_ivf_ann": {"sim"},
    "emb_kmeans_ivf": {"sim"},
    "emb_lsh_ann": {"sim"},
    "emb_lsh_range": {"sim"},
    "emb_neardup_pairs": {"sim"},
    "emb_range_search": {"sim"},
    "emb_ivfpq_adc": {"adc_dist"},
    "emb_pq_adc": {"adc_dist"},
    "emb_pq4_encode": {"distortion"},
    "emb_dim_stats": {"min_x", "max_x", "mean_x"},
    "emb_label_centroids": {"centroid_norm"},
    "emb_outliers": {"z_score"},
    "emb_whiten": {"white_norm"},
    # -- multimodal: row-local decode math over opaque bytes (3)
    "mm_audio_features": {"duration_ms"},
    "mm_frame_sample": {"frame_mean"},
    "mm_image_features": {"mean_pixel"},
}


def lint_oracles(oracles: dict[str, str]) -> list[str]:
    """Static rules A-C over every oracle SQL string."""
    findings = []
    for key, sql in sorted(oracles.items()):
        for m in BANNED_FNS.finditer(sql):
            findings.append(
                f"{key}: rule A — banned engine function "
                f"'{m.group(1)}' in oracle SQL"
            )
        for prec, inner in _decimal_casts(sql):
            if prec > 18 and _DOUBLEISH.search(inner):
                findings.append(
                    f"{key}: rule B — CAST of double-arithmetic expression "
                    f"to DECIMAL({prec},...) in oracle SQL "
                    f"(digit-materialization of a >2^53 double is "
                    f"engine-dependent; scale below 2^53 first)"
                )
            if re.fullmatch(r"\s*[A-Za-z_][A-Za-z0-9_.]*\s*", inner):
                # bare-column normalization — the sanctioned scan-time
                # idiom (orders_median_by_priority, driver-green)
                continue
            masked = _DECNORM.sub("__DECNORM__", inner)
            if key not in B2_ALLOWLIST and (
                _RAW_DOUBLE_COL.search(masked)
                or _B2_DOUBLE_MARKER.search(masked)
            ):
                hit = (_RAW_DOUBLE_COL.search(masked)
                       or _B2_DOUBLE_MARKER.search(masked)).group(0)
                findings.append(
                    f"{key}: rule B2 — CAST(... AS DECIMAL({prec},...)) "
                    f"materializes a double-sourced value ('{hit}' in the "
                    f"cast body after masking bare-column normalizations); "
                    f"decimal digits of a double differ across engine "
                    f"versions — normalize at the scan and use a BIGINT "
                    f"grid (house pattern: orders_median_by_priority)"
                )
        for inner in _string_casts(sql):
            masked = _DECNORM.sub("__DECNORM__", inner)
            if (_RAW_DOUBLE_COL.search(masked)
                    or _B2_DOUBLE_MARKER.search(masked)
                    or _RAW_TS_COL.search(masked)):
                hit = (_RAW_DOUBLE_COL.search(masked)
                       or _B2_DOUBLE_MARKER.search(masked)
                       or _RAW_TS_COL.search(masked)).group(0)
                findings.append(
                    f"{key}: rule E — CAST(... AS VARCHAR/STRING) of a "
                    f"double-sourced or timestamp value ('{hit}'): "
                    f"engine rendering differs (shortest-repr vs printf; "
                    f"fractional-second padding) — use integer grids or "
                    f"an explicit date_format pattern"
                )
        for m in FRACTIONAL_ROUND.finditer(sql):
            findings.append(
                f"{key}: rule C — fractional ROUND(..., {m.group(1)}) "
                f"in oracle SQL (use an integer BIGINT grid instead)"
            )
    return findings


def lint_schemas(spark, queries, sf_dir: str) -> list[str]:
    """Rule D: every exposed DOUBLE column must be in the audited
    allowlist. Builds each DataFrame lazily (no execution)."""
    findings = []
    for key, fn in sorted(queries.items()):
        try:
            df = fn(spark, sf_dir)
        except Exception as exc:  # noqa: BLE001
            findings.append(f"{key}: rule D — cannot build plan: {exc!r}")
            continue
        allowed = DOUBLE_ALLOWLIST.get(key, set())
        for col, dtype in df.dtypes:
            if dtype == "double" and col not in allowed:
                findings.append(
                    f"{key}: rule D — exposed DOUBLE column '{col}' is not "
                    f"in the audited allowlist (audit it against the three "
                    f"safe constructions, then list it)"
                )
        for col in allowed:
            if col not in {c for c, _ in df.dtypes}:
                findings.append(
                    f"{key}: rule D — allowlisted column '{col}' no longer "
                    f"in the output schema (stale allowlist entry)"
                )
    return findings


def main() -> int:
    import __spark_entry__ as entrymod
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    findings = lint_oracles(entrymod.oracle_sql())
    findings += lint_overflow(entrymod.oracle_sql())
    spark = get_spark("lint-formulations")
    findings += lint_schemas(spark, entrymod.queries(), sf_dir)
    for f in findings:
        print("LINT", f)
    n = len(entrymod.queries())
    print(f"{len(findings)} findings over {n} entries"
          if findings else f"lint clean over {n} entries")
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
