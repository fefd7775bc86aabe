"""Engine-robustness lint gate (tools/lint_formulations.py).

The driver's correctness gate samples 50 of the 183 registry entries;
the other 133 carry un-exercised instances of whatever the lint would
catch, so the lint must be green repo-wide, not just on the sample.
See the lint module docstring for the r3/r4 incidents behind each rule.
"""

from __future__ import annotations

from tests.conftest import SF_SMALL
from tools.lint_formulations import (
    DOUBLE_ALLOWLIST,
    F_ALLOWLIST,
    lint_oracles,
    lint_overflow,
    lint_schemas,
)


def _registry():
    import __spark_entry__ as entrymod

    return entrymod.queries(), entrymod.oracle_sql()


def test_oracles_pass_static_rules():
    _, oracles = _registry()
    assert lint_oracles(oracles) == []


def test_schemas_pass_double_audit(spark):
    queries, _ = _registry()
    assert lint_schemas(spark, queries, SF_SMALL) == []


def test_allowlist_has_no_orphan_entries():
    queries, _ = _registry()
    orphans = set(DOUBLE_ALLOWLIST) - set(queries)
    assert orphans == set(), f"allowlist names unknown entries: {orphans}"
    orphans_f = set(F_ALLOWLIST) - set(queries)
    assert orphans_f == set(), f"F allowlist unknown entries: {orphans_f}"


def test_oracles_pass_overflow_headroom():
    """Rule F over the full registry: no BIGINT product chain may pass
    2^63 at 100 TB magnitudes unless its bound is audited into
    F_ALLOWLIST."""
    _, oracles = _registry()
    assert lint_overflow(oracles) == []


def test_rule_f_catches_the_r9_overflow_incidents():
    """The three r9 formulations (gini CRASHED the driver bench at
    sf0.1; Simpson/Fano were latent) must stay flagged forever — if a
    refactor of the masker stops catching them, the overflow class can
    ship lint-clean again."""
    old = {
        "old_gini": """
            SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_cust,
                   CAST(SUM(x) AS BIGINT) AS total_cents,
                   CAST((2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x))
                       * 1000000
                       // (COUNT(*) * SUM(x)) AS BIGINT) AS gini_ppm
            FROM ranked GROUP BY n_name
        """,
        "old_simpson": """
            SELECT day, CAST(1000000 - 1000000 * SUM(c * c)
                       // (SUM(c) * SUM(c)) AS BIGINT) AS simpson_ppm
            FROM counts GROUP BY day
        """,
        "old_fano": """
            SELECT event_type,
                   CAST(1000000 * (COUNT(*) * SUM(x * x)
                       - SUM(x) * SUM(x))
                       // (COUNT(*) * SUM(x)) AS BIGINT) AS fano_ppm
            FROM daily GROUP BY event_type
        """,
    }
    for name, sql in old.items():
        assert lint_overflow({name: sql}), f"{name} no longer flagged"
    # ... and the FIXED formulations pass clean
    fixed = {
        "new_gini": """
            SELECT n_name,
                   CAST((2 * SUM(CAST(i AS HUGEINT) * x)
                       - (CAST(COUNT(*) AS HUGEINT) + 1) * SUM(x))
                       * 1000000
                       // (CAST(COUNT(*) AS HUGEINT) * SUM(x))
                       AS BIGINT) AS gini_ppm
            FROM ranked GROUP BY n_name
        """,
        "new_simpson": """
            SELECT day,
                   CAST(1000000 - 1000000 * SUM(CAST(c AS HUGEINT) * c)
                       // (CAST(SUM(c) AS HUGEINT) * SUM(c))
                       AS BIGINT) AS simpson_ppm
            FROM counts GROUP BY day
        """,
    }
    assert lint_overflow(fixed) == []


def test_static_rules_catch_the_incident_constructs():
    """The three driver incidents, as regression fixtures."""
    findings = lint_oracles({
        # r3/r4: w_customer_value_bands (ntile as group key)
        "vb": "SELECT ntile(4) OVER w AS band FROM t",
        # r4: orders_value_anova (>2^53 double into DECIMAL(38,0))
        "an": "SELECT CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
              " / n, 0) AS DECIMAL(38,0)) FROM t",
        # r3: fractional-ROUND exposure
        "fr": "SELECT ROUND(percent_rank() OVER w, 6) FROM t",
    })
    assert any("vb: rule A" in f for f in findings)
    assert any("an: rule B" in f for f in findings)
    assert any("fr: rule C" in f for f in findings)
    # and the legitimate wide-decimal use is NOT flagged
    assert lint_oracles({
        "ok": "SELECT CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))"
              " FROM t",
    }) == []


def test_rule_b2_catches_decimal_of_double_at_any_precision():
    """The r5 false-negative hole: w_customer_value_bands shipped red
    three rounds running on CAST(MIN/MAX(DOUBLE) AS DECIMAL(12,2)) —
    narrow precision, so rule B's p>18 threshold never fired. Rule B2
    must flag agg-of-raw-double and AS-DOUBLE bodies at ANY precision,
    while leaving the sanctioned constructs alone."""
    findings = lint_oracles({
        # the literal r3-r5 red construct (narrow DECIMAL)
        "red": "SELECT CAST(MIN(c_acctbal) AS DECIMAL(12,2)) AS min_bal"
               " FROM customer",
        # a double value laundered through AS DOUBLE inside the cast
        "dbl": "SELECT CAST(CAST(s AS DOUBLE) / n AS DECIMAL(12,6)) FROM t",
        # scientific-notation literal (DOUBLE in both engines)
        "sci": "SELECT CAST(x * 1e6 AS DECIMAL(18,0)) FROM t",
    })
    assert any("red: rule B2" in f for f in findings)
    assert any("dbl: rule B2" in f for f in findings)
    assert any("sci: rule B2" in f for f in findings)
    # sanctioned constructs pass:
    assert lint_oracles({
        # bare-column scan-time normalization (the house fix itself)
        "n1": "SELECT CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer",
        # same, table-qualified (part_type_hhi / customer_ltv_cohorts)
        "n2": "SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))"
              " AS DECIMAL(18,2)) AS cost FROM lineitem l",
        # exact-decimal aggregation over a pre-normalized CTE column
        "n3": "WITH c AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS p"
              " FROM orders) SELECT CAST(SUM(p) AS DECIMAL(18,2)) FROM c",
        # nested BIGINT-grid cast never materializes decimal digits
        "n4": "SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100"
              " AS BIGINT) AS bal_c FROM customer",
    }) == []


def test_rule_e_catches_double_and_timestamp_stringification():
    """Rule E: engine rendering of doubles (shortest-repr vs printf)
    and timestamps (fractional-second padding) differs — stringifying
    either is the next foreseeable hash-drift class. Integer/boolean
    stringification stays allowed."""
    findings = lint_oracles({
        "d1": "SELECT CAST(o_totalprice AS VARCHAR) AS s FROM orders",
        "d2": "SELECT CAST(SUM(value) / n AS STRING) AS s FROM t",
        "t1": "SELECT CAST(ts AS VARCHAR) AS s FROM events",
    })
    assert any("d1: rule E" in f for f in findings)
    assert any("d2: rule E" in f for f in findings)
    assert any("t1: rule E" in f for f in findings)
    assert lint_oracles({
        # integer and boolean stringification render identically
        "ok1": "SELECT CAST(user_id AS VARCHAR) AS s FROM events",
        "ok2": "SELECT CAST(SUM(viol) = 0 AS VARCHAR) AS s FROM t",
        # decimal-normalized cents grid stringified as an integer
        "ok3": "SELECT CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 "
               "AS BIGINT) AS STRING) AS s FROM customer",
    }) == []


def test_registry_dedup_gate_catches_seeded_twin():
    """The near-twin gate (preflight stage 0): the live registry is
    clean against the adjudicated ALLOW list, and a cosmetically
    edited copy of an existing oracle — the r11 duplicate-entry
    incident's shape — is flagged."""
    import __spark_entry__ as entry
    from tools.dedup_registry import ALLOW, THRESHOLD, find_twins

    oracles = entry.oracle_sql()
    assert find_twins(oracles) == []  # live registry: no unadjudicated twins

    seeded = dict(oracles)
    seeded["stat_orders_mannwhitney_twin"] = (
        oracles["stat_orders_mannwhitney"]
        .replace("u_stat", "mw_u").replace("  ", " "))
    twins = find_twins(seeded)
    assert any({a, b} == {"stat_orders_mannwhitney",
                          "stat_orders_mannwhitney_twin"}
               for _, a, b in twins), twins
    # every ALLOW pair names real entries (the list can't rot)
    for pair in ALLOW:
        for name in pair:
            assert name in oracles, f"stale ALLOW entry: {name}"
    assert 0.5 < THRESHOLD < 1.0


def test_operators_keep_no_hand_rolled_memos():
    """Operators memoize through fixtures.session_memo and make temp
    dirs through fixtures.scratch_dir: no module-level ``_*_CACHE``,
    no ``applicationId`` key, no direct ``tempfile.mkdtemp``."""
    import ast
    import re

    from tests.conftest import REPO

    ops = REPO / "batch_processing_etl_pipeline_for_chess_puzzle_generator_spark" / "operators"
    found = []
    for path in sorted(ops.glob("*.py")):
        tree = ast.parse(path.read_text())
        for node in tree.body:
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target] if isinstance(node, ast.AnnAssign)
                       else [])
            found += [f"{path.name}:{node.lineno} {t.id}" for t in targets
                      if isinstance(t, ast.Name)
                      and re.fullmatch(r"_\w*_CACHE", t.id)]
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "applicationId":
                found.append(f"{path.name}:{node.lineno} applicationId")
            if isinstance(node, ast.Call) and "mkdtemp" in (
                    getattr(node.func, "attr", None), getattr(node.func, "id", None)):
                found.append(f"{path.name}:{node.lineno} mkdtemp")
    assert found == [], found


def _inferring_parquet_reads(source: str) -> list[tuple[str, int]]:
    """(top-level def, line) of each ``<x>.read.parquet(...)`` call:
    parquet loads that leave the schema to Spark's inference job.
    Module-level calls report ``<module>``."""
    import ast

    return [(getattr(top, "name", "<module>"), node.lineno)
            for top in ast.parse(source).body
            for node in ast.walk(top)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "read"]


def test_operators_make_no_inferring_parquet_reads():
    """Operators get tables from catalog.table and versioned reads, and
    the versioned layer reads every file with its manifest's recorded
    schema, so no schema-inference job lands on the query or commit
    path. The one exception is CONVERT: adopting an unmanaged
    directory has no recorded schema to read with."""
    from tests.conftest import REPO

    assert _inferring_parquet_reads(
        "df = spark.read.parquet(p)\n"
        "ok = spark.read.schema(s).parquet(p)\n"
        "def f():\n"
        "    return spark.read.parquet(p)\n") == [("<module>", 1), ("f", 4)]
    pkg = REPO / "batch_processing_etl_pipeline_for_chess_puzzle_generator_spark"
    paths = [*sorted((pkg / "operators").glob("*.py")), pkg / "versioned.py",
             *sorted((pkg / "functions").glob("*.py"))]
    allowed = ("versioned.py", "convert_to_versioned")
    hits = [(path.name, fn, line) for path in paths
            for fn, line in _inferring_parquet_reads(path.read_text())]
    assert [h[:2] for h in hits].count(allowed) == 1, hits
    found = [f"{name}:{fn}:{line}" for name, fn, line in hits
             if (name, fn) != allowed]
    assert found == [], found


#: The defs that keep their own copy of a commit-protocol step:
#: ``versioned._commit``'s publish-or-rebase loop, the staged renames
#: besides ``versioned._stage`` and the manifest walks besides
#: ``versioned._iter_manifests`` / ``versioned._iter_changes``.
COMMIT_PROTOCOL_ALLOWLIST = {
    ("versioned.py", "_commit", "except CommitConflict"),
    ("versioned.py", "_stage", "staged rename"),
    # the DS writer moves only the part files its task commit messages
    # name, leaving failed attempts' parts behind in the staged dir
    ("versioned_ds.py", "VersionedWriter.commit", "staged rename"),
    # vacuum rewrites only the surviving delta records whose parent it
    # is about to drop, reading each one's full chain before any removal
    ("versioned.py", "vacuum", "versions walk"),
    # the stream sink's replay guard scans newest-first and stops at
    # the first streaming commit, usually the head
    ("versioned_ds.py", "VersionedStreamWriter._last_stream_batch",
     "versions walk"),
    # one new-row filler; MOR discovery and the change-feed
    # classification live in the two DML engines (and the key-based
    # snapshot diff)
    ("versioned.py", "_fill_new_rows", "identity allocation"),
    ("versioned.py", "_mor_dml", "matched-row split"),
    ("versioned.py", "_predicate_cow", "feed classification"),
    ("versioned.py", "_mor_dml", "feed classification"),
    ("versioned.py", "table_changes", "feed classification"),
}

#: Calls that return a commit's own new files.
_OWN_OUTPUT = {"_stage", "_list_data_files", "_write_cdf", "_write_dv_sidecar"}


def _commit_protocol_copies(name: str, source: str,
                            allow=COMMIT_PROTOCOL_ALLOWLIST) -> list[tuple]:
    """(file, def, line, what) of each hand-rolled copy of a commit
    protocol helper: a ``_load_manifest(..., avail[-1])`` head lookup
    (``_latest`` resolves the head), a loop over ``_PER_COMMIT_KEYS``
    (``_child`` strips them), an ``except CommitConflict`` (``_commit``
    publishes or rebases), an ``os.rename`` of a staged dir (``_stage``
    stages, checks and renames), and an ``own-output read``: a Spark
    read (``<x>.read...`` or ``_read_files_dv``) of names bound from
    an ``_OWN_OUTPUT`` call in the same def, i.e. a commit scanning
    what it just wrote (CHECK sums ride the write job instead).
    Footer reads for stats are not Spark reads. A ``versions walk`` is
    a loop or comprehension over ``versions(...)`` (or a name bound
    from it in the same def) that calls ``_load_manifest``: each such
    load replays a delta chain, where ``_iter_manifests`` and
    ``_iter_changes`` apply each record to the manifest before it and
    raise on vacuumed versions. The DML steps have one home each: an
    ``identity allocation`` (a ``monotonically_increasing_id()`` call
    in ``versioned.py``) belongs to the new-row filler, a
    ``matched-row split`` (``_split_fully_matched``) and a ``feed
    classification`` (``_classify_feed``) to the DML engines. Hits in
    ``allow`` are skipped. ``def`` is the enclosing top-level function
    or ``Class.method``."""
    import ast

    def called(node, fn):
        f = node.func
        return (getattr(f, "id", None) == fn
                or getattr(f, "attr", None) == fn)

    def names(node):
        return {getattr(n, "id", None) or getattr(n, "attr", None)
                for n in ast.walk(node)}

    def last_item(node):
        return (isinstance(node, ast.Subscript)
                and isinstance(node.slice, ast.UnaryOp)
                and isinstance(node.slice.op, ast.USub)
                and getattr(node.slice.operand, "value", None) == 1)

    def staged(node):
        return any("staged" in (n or "") for n in names(node)) or any(
            isinstance(c, ast.Constant) and "_staged_" in str(c.value)
            for c in ast.walk(node))

    def calls(nodes, fn):
        return any(isinstance(n, ast.Call) and called(n, fn)
                   for node in nodes for n in ast.walk(node))

    found = []
    own: dict[str, set] = {}  # def -> names bound from _OWN_OUTPUT calls
    avail: dict[str, set] = {}  # def -> names bound from versions(...)

    def visit(node, where, in_class):
        for child in ast.iter_child_nodes(node):
            inner, cls = where, in_class
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                if where == "<module>":
                    inner, cls = child.name, isinstance(child, ast.ClassDef)
                elif in_class:
                    inner, cls = f"{where}.{child.name}", False
            if (isinstance(child, ast.Assign)
                    and isinstance(child.value, ast.Call)
                    and any(called(child.value, fn) for fn in _OWN_OUTPUT)):
                own.setdefault(inner, set()).update(
                    n.id for t in child.targets for n in ast.walk(t)
                    if isinstance(n, ast.Name))
            if (isinstance(child, ast.Assign)
                    and isinstance(child.value, ast.Call)
                    and called(child.value, "versions")):
                avail.setdefault(inner, set()).update(
                    n.id for t in child.targets for n in ast.walk(t)
                    if isinstance(n, ast.Name))
            iters, body = (
                ([child.iter], child.body) if isinstance(child, ast.For)
                else ([g.iter for g in child.generators], [child])
                if isinstance(child, (ast.ListComp, ast.SetComp,
                                      ast.GeneratorExp, ast.DictComp))
                else ([], []))
            what = None
            if (isinstance(child, ast.Call)
                    and called(child, "_load_manifest")
                    and any(last_item(a) for a in child.args)):
                what = "head lookup"
            elif (isinstance(child, (ast.For, ast.comprehension))
                  and "_PER_COMMIT_KEYS" in names(child.iter)):
                what = "per-commit strip loop"
            elif (isinstance(child, ast.ExceptHandler)
                  and child.type is not None
                  and "CommitConflict" in names(child.type)):
                what = "except CommitConflict"
            elif (isinstance(child, ast.Call) and called(child, "rename")
                  and child.args and staged(child.args[0])):
                what = "staged rename"
            elif (isinstance(child, ast.Call)
                  and ({"read", "readStream"} & names(child.func)
                       or called(child, "_read_files_dv"))
                  and own.get(inner, set()) & set().union(
                      *map(names, [*child.args, *child.keywords]))):
                what = "own-output read"
            elif ((calls(iters, "versions")
                   or avail.get(inner, set()) & set().union(
                       *map(names, iters)))
                  and calls(body, "_load_manifest")):
                what = "versions walk"
            elif (isinstance(child, ast.Call) and name == "versioned.py"
                  and called(child, "monotonically_increasing_id")):
                what = "identity allocation"
            elif (isinstance(child, ast.Call)
                  and called(child, "_split_fully_matched")):
                what = "matched-row split"
            elif (isinstance(child, ast.Call)
                  and called(child, "_classify_feed")):
                what = "feed classification"
            if what and (name, inner, what) not in allow:
                found.append((name, inner, child.lineno, what))
            visit(child, inner, cls)

    visit(ast.parse(source), "<module>", False)
    return found


def test_versioned_commits_use_the_commit_protocol_helpers():
    """Every versioned commit resolves the head through
    ``versioned._latest``, copies a parent into a metadata commit
    through ``versioned._child``, stages, checks and renames its data
    dirs through ``versioned._stage`` without reading them back, and
    publishes through ``versioned._commit``; every history walk goes
    through ``versioned._iter_manifests`` / ``versioned._iter_changes``.
    Identity values are allocated only by ``versioned._fill_new_rows``,
    and only the DML engines split fully matched files or classify a
    change feed. No module keeps a hand-rolled copy."""
    from tests.conftest import REPO

    seeded = (
        "def add(p):\n"
        "    avail = versioned.versions(p)\n"
        "    parent = versioned._load_manifest(p, avail[-1])\n"
        "    for k in versioned._PER_COMMIT_KEYS:\n"
        "        parent.pop(k, None)\n"
        "class W:\n"
        "    def commit(self):\n"
        "        def attempt():\n"
        "            try:\n"
        "                publish()\n"
        "            except (OSError, versioned.CommitConflict):\n"
        "                raise\n"
        "def merge(spark, p, df, version, token):\n"
        "    staged = os.path.join(p, f'_staged_{version}_{token}')\n"
        "    df.write.parquet(staged)\n"
        "    os.rename(staged, os.path.join(p, f'd_{version}'))\n"
        "    files = versioned._list_data_files(p, f'd_{version}')\n"
        "    spark.read.parquet(*[os.path.join(p, f) for f in files])\n"
        "    os.rename(os.path.join(p, f'_staged_{version}_cdf'), p)\n"
        "def walk(p):\n"
        "    for v in versioned.versions(p):\n"
        "        versioned._load_manifest(p, v)\n"
        "    avail = versioned.versions(p)\n"
        "    return [versioned._load_manifest(p, v) for v in avail]\n")
    assert _commit_protocol_copies("x.py", seeded) == [
        ("x.py", "add", 3, "head lookup"),
        ("x.py", "add", 4, "per-commit strip loop"),
        ("x.py", "W.commit", 11, "except CommitConflict"),
        ("x.py", "merge", 16, "staged rename"),
        ("x.py", "merge", 18, "own-output read"),
        ("x.py", "merge", 19, "staged rename"),
        ("x.py", "walk", 21, "versions walk"),
        ("x.py", "walk", 24, "versions walk"),
    ]
    dml = ("def merge(spark, p, df, F):\n"
           "    ids = F.monotonically_increasing_id()\n"
           "    _split_fully_matched(spark, p, {}, [], [], {})\n"
           "    return _classify_feed(df, df.withColumn('i', ids), ['k'])\n")
    assert _commit_protocol_copies("versioned.py", dml) == [
        ("versioned.py", "merge", 2, "identity allocation"),
        ("versioned.py", "merge", 3, "matched-row split"),
        ("versioned.py", "merge", 4, "feed classification"),
    ]
    assert _commit_protocol_copies("x.py", dml) == [
        ("x.py", "merge", 3, "matched-row split"),
        ("x.py", "merge", 4, "feed classification"),
    ]
    pkg = REPO / "batch_processing_etl_pipeline_for_chess_puzzle_generator_spark"
    paths = [pkg / "versioned.py", pkg / "merge_sql.py",
             *sorted((pkg / "sources").glob("*.py")),
             *sorted((pkg / "functions").glob("*.py")),
             *sorted((pkg / "streaming").glob("*.py"))]
    found = [hit for path in paths
             for hit in _commit_protocol_copies(path.name, path.read_text())]
    assert found == [], found
    # every allowlisted step still exists (the list can't rot)
    steps = {(f, d, what) for path in paths
             for f, d, _, what in _commit_protocol_copies(
                 path.name, path.read_text(), allow=set())}
    assert steps == COMMIT_PROTOCOL_ALLOWLIST, steps


#: The only place that spells out the harness's warm-ups and view loop.
HARNESS_ALLOWLIST = {
    ("harness.py", "session", "JVM warm-up"),
    ("harness.py", "session", "worker warm-up"),
    ("harness.py", "oracle_db", "looped CREATE VIEW"),
}


def _harness_copies(name: str, source: str) -> list[tuple]:
    """(file, def, line, what) of each hand-rolled copy of a
    ``tools/harness.py`` step: an action over ``<x>.range(...)`` whose
    result is discarded (a ``JVM warm-up``, or a ``worker warm-up`` when
    the chain runs ``mapInPandas``) and a DuckDB ``CREATE VIEW`` executed
    inside a loop. ``def`` is the enclosing top-level function or
    ``Class.method``."""
    import ast

    loops = (ast.For, ast.AsyncFor, ast.While, ast.ListComp, ast.SetComp,
             ast.DictComp, ast.GeneratorExp)

    def chain(node):
        # method names along a call chain, outermost first
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Attribute):
                yield node.attr
            node = node.func if isinstance(node, ast.Call) else node.value

    def creates_view(node):
        return (isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) == "execute"
                and any(isinstance(s, ast.Constant) and isinstance(s.value, str)
                        and "CREATE VIEW" in s.value.upper()
                        for a in node.args for s in ast.walk(a)))

    found = []

    def visit(node, where, in_class, in_loop):
        for child in ast.iter_child_nodes(node):
            inner, cls, loop = where, in_class, in_loop
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                loop = False
                if where == "<module>":
                    inner, cls = child.name, isinstance(child, ast.ClassDef)
                elif in_class:
                    inner, cls = f"{where}.{child.name}", False
            elif isinstance(child, loops):
                loop = True
            what = None
            if isinstance(child, ast.Expr):
                names = list(chain(child.value))
                if names[:1] in (["collect"], ["count"]) and "range" in names:
                    what = ("worker warm-up" if "mapInPandas" in names
                            else "JVM warm-up")
            elif in_loop and creates_view(child):
                what = "looped CREATE VIEW"
            if what:
                found.append((name, inner, child.lineno, what))
            visit(child, inner, cls, loop)

    visit(ast.parse(source), "<module>", False, False)
    return found


def test_registry_runs_use_the_harness():
    """bench.py, tools/ and the tests warm a session and open DuckDB
    oracle views only through ``tools/harness.py``; no file keeps a
    hand-rolled copy of its warm-ups or its view loop. (``perfbench/``
    is the frozen benchmark and is not scanned.)"""
    from tests.conftest import REPO

    seeded = (
        "spark.range(100).selectExpr('sum(id)').collect()\n"
        "class B:\n"
        "    def warm(self, spark):\n"
        "        (spark.range(8, numPartitions=2)\n"
        "         .mapInPandas(f, schema='id long').count())\n"
        "def views(con, d):\n"
        "    n = spark.range(3).count()\n"
        "    con.execute('CREATE VIEW one AS SELECT 1')\n"
        "    for t in TABLES:\n"
        "        con.execute(f\"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}'\")\n"
        "    [con.execute(f'create view {t} as select 1') for t in TABLES]\n")
    assert _harness_copies("x.py", seeded) == [
        ("x.py", "<module>", 1, "JVM warm-up"),
        ("x.py", "B.warm", 4, "worker warm-up"),
        ("x.py", "views", 10, "looped CREATE VIEW"),
        ("x.py", "views", 11, "looped CREATE VIEW"),
    ]
    paths = [REPO / "bench.py", *sorted((REPO / "tools").glob("*.py")),
             *sorted((REPO / "tests").glob("*.py"))]
    hits = [hit for path in paths
            for hit in _harness_copies(path.name, path.read_text())]
    found = [hit for hit in hits if hit[0] != "harness.py"]
    assert found == [], found
    # every allowlisted step still exists (the list can't rot)
    assert {(f, d, what) for f, d, _, what in hits} == HARNESS_ALLOWLIST


def _limit_counts(name: str, source: str) -> list[tuple]:
    """(file, def, line) of each ``<x>.limit(...).count()`` call. A
    limit's generated code names a process-wide counter, so its source
    never repeats and every call compiles fresh classes; ``isEmpty()``
    and ``take(n)`` hit the codegen cache. ``def`` is the enclosing
    top-level function or ``Class.method``."""
    import ast

    def is_call(node, attr):
        return (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == attr)

    found = []

    def visit(node, where, in_class):
        for child in ast.iter_child_nodes(node):
            inner, cls = where, in_class
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                if where == "<module>":
                    inner, cls = child.name, isinstance(child, ast.ClassDef)
                elif in_class:
                    inner, cls = f"{where}.{child.name}", False
            if is_call(child, "count") and is_call(child.func.value, "limit"):
                found.append((name, inner, child.lineno))
            visit(child, inner, cls)

    visit(ast.parse(source), "<module>", False)
    return found


def test_package_runs_no_limit_count():
    """No ``.limit(n).count()`` under the package: it compiles new
    codegen classes on every call (use ``isEmpty()`` or ``take(n)``)."""
    from tests.conftest import REPO

    seeded = (
        "n = df.limit(5).count()\n"
        "ok = df.limit(5).collect()\n"
        "class T:\n"
        "    def has(self, df):\n"
        "        return (df.filter('x > 0')\n"
        "                .limit(1)\n"
        "                .count()) > 0\n"
        "def f(df):\n"
        "    return df.count() + len(df.take(1))\n")
    assert _limit_counts("x.py", seeded) == [
        ("x.py", "<module>", 1),
        ("x.py", "T.has", 5),
    ]
    pkg = REPO / "batch_processing_etl_pipeline_for_chess_puzzle_generator_spark"
    found = [hit for path in sorted(pkg.rglob("*.py"))
             for hit in _limit_counts(str(path.relative_to(pkg)),
                                      path.read_text())]
    assert found == [], found
