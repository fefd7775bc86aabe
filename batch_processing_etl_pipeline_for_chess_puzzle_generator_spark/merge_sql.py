"""SQL ``MERGE INTO`` surface over versioned tables.

Warehouse users type MERGE, not library calls. Spark's parser accepts
MERGE INTO only against DSv2 catalog tables, so this module provides
the statement surface for path-addressed versioned tables directly:
the canonical upsert shape is parsed here and routed onto
:func:`versioned.merge_version_cow`, which already implements the
copy-on-write physical plan (stat-prune → touched-file scan → rewrite
only touched files → CAS publish). Reference parity: the reference has
no MERGE at all (its pipeline is insert-only, etl/load.py); this is
the lakehouse-completing API its users would reach for next.

Supported statement shape (the Delta/Iceberg canonical clauses; ``<``
``>`` mark placeholders, clause order fixed, case-insensitive, each
WHEN clause optional but at least one required):

    MERGE INTO versioned.`/path/to/table` [AS] t
    USING <source view or (subquery)> [AS] s
    ON t.<key> = s.<key>
    [WHEN MATCHED AND <delete-condition> THEN DELETE]
    [WHEN MATCHED THEN UPDATE SET * | SET col = expr, ...]
    [WHEN NOT MATCHED THEN INSERT * | INSERT (cols) VALUES (exprs)]
    [WHEN NOT MATCHED BY SOURCE [AND <cond over t>] THEN DELETE]

r6 widened the everyday Delta shapes: column-list SET (expressions
see BOTH aliases; unassigned columns keep their target value; the
merge key may not be assigned), column-list INSERT (unlisted columns
insert NULL), and the full-sync ``NOT MATCHED BY SOURCE`` delete —
all routed through :func:`_merge_row_construction`, which builds
complete upsert rows from ONE target×source join and commits through
the same copy-on-write plan. Anything else — non-equi ON, multiple
conditional update clauses, a CASE WHEN inside a SET expression (the
clause splitter keys on the word WHEN) — raises ``ValueError``
loudly rather than approximating different semantics. Clause semantics follow Delta
exactly, per source row:

- MATCHED + delete-condition true → ``is_delete`` (the key is removed),
- MATCHED + UPDATE clause present → upsert (rewrites the row),
- NOT MATCHED + INSERT clause present → insert,
- any row no clause covers → ignored (e.g. an unmatched row under a
  delete+update-only merge, or a matched row under insert-only).

Whenever the statement's behavior depends on matchedness beyond the
plain upsert (a DELETE clause, or a missing UPDATE/INSERT clause),
the source is joined against the target's (column-pruned, distinct)
key set to split matched from unmatched rows first — the same
planning-scan class merge_version_cow's touched-file discovery
already performs. The full-upsert statement skips that join.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MERGE_RE = re.compile(
    r"""^\s*MERGE\s+INTO\s+versioned\.`(?P<path>[^`]+)`
        (?:\s+AS)?\s+(?P<t>\w+)
        \s+USING\s+(?P<source>\((?:[^()]|\([^()]*\))*\)|[\w.]+)
        (?:\s+AS)?\s+(?P<s>\w+)
        \s+ON\s+(?P<ton>\w+)\.(?P<tkey>\w+)\s*=\s*(?P<son>\w+)\.(?P<skey>\w+)
        (?:\s+WHEN\s+MATCHED\s+AND\s+(?P<delcond>.+?)\s+THEN\s+DELETE)?
        (?:\s+WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+
            (?P<set>\*|(?:(?!\s+WHEN\s)[\s\S])+?))?
        (?:\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+
            (?P<ins>\*|\([^)]*\)\s*VALUES\s*\((?:[^()]|\([^()]*\))*\)))?
        (?P<nmbs>\s+WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE
            (?:\s+AND\s+(?P<nmbscond>(?:(?!\s+THEN\s)[\s\S])+?))?
            \s+THEN\s+DELETE)?
        \s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)

_DELETE_FLAG = "__merge_is_delete"


def _reject_multi_match_source(spark: SparkSession, path: str,
                               changes: DataFrame, key: str) -> None:
    """Delta raises when MULTIPLE source rows match ONE target row —
    applying two updates/deletes to the same row is ambiguous (and the
    COW upsert would silently duplicate the key instead). Enforced
    whenever the statement carries a MATCHED-affecting clause: first a
    source-side aggregate finds duplicated merge keys (cheap — the
    source is the small side of every merge), and only if any exist is
    the target's pruned key column scanned to see whether a duplicate
    actually matches. Duplicate source keys that are all UNMATCHED
    insert multiple rows, exactly Delta's (legal) behavior."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    dups = (changes.groupBy(key).count()
            .filter(F.col("count") > 1).select(key))
    if not dups.take(1):
        return
    n = (dups.join(
            versioned.read_version(spark, path).select(key).distinct(),
            key, "left_semi")
         .count())
    if n:
        raise ValueError(
            f"MERGE source has {n} key(s) with multiple rows matching "
            "an existing target row — resolve duplicates in the source "
            "(e.g. pick the latest per key) before merging; applying "
            "several matched clauses to one target row is ambiguous "
            "(Delta raises the same error)"
        )


def merge_into(spark: SparkSession, statement: str,
               evolve_schema: bool = False) -> dict:
    """Execute a ``MERGE INTO versioned.`<path>``` statement. Returns
    :func:`merge_version_cow`'s commit stats (files shared/rewritten/
    pruned). ``evolve_schema`` forwards Delta's mergeSchema behavior
    for sources that carry new columns."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    m = _MERGE_RE.match(statement)
    if not m:
        raise ValueError(
            "unsupported MERGE shape — expected:\n"
            "  MERGE INTO versioned.`/path` [AS] t USING <view|(subquery)> "
            "[AS] s\n  ON t.<key> = s.<key>\n"
            "  [WHEN MATCHED AND <cond> THEN DELETE]\n"
            "  WHEN MATCHED THEN UPDATE SET *\n"
            "  WHEN NOT MATCHED THEN INSERT *"
        )
    t, s = m.group("t"), m.group("s")
    # the ON equality must join target key to source key (either order)
    sides = {m.group("ton"): m.group("tkey"), m.group("son"): m.group("skey")}
    if set(sides) != {t, s}:
        raise ValueError(
            f"ON clause must equate {t}.<key> with {s}.<key>, "
            f"got aliases {sorted(sides)}"
        )
    if sides[t] != sides[s]:
        raise ValueError(
            f"ON clause must equate the SAME key column on both sides "
            f"(got {t}.{sides[t]} = {s}.{sides[s]}) — merge_version_cow "
            "merges by one key column"
        )
    key = sides[t]

    source = m.group("source")
    if source.startswith("("):
        changes = spark.sql(_rewrite_versioned_refs(spark, source[1:-1]))
    else:
        changes = spark.table(source)

    delcond = m.group("delcond")
    set_clause = m.group("set")
    ins_clause = m.group("ins")
    has_upd = set_clause is not None
    has_ins = ins_clause is not None
    has_nmbs = m.group("nmbs") is not None
    if delcond is None and not has_upd and not has_ins and not has_nmbs:
        raise ValueError(
            "MERGE needs at least one WHEN clause (DELETE / UPDATE SET "
            "/ INSERT / NOT MATCHED BY SOURCE DELETE)"
        )
    # Column-list and BY SOURCE shapes take the row-construction path:
    # the upsert rows are BUILT from the target×source join, then fed
    # to the same COW merge as whole rows (it runs its own clause-aware
    # multiple-matches check on the materialized join).
    if (has_nmbs or (set_clause not in (None, "*"))
            or (ins_clause not in (None, "*"))):
        return _merge_row_construction(
            spark, m, changes, key, evolve_schema
        )

    if delcond is not None:
        # the condition may only reference the source alias: the target
        # row is about to be replaced/deleted, so s.* is the data both
        # clauses see (and what merge_version_cow's flag column holds)
        cond_sql = re.sub(rf"\b{re.escape(s)}\.", "", delcond)
        if re.search(rf"\b{re.escape(t)}\.", delcond):
            raise ValueError(
                f"DELETE condition may only reference the source alias "
                f"'{s}' (got a '{t}.' reference) — target columns are "
                "not visible to the COW delete flag"
            )

    # Multiple-matches guard, CLAUSE-AWARE like Delta's: only source
    # rows that would actually FIRE a matched clause count. With an
    # UPDATE clause every matched row fires; with only a conditional
    # DELETE, only rows satisfying the condition fire — so the common
    # CDC shape (a tombstone + a fresh insert for the same key) stays
    # legal when just one of them acts on the target row.
    if versioned.versions(m.group("path")):
        if has_upd:
            _reject_multi_match_source(spark, m.group("path"), changes,
                                       key)
        elif delcond is not None:
            _reject_multi_match_source(
                spark, m.group("path"),
                changes.filter(
                    F.coalesce(F.expr(cond_sql), F.lit(False))
                ),
                key,
            )

    # Matchedness matters whenever the statement is not the plain full
    # upsert: a DELETE clause fires only for MATCHED rows (an unmatched
    # row whose condition is true still INSERTs under INSERT *, Delta
    # semantics), and a missing UPDATE/INSERT clause means the
    # corresponding row class is ignored, not merged. Split on the
    # target's key set — one column-pruned distinct scan of latest, the
    # same planning class as the COW's touched-file discovery.
    needs_match = delcond is not None or not has_upd or not has_ins
    if needs_match:
        matched_keys = (
            versioned.read_version(spark, m.group("path"))
            .select(F.col(key)).distinct()
            .withColumn("__merge_matched", F.lit(True))
        )
        split = changes.join(matched_keys, key, "left").withColumn(
            "__m", F.coalesce(F.col("__merge_matched"), F.lit(False))
        ).drop("__merge_matched")
        if delcond is not None:
            split = split.withColumn(
                _DELETE_FLAG, F.col("__m") & F.expr(cond_sql)
            )
        else:
            split = split.withColumn(_DELETE_FLAG, F.lit(False))
        keep = F.col(_DELETE_FLAG)
        if has_upd:
            keep = keep | F.col("__m")
        if has_ins:
            keep = keep | ~F.col("__m")
        flagged = split.filter(keep).drop("__m")
    else:
        flagged = changes.withColumn(_DELETE_FLAG, F.lit(False))

    if delcond is not None:
        # CDC sources commonly carry flag-driving columns (op codes,
        # tombstone booleans) that are not table columns: once the
        # condition has consumed them into the flag, drop them so they
        # neither land in the table nor trip the evolve_schema check.
        # Source columns the condition does NOT reference still follow
        # evolve_schema rules (new data columns must be explicit).
        parent = versioned._head_manifest(m.group("path"))
        if parent is not None:
            import json as _json

            parent_schema = _json.loads(parent["schema"])
            data_cols = {f["name"] for f in parent_schema["fields"]}
            consumed = [
                c for c in changes.columns
                if c not in data_cols
                and re.search(rf"\b{re.escape(c)}\b", cond_sql)
            ]
            flagged = flagged.drop(*consumed)

    return versioned.merge_version_cow(
        spark, m.group("path"), flagged, key,
        delete_col=_DELETE_FLAG, evolve_schema=evolve_schema,
    )


def _split_toplevel_commas(text: str) -> list[str]:
    parts, depth, quote, buf = [], 0, False, []
    for ch in text:
        if quote:
            buf.append(ch)
            if ch == "'":
                quote = False
            continue
        if ch == "'":
            quote = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
            continue
        buf.append(ch)
    if buf:
        parts.append("".join(buf).strip())
    return parts


def _merge_row_construction(spark: SparkSession, m: re.Match,
                            changes: DataFrame, key: str,
                            evolve_schema: bool) -> dict:
    """The column-list / BY-SOURCE MERGE shapes, Delta semantics:

    - ``UPDATE SET col = expr, ...`` — expressions see BOTH aliases
      (t.col = the current target row, s.col = the source row);
      unassigned columns keep their target value. Assigning the merge
      key is rejected.
    - ``INSERT (cols) VALUES (exprs)`` — expressions see the source
      alias; unlisted columns insert NULL.
    - ``WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE`` — target
      rows with no source key (condition over t) are deleted: the
      full-sync shape.
    - ``WHEN MATCHED AND cond THEN DELETE`` — here the condition may
      reference both aliases (the join is materialized anyway).

    Physical shape: ONE target read joined once with the source
    builds complete upsert rows; the same copy-on-write commit
    (merge_version_cow) then rewrites only touched files. The extra
    target scan vs the whole-row fast path is the price of expression
    semantics that need the current row — identical to Delta's plan.
    ``evolve_schema`` is rejected: constructed rows are by definition
    in the target schema."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    if evolve_schema:
        raise ValueError(
            "evolve_schema is not supported with column-list SET / "
            "INSERT or NOT MATCHED BY SOURCE — constructed rows are "
            "always in the target schema"
        )
    path, t, s = m.group("path"), m.group("t"), m.group("s")
    delcond = m.group("delcond")
    set_clause = m.group("set")
    ins_clause = m.group("ins")
    has_nmbs = m.group("nmbs") is not None
    nmbs_cond = m.group("nmbscond")

    target = versioned.read_version(spark, path)
    tcols = target.columns
    dtypes = dict(target.dtypes)
    tgt = target.alias(t)
    src = changes.alias(s)
    join_cond = F.col(f"{t}.{key}") == F.col(f"{s}.{key}")
    matched = tgt.join(src, join_cond)

    # Multiple-matches guard on the MATERIALIZED join (this path may
    # reference both aliases in conditions, so source-side counting
    # can't decide what fires): with a SET clause every matched row
    # fires; with only a conditional DELETE, only condition-true rows
    # fire — Delta's exact cardinality check.
    firing = None
    if set_clause is not None:
        firing = matched
    elif delcond is not None:
        firing = matched.filter(
            F.coalesce(F.expr(delcond), F.lit(False))
        )
    if firing is not None:
        n_dup = (
            firing.groupBy(F.col(f"{t}.{key}"))
            .count().filter("count > 1").count()
        )
        if n_dup:
            raise ValueError(
                f"MERGE source has {n_dup} key(s) with multiple rows "
                "firing a matched clause on one target row — resolve "
                "duplicates in the source first (Delta raises the "
                "same error)"
            )

    def _as_row(frame: DataFrame, col_expr, deleted: bool) -> DataFrame:
        cols = [col_expr(c).cast(dtypes[c]).alias(c) for c in tcols]
        return frame.select(*cols).withColumn(
            _DELETE_FLAG, F.lit(deleted)
        )

    parts: list[DataFrame] = []
    remaining = matched
    if delcond is not None:
        parts.append(_as_row(
            matched.filter(F.expr(delcond)),
            lambda c: F.col(f"{t}.{c}"), True,
        ))
        remaining = matched.filter(
            ~F.coalesce(F.expr(delcond), F.lit(False))
        )
    if set_clause is not None:
        if set_clause.strip() == "*":
            col_expr = lambda c: F.col(f"{s}.{c}")  # noqa: E731
        else:
            assigns = _split_assignments(set_clause)
            unknown = set(assigns) - set(tcols)
            if unknown:
                raise ValueError(
                    f"SET assigns non-table columns: {sorted(unknown)}"
                )
            if key in assigns:
                raise ValueError(
                    f"SET may not assign the merge key '{key}'"
                )
            col_expr = lambda c: (  # noqa: E731
                F.expr(assigns[c]) if c in assigns
                else F.col(f"{t}.{c}")
            )
        parts.append(_as_row(remaining, col_expr, False))
    if ins_clause is not None:
        unmatched = src.join(
            tgt.select(F.col(f"{t}.{key}").alias("__tk")).distinct(),
            F.col(f"{s}.{key}") == F.col("__tk"),
            "left_anti",
        )
        if ins_clause.strip() == "*":
            col_expr = lambda c: F.col(f"{s}.{c}")  # noqa: E731
        else:
            lm = re.match(r"\s*\((?P<cols>[^)]*)\)\s*VALUES\s*"
                          r"\((?P<vals>[\s\S]*)\)\s*$", ins_clause,
                          re.IGNORECASE)
            cols = [c.strip() for c in lm.group("cols").split(",")]
            vals = _split_toplevel_commas(lm.group("vals"))
            if len(cols) != len(vals):
                raise ValueError(
                    f"INSERT lists {len(cols)} columns but "
                    f"{len(vals)} values"
                )
            unknown = set(cols) - set(tcols)
            if unknown:
                raise ValueError(
                    f"INSERT lists non-table columns: {sorted(unknown)}"
                )
            vmap = dict(zip(cols, vals))
            col_expr = lambda c: (  # noqa: E731
                F.expr(vmap[c]) if c in vmap else F.lit(None)
            )
        parts.append(_as_row(unmatched, col_expr, False))
    if has_nmbs:
        gone = tgt.join(
            src.select(F.col(f"{s}.{key}").alias("__sk")).distinct(),
            F.col(f"{t}.{key}") == F.col("__sk"),
            "left_anti",
        )
        if nmbs_cond is not None:
            gone = gone.filter(F.expr(nmbs_cond))
        parts.append(_as_row(gone, lambda c: F.col(f"{t}.{c}"), True))

    flagged = parts[0]
    for p in parts[1:]:
        flagged = flagged.unionByName(p)
    return versioned.merge_version_cow(
        spark, path, flagged, key, delete_col=_DELETE_FLAG,
    )


# --------------------------------------------------------------------
# Table-maintenance statements: the Delta-canonical RESTORE / VACUUM /
# OPTIMIZE / DESCRIBE HISTORY, path-addressed like MERGE INTO above.
# Same philosophy: parse the exact canonical shape, route onto the
# library implementation, raise loudly on anything else.
_ALTER_CONSTRAINT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+versioned\.`(?P<path>[^`]+)`"
    r"\s+(?:(?P<add>ADD\s+CONSTRAINT\s+(?P<aname>\w+)\s+CHECK\s*"
    r"\((?P<expr>.+)\))|(?:DROP\s+CONSTRAINT\s+(?P<dname>\w+)))"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ADD_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+versioned\.`(?P<path>[^`]+)`"
    r"\s+ADD\s+COLUMN\s+(?P<col>\w+)\s+(?P<type>[\w()\s,]+?)\s*;?\s*$",
    re.IGNORECASE,
)
_DEFAULT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+versioned\.`(?P<path>[^`]+)`"
    r"\s+ALTER\s+COLUMN\s+(?P<col>\w+)\s+"
    r"(?:(?:SET\s+DEFAULT\s+(?P<expr>.+?))|(?P<drop>DROP\s+DEFAULT))"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_RENAME_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+versioned\.`(?P<path>[^`]+)`"
    r"\s+RENAME\s+COLUMN\s+(?P<old>\w+)\s+TO\s+(?P<new>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+versioned\.`(?P<path>[^`]+)`"
    r"\s+DROP\s+COLUMN\s+(?P<col>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_CONVERT_RE = re.compile(
    r"^\s*CONVERT\s+TO\s+VERSIONED\s+parquet\.`(?P<path>[^`]+)`"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_TBLPROPERTIES_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+versioned\.`(?P<path>[^`]+)`"
    r"\s+SET\s+TBLPROPERTIES\s*\(\s*'(?P<k>[^']+)'\s*=\s*'(?P<v>[^']*)'"
    r"\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+TABLE\s+versioned\.`(?P<path>[^`]+)`"
    r"\s+TO\s+(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_PROPS_RE = re.compile(
    r"^\s*SHOW\s+TBLPROPERTIES\s+versioned\.`(?P<path>[^`]+)`\s*;?\s*$",
    re.IGNORECASE,
)
_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+versioned\.`(?P<path>[^`]+)`"
    r"(?:\s+RETAIN\s+(?P<n>\d+)\s+(?P<unit>VERSIONS|HOURS))?"
    r"(?:\s+(?P<dry>DRY\s+RUN))?\s*;?\s*$",
    re.IGNORECASE,
)
_FSCK_RE = re.compile(
    r"^\s*FSCK\s+REPAIR\s+TABLE\s+versioned\.`(?P<path>[^`]+)`"
    r"(?:\s+(?P<dry>DRY\s+RUN))?\s*;?\s*$",
    re.IGNORECASE,
)
_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+versioned\.`(?P<path>[^`]+)`"
    r"(?:\s+ZORDER\s+BY\s*\(\s*(?P<za>\w+)\s*,\s*(?P<zb>\w+)\s*\))?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_REORG_RE = re.compile(
    r"^\s*REORG\s+TABLE\s+versioned\.`(?P<path>[^`]+)`"
    r"\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
_GENERATE_RE = re.compile(
    r"^\s*GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+"
    r"versioned\.`(?P<path>[^`]+)`\s*;?\s*$",
    re.IGNORECASE,
)
_DETAIL_RE = re.compile(
    r"^\s*DESCRIBE\s+DETAIL\s+versioned\.`(?P<path>[^`]+)`\s*;?\s*$",
    re.IGNORECASE,
)
_ANALYZE_RE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+versioned\.`(?P<path>[^`]+)`"
    r"(?:\s+COMPUTE\s+STATISTICS(?:\s+NOSCAN)?)?\s*;?\s*$",
    re.IGNORECASE,
)
_REGISTER_RE = re.compile(
    r"^\s*REGISTER\s+SNAPSHOT\s+versioned\.`(?P<path>[^`]+)`"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<v>\d+))?"
    r"\s+AS\s+(?P<name>[\w.]+)"
    r"(?:\s+(?P<cols>ANALYZE\s+ALL\s+COLUMNS))?\s*;?\s*$",
    re.IGNORECASE,
)
_UNREGISTER_RE = re.compile(
    r"^\s*UNREGISTER\s+SNAPSHOT\s+(?P<name>[\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)
_REFRESH_SNAP_RE = re.compile(
    r"^\s*REFRESH\s+SNAPSHOT\s+(?P<name>[\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)
_HISTORY_RE = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+versioned\.`(?P<path>[^`]+)`\s*;?\s*$",
    re.IGNORECASE,
)


def maintenance_sql(spark: SparkSession, statement: str):
    """Execute one maintenance statement against a versioned table.

    Supported shapes (case-insensitive, trailing ``;`` optional):

    - ``RESTORE TABLE versioned.`/p` TO VERSION AS OF <n>`` →
      :func:`versioned.restore_version`; returns the new version int.
    - ``VACUUM versioned.`/p` [RETAIN <n> VERSIONS | RETAIN <n>
      HOURS]`` (default 2 versions; HOURS = Delta's wall-clock
      retention, latest never dropped) → :func:`versioned.vacuum`;
      returns the dropped version list.
    - ``OPTIMIZE versioned.`/p` [ZORDER BY (a, b)]`` →
      :func:`versioned.optimize_version`; returns its stats dict.
    - ``DESCRIBE HISTORY versioned.`/p``` → :func:`versioned.history`;
      returns the history DataFrame.

    Anything else raises ``ValueError`` with the supported grammar.
    """
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    m = _RESTORE_RE.match(statement)
    if m:
        v = (int(m["v"]) if m["v"] is not None
             else versioned.resolve_timestamp(m["path"], m["ts"]))
        return versioned.restore_version(m["path"], v)
    m = _SHOW_PROPS_RE.match(statement)
    if m:
        props = versioned.table_properties(m["path"])
        return spark.createDataFrame(
            sorted((str(k), str(v)) for k, v in props.items()),
            "key STRING, value STRING",
        )
    m = _VACUUM_RE.match(statement)
    if m:
        fn = versioned.vacuum_dry_run if m["dry"] else versioned.vacuum
        if m["unit"] and m["unit"].upper() == "HOURS":
            return fn(m["path"], retain_hours=float(m["n"]))
        keep = int(m["n"]) if m["n"] else 2
        return fn(m["path"], keep_last=keep)
    m = _FSCK_RE.match(statement)
    if m:
        return versioned.fsck_repair(spark, m["path"],
                                     dry_run=bool(m["dry"]))
    m = _OPTIMIZE_RE.match(statement)
    if m:
        z = (m["za"], m["zb"]) if m["za"] else None
        return versioned.optimize_version(spark, m["path"], zorder_cols=z)
    m = _REORG_RE.match(statement)
    if m:
        return versioned.reorg_purge(spark, m["path"])
    m = _GENERATE_RE.match(statement)
    if m:
        return versioned.generate_symlink_manifest(m["path"])
    m = _DETAIL_RE.match(statement)
    if m:
        return versioned.describe_detail(spark, m["path"])
    m = _ANALYZE_RE.match(statement)
    if m:
        # the engine's stats are manifest-served and always current —
        # ANALYZE (with or without NOSCAN) just reads them back, as a
        # one-row DataFrame so sql() callers can uniformly
        # .collect()/.show() statement results (DESCRIBE DETAIL's
        # shape; Spark's own ANALYZE returns a DataFrame too)
        st = versioned.table_statistics(m["path"])
        return spark.createDataFrame(
            [(st["row_count"], st["size_in_bytes"], st["num_files"])],
            "row_count LONG, size_in_bytes LONG, num_files LONG",
        )
    m = _REGISTER_RE.match(statement)
    if m:
        # catalog registration with ANALYZE-fed CBO statistics — the
        # join-reorder rung (see versioned.register_snapshot_table)
        got = versioned.register_snapshot_table(
            spark, m["path"], m["name"],
            version=int(m["v"]) if m["v"] else None,
            analyze_columns="ALL" if m["cols"] else None,
        )
        return spark.createDataFrame(
            [(got["table"], got["version"], got["location"])],
            "table STRING, version LONG, location STRING",
        )
    m = _UNREGISTER_RE.match(statement)
    if m:
        # drop the catalog table AND reclaim the hard-link dir — the
        # SQL spelling of unregister_snapshot_table
        got = versioned.unregister_snapshot_table(spark, m["name"])
        return spark.createDataFrame(
            [(got["table"], got["dropped"])],
            "table STRING, dropped BOOLEAN",
        )
    m = _REFRESH_SNAP_RE.match(statement)
    if m:
        # advance a registered snapshot to the source table's head
        # (no-op when current) — the SQL spelling of
        # refresh_snapshot_table
        got = versioned.refresh_snapshot_table(spark, m["name"])
        return spark.createDataFrame(
            [(got["table"], got["version"], got["location"],
              got["refreshed"])],
            "table STRING, version LONG, location STRING, "
            "refreshed BOOLEAN",
        )
    m = _HISTORY_RE.match(statement)
    if m:
        return versioned.history(spark, m["path"])
    m = _TBLPROPERTIES_RE.match(statement)
    if m:
        return versioned.set_table_property(m["path"], m["k"], m["v"])
    m = _ALTER_CONSTRAINT_RE.match(statement)
    if m:
        if m["add"]:
            return versioned.add_constraint(
                spark, m["path"], m["aname"], m["expr"].strip()
            )
        return versioned.drop_constraint(m["path"], m["dname"])
    m = _DEFAULT_RE.match(statement)
    if m:
        if m["drop"]:
            return versioned.drop_column_default(m["path"], m["col"])
        return versioned.set_column_default(
            spark, m["path"], m["col"], m["expr"].strip())
    m = _ADD_COL_RE.match(statement)
    if m:
        return versioned.add_column(m["path"], m["col"], m["type"])
    m = _RENAME_COL_RE.match(statement)
    if m:
        return versioned.rename_column(m["path"], m["old"], m["new"])
    m = _DROP_COL_RE.match(statement)
    if m:
        return versioned.drop_column(m["path"], m["col"])
    m = _CONVERT_RE.match(statement)
    if m:
        return versioned.convert_to_versioned(m["path"], spark=spark)
    raise ValueError(
        "unsupported maintenance statement — expected RESTORE TABLE "
        "versioned.`/p` TO VERSION AS OF n | VACUUM versioned.`/p` "
        "[RETAIN n VERSIONS] | OPTIMIZE versioned.`/p` [ZORDER BY "
        "(a, b)] | DESCRIBE HISTORY versioned.`/p` | ALTER TABLE "
        "versioned.`/p` ADD CONSTRAINT name CHECK (expr) | ALTER TABLE "
        "versioned.`/p` DROP CONSTRAINT name | ALTER TABLE "
        "versioned.`/p` SET TBLPROPERTIES ('k' = 'v') | ALTER TABLE "
        "versioned.`/p` RENAME COLUMN a TO b | ALTER TABLE "
        "versioned.`/p` DROP COLUMN a | CONVERT TO VERSIONED "
        "parquet.`/p` | VACUUM versioned.`/p` … DRY "
        "RUN | FSCK REPAIR TABLE versioned.`/p` [DRY RUN] | REORG "
        "TABLE versioned.`/p` APPLY (PURGE) | GENERATE "
        "symlink_format_manifest FOR TABLE versioned.`/p` | REGISTER "
        "SNAPSHOT versioned.`/p` [VERSION AS OF n] AS name [ANALYZE "
        "ALL COLUMNS] | UNREGISTER SNAPSHOT name | REFRESH SNAPSHOT "
        "name; "
        f"got: {statement!r}"
    )


# ------------------------------------------------ DML/DDL statements
# INSERT INTO (fast append through the Data Source writer — shares
# every parent file) and CREATE TABLE AS (first commit). The query
# body after the table address is handed to spark.sql verbatim, so
# the full SELECT surface (CTEs, joins, windows) is available.
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+versioned\.`(?P<path>[^`]+)`\s+(?P<q>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COPY_INTO_RE = re.compile(
    r"^\s*COPY\s+INTO\s+versioned\.`(?P<path>[^`]+)`"
    r"\s+FROM\s+'(?P<src>[^']+)'"
    r"(?:\s+FILEFORMAT\s*=\s*(?P<fmt>\w+))?"
    r"(?:\s+PATTERN\s*=\s*'(?P<pat>[^']+)')?"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def copy_into_sql(spark: SparkSession, statement: str) -> dict:
    """``COPY INTO versioned.`/p` FROM '/landing' [FILEFORMAT =
    PARQUET] [PATTERN = '*.parquet']`` — Delta's idempotent file-level
    ingestion verb, routed to :func:`versioned.copy_into`."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    m = _COPY_INTO_RE.match(statement)
    if not m:
        raise ValueError(
            "expected COPY INTO versioned.`/path` FROM '<dir>' "
            "[FILEFORMAT = fmt] [PATTERN = '<glob>']; got: "
            f"{statement!r}"
        )
    fmt = (m["fmt"] or "parquet").lower()
    pat = m["pat"] or {"parquet": "*.parquet", "json": "*.json",
                       "csv": "*.csv"}.get(fmt, "*")
    return versioned.copy_into(spark, m["path"], m["src"],
                               pattern=pat, file_format=fmt)


# Delta's REPLACE WHERE verb: the predicate sits between the table
# address and the SELECT. The predicate itself cannot contain the
# token 'SELECT'/'WITH' at top level — the query starts at the first
# one (a predicate needing a subquery belongs in MERGE).
_REPLACE_WHERE_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+versioned\.`(?P<path>[^`]+)`"
    r"\s+REPLACE\s+WHERE\s+(?P<pred>.+?)"
    r"\s+(?P<q>(?:SELECT|WITH)\b.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+versioned\.`(?P<path>[^`]+)`"
    r"(?:\s+PARTITIONED\s+BY\s*\(\s*(?P<pb>\w+(?:\s*,\s*\w+)*)\s*\))?"
    r"\s+AS\s+(?P<q>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def insert_into(spark: SparkSession, statement: str) -> dict:
    """``INSERT INTO versioned.`/p` <select>`` — appends the SELECT's
    rows to an existing table as ONE commit through the library insert
    path (the one :func:`versioned.copy_into` takes): omitted defaulted
    and generated columns are filled, identity values allocated, CHECK
    constraints and supplied generated columns enforced inside the
    write job, and ``cdf.enabled`` records the inserts. Nothing is
    rewritten; a racing commit on other files rebases. The SELECT's
    schema must match the table's, leaving out the columns the commit
    fills (schema evolution goes through MERGE)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    rw = _REPLACE_WHERE_RE.match(statement)
    if rw:
        # INSERT INTO t REPLACE WHERE pred <select> — Delta's atomic
        # region replacement (dynamic partition overwrite when pred is
        # a partition filter); one commit, library physics
        body = _rewrite_versioned_refs(spark, rw["q"])
        return versioned.replace_where(
            spark, rw["path"], spark.sql(body), rw["pred"])
    m = _INSERT_RE.match(statement)
    if not m:
        raise ValueError(
            "expected INSERT INTO versioned.`/path` [REPLACE WHERE "
            f"<pred>] <select...>; got: {statement!r}"
        )
    rows = spark.sql(_rewrite_versioned_refs(spark, m["q"]))
    head = versioned._latest(m["path"])[1]
    omitted = {c for c in (*(head.get("defaults") or {}),
                           *(head.get("generated") or {}))
               if c not in rows.columns}
    versioned._check_append_schema(
        head, rows.schema, omitted | set(head.get("identity") or {}))
    return versioned._predicate_cow(
        spark, m["path"], "false", operation="APPEND",
        make_feed=versioned._delete_feed, insert_rows=rows)


_DELETE_FROM_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+versioned\.`(?P<path>[^`]+)`"
    r"(?:\s+WHERE\s+(?P<pred>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+versioned\.`(?P<path>[^`]+)`"
    r"\s+SET\s+(?P<tail>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _toplevel_find(text: str, word: str) -> int:
    """Index of the first whitespace-delimited ``word`` (upper-case)
    at paren depth 0 and outside single-quoted strings, else -1. A
    WHERE inside a subquery or a string literal is NOT the statement's
    WHERE — a lazy regex split gets that wrong."""
    depth, i, n, wl = 0, 0, len(text), len(word)
    while i < n:
        ch = text[i]
        if ch == "'":
            i += 1
            while i < n and text[i] != "'":
                i += 2 if text[i] == "\\" else 1
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and text[i:i + wl].upper() == word:
            before_ok = i == 0 or text[i - 1].isspace()
            # any non-identifier char terminates the keyword — SQL
            # allows `WHERE(k = 1)` with no space before the paren
            after = text[i + wl:i + wl + 1]
            if before_ok and (after == ""
                              or not (after.isalnum() or after == "_")):
                return i
        i += 1
    return -1


def _split_assignments(sets: str) -> dict[str, str]:
    """Split ``a = e1, b = e2`` on TOP-LEVEL commas only (commas inside
    parens or single-quoted strings belong to the expression), then
    each piece on its first ``=``. Duplicate targets raise — SQL
    forbids assigning one column twice in an UPDATE."""
    parts, depth, quote, esc, buf = [], 0, False, False, []
    for ch in sets:
        if quote:
            buf.append(ch)
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == "'":
                quote = False
            continue
        if ch == "'":
            quote = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    parts.append("".join(buf))
    out: dict[str, str] = {}
    for p in parts:
        col, eq, expr = p.partition("=")
        col, expr = col.strip(), expr.strip()
        if not eq or not re.fullmatch(r"\w+", col) or not expr:
            raise ValueError(
                f"bad SET assignment {p.strip()!r} — expected "
                "<column> = <expression>"
            )
        if col in out:
            raise ValueError(f"column {col!r} assigned twice in SET")
        out[col] = expr
    return out


def delete_from(spark: SparkSession, statement: str) -> dict:
    """``DELETE FROM versioned.`/p` [WHERE <pred>]`` → COW predicate
    delete via :func:`versioned.delete_where` (omitting WHERE deletes
    every row, Delta semantics). Returns the commit stats dict
    (``version`` is None when nothing matched — no empty commit)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    m = _DELETE_FROM_RE.match(statement)
    if not m:
        raise ValueError(
            "expected DELETE FROM versioned.`/path` [WHERE <pred>]; "
            f"got: {statement!r}"
        )
    return versioned.delete_where(spark, m["path"], m["pred"] or "true")


def update_table(spark: SparkSession, statement: str) -> dict:
    """``UPDATE versioned.`/p` SET a = e1[, b = e2 ...] [WHERE <pred>]``
    → COW predicate update via :func:`versioned.update_where`. All SET
    expressions see the pre-update row; results are cast back to the
    column's declared type (schema never drifts through UPDATE)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    m = _UPDATE_RE.match(statement)
    if not m:
        raise ValueError(
            "expected UPDATE versioned.`/path` SET col = expr[, ...] "
            f"[WHERE <pred>]; got: {statement!r}"
        )
    tail = m["tail"]
    idx = _toplevel_find(tail, "WHERE")
    sets = tail if idx < 0 else tail[:idx]
    pred = "true" if idx < 0 else tail[idx + len("WHERE"):].strip()
    return versioned.update_where(
        spark, m["path"], _split_assignments(sets.strip()), pred,
    )


_CLONE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+versioned\.`(?P<dst>[^`]+)`"
    r"\s+(?P<kind>SHALLOW|DEEP)\s+CLONE\s+versioned\.`(?P<src>[^`]+)`"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<v>\d+))?\s*;?\s*$",
    re.IGNORECASE,
)


def shallow_clone(spark: SparkSession, statement: str) -> int:
    """``CREATE TABLE versioned.`/dst` SHALLOW|DEEP CLONE
    versioned.`/src` [VERSION AS OF n]`` → :func:`versioned.clone_table`:
    SHALLOW is the zero-copy manifest-only clone; DEEP copies the
    bytes (distributed) and materializes deletion vectors."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    m = _CLONE_RE.match(statement)
    if not m:
        raise ValueError(
            "expected CREATE TABLE versioned.`/dst` SHALLOW|DEEP CLONE "
            f"versioned.`/src` [VERSION AS OF n]; got: {statement!r}"
        )
    return versioned.clone_table(
        m["src"], m["dst"], int(m["v"]) if m["v"] else None, spark=spark,
        deep=m["kind"].upper() == "DEEP",
    )


def create_table_as(spark: SparkSession, statement: str) -> int:
    """``CREATE TABLE versioned.`/p` AS <select>`` — commits the
    SELECT's result as version 0 of a NEW versioned table (fails if
    the table already has commits: CTAS never clobbers history)."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    m = _CTAS_RE.match(statement)
    if not m:
        raise ValueError(
            "expected CREATE TABLE versioned.`/path` AS <select...>; "
            f"got: {statement!r}"
        )
    if versioned.versions(m["path"]):
        raise ValueError(
            f"table already exists at {m['path']} — CTAS never clobbers "
            "history (use MERGE INTO or INSERT INTO)"
        )
    pb = ([c.strip() for c in m["pb"].split(",")] if m["pb"] else None)
    return versioned.write_version(
        spark.sql(_rewrite_versioned_refs(spark, m["q"])), m["path"],
        partition_by=pb,
    )


# ------------------------------------------- unified statement router
_VERSIONED_REF_RE = re.compile(
    r"versioned\.`(?P<path>[^`]+)`"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<v>\d+)"
    r"|\s+TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')?",
    re.IGNORECASE,
)


def _rewrite_versioned_refs(spark: SparkSession, statement: str) -> str:
    """Replace every ``versioned.`/p` [VERSION AS OF n | TIMESTAMP AS
    OF 'ts']`` reference in a SELECT with a temp view over the
    resolved snapshot, so the FULL spark.sql surface (CTEs, joins —
    including a self-join of two versions of the same table, the
    ad-hoc diff pattern) works over versioned tables. A timestamp is
    resolved to its version ONCE here, so the view is a stable
    snapshot for the statement."""
    import hashlib

    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import versioned

    def _sub(m: re.Match) -> str:
        path = m["path"]
        v = int(m["v"]) if m["v"] else None
        if m["ts"]:
            v = versioned.resolve_timestamp(path, m["ts"])
        name = "__versioned_" + hashlib.md5(
            f"{path}@{v}".encode()
        ).hexdigest()[:12]
        versioned.read_version(spark, path, v).createOrReplaceTempView(name)
        return name

    # Substitute only OUTSIDE string literals and comments: a literal
    # or comment that happens to contain "versioned.`...`" is data
    # (rewriting it would eagerly read_version a possibly-nonexistent
    # path, or swap the literal's value for a view name). Spark's
    # default parser treats both '...' and "..." as string literals,
    # and -- / /* */ as comments — all four are passed through
    # untouched. Escaped quotes (\') stay inside the literal.
    out, i, n, seg = [], 0, len(statement), []

    def _flush():
        out.append(_VERSIONED_REF_RE.sub(_sub, "".join(seg)))
        seg.clear()

    ts_tail = re.compile(
        r"versioned\.`[^`]+`\s+TIMESTAMP\s+AS\s+OF\s*$", re.IGNORECASE
    )
    while i < n:
        ch = statement[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n and statement[j] != ch:
                j += 2 if statement[j] == "\\" else 1
            j = min(j + 1, n)
            # a single-quoted literal completing a `TIMESTAMP AS OF`
            # clause is PART of the versioned reference, not data —
            # keep it in the substitutable segment
            if ch == "'" and ts_tail.search("".join(seg)):
                seg.append(statement[i:j])
            else:
                _flush()
                out.append(statement[i:j])
            i = j
            continue
        if ch == "-" and statement[i:i + 2] == "--":
            _flush()
            j = statement.find("\n", i)
            j = n if j == -1 else j + 1
            out.append(statement[i:j])
            i = j
            continue
        if ch == "/" and statement[i:i + 2] == "/*":
            _flush()
            j = statement.find("*/", i + 2)
            j = n if j == -1 else j + 2
            out.append(statement[i:j])
            i = j
            continue
        seg.append(ch)
        i += 1
    _flush()
    return "".join(out)


def sql(spark: SparkSession, statement: str):
    """One entry point for the whole versioned-table SQL surface —
    routes on the leading keyword:

    - ``MERGE INTO`` → :func:`merge_into`
    - ``DELETE FROM`` → :func:`delete_from`
    - ``UPDATE`` → :func:`update_table`
    - ``INSERT INTO`` → :func:`insert_into`
    - ``CREATE TABLE … AS`` → :func:`create_table_as`
    - ``RESTORE`` / ``VACUUM`` / ``OPTIMIZE`` / ``DESCRIBE HISTORY`` →
      :func:`maintenance_sql`
    - ``SELECT`` / ``WITH`` → versioned references (with optional
      ``VERSION AS OF n`` time travel) are resolved to snapshot views,
      then the statement runs through ``spark.sql`` verbatim —
      returning a DataFrame with the full SELECT surface.

    Only SELECT/WITH pass through for non-versioned tables (a SELECT
    with no ``versioned.`` reference is exactly ``spark.sql``); the
    DML/DDL/maintenance routes require a ``versioned.`` target and
    raise ValueError otherwise — this router is the versioned-table
    surface, not a general spark.sql wrapper.
    """
    kw = statement.lstrip().split(None, 1)
    if not kw:
        raise ValueError("empty statement")
    head = kw[0].upper()
    if head == "MERGE":
        return merge_into(spark, statement)
    if head == "DELETE":
        return delete_from(spark, statement)
    if head == "UPDATE":
        return update_table(spark, statement)
    if head == "INSERT":
        return insert_into(spark, statement)
    if head == "COPY":
        return copy_into_sql(spark, statement)
    if head == "CREATE":
        if _CLONE_RE.match(statement):
            return shallow_clone(spark, statement)
        return create_table_as(spark, statement)
    if head in ("RESTORE", "VACUUM", "OPTIMIZE", "DESCRIBE", "ALTER",
                "CONVERT", "FSCK", "REORG", "GENERATE", "ANALYZE",
                "REGISTER", "UNREGISTER", "REFRESH", "SHOW"):
        return maintenance_sql(spark, statement)
    if head in ("SELECT", "WITH"):
        return spark.sql(_rewrite_versioned_refs(spark, statement))
    raise ValueError(
        f"unsupported statement keyword {head!r} — supported: MERGE, "
        "DELETE, UPDATE, INSERT, CREATE, RESTORE, VACUUM, OPTIMIZE, "
        "DESCRIBE, ALTER, CONVERT, FSCK, REORG, GENERATE, REGISTER, "
        "UNREGISTER, REFRESH, SHOW, SELECT, WITH"
    )
