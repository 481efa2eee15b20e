"""SQL-text DML front door for the versioned layer: the three DML
statements a Delta/lakehouse notebook user reaches for —

    MERGE INTO <target> [AS] t USING <source> [AS] s ON t.k = s.k [AND …]
        WHEN MATCHED [AND <cond>] THEN UPDATE SET * | THEN DELETE
        [WHEN NOT MATCHED [AND <cond>] THEN INSERT *]
        [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE
                                                | THEN UPDATE SET c = e, …]
    UPDATE <target> SET c = e[, …] WHERE <pred>
    DELETE FROM <target> WHERE <pred> [KEY (k[, …])]

— parsed by Spark's own SQL parser (Catalyst ``parsePlan``) and
lowered onto the existing verbs (`merge_version`, `update_where`,
`delete_where`), so every execution path (copy-on-write, zonemap
pruning, CDF sidecars, optimistic concurrency) is the one the verbs
already pin, and strings, escapes, BETWEEN…AND and CASE…WHEN inside a
clause parse exactly as in Spark SQL.

Table references are versioned-table DIRECTORIES (a MERGE source may
also be a plain parquet path) written ``'path'``, `` `path` `` or
bare. Catalyst takes a path only as a backticked identifier, so the
table slots of each form, anchored at the statement start, are
backticked before parsing. DELETE's ``KEY (…)`` clause is not SQL: it
is stripped only when it ends the statement (a predicate may name a
column ``key``).

Conditions and SET expressions reach the verbs as the statement's own
text, sliced at the positions the parser reports; ``t.``/``s.`` are
respliced to ``target.``/``source.`` only where the parser found a
qualified column, so literals are never touched. Anything outside the
forms refuses with a ValueError (a ParseException included): a silent
misparse of DML would corrupt data.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession

from tms_etl_spark.operators.versioned import (
    _catalyst_tree,
    _flatten,
    _name_parts,
    _node_kind,
)
from tms_etl_spark.sources.fs import path_exists

# a table reference: 'quoted path', `quoted path`, or a bare token
# (path-ish characters allowed so /tmp/t works unquoted)
_REF = r"(?:'[^']+'|`[^`]+`|[^\s'`]+)"
# statement head -> (its table slots, the refusal naming the form)
_FORMS = {
    "UPDATE": (
        rf"UPDATE\s+({_REF})\s+SET\s",
        "want: UPDATE <table_dir> SET c = e[, …] WHERE <pred>",
    ),
    "DELETE": (
        rf"DELETE\s+FROM\s+({_REF})\s+WHERE\s",
        "want: DELETE FROM <table_dir> WHERE <pred> [KEY (k[, …])]",
    ),
    "MERGE": (
        rf"MERGE\s+INTO\s+({_REF})(?:\s+(?:AS\s+)?(?!USING\b)\w+)?"
        rf"\s+USING\s+({_REF})\s",
        "want: MERGE INTO <table_dir> [AS] t USING <source> [AS] s "
        "ON t.k = s.k [AND …] WHEN …",
    ),
}
_KEY_SUFFIX = re.compile(r"\s+KEY\s*\(([^()]*)\)\s*$", re.IGNORECASE)


def _parse_plan(spark: SparkSession, sql: str, refusal: str):
    """(JVM plan, nested JSON tree) of one statement; a Catalyst
    ParseException refuses as a ValueError prefixed ``refusal``."""
    from pyspark.errors import ParseException

    try:
        jplan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    except ParseException as e:
        raise ValueError(f"{refusal}: {e}") from e
    return jplan, _catalyst_tree(json.loads(jplan.toJSON()))


def _text(sql: str, jexpr, aliases: dict[str, str]) -> str:
    """The statement's own text of a parsed expression, the qualifier
    of each column qualified by an ``aliases`` key respliced to its
    mapped name at the position the parser reports for the column."""
    origin = jexpr.origin()
    start, stop = origin.startIndex().get(), origin.stopIndex().get() + 1
    if not aliases:
        return sql[start:stop]
    # toJSON and collectLeaves both list the tree in pre-order
    leaves = [n for n in json.loads(jexpr.toJSON()) if not n["num-children"]]
    hits = [
        (i, parts[0])
        for i, n in enumerate(leaves)
        if len(parts := _name_parts(n) or []) > 1
        and parts[0].lower() in aliases
    ]
    jleaves = jexpr.collectLeaves() if hits else None
    out, pos = [], start
    for i, q in hits:
        p = jleaves.apply(i).origin().startIndex().get()
        dot = sql.index(".", p + len(q) + (2 if sql[p] == "`" else 0))
        out += [sql[pos:p], aliases[q.lower()], "."]
        pos = dot + 1
    out.append(sql[pos:stop])
    return "".join(out)


def _assignments(sql: str, jassigns, aliases: dict[str, str]) -> dict:
    """{column: expression text} of a parsed SET list."""
    out: dict[str, str] = {}
    for i in range(jassigns.size()):
        a = jassigns.apply(i)
        parts = _name_parts(json.loads(a.toJSON())[1]) or ["?"]
        if len(parts) != 1:
            raise ValueError(f"bad SET column {'.'.join(parts)!r}")
        out[parts[0]] = _text(sql, a.value(), aliases)
    return out


def _parse_assignments(spark: SparkSession, s: str) -> dict[str, str]:
    """``c1 = e1, c2 = e2`` → {c1: "e1", c2: "e2"}, split by Catalyst
    as an UPDATE's SET list — the one assignment grammar of every DML
    front door (SQL text, the CLI's ``--set``/``--sync-update-set``)."""
    sql = f"UPDATE t SET {s}"
    refusal = f"bad SET assignment {s!r} (want col = expr[, …])"
    jplan, plan = _parse_plan(spark, sql, refusal)
    if "condition" in plan:
        raise ValueError(refusal)
    return _assignments(sql, jplan.assignments(), {})


def _is_versioned_dir(spark: SparkSession, path: str) -> bool:
    return path_exists(spark, f"{path}/_manifests")


def _load_source(spark: SparkSession, path: str) -> DataFrame:
    """A MERGE source: versioned table dir (snapshot read) or plain
    parquet path."""
    from tms_etl_spark.operators.versioned import read_version

    if _is_versioned_dir(spark, path):
        return read_version(spark, path)
    if path_exists(spark, path):
        return spark.read.parquet(path)
    raise ValueError(
        f"MERGE source {path!r} is neither a versioned table dir nor "
        "an existing parquet path"
    )


def _target_dir(spark: SparkSession, path: str) -> str:
    if not _is_versioned_dir(spark, path):
        raise ValueError(
            f"DML target {path!r} is not a versioned table dir (no "
            "_manifests/) — only versioned tables take SQL DML"
        )
    return path


def _on_keys(cond: dict, t_alias: str, s_alias: str) -> list[str]:
    """ON must be a conjunction of same-named equi-joins
    (``t.c = s.c``) — that is what `merge_version` keys mean. Any
    other shape refuses."""
    ta, sa = t_alias.lower(), s_alias.lower()
    keys: list[str] = []
    for conj in _flatten(cond, "And"):
        sides = [_name_parts(k) or [] for k in conj["kids"]]
        if _node_kind(conj) != "EqualTo" or any(len(p) != 2 for p in sides):
            raise ValueError(
                f"unsupported ON conjunct — want {t_alias}.col = "
                f"{s_alias}.col [AND …]"
            )
        pair = {p[0].lower(): p[1] for p in sides}
        if set(pair) != {ta, sa} or pair[ta] != pair[sa]:
            raise ValueError(
                f"unsupported ON conjunct {'.'.join(sides[0])} = "
                f"{'.'.join(sides[1])} — MERGE keys must be same-named "
                "columns equated across the two aliases"
            )
        keys.append(pair[ta])
    return keys


def sql_dml(
    spark: SparkSession,
    sql: str,
    key: str | list[str] | None = None,
    txn_id: str | None = None,
    commit_retries: int = 0,
) -> int:
    """Execute ONE DML statement (forms in the module docstring)
    against a versioned table and return the committed version.
    ``key`` backs DELETE's vector key when the statement has no
    ``KEY (…)`` suffix; MERGE/UPDATE ignore it."""
    from tms_etl_spark.operators.versioned import (
        delete_where,
        merge_version,
        update_where,
    )

    stmt = sql.strip().rstrip(";").strip()
    head = stmt.split(None, 1)[0].upper() if stmt else ""
    if head not in _FORMS:
        raise ValueError(
            f"unsupported DML statement {head or sql!r} — sql_dml takes "
            "MERGE INTO / UPDATE / DELETE FROM"
        )
    km = _KEY_SUFFIX.search(stmt) if head == "DELETE" else None
    if km:
        key = [c.strip() for c in km.group(1).split(",")]
        stmt = stmt[: km.start()]
    slots, want = _FORMS[head]
    m = re.match(slots, stmt, re.IGNORECASE)
    if not m:
        raise ValueError(want)
    refs = [m.group(g) for g in range(1, m.lastindex + 1)]
    paths = [r[1:-1] if r[0] in "'`" else r for r in refs]
    text, pos = "", 0
    for g, path in enumerate(paths, 1):
        text += stmt[pos : m.start(g)] + "`" + path.replace("`", "``") + "`"
        pos = m.end(g)
    text += stmt[pos:]
    jplan, plan = _parse_plan(spark, text, "unparseable DML statement")

    if head == "UPDATE":
        if "condition" not in plan:
            raise ValueError(
                "UPDATE requires a WHERE clause (a full-table update "
                "should say WHERE true explicitly)"
            )
        return update_where(
            spark,
            _target_dir(spark, paths[0]),
            _text(text, jplan.condition().get(), {}),
            _assignments(text, jplan.assignments(), {}),
            txn_id=txn_id,
            commit_retries=commit_retries,
        )

    if head == "DELETE":
        if not key:
            raise ValueError(
                "DELETE lowers onto a key-level deletion vector — name "
                "the key: a KEY (col[, …]) suffix or the key= argument"
            )
        if isinstance(key, list) and len(key) == 1:
            key = key[0]
        return delete_where(
            spark,
            _target_dir(spark, paths[0]),
            _text(text, jplan.condition(), {}),
            key,
            txn_id=txn_id,
            commit_retries=commit_retries,
        )

    tgt, src = plan["kids"]
    if {_node_kind(tgt), _node_kind(src)} != {"SubqueryAlias"}:
        raise ValueError("MERGE target and source need aliases")
    ta, sa = tgt["identifier"]["name"], src["identifier"]["name"]
    if ta.lower() == sa.lower():
        raise ValueError(
            f"MERGE target and source share the alias {ta!r} — "
            "every qualified reference would be ambiguous; use "
            "distinct aliases"
        )
    keys = _on_keys(_catalyst_tree(plan["mergeCondition"]), ta, sa)
    aliases = {ta.lower(): "target", sa.lower(): "source"}

    def clause(field: str, label: str):
        """(action kind, condition text, JVM action) of the single
        clause of list ``field``; Nones when there is none."""
        if len(plan[field]) > 1:
            raise ValueError(f"multiple {label} clauses")
        if not plan[field]:
            return None, None, None
        act, jact = plan[field][0][0], getattr(jplan, field)().apply(0)
        if "condition" not in act:
            return _node_kind(act), None, jact
        return (
            _node_kind(act), _text(text, jact.condition().get(), aliases), jact
        )

    m_kind, m_cond, _ = clause("matchedActions", "WHEN MATCHED")
    i_kind, i_cond, _ = clause("notMatchedActions", "WHEN NOT MATCHED")
    b_kind, b_cond, b_jact = clause(
        "notMatchedBySourceActions", "WHEN NOT MATCHED BY SOURCE"
    )
    if m_kind not in (None, "UpdateStarAction", "DeleteAction"):
        raise ValueError(
            f"unsupported MATCHED action {m_kind} (want UPDATE SET * or "
            "DELETE — merge_version replaces the whole row)"
        )
    if i_kind not in (None, "InsertStarAction"):
        raise ValueError(
            f"unsupported NOT MATCHED action {i_kind} (want INSERT *)"
        )
    if m_kind is None and i_kind is None:
        raise ValueError("MERGE needs WHEN MATCHED and/or WHEN NOT MATCHED")
    when_matched = "delete" if m_kind == "DeleteAction" else "update"
    if when_matched == "delete" and i_kind:
        raise ValueError(
            "WHEN MATCHED THEN DELETE cannot combine with WHEN "
            "NOT MATCHED THEN INSERT (split into two statements)"
        )
    return merge_version(
        spark,
        _target_dir(spark, paths[0]),
        _load_source(spark, paths[1]),
        keys if len(keys) > 1 else keys[0],
        when_matched=when_matched,
        txn_id=txn_id,
        # an INSERT-only merge keeps every matched target row
        when_matched_condition=m_cond if m_kind else "false",
        # no NOT MATCHED clause: unmatched source rows do NOT insert
        # (Delta semantics; merge_version inserts by default)
        when_not_matched_condition=(
            i_cond if i_kind else ("false" if when_matched == "update" else None)
        ),
        when_not_matched_by_source=(
            {"DeleteAction": "delete", "UpdateAction": "update"}.get(b_kind)
        ),
        when_not_matched_by_source_condition=b_cond,
        when_not_matched_by_source_set=(
            _assignments(text, b_jact.assignments(), aliases)
            if b_kind == "UpdateAction"
            else None
        ),
        commit_retries=commit_retries,
    )
