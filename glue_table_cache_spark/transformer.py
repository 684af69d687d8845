"""Resolve ``glue.<db>.<table>`` references in a SQL string and rewrite
them to engine-managed temp-view names.

Role parity with the reference's ``SqlTransformer``
(/root/reference/src/sql-transformer.ts:56-171): it finds ``BASE_TABLE``
AST nodes whose catalog is ``glue``/``GLUE`` and mutates them into
``parquet_scan(...)`` calls.  We instead rewrite each reference to the
name of a temp view the engine registers over the (pruned) file scan —
Catalyst then resolves the view, so no AST surgery or unparse step is
needed, and the rest of the query text (comments included) passes
through byte-identical.

Reference discovery uses DuckDB's parser (the reference's own,
``json_serialize_sql``) when available, falling back to a regex scan;
the textual *rewrite* is always regex-based on the exact matched span so
we never round-trip the query through another dialect's unparser.
"""

from __future__ import annotations

import functools
import json
import re
from dataclasses import dataclass

from glue_table_cache_spark.errors import InvalidQueryError

#: default schema when the reference is 2-part (``glue.tbl``), matching
#: /root/reference/src/sql-transformer.ts:69-78
DEFAULT_DATABASE = "default"

_IDENT = r'(?:"[^"]+"|`[^`]+`|[A-Za-z_][A-Za-z0-9_$-]*)'
#: the left boundary keeps ``someglue.db.tbl`` (a different catalog)
#: from matching on its ``glue.db.tbl`` suffix; it must exclude every
#: character _IDENT allows inside a bare identifier ($ and - included,
#: so ``my-glue.db.tbl`` is not split mid-identifier) plus ``.`` so a
#: dot-qualified ``othercat.glue.tbl`` never matches its trailing parts
_GLUE_REF = re.compile(
    rf'(?<![A-Za-z0-9_$\-".`.])(?P<cat>"(?:GLUE|glue)"|GLUE|glue)\s*\.\s*'
    rf"(?:(?P<db>{_IDENT})\s*\.\s*)?(?P<tbl>{_IDENT})(?!\s*\.)",
)

#: spans that must never be rewritten: single-quoted string literals
#: (with '' escapes), line comments, block comments
_MASKED_SPAN = re.compile(
    r"'(?:[^']|'')*'" r"|--[^\n]*" r"|/\*.*?\*/",
    re.DOTALL,
)


def _masked_spans(sql: str) -> list[tuple[int, int]]:
    return [m.span() for m in _MASKED_SPAN.finditer(sql)]


def _in_spans(pos: int, spans: list[tuple[int, int]]) -> bool:
    return any(a <= pos < b for a, b in spans)


@dataclass(frozen=True)
class TableReference:
    """= reference ``TableReference`` (/root/reference/src/types.ts)."""

    database: str
    table: str

    @property
    def view_name(self) -> str:
        return mangle_view_name(self.database, self.table)


def mangle_view_name(database: str, table: str) -> str:
    """``glue__<db>_<tbl>`` with dashes stripped and other specials
    underscored — same hygiene as the reference's variable-name mangling
    (/root/reference/src/sql-transformer.ts:283-293; dash test
    /root/reference/test/sql-transformer.test.ts:780-787)."""

    def clean(s: str) -> str:
        s = s.replace("-", "")
        return re.sub(r"[^A-Za-z0-9_]", "_", s)

    return f"glue__{clean(database)}_{clean(table)}".lower()


def _unquote(ident: str) -> str:
    if ident and ident[0] in '"`' and ident[-1] == ident[0]:
        return ident[1:-1]
    return ident


@functools.lru_cache(maxsize=256)
def serialize_sql(sql: str) -> str:
    """DuckDB's ``json_serialize_sql`` of ``sql``, as the JSON text.

    One statement's text is serialized by ref resolution, partition
    predicate extraction and the metadata-prune fingerprint; the cache
    makes that one DuckDB call.  Callers ``json.loads`` the text, so
    each gets its own objects.  Raises when duckdb is missing or the
    call fails (failures are not cached); a parse error is a JSON
    document with ``"error": true``."""
    import duckdb

    return duckdb.sql(
        "select json_serialize_sql(?::varchar)", params=[sql]
    ).fetchone()[0]


def _ast_refs(sql: str) -> list[TableReference] | None:
    """BASE_TABLE nodes with glue catalog, via DuckDB's AST (mirrors the
    JSONPath walk at /root/reference/src/sql-transformer.ts:69-78).
    None when the parse fails or duckdb is missing."""
    try:
        doc = json.loads(serialize_sql(sql))
    except Exception:
        return None
    if doc.get("error"):
        raise InvalidQueryError(doc.get("error_message") or "parse error")
    refs: list[TableReference] = []

    def walk(node) -> None:
        if isinstance(node, dict):
            if node.get("type") == "BASE_TABLE":
                cat = (node.get("catalog_name") or "").lower()
                schema = (node.get("schema_name") or "").lower()
                tbl = node.get("table_name") or ""
                if cat == "glue":
                    if not schema:
                        raise InvalidQueryError(
                            f"Missing database in glue reference: glue..{tbl}"
                        )
                    refs.append(TableReference(schema, tbl.lower()))
                elif schema == "glue" and not cat:
                    # 2-part ``glue.tbl`` → default database
                    refs.append(TableReference(DEFAULT_DATABASE, tbl.lower()))
            for v in node.values():
                walk(v)
        elif isinstance(node, list):
            for v in node:
                walk(v)

    walk(doc.get("statements") or [])
    return refs


def _regex_refs(sql: str) -> list[TableReference]:
    spans = _masked_spans(sql)
    refs = []
    for m in _GLUE_REF.finditer(sql):
        if _in_spans(m.start(), spans):
            continue  # inside a string literal or comment
        db = _unquote(m.group("db")) if m.group("db") else DEFAULT_DATABASE
        refs.append(TableReference(db.lower(), _unquote(m.group("tbl")).lower()))
    return refs


#: ``glue.db.t VERSION AS OF 3`` / ``glue.db.t TIMESTAMP AS OF '...'``
#: — the lakehouse time-travel clause, recognized right after a glue
#: reference (optionally ``FOR``-prefixed, the Spark SQL form)
_TRAVEL_RE = re.compile(
    r"\s+(?:FOR\s+)?(?P<kind>VERSION|TIMESTAMP)\s+AS\s+OF\s+"
    r"(?P<val>'(?:[^']|'')*'|\d+)",
    re.IGNORECASE,
)


def extract_time_travel(
    sql: str,
) -> tuple[dict[TableReference, tuple[str, object]], str]:
    """Split time-travel clauses off glue references: returns
    ``({ref: ("version", N) | ("timestamp", literal)}, stripped_sql)``.
    The stripped SQL is what executes (Spark's temp views carry no
    travel syntax); the specs steer each table's metadata walk.  Two
    references to the SAME table with DIFFERENT specs refuse — the
    engine materializes one view per table per query."""
    spans = _masked_spans(sql)
    specs: dict[TableReference, tuple[str, object]] = {}
    out = []
    last = 0
    for m in _GLUE_REF.finditer(sql):
        if _in_spans(m.start(), spans):
            continue
        t = _TRAVEL_RE.match(sql, m.end())
        if not t:
            continue
        db = _unquote(m.group("db")) if m.group("db") else DEFAULT_DATABASE
        ref = TableReference(db.lower(), _unquote(m.group("tbl")).lower())
        kind = t.group("kind").lower()
        raw = t.group("val")
        val: object = (
            int(raw) if raw.isdigit() else raw[1:-1].replace("''", "'")
        )
        spec = (kind, val)
        if ref in specs and specs[ref] != spec:
            raise InvalidQueryError(
                f"conflicting time-travel clauses for glue."
                f"{ref.database}.{ref.table}: {specs[ref]} vs {spec} "
                "— one view per table per query"
            )
        specs[ref] = spec
        out.append(sql[last : t.start()])
        last = t.end()
    out.append(sql[last:])
    return specs, "".join(out)


#: Iceberg metadata tables: ``glue.db.t.snapshots`` / ``.files`` /
#: ``.manifests`` / ``.history`` — the 4-part form only (a 3-part
#: ``glue.t.files`` keeps its existing db-named meaning).  The kind
#: word is matched case-insensitively; the base ref stays
#: case-sensitive like _GLUE_REF.
_META_REF = re.compile(
    rf'(?<![A-Za-z0-9_$\-".`.])(?P<cat>"(?:GLUE|glue)"|GLUE|glue)\s*\.\s*'
    rf"(?P<db>{_IDENT})\s*\.\s*(?P<tbl>{_IDENT})\s*\.\s*"
    rf"(?P<meta>snapshots|files|manifests|history|refs|partitions)"
    rf"(?![A-Za-z0-9_$\-])"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<ver>\d+))?",
    re.IGNORECASE,
)

#: the metadata-table kinds :func:`extract_metadata_refs` recognizes
METADATA_TABLE_KINDS = (
    "snapshots", "files", "manifests", "history", "refs",
    "partitions",
)


def extract_metadata_refs(
    sql: str, namer
) -> tuple[list[tuple[TableReference, str, str, int | None]], str]:
    """Split Iceberg metadata-table references
    (``glue.db.t.<kind> [VERSION AS OF n]`` for the kinds in
    :data:`METADATA_TABLE_KINDS` — the public Iceberg SQL inspection
    surface) off the query: each occurrence is
    replaced by ``namer(ref, kind, version)`` (a temp-view name the
    engine registers with the metadata DataFrame) and reported as
    ``(ref, kind, view_name, version)`` — ``version`` is the
    travel sequence number or None for the latest state.  Masked
    spans (strings, comments) never rewrite.  The 4-part shape
    cannot collide with the normal scan rewrite — ``_GLUE_REF``'s
    trailing lookahead rejects a following dot, so these spans are
    invisible to it (and the travel clause is consumed here, before
    Spark would choke on it)."""
    found: dict[tuple[TableReference, str, int | None], str] = {}
    spans = _masked_spans(sql)

    def sub(m: re.Match) -> str:
        if _in_spans(m.start(), spans):
            return m.group(0)
        ref = TableReference(
            _unquote(m.group("db")).lower(),
            _unquote(m.group("tbl")).lower(),
        )
        kind = m.group("meta").lower()
        ver = int(m.group("ver")) if m.group("ver") else None
        key = (ref, kind, ver)
        if key not in found:
            found[key] = namer(ref, kind, ver)
        return found[key]

    out = _META_REF.sub(sub, sql)
    return [(r, k, v, ver) for (r, k, ver), v in found.items()], out


#: ``table_changes(glue.db.t, start [, end])`` — the batch Change
#: Data Feed table-valued function (public Delta/Databricks dialect);
#: the table name may be bare or quoted ('...'/"...")
#: one TVF bound: an integer version/instant or a quoted timestamp
_TC_ARG = r"(?:\d+|'[^']*'|\"[^\"]*\")"
_TABLE_CHANGES = re.compile(
    rf"(?<![A-Za-z0-9_$])table_changes\s*\(\s*"
    rf"(?P<q>['\"]?)(?:GLUE|glue)\s*\.\s*(?P<db>{_IDENT})\s*\.\s*"
    rf"(?P<tbl>{_IDENT})(?P=q)\s*,\s*(?P<v1>{_TC_ARG})\s*"
    rf"(?:,\s*(?P<v2>{_TC_ARG})\s*)?\)",
    re.IGNORECASE,
)

#: any other table_changes(glue...) spelling (an expression argument,
#: a missing bound) — matched AFTER the real one so it can refuse
#: pointedly instead of letting the scan regex mangle the inner ref
#: into an unresolved-TVF Spark error
_TABLE_CHANGES_MALFORMED = re.compile(
    r"(?<![A-Za-z0-9_$])table_changes\s*\(\s*['\"]?(?:GLUE|glue)\s*\.",
    re.IGNORECASE,
)


def _tc_bound(tok: str) -> int | str:
    """A TVF bound token: digits → inclusive version/instant (int);
    a quoted literal → timestamp string (resolved per-format by the
    engine against commit timestamps)."""
    if tok[0] in "'\"":
        return tok[1:-1]
    return int(tok)


def extract_table_changes(
    sql: str, namer
) -> tuple[
    list[tuple[TableReference, int | str, int | str | None, str]], str
]:
    """Split ``table_changes(glue.db.t, start [, end])`` calls — the
    batch Change Data Feed TVF (public Delta dialect; bounds are
    INCLUSIVE commit versions/instants, or quoted timestamp literals
    the engine resolves against commit timestamps) — off the query:
    each call is replaced by ``namer(ref, start, end)`` (a temp-view
    name the engine registers with the CDF DataFrame) and reported as
    ``(ref, start, end, view_name)``.  Masked spans (strings,
    comments) never rewrite; a QUOTED table-name argument is fine
    because the match anchors at the unmasked function name.  Any
    OTHER ``table_changes(glue...)`` spelling (expression arguments,
    no bounds) refuses here — otherwise the inner glue ref would be
    rewritten by the normal scan regex and Spark would fail with an
    obscure unresolved-TVF error."""
    found: dict[
        tuple[TableReference, int | str, int | str | None], str
    ] = {}
    spans = _masked_spans(sql)

    def sub(m: re.Match) -> str:
        if _in_spans(m.start(), spans):
            return m.group(0)
        ref = TableReference(
            _unquote(m.group("db")).lower(),
            _unquote(m.group("tbl")).lower(),
        )
        v1 = _tc_bound(m.group("v1"))
        v2 = _tc_bound(m.group("v2")) if m.group("v2") else None
        key = (ref, v1, v2)
        if key not in found:
            found[key] = namer(ref, v1, v2)
        return found[key]

    out = _TABLE_CHANGES.sub(sub, sql)
    # positions shifted with the substitution — re-mask the result
    out_spans = _masked_spans(out)
    for m in _TABLE_CHANGES_MALFORMED.finditer(out):
        if not _in_spans(m.start(), out_spans):
            raise InvalidQueryError(
                "table_changes(glue.db.t, ...) takes an inclusive "
                "start and optional end bound, each an integer "
                "version/instant or a quoted timestamp literal "
                "('2024-01-01 00:00:00'); expressions are not "
                "supported"
            )
    return [
        (r, v1, v2, v) for (r, v1, v2), v in found.items()
    ], out


def get_query_glue_table_refs(
    sql: str, strict: bool = True
) -> list[TableReference]:
    """All distinct glue table references in the query (first-seen order).

    Raises :class:`InvalidQueryError` on empty input; with
    ``strict=True`` (default) also on SQL DuckDB's parser rejects,
    matching the reference's error surface
    (/root/reference/test/sql-transformer.test.ts:151-181).  The engine
    passes ``strict=False``: Spark is the executor there, its dialect is
    wider than DuckDB's, and Spark's own parser surfaces real errors."""
    if not sql or not sql.strip():
        raise InvalidQueryError("Empty query")
    try:
        refs = _ast_refs(sql)
    except InvalidQueryError:
        if strict:
            raise
        refs = None
    if refs is None:
        refs = _regex_refs(sql)
    seen: set[tuple[str, str]] = set()
    out = []
    for r in refs:
        key = (r.database, r.table)
        if key not in seen:
            seen.add(key)
            out.append(r)
    return out


def rewrite_query(
    sql: str,
    refs: list[TableReference],
    view_names: dict[TableReference, str] | None = None,
) -> str:
    """Replace each glue reference's text span with its view name.

    String literals and comments are never rewritten (the reference
    avoids this by mutating the AST, /root/reference/src/sql-transformer.ts:80-158;
    we mask those spans instead).  ``view_names`` overrides the default
    stable view name per reference — the engine passes per-query-unique
    names so concurrent queries can't swap each other's views.

    When the reference appears bare (no alias following), we alias the
    view back to the original table name so qualified column references
    like ``tbl.col`` keep resolving."""
    wanted = {(r.database, r.table): r for r in refs}
    names = view_names or {}
    spans = _masked_spans(sql)

    def sub(m: re.Match) -> str:
        if _in_spans(m.start(), spans):
            return m.group(0)  # inside a string literal or comment
        db = _unquote(m.group("db")) if m.group("db") else DEFAULT_DATABASE
        tbl = _unquote(m.group("tbl"))
        ref = wanted.get((db.lower(), tbl.lower()))
        if ref is None:
            return m.group(0)
        tail = sql[m.end() :]
        has_alias = re.match(r"\s+(?:AS\s+)?[A-Za-z_\"`]", tail, re.IGNORECASE)
        keyword_next = re.match(
            r"\s+(?:WHERE|GROUP|ORDER|LIMIT|OFFSET|JOIN|LEFT|RIGHT|FULL|INNER"
            r"|CROSS|ON|UNION|INTERSECT|EXCEPT|HAVING|QUALIFY|WINDOW|USING)\b",
            tail,
            re.IGNORECASE,
        )
        view = names.get(ref, ref.view_name)
        if has_alias and not keyword_next:
            return view
        # backtick-quote the generated alias: bare table names may hold
        # characters Spark's parser rejects unquoted (glue.db."order-items")
        return f"{view} AS `{tbl.lower()}`"

    return _GLUE_REF.sub(sub, sql)
