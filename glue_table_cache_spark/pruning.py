"""Conservative partition-filter extraction and pruning.

Role parity with the reference's ``extractPartitionFilters`` +
``createGlueTableFilesVarSql`` (/root/reference/src/sql-transformer.ts:173-281,
/root/reference/src/glue-table-cache.ts:217-240,323-333): harvest
partition-key predicates from the query's WHERE clause and use them to
shrink the file list before the scan.

Two deliberate fixes over the reference (SURVEY.md §2.D):

1. **Boolean structure is preserved.**  The reference flattens OR
   branches and re-joins all harvested filters with AND
   (`src/glue-table-cache.ts:330`), so ``year='2024' OR year='2023'``
   would prune to zero files.  Here predicates form a tree, and any
   subtree we cannot evaluate exactly degrades to *keep-the-file*
   (``TruePredicate``) — pruning is an optimization, never a filter of
   record; the full WHERE still executes over the scanned data.
2. Extraction still reads only the top-level WHERE (like the reference,
   `src/sql-transformer.ts:187-190`): hive-layout scans hand Spark the
   listed files with ``basePath``, so Catalyst's
   PruneFileSourcePartitions still prunes them at any depth; this layer
   shrinks the listing and the file list before that.

Parsing uses DuckDB's ``json_serialize_sql`` — the very parser/AST the
reference builds on (`src/sql-transformer.ts:13-25`) — imported lazily;
when unavailable, extraction returns "no pruning" and correctness is
unaffected.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any

from glue_table_cache_spark.listing import FileInfo
from glue_table_cache_spark.transformer import serialize_sql

# --------------------------------------------------------------------------
# Predicate tree
# --------------------------------------------------------------------------


class Predicate:
    """Evaluates against one file's partition values with THREE-VALUED
    logic: ``True`` / ``False`` / ``None`` (Unknown — the value is
    missing or uncoercible).  Pruning keeps every file that does not
    evaluate to a definite ``False``, and crucially ``Not(Unknown)``
    stays Unknown, so negation can never flip a conservative keep into
    a drop.  ``exact`` means the node is a faithful translation of the
    SQL (safe to negate); inexact nodes over-approximate to True."""

    exact: bool = True

    def evaluate(
        self, values: dict[str, str]
    ) -> bool | None:  # pragma: no cover
        raise NotImplementedError


@dataclass(frozen=True)
class TruePredicate(Predicate):
    """Keep the file — used for anything we can't evaluate safely."""

    exact: bool = False

    def evaluate(self, values: dict[str, str]) -> bool | None:
        return True


@dataclass(frozen=True)
class UnknownPredicate(Predicate):
    """A subtree undecidable from partition values alone (data-column
    conjunct, unsupported expression, parse gap) — evaluates Unknown
    ALWAYS.  Used by strict mode (:func:`extract_proof_predicate`),
    where Kleene logic makes partial evaluation SOUND for full-match
    proofs: ``And(True, Unknown)`` is Unknown (no proof — pruning mode
    would have dropped the conjunct and over-claimed True), while
    ``Or(True, Unknown)`` is True (a real proof — the decided branch
    alone satisfies every row)."""

    exact: bool = False

    def evaluate(self, values: dict[str, str]) -> bool | None:
        return None


_OPS = {
    "COMPARE_EQUAL": lambda a, b: a == b,
    "COMPARE_NOTEQUAL": lambda a, b: a != b,
    "COMPARE_GREATERTHAN": lambda a, b: a > b,
    "COMPARE_LESSTHAN": lambda a, b: a < b,
    "COMPARE_GREATERTHANOREQUALTO": lambda a, b: a >= b,
    "COMPARE_LESSTHANOREQUALTO": lambda a, b: a <= b,
}


def _coerce(value: str | None, const: Any) -> Any | None:
    """Partition values are path-extracted strings
    (/root/reference/src/util/s3.ts:15-25).  Compare numerically when the
    SQL constant is numeric, else as strings.  ``None`` → not comparable
    (missing value or bad cast) → caller keeps the file."""
    if value is None:
        return None
    if isinstance(const, bool):
        return None
    if isinstance(const, (int, float)):
        try:
            return float(value)
        except ValueError:
            return None
    if isinstance(const, str):
        return value
    return None


@dataclass(frozen=True)
class Comparison(Predicate):
    column: str
    op: str  # key into _OPS
    const: Any

    def evaluate(self, values: dict[str, str]) -> bool | None:
        v = _coerce(values.get(self.column), self.const)
        if v is None:
            return None  # Unknown: missing or uncoercible value
        c = float(self.const) if isinstance(self.const, (int, float)) else self.const
        return _OPS[self.op](v, c)


@dataclass(frozen=True)
class InList(Predicate):
    column: str
    consts: tuple
    negated: bool = False

    def evaluate(self, values: dict[str, str]) -> bool | None:
        raw = values.get(self.column)
        if raw is None:
            return None
        hit = False
        for c in self.consts:
            v = _coerce(raw, c)
            if v is None:
                return None
            cc = float(c) if isinstance(c, (int, float)) else c
            if v == cc:
                hit = True
                break
        return (not hit) if self.negated else hit


@dataclass(frozen=True)
class And(Predicate):
    children: tuple

    @property
    def exact(self) -> bool:  # type: ignore[override]
        return all(c.exact for c in self.children)

    def evaluate(self, values: dict[str, str]) -> bool | None:
        # Kleene AND: any False → False; else any Unknown → Unknown
        unknown = False
        for c in self.children:
            r = c.evaluate(values)
            if r is False:
                return False
            if r is None:
                unknown = True
        return None if unknown else True


@dataclass(frozen=True)
class Or(Predicate):
    children: tuple

    @property
    def exact(self) -> bool:  # type: ignore[override]
        return all(c.exact for c in self.children)

    def evaluate(self, values: dict[str, str]) -> bool | None:
        # Kleene OR: any True → True; else any Unknown → Unknown
        unknown = False
        for c in self.children:
            r = c.evaluate(values)
            if r is True:
                return True
            if r is None:
                unknown = True
        return None if unknown else False


@dataclass(frozen=True)
class Not(Predicate):
    child: Predicate

    def evaluate(self, values: dict[str, str]) -> bool | None:
        r = self.child.evaluate(values)
        return None if r is None else not r


# --------------------------------------------------------------------------
# Extraction from the DuckDB JSON AST
# --------------------------------------------------------------------------


def parse_where_clause(sql: str) -> dict | None:
    """Top-level WHERE node of statement 0, via DuckDB's
    ``json_serialize_sql`` (the reference's parser,
    /root/reference/src/sql-transformer.ts:13-25).  Returns None when
    duckdb is unavailable, the SQL fails to parse, or there is no WHERE."""
    try:
        doc = json.loads(serialize_sql(sql))
    except Exception:
        return None
    if doc.get("error"):
        return None
    stmts = doc.get("statements") or []
    if not stmts:
        return None
    node = stmts[0].get("node") or {}
    # CTEs keep the WHERE on the outer SELECT node itself
    return node.get("where_clause")


def _constant(node: dict) -> tuple[Any, bool]:
    """(value, ok) for a CONSTANT node; only VARCHAR/integer/decimal
    constants are extractable (matching the reference's comparison
    surface, /root/reference/src/sql-transformer.ts:264-281)."""
    if node.get("class") == "CAST":
        # DATE '2017-12-01' / TIMESTAMP '…' literals parse as
        # CAST(VARCHAR AS DATE/TIMESTAMP); the ISO string child is
        # exactly the comparison form partition values use, so unwrap
        # it.  Other casts stay unextractable (coercion semantics
        # differ from string compare).
        cast_to = ((node.get("cast_type") or {}).get("id") or "").upper()
        if cast_to in ("DATE", "TIMESTAMP", "TIMESTAMP WITH TIME ZONE",
                       "TIMESTAMP_TZ", "TIMESTAMP_S", "TIMESTAMP_MS",
                       "TIMESTAMP_NS"):
            child = node.get("child") or {}
            v, ok = _constant(child)
            if ok and isinstance(v, str):
                return v, True
        return None, False
    if node.get("class") != "CONSTANT":
        return None, False
    val = node.get("value") or {}
    if val.get("is_null"):
        return None, False
    type_id = ((val.get("type") or {}).get("id") or "").upper()
    v = val.get("value")
    if type_id == "VARCHAR" and isinstance(v, str):
        return v, True
    if type_id in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
                   "USMALLINT", "UINTEGER", "UBIGINT"):
        return int(v), True
    if type_id in ("FLOAT", "DOUBLE"):
        return float(v), True
    if type_id == "DECIMAL":
        try:
            return float(v), True
        except (TypeError, ValueError):
            return None, False
    return None, False


def _column_ref(node: dict) -> tuple[str | None, str | None]:
    """(column, qualifier) for a COLUMN_REF node."""
    if node.get("class") != "COLUMN_REF":
        return None, None
    names = node.get("column_names") or []
    if len(names) == 1:
        return names[0], None
    if len(names) >= 2:
        return names[-1], names[-2]
    return None, None


def _qualifier_ok(qualifier: str | None, table_idents: set[str]) -> bool:
    """Unqualified columns are assumed to belong to the target table,
    exactly as the reference assumes (it matches by key name only,
    /root/reference/src/sql-transformer.ts:218-243); qualified columns
    must name the table or its alias."""
    return qualifier is None or qualifier.lower() in table_idents


def build_predicate(
    node: dict | None,
    partition_keys: set[str],
    table_idents: set[str],
    _degraded: list | None = None,
    strict: bool = False,
) -> Predicate:
    """AST → conservative predicate over ``partition_keys``.

    Two modes, two SOUNDNESS CONTRACTS:

    - **Pruning** (default): anything unrecognized degrades to
      TruePredicate (keep the file), and an AND drops such conjuncts
      entirely — the tree OVER-approximates, which is safe when the
      only action on True is "scan the file anyway".  ``evaluate() is
      True`` here means "might match", never "all rows match":
      ``p = 'a' AND id >= 3`` prunes to ``p = 'a'``.
    - **Strict** (``strict=True``): unrecognized subtrees become
      :class:`UnknownPredicate` and are KEPT, and OR/NOT accept
      inexact children — Kleene three-valued evaluation then makes
      partial evaluation sound for FULL-MATCH PROOFS: a True result
      never depends on an Unknown leaf, so ``evaluate(pv) is True``
      proves the predicate row-true for every row of the file.
      ``p = 'a' AND id >= 3`` yields Unknown on the p=a file (no
      proof), while ``p = 'a' OR (p = 'b' AND id >= 3)`` still proves
      p=a files full.

    ``_degraded`` (when given) records every degradation event — any
    subtree that fell back to TruePredicate/UnknownPredicate,
    including ones later stripped from an AND in pruning mode."""

    def _true() -> Predicate:
        if _degraded is not None:
            _degraded.append(True)
        return UnknownPredicate() if strict else TruePredicate()

    def _recurse(child_node: dict | None) -> Predicate:
        return build_predicate(
            child_node, partition_keys, table_idents, _degraded, strict
        )

    if not node:
        return _true()
    cls, typ = node.get("class"), node.get("type")

    if cls == "CONJUNCTION":
        kids = tuple(
            _recurse(c) for c in node.get("children") or []
        )
        if typ == "CONJUNCTION_AND":
            kept = tuple(k for k in kids if not isinstance(k, TruePredicate))
            return And(kept) if kept else _true()
        if typ == "CONJUNCTION_OR":
            if strict:
                # Kleene OR is sound with Unknown branches: True only
                # when a DECIDED branch is True
                return Or(kids) if kids else _true()
            # pruning: an OR is only usable when EVERY branch is exact
            # — the fix for the reference's OR→AND hazard (SURVEY
            # §2.D.1); an inexact branch would make the whole OR an
            # under-approximation if dropped, so keep-the-file
            if kids and all(k.exact for k in kids):
                return Or(kids)
            return _true()
        return _true()

    if cls == "COMPARISON" and typ in _OPS:
        left, right = node.get("left") or {}, node.get("right") or {}
        col, qual = _column_ref(left)
        const, ok = _constant(right)
        if col is None and ok is False:
            # try the flipped form: const <op> col
            col, qual = _column_ref(right)
            const, ok = _constant(left)
            typ = _flip(typ)
        if (
            col
            and ok
            and col.lower() in partition_keys
            and _qualifier_ok(qual, table_idents)
        ):
            return Comparison(column=col.lower(), op=typ, const=const)
        return _true()

    if cls == "OPERATOR" and typ in ("COMPARE_IN", "COMPARE_NOT_IN"):
        children = node.get("children") or []
        if not children:
            return _true()
        col, qual = _column_ref(children[0])
        consts = []
        for c in children[1:]:
            v, ok = _constant(c)
            if not ok:
                return _true()
            consts.append(v)
        if (
            col
            and consts
            and col.lower() in partition_keys
            and _qualifier_ok(qual, table_idents)
        ):
            return InList(
                column=col.lower(),
                consts=tuple(consts),
                negated=(typ == "COMPARE_NOT_IN"),
            )
        return _true()

    if cls == "OPERATOR" and typ == "OPERATOR_NOT":
        children = node.get("children") or []
        if len(children) == 1:
            child = _recurse(children[0])
            # pruning: negating an over-approximation would turn
            # keep-the-file into drop-the-file — only exact children
            # may flip.  strict: Not(Unknown) stays Unknown (Kleene),
            # so negation is always safe there.
            if strict or child.exact:
                return Not(child)
        return _true()

    if cls == "BETWEEN":
        col, qual = _column_ref(node.get("input") or {})
        lo, ok1 = _constant(node.get("lower") or {})
        hi, ok2 = _constant(node.get("upper") or {})
        if (
            col
            and ok1
            and ok2
            and col.lower() in partition_keys
            and _qualifier_ok(qual, table_idents)
        ):
            return And(
                (
                    Comparison(col.lower(), "COMPARE_GREATERTHANOREQUALTO", lo),
                    Comparison(col.lower(), "COMPARE_LESSTHANOREQUALTO", hi),
                )
            )
        return _true()

    return _true()


def _flip(op: str) -> str:
    return {
        "COMPARE_GREATERTHAN": "COMPARE_LESSTHAN",
        "COMPARE_LESSTHAN": "COMPARE_GREATERTHAN",
        "COMPARE_GREATERTHANOREQUALTO": "COMPARE_LESSTHANOREQUALTO",
        "COMPARE_LESSTHANOREQUALTO": "COMPARE_GREATERTHANOREQUALTO",
    }.get(op, op)


def extract_partition_predicate(
    sql: str,
    partition_keys: list[str],
    table_idents: set[str],
) -> Predicate:
    """End-to-end: SQL text → conservative predicate for one table."""
    where = parse_where_clause(sql)
    return build_predicate(
        where, {k.lower() for k in partition_keys},
        {t.lower() for t in table_idents},
    )


def extract_proof_predicate(
    sql: str,
    partition_keys: list[str],
    table_idents: set[str],
) -> Predicate | None:
    """Strict-mode translation of the WHERE clause for FULL-MATCH
    PROOFS, or ``None`` when there is no parseable WHERE at all.

    The difference from :func:`extract_partition_predicate` is the
    soundness contract, not the tree shape: pruning may
    over-approximate (drop an ``id >= 3`` conjunct and keep more files
    — safe), but a proof that "every row of this file satisfies the
    predicate" (the metadata-only DELETE fast path) may not.  Here
    undecidable subtrees stay in the tree as
    :class:`UnknownPredicate` and Kleene evaluation guarantees a True
    result never depends on one: ``p = 'a' AND id >= 3`` evaluates
    Unknown everywhere (no proof, scan instead), while
    ``p = 'a' OR (p = 'b' AND id >= 3)`` still proves p=a files full.
    ``evaluate(pv) is True`` on the returned tree IS a row-level
    proof; False/Unknown both mean "scan the file"."""
    where = parse_where_clause(sql)
    if where is None:
        return None
    return build_predicate(
        where,
        {k.lower() for k in partition_keys},
        {t.lower() for t in table_idents},
        strict=True,
    )


def prune_files(files: list[FileInfo], predicate: Predicate) -> list[FileInfo]:
    """Apply the predicate to a listing (reference executes the same idea
    as ``SET VARIABLE … = (SELECT list(path) FROM listing WHERE …)``,
    /root/reference/src/glue-table-cache.ts:323-333)."""
    if isinstance(predicate, TruePredicate):
        return files
    # keep on True AND on Unknown — only a definite False drops a file
    return [
        f for f in files if predicate.evaluate(f.partition_values) is not False
    ]
