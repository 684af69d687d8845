"""Answer checks, made apart from the engine.

Each checker compares what the engine returned with an answer computed
without it (the generator's row model, DuckDB, a pandas model) or with
properties the answer must have.  Integers compare exactly, floats
within a relative tolerance; versions, file names and timestamps are
never compared.  Each checker returns a list of problems; an empty list
means the answer is right.
"""

from __future__ import annotations

import datetime as dt
import math
from collections import defaultdict

REL_TOL = 1e-9
ABS_TOL = 1e-6


def _same(got, want) -> bool:
    if isinstance(want, float) or isinstance(got, float):
        if got is None or want is None:
            return got is want
        return math.isclose(float(got), float(want), rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(got, (dt.date, dt.datetime)):
        got = got.isoformat()
    if isinstance(want, bool) or isinstance(got, bool):
        return got is want
    if isinstance(want, int) and isinstance(got, int):
        return got == want
    return got == want


def check_rows(got: list[list], want: list[list], label: str) -> list[str]:
    """Row lists in order, value by value."""
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows, expected {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_same(a, b) for a, b in zip(g, w)):
            return [f"{label}: row {i} is {g}, expected {w}"]
    return []


def check_point(got: list[dict], expect: dict, label: str) -> list[str]:
    """A point statement's single (count, sum) row, exactly."""
    if len(got) != 1:
        return [f"{label}: {len(got)} rows, expected 1"]
    row = got[0]
    if row.get("n") != expect["n"] or row.get("s") != expect["s"]:
        return [f"{label}: got n={row.get('n')} s={row.get('s')}, expected {expect}"]
    return []


def check_dml(got: list[dict], expect: dict, label: str) -> list[str]:
    """A DML metrics row's row counts (the version is not compared)."""
    if len(got) != 1:
        return [f"{label}: {len(got)} metrics rows, expected 1"]
    bad = {k: got[0].get(k) for k in expect if got[0].get(k) != expect[k]}
    return [f"{label}: metrics {bad}, expected {expect}"] if bad else []


def check_state(got: list[list], expect: list[list], label: str) -> list[str]:
    """A table's full contents against the model, order-free."""
    return check_rows(sorted(map(list, got)), expect, label)


def normalise(text: str) -> str:
    return " ".join(text.lower().split())


def check_curate(docs: list[dict], out: list[dict], budget: int, label: str = "curate") -> list[str]:
    """Properties of a ``curate()`` result: output ids unique and a
    subset of the input; at most one survivor per identical normalised
    text; packing consistent and within budget -- every document starts
    inside its pack (``0 <= pack_offset < budget``) at exactly the
    running token count of its stream."""
    problems = []
    by_id = {d["doc_id"]: d for d in docs}
    ids = [r["doc_id"] for r in out]
    if len(set(ids)) != len(ids):
        problems.append(f"{label}: duplicate output ids")
    if not set(ids) <= set(by_id):
        problems.append(f"{label}: output ids not in the input")
        return problems
    if not out:
        problems.append(f"{label}: no document survived")
    seen: dict[str, int] = {}
    for r in out:
        key = normalise(by_id[r["doc_id"]]["text"])
        if key in seen:
            problems.append(f"{label}: documents {seen[key]} and {r['doc_id']} have the same normalised text")
            break
        seen[key] = r["doc_id"]
    streams: dict[str, list[dict]] = defaultdict(list)
    for r in out:
        streams[r["source"]].append(r)
    for source, rows in streams.items():
        before = 0
        for r in sorted(rows, key=lambda r: r["doc_id"]):
            off, pid = r["pack_offset"], r["pack_id"]
            if not (0 <= off < budget) or pid * budget + off != before:
                problems.append(f"{label}: doc {r['doc_id']} packed at ({pid}, {off}), expected offset {before} of budget {budget}")
                break
            before += r["n_tokens"]
    return problems
