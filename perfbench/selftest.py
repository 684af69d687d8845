"""Checker self-test: every workload's checker accepts a right answer
and rejects a corrupted one (a row dropped, an aggregate off by one, a
duplicate, a pack over its budget).  Needs the generated inputs, not
Spark:

    python3 perfbench/run.py --selftest [--seed N]
"""

from __future__ import annotations

import copy
import json

import checks
import gen


def _cases(model: dict, docs: list[dict]):
    """(label, checker, right answer, [corrupted answers])."""
    st = model["point"][0]
    right = [dict(st["expect"])]
    yield (
        "point",
        lambda rows: checks.check_point(rows, st["expect"], "point"),
        right,
        [[], [{**right[0], "n": right[0]["n"] - 1}], [{**right[0], "s": right[0]["s"] + 1}]],
    )
    for name, exp in model["analytic"]["expect"].items():
        rows = exp["rows"]
        bumped = copy.deepcopy(rows)
        row = bumped[0]
        ints = [i for i, v in enumerate(row) if isinstance(v, int) and not isinstance(v, bool)]
        if ints:
            row[ints[-1]] += 1
        else:
            f = next(i for i, v in enumerate(row) if isinstance(v, float))
            row[f] *= 1.000001
        yield (
            f"analytic.{name}",
            lambda got, w=rows, n=name: checks.check_rows(got, w, n),
            rows,
            [rows[:-1], bumped],
        )
    budget = 64
    right = _reference_curate(docs, budget)
    dup_text = next(d for d in docs if d["doc_id"] not in {r["doc_id"] for r in right}
                    and checks.normalise(d["text"]) in {checks.normalise(docs[r["doc_id"]]["text"]) for r in right})
    over = copy.deepcopy(right)
    over[1]["pack_offset"] += 1
    yield (
        "curate",
        lambda rows: checks.check_curate(docs, rows, budget),
        right,
        [right[1:], right + [dict(right[0])], right + [{**right[0], "doc_id": dup_text["doc_id"]}], over],
    )
    for i, step in enumerate(model["lakehouse"]["steps"]):
        if "metrics" in step:
            m = step["metrics"]
            key = max(m, key=lambda k: m[k])
            yield (
                f"lakehouse.{i}",
                lambda rows, m=m: checks.check_dml(rows, m, "dml"),
                [dict(m)],
                [[{**m, key: m[key] + 1}], []],
            )
        else:
            rows = step["rows"]
            yield (
                f"lakehouse.{i}",
                lambda got, w=rows: checks.check_state(got, w, "state"),
                rows,
                [rows[1:], [rows[0][:2] + [rows[0][2] + 1]] + rows[1:]],
            )


def _reference_curate(docs: list[dict], budget: int) -> list[dict]:
    """A right ``curate()`` answer built from the properties alone: the
    first document of each normalised text, packed per source."""
    seen, out = set(), []
    for d in sorted(docs, key=lambda d: d["doc_id"]):
        key = checks.normalise(d["text"])
        if key not in seen:
            seen.add(key)
            out.append({"doc_id": d["doc_id"], "source": d["source"], "n_tokens": len(d["text"].split())})
    before: dict[str, int] = {}
    for r in out:
        b = before.get(r["source"], 0)
        r["pack_id"], r["pack_offset"] = divmod(b, budget)
        before[r["source"]] = b + r["n_tokens"]
    return out


def main(seed: int) -> int:
    import pyarrow.parquet as pq

    data = gen.ensure(seed)
    model = json.loads((data / "model.json").read_text())
    docs = pq.read_table(data / "tpch" / "documents.parquet").to_pylist()
    bad = 0
    n = 0
    for label, check, right, corrupted in _cases(model, docs):
        if check(right):
            print(f"{label}: rejects the right answer: {check(right)}")
            bad += 1
        for j, wrong in enumerate(corrupted):
            n += 1
            problems = check(wrong)
            if not problems:
                print(f"{label}: accepts corruption {j}")
                bad += 1
    print(f"selftest: {n} corrupted answers, {bad} problems")
    return 1 if bad else 0
