"""The materialize= knob (localCheckpoint | persist | off) must not
change any operator's results — it only picks the mechanism by which
multiply-referenced intermediates are evaluated once (see
operators/materialize.py for the executor-loss / local-disk trade)."""

from __future__ import annotations

import pytest

from glue_table_cache_spark.operators.dedup import connected_components
from glue_table_cache_spark.operators.materialize import materialize_frame
from glue_table_cache_spark.operators.pipeline import CurationConfig, curate
from glue_table_cache_spark.operators.similarity import semantic_dedup


def _pairs(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5)], "id_a long, id_b long"
    )


def test_materialize_frame_rejects_unknown_mode(spark):
    with pytest.raises(ValueError, match="materialize"):
        materialize_frame(_pairs(spark), "cache-forever")


@pytest.mark.parametrize("mode", ["persist", "off"])
def test_connected_components_modes_match_default(spark, mode):
    want = sorted(
        map(tuple, connected_components(_pairs(spark)).collect())
    )
    got = sorted(
        map(
            tuple,
            connected_components(_pairs(spark), materialize=mode).collect(),
        )
    )
    assert got == want
    assert want == [(1, 1), (2, 1), (3, 1), (5, 5), (10, 10), (11, 10)]


@pytest.mark.parametrize("mode", ["persist", "off"])
def test_curate_modes_match_default(spark, docs_corpus, mode):
    cfg = CurationConfig(min_quality=0.0, dedup_threshold=0.5)
    want = sorted(r.doc_id for r in curate(docs_corpus, cfg).collect())
    cfg2 = CurationConfig(
        min_quality=0.0, dedup_threshold=0.5, materialize=mode
    )
    got = sorted(r.doc_id for r in curate(docs_corpus, cfg2).collect())
    assert got == want and len(want) > 0


@pytest.fixture()
def docs_corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "a completely different document about spark optimization"),
        (4, "yet another unrelated piece of text with its own words"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("mode", ["persist", "off"])
def test_semantic_dedup_modes_match_default(spark, mode):
    vecs = [
        (i, [float((i * 7 + d * 3) % 11) for d in range(8)])
        for i in range(20)
    ] + [(100, [7.0, 10.0, 2.0, 5.0, 8.0, 0.0, 3.0, 6.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    want = sorted(
        map(tuple, semantic_dedup(df, nlist=4, threshold=0.99).collect())
    )
    got = sorted(
        map(
            tuple,
            semantic_dedup(
                df, nlist=4, threshold=0.99, materialize=mode
            ).collect(),
        )
    )
    assert got == want
