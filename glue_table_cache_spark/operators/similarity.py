"""Similarity search over embedding columns (`array<double>`).

Beyond-reference extension (SURVEY.md §7 P4).  Two paths:

* **brute-force cosine top-k** — the exact baseline: broadcast the
  (small) query set, score every corpus vector map-side with
  `zip_with`/`aggregate` (JVM, no Python), then one shuffle keyed on
  the query id for the per-query top-k window.  Cost O(|corpus|·|Q|·d)
  with zero candidate loss — correct at any scale where Q is small.
* **LSH-bucketed ANN** — sign-random-projection buckets (Rademacher
  hyperplanes derived deterministically from xxhash64 parities, so no
  driver-side random state); queries multi-probe neighboring buckets
  (Hamming ≤ 1) and only candidates sharing a probed bucket are scored.
  This is the 100 TB path: the corpus is hash-partitioned by bucket and
  each query touches ~(planes+1)/2^planes of it.

Both return (query_id, vec_id, cosine, rank) with cosine rounded to 6
decimals *before* ranking so ordering is reproducible across engines.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from glue_table_cache_spark.session import local_frame


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — deterministic element order.

    Inputs are widened to double *before* multiplying: float32 × float32
    in float32 loses bits relative to a double-precision product, and
    cross-engine oracles (DuckDB computes lists in double) would drift."""
    return F.aggregate(
        F.zip_with(
            a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a.cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_n(a: Column, b: Column, an: Column, bn: Column) -> Column:
    """:func:`cosine` with the norms supplied as columns — the hot-path
    form: inside a pair join, ``cosine`` re-folds ``l2_norm`` of BOTH
    sides per pair (no cross-row CSE in codegen), tripling the
    per-pair array work.  Projecting each side's norm once per ROW and
    passing it here computes the same ``dot / (an * bn)`` — identical
    subexpressions in the identical fold order, so the value (and any
    rounding of it the oracles compare) is bit-equal."""
    return dot(a, b) / (an * bn)


def embedding_stats(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(id, dim, l2_norm, mean) per vector — sanity/profiling frame."""
    v = F.col(vec_col)
    return df.select(
        F.col(id_col),
        F.size(v).alias("dim"),
        F.round(l2_norm(v), 6).alias("l2_norm"),
        F.round(
            F.aggregate(
                v.cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x
            )
            / F.size(v),
            6,
        ).alias("mean"),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (self-matches by id
    equality are excluded when query ids live in the corpus id space)."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ).withColumn("qn", l2_norm(F.col("qv")))
    )
    from glue_table_cache_spark.operators.dedup import _widen

    # widen a narrow scan before the |corpus|×|Q| map-side scoring
    # (guide §2.5) — no-op when the scan is already wide
    c = _widen(corpus).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv")))
    scored = (
        c.crossJoin(q)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_n(
                    F.col("qv"), F.col("cv"),
                    F.col("qn"), F.col("cn"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# --------------------------------------------------------------------------
# LSH (sign random projection)
# --------------------------------------------------------------------------


def srp_bucket(
    vec_col: Column, planes: int = 8, portable: bool = False
) -> Column:
    """Sign-random-projection bucket id in [0, 2^planes).  Hyperplane p
    has Rademacher weights w[p][d] = ±1 from the parity of
    xxhash64(p, d) — deterministic, identical on every executor, no
    broadcast of random matrices needed.

    ``portable=True`` derives the parity from md5 instead
    (:func:`glue_table_cache_spark.operators.dedup.portable_hash60`)
    so a DuckDB oracle rebuilds the identical hyperplanes; the default
    ``xxhash64`` parity is cheaper and stays the at-scale path."""
    from glue_table_cache_spark.operators.dedup import portable_hash60

    def signed(p: int):
        # closure factory keeps the zip_with lambda binary (PySpark infers
        # lambda arity from the Python signature)
        if portable:
            return lambda x, d: F.when(
                portable_hash60(d.cast("string"), seed=p)
                .bitwiseAND(F.lit(1)) == 1,
                x,
            ).otherwise(-x)
        return lambda x, d: F.when(
            F.xxhash64(F.lit(p), d).bitwiseAND(F.lit(1)) == 1, x
        ).otherwise(-x)

    proj = [
        F.aggregate(
            F.zip_with(
                vec_col,
                F.sequence(F.lit(0), F.size(vec_col) - 1),
                signed(p),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for p in range(planes)
    ]
    bucket = F.lit(0).cast("long")
    for p, pr in enumerate(proj):
        bucket = bucket.bitwiseOR(
            F.shiftleft(F.when(pr > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), p)
        )
    return bucket


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    portable: bool = False,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors whose SRP bucket is
    within Hamming distance 1 of the query's bucket (multi-probe).
    Recall is tunable via ``planes`` (fewer planes → bigger buckets →
    higher recall, more compute)."""
    from glue_table_cache_spark.operators.dedup import _widen

    c = (
        # widen a narrow scan before the per-row SRP bucket + norm
        # projection (guide §2.5) — no-op when the scan is already wide
        _widen(corpus)
        .select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
        )
        .withColumn("bucket", srp_bucket(F.col("cv"), planes, portable))
        .withColumn("cn", l2_norm(F.col("cv")))
    )
    qb = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
        )
        .withColumn("qbucket", srp_bucket(F.col("qv"), planes, portable))
        .withColumn("qn", l2_norm(F.col("qv")))
    )
    # multi-probe: the query's own bucket plus every 1-bit flip
    probes = F.array(
        F.col("qbucket"),
        *[
            F.col("qbucket").bitwiseXOR(F.lit(1 << p).cast("long"))
            for p in range(planes)
        ],
    )
    q = F.broadcast(
        qb.select(
            "query_id", "qv", "qn", F.explode(probes).alias("bucket")
        )
    )
    scored = (
        c.join(q, "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_n(
                    F.col("qv"), F.col("cv"),
                    F.col("qn"), F.col("cn"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# --------------------------------------------------------------------------
# IVF (inverted-file index, coarse k-means quantizer)
# --------------------------------------------------------------------------


def _centroid_rows(centroids: list[tuple[int, list[float]]]):
    return [(int(c), [float(x) for x in v]) for c, v in centroids]


def ivf_train(
    corpus: DataFrame,
    nlist: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_fraction: float | None = None,
) -> list[tuple[int, list[float]]]:
    """Train the IVF coarse quantizer: ``nlist`` centroids via Lloyd
    iterations expressed as DataFrame ops.

    Seeds are the ``nlist`` lowest-id vectors (deterministic — no
    driver random state, same posture as the SRP hyperplanes).  Each
    iteration is one broadcast-join assignment pass + one
    explode→groupBy mean pass over the corpus; only the k×d centroid
    matrix ever reaches the driver.  At 100 TB train on a sample
    (``sample_fraction``) — the quantizer needs representative
    centroids, not every row."""
    from glue_table_cache_spark.operators.dedup import _widen

    v = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    if sample_fraction:
        v = v.sample(fraction=sample_fraction, seed=7)
    # widen a narrow small-file scan before the per-row assignment
    # passes (guide §2.5): the map-only ``_ivf_assign`` inherits the
    # scan's partitioning, and one small parquet file = one split =
    # every Lloyd iteration's k×N dot products on one core.  No-op at
    # real scale (scan already has ≥ parallelism files).
    v = _widen(v)
    cents = [
        (i, list(r.v))
        for i, r in enumerate(v.orderBy("id").limit(nlist).collect())
    ]
    dim = len(cents[0][1]) if cents else 0
    for _ in range(iters):
        assigned = _ivf_assign(v, cents)
        # new centroid = per-dimension mean.  d parallel avg
        # aggregates in ONE map-side-combinable hash pass — the
        # posexplode formulation this replaces shuffled N×d rows and
        # ran two aggregations per iteration
        means = assigned.groupBy("cluster").agg(
            *[
                F.avg(F.element_at("v", i + 1)).alias(f"__m{i}")
                for i in range(dim)
            ]
        ).select(
            "cluster",
            F.array(*[f"__m{i}" for i in range(dim)]).alias("centroid"),
        )
        trained = {r.cluster: list(r.centroid) for r in means.collect()}
        # empty clusters keep their previous centroid
        cents = [(c, trained.get(c, prev)) for c, prev in cents]
    return cents


def _py_l2_norm(vec: list[float]) -> float:
    """Driver-side twin of :func:`l2_norm`: the same sequential
    left-fold over IEEE doubles (Python floats ARE doubles and ``+=``
    folds in element order), so a norm computed here is bit-equal to
    the Catalyst fold over the same values."""
    import math

    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _nearest_centroid_struct(
    centroids: list[tuple[int, list[float]]],
    vn_col: str,
    vec_col: str = "v",
    round_sim: bool = False,
):
    """Map-only argmax over the centroid list: one ``greatest`` of
    ``named_struct(sim, -cluster, cluster)`` branches, each scoring
    the row's vector against ONE literal centroid (norms precomputed
    on the driver, bit-equal to the Catalyst fold — see
    :func:`_py_l2_norm`).

    This replaces the crossJoin(k-row broadcast) → per-id argmax
    aggregate shape (guide §2.4 — remove shuffles outright): the k×
    row blowup and the corpus-wide hash aggregate (a full shuffle of
    the id+vector payload) become a single projection.  Same dots in
    the same fold order, same (sim DESC, cluster ASC) lexicographic
    tie-break (struct comparison ranks NaN the way the max_by struct
    ordering did), so the assignment and similarity are bit-equal to
    the joined shape.  ``round_sim`` applies the 6-decimal round
    BEFORE the comparison — :func:`assign_embedding_clusters`
    semantics.

    The whole expression is rendered as ONE SQL string and parsed
    JVM-side by a single ``F.expr`` call: building k branches of
    higher-order-function Column trees from Python costs a py4j round
    trip per node (measured ~2.3 s of driver CPU for k=16, d=64 — and
    it is rebuilt per Lloyd iteration), while one ``expr`` parse of
    the same tree is milliseconds.  ``repr(float)`` round-trips IEEE
    doubles exactly and the ``D`` suffix makes Spark parse them as
    doubles, so the literals are the same values the Column path
    would embed."""
    branches = []
    for cid, vec in centroids:
        # the per-branch dot stays the aggregate(zip_with(...)) fold
        # DELIBERATELY: an unrolled k×d flat sum was tried in r15 and
        # the generated projection method exceeded Janino's 64 KB
        # limit at k=16,d=64 — whole-stage codegen then fails for the
        # ENTIRE stage (plus ~1 s per failed compile attempt; measured
        # ivf_train 2 s → 16 s).  The fold is CodegenFallback for the
        # expression alone but keeps the stage compiled.
        cent = "array(" + ",".join(f"{float(x)!r}D" for x in vec) + ")"
        dot_sql = (
            f"aggregate(zip_with(cast(`{vec_col}` as array<double>), "
            f"{cent}, (x, y) -> x * y), cast(0.0 as double), "
            f"(acc, x) -> acc + x)"
        )
        sim = f"({dot_sql}) / (`{vn_col}` * {_py_l2_norm(vec)!r}D)"
        if round_sim:
            sim = f"round({sim}, 6)"
        branches.append(
            f"named_struct('s', {sim}, 'nc', {-cid}, 'c', {cid})"
        )
    if len(branches) == 1:
        return F.expr(branches[0])
    return F.expr("greatest(" + ",".join(branches) + ")")


def _ivf_assign(
    v: DataFrame, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """(id, v, cluster): nearest centroid by cosine — MAP-ONLY (one
    projection against literal centroids; no join, no aggregate, no
    shuffle).  One output row per input row; ids are assumed unique
    (every caller's corpus contract)."""
    if not centroids:
        return v.select(
            "id", "v", F.lit(0).alias("cluster")
        ).where(F.lit(False))
    # project the vector norm FIRST so the k sim branches share one
    # fold (CollapseProject keeps a multiply-referenced non-trivial
    # alias materialized instead of inlining it k times)
    vn = v.withColumn("__vn", l2_norm(F.col("v")))
    best = _nearest_centroid_struct(centroids, "__vn")
    return vn.select("id", "v", best["c"].alias("cluster"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    exclude_self: bool = True,
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF approximate top-k: assign the corpus to ``nlist`` coarse
    cells, probe each query's ``nprobe`` nearest cells, score only the
    vectors in probed cells.  ``nprobe == nlist`` degenerates to the
    exact search.  The cell assignment is the partition key at scale:
    the corpus is hash-partitioned by cell and each query touches
    ~``nprobe/nlist`` of it.  Pass ``centroids`` to reuse a trained
    quantizer across queries/batches.

    BROADCAST-QUERIES CONTRACT (``broadcast_queries=True``, default):
    the probe frame — ``|Q| × nprobe`` rows, each carrying a full
    query vector — is broadcast to every executor, so the corpus
    never shuffles (it is scored in place, cell-partitioned).  That
    is the right shape for the common regime |Q| ≪ corpus (ad-hoc
    search, eval batches), and the plan's BroadcastNestedLoop/
    BroadcastHashJoin over probes is deliberate, NOT a cartesian
    hazard: its size is bounded by |Q| × nprobe × dim.  It is the
    WRONG shape when the query side is itself corpus-scale (e.g.
    all-pairs kNN): broadcasting gigabytes of query vectors OOMs the
    executors.  Pass ``broadcast_queries=False`` there — probes and
    corpus then hash-partition on the cell id and the join is a
    shuffle equi-join on ``cluster``, trading one corpus shuffle for
    no broadcast; results are identical (pytest-asserted both paths).

    ``exclude_self`` drops corpus rows whose id equals the query id —
    correct for self-search (queries drawn from the corpus); set it
    False when the query set has its own id space, where an id
    collision is NOT the same vector."""
    from glue_table_cache_spark.operators.dedup import _widen

    if centroids is None:
        centroids = ivf_train(corpus, nlist, iters, vec_col, id_col)
    # widen before the map-only assignment — see _ivf_assign's note
    v = _widen(corpus).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    assigned = _ivf_assign(
        v.withColumnsRenamed({"vec_id": "id", "cv": "v"}), centroids
    ).withColumnsRenamed({"id": "vec_id", "v": "cv"}).withColumn(
        "cvn", l2_norm(F.col("cv"))
    )
    spark = corpus.sparkSession
    cent_df = F.broadcast(
        local_frame(
            spark,
            _centroid_rows(centroids), "cluster int, centroid array<double>"
        )
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", l2_norm(F.col("qv")))
    qscore = q.crossJoin(cent_df).select(
        "query_id", "qv", "qn", "cluster",
        cosine_n(
            F.col("qv"), F.col("centroid"),
            F.col("qn"), l2_norm(F.col("centroid")),
        ).alias("sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cluster"))
    probes = (
        qscore.withColumn("__rn", F.row_number().over(wq))
        .where(F.col("__rn") <= nprobe)
        .select("query_id", "qv", "qn", "cluster")
    )
    if broadcast_queries:
        probes = F.broadcast(probes)
    else:
        # corpus-scale query side: co-partition both sides on the
        # cell id so the join is a plain shuffle equi-join
        probes = probes.repartition("cluster")
        assigned = assigned.repartition("cluster")
    candidates = assigned.join(probes, "cluster")
    if exclude_self:
        candidates = candidates.where(F.col("vec_id") != F.col("query_id"))
    scored = (
        candidates
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_n(
                    F.col("qv"), F.col("cv"),
                    F.col("qn"), F.col("cvn"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def embedding_near_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    planes: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    portable: bool = False,
    max_bucket_size: int | None = 1000,
    on_hot_bucket: str = "raise",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: SRP bucket join for
    candidates (same bucket ⇒ likely small angle), exact cosine verify.

    Scale guidance — the bucket self-join costs ∝ Σ bucket², so size
    ``planes`` for the corpus: expected bucket size is N/2^planes;
    pick ``planes ≥ log2(N / target_bucket)`` (e.g. ≥14 for 100 M
    vectors at ~10 k per bucket).  The default ``planes=6`` suits
    ~10⁴-vector corpora only.

    SRP degenerates on skewed inputs — identical, near-constant, or
    zero embeddings all land in ONE bucket and the join goes quadratic
    regardless of ``planes``.  ``max_bucket_size`` guards that (the
    ``max_shingle_df`` posture in :mod:`dedup`): any bucket holding
    more vectors fails the job at execution time with
    ``on_hot_bucket="raise"`` (default — a hot bucket usually means
    degenerate embeddings or too-few planes, and silently skipping it
    would silently miss exactly the duplicates the caller asked for),
    or is silently excluded with ``on_hot_bucket="skip"`` (documented
    loss: no pairs are reported WITHIN a skipped bucket; use when hot
    buckets are known degenerate mass, e.g. all-zero rows).
    ``max_bucket_size=None`` disables the guard.  The count check is
    one map-side-combinable aggregation to ≤2^planes rows, broadcast
    back — negligible next to the self-join it protects."""
    if on_hot_bucket not in ("raise", "skip"):
        raise ValueError(
            f"on_hot_bucket must be 'raise' or 'skip', "
            f"got {on_hot_bucket!r}"
        )
    from glue_table_cache_spark.operators.dedup import _widen

    # widen a narrow scan before the per-row SRP projection + norm
    # (map-heavy; guide §2.5) — no-op when the scan is already wide
    v = (
        _widen(df)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("bucket", srp_bucket(F.col("v"), planes, portable))
        .withColumn("nrm", l2_norm(F.col("v")))
    )
    if max_bucket_size is not None:
        counts = v.groupBy("bucket").agg(F.count("*").alias("__bn"))
        if on_hot_bucket == "raise":
            # the raise lives in a FILTER (not a projected column that
            # pruning could drop): every bucket row passes through it,
            # so one hot bucket fails the job with a naming message
            counts = counts.where(
                F.when(
                    F.col("__bn") > max_bucket_size,
                    F.raise_error(
                        F.format_string(
                            "embedding_near_pairs: SRP bucket %s holds "
                            "%s vectors (max_bucket_size "
                            f"{max_bucket_size}); embeddings are "
                            "degenerate (identical/constant/zero) or "
                            "`planes` is too low for the corpus — "
                            "raise `planes`, fix the vectors, or pass "
                            "on_hot_bucket='skip'",
                            F.col("bucket"),
                            F.col("__bn"),
                        )
                    ).cast("boolean"),
                ).otherwise(F.lit(True))
            )
        else:
            counts = counts.where(F.col("__bn") <= max_bucket_size)
        v = v.join(F.broadcast(counts.drop("__bn")), "bucket")
    left, right = v.alias("l"), v.alias("r")
    return (
        left.join(right, "bucket")
        .where(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(
                cosine_n(
                    F.col("l.v"), F.col("r.v"),
                    F.col("l.nrm"), F.col("r.nrm"),
                ),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .distinct()
    )


def assign_embedding_clusters(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment for :func:`semantic_dedup`:
    ``(id_col, vec_col, cluster, centroid_sim)`` with the similarity
    rounded to 6 decimals (ties broken by lowest cluster id).  The k×d
    centroid table is broadcast; the corpus never shuffles here — the
    only wide stage is the per-id argmax window.  Persist/checkpoint
    the result when feeding ``semantic_dedup(assigned=...)`` so the
    cross join runs once instead of once per plan reference."""
    if not centroids:
        return df.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias(vec_col),
            F.lit(0).alias("cluster"),
            F.lit(0.0).alias("centroid_sim"),
        ).where(F.lit(False))
    from glue_table_cache_spark.operators.dedup import _widen

    # MAP-ONLY argmax against literal centroids (see
    # _nearest_centroid_struct): the former crossJoin(k) → per-id
    # max_by aggregate shuffled the full id+vector payload; this is
    # one projection.  Rounding to 6 decimals happens INSIDE each
    # branch, before the comparison — exactly what the aggregate
    # compared, so assignment, tie-breaks, and the emitted
    # centroid_sim are bit-equal.  ``_widen`` first: map-only means
    # the k×N similarity work inherits the scan's partitioning, and a
    # single small parquet file would run it all on one core (the
    # crossJoin shape this replaced was accidentally saved by its own
    # shuffle; guide §2.5).  No-op when the scan is already wide.
    v = _widen(df).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    ).withColumn("__vn", l2_norm(F.col(vec_col)))
    best = _nearest_centroid_struct(
        centroids, "__vn", vec_col=vec_col, round_sim=True
    )
    return v.select(
        id_col,
        vec_col,
        best["c"].alias("cluster"),
        best["s"].alias("centroid_sim"),
    )


def semantic_dedup(
    df: DataFrame,
    nlist: int = 16,
    threshold: float = 0.95,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    max_cluster_size: int | None = 10_000,
    on_hot_cluster: str = "raise",
    sample_fraction: float | None = None,
    assigned: DataFrame | None = None,
    materialize: str = "localCheckpoint",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public method): cluster the embedding space with
    the IVF coarse quantizer, then mark, within each cluster, documents
    whose cosine similarity to a more-central document reaches
    ``threshold``.  Near-identical paraphrases/boilerplate land in the
    same cluster and collapse to their most central representative;
    cross-cluster pairs are never compared (the approximation that
    makes the cost Σ cluster² instead of N²).

    Semantics (deterministic, declaratively expressed — no greedy
    chain): cluster members are ordered by (centroid similarity DESC,
    id ASC); a member is a duplicate iff ANY earlier member (kept or
    not) is ≥ ``threshold`` similar to it, and ``dup_of`` reports the
    smallest such earlier id.  This pair-dominance rule is one
    self-join + one aggregate — a single plan Catalyst can reason
    about, unlike the paper's sequential scan — and both engines of
    the test oracle can replay it exactly (similarities rounded to 6
    decimals before any comparison, so float association order cannot
    flip a rank between engines).

    Returns one row per input: ``(id, cluster, centroid_sim,
    is_duplicate, dup_of)``.  Filter ``~is_duplicate`` to keep the
    deduplicated corpus.

    Scale shape: the k×d centroid table is broadcast (the corpus never
    shuffles for assignment), ranking shuffles once on the vector id,
    the pair join shuffles once on the cluster id.  ``nlist`` sizes
    the clusters — pick ``nlist ≈ N / target_cluster`` and train on a
    ``sample_fraction`` at corpus scale.  ``max_cluster_size`` guards
    the Σ cluster² pair join against degenerate clusters (identical /
    zero embeddings all assigned to one cell), same posture as
    :func:`embedding_near_pairs`'s hot-bucket guard: ``"raise"`` fails
    the job naming the cluster, ``"skip"`` excludes such clusters from
    pair generation (documented loss: their members are all kept).
    Pass pre-trained ``centroids`` to reuse a quantizer across runs —
    also what makes the result reproducible across corpus growth.

    The assignment subtree is referenced three times (both pair sides
    and the output), and Catalyst recomputes rather than reuses a
    repeated subtree — so when ``assigned`` is not supplied, the
    default path MATERIALIZES the assignment once via an eager
    ``localCheckpoint`` (the :func:`connected_components` posture)
    before the pair join: one corpus×centroid pass instead of three.
    Pass a persisted ``assigned`` (built with
    :func:`assign_embedding_clusters`; its ``centroid_sim`` must be
    the rounded sim that function emits) to reuse one assignment
    across runs — it is consumed as-is, never re-checkpointed."""
    if on_hot_cluster not in ("raise", "skip"):
        raise ValueError(
            f"on_hot_cluster must be 'raise' or 'skip', "
            f"got {on_hot_cluster!r}"
        )
    if assigned is None:
        from glue_table_cache_spark.operators.materialize import (
            materialize_frame,
        )

        cents = centroids or ivf_train(
            df, nlist=nlist, iters=iters, vec_col=vec_col,
            id_col=id_col, sample_fraction=sample_fraction,
        )
        # ``materialize`` picks the mechanism (localCheckpoint |
        # persist | off — see operators/materialize.py for the
        # executor-loss / local-disk trade at cluster scale)
        assigned = materialize_frame(
            assign_embedding_clusters(
                df, cents, vec_col=vec_col, id_col=id_col
            ),
            materialize,
        )
    assigned = assigned.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        "cluster",
        "centroid_sim",
    ).withColumn(
        # each member's norm once per ROW, not once per pair — the
        # Σ cluster² pair join below is the dominant cost and this
        # cuts its per-pair array work to the dot product alone
        "nrm",
        l2_norm(F.col("v")),
    )
    members = assigned
    if max_cluster_size is not None:
        counts = assigned.groupBy("cluster").agg(
            F.count("*").alias("__cn")
        )
        if on_hot_cluster == "raise":
            counts = counts.where(
                F.when(
                    F.col("__cn") > max_cluster_size,
                    F.raise_error(
                        F.format_string(
                            "semantic_dedup: cluster %s holds %s "
                            "vectors (max_cluster_size "
                            f"{max_cluster_size}); raise `nlist`, fix "
                            "degenerate embeddings, or pass "
                            "on_hot_cluster='skip'",
                            F.col("cluster"),
                            F.col("__cn"),
                        )
                    ).cast("boolean"),
                ).otherwise(F.lit(True))
            )
        else:
            counts = counts.where(F.col("__cn") <= max_cluster_size)
        members = assigned.join(
            F.broadcast(counts.drop("__cn")), "cluster"
        )
    left = members.select(
        F.col("cluster"),
        F.col("id").alias("l_id"),
        F.col("v").alias("l_v"),
        F.col("centroid_sim").alias("l_sim"),
        F.col("nrm").alias("l_n"),
    )
    right = members.select(
        F.col("cluster"),
        F.col("id").alias("r_id"),
        F.col("v").alias("r_v"),
        F.col("centroid_sim").alias("r_sim"),
        F.col("nrm").alias("r_n"),
    )
    precedes = (F.col("l_sim") > F.col("r_sim")) | (
        (F.col("l_sim") == F.col("r_sim"))
        & (F.col("l_id") < F.col("r_id"))
    )
    # the per-pair dot stays the aggregate(zip_with(...)) fold
    # DELIBERATELY (r15): an unrolled 64-term flat sum was tried for
    # the pair stage and measured 3× SLOWER at the synthetic sf1
    # (4.7-5.4 s vs 1.5-3.3 s interleaved) — a 64-term expression
    # exceeds the JIT's per-method budget, so the "codegen-friendly"
    # form runs as uncompiled bytecode while the fold's interpreted
    # lambda loop is comparatively tight.  Measured, not assumed
    # (guide §1.1: a fresh "ideal" implementation is usually slower
    # at first — this one stayed slower).
    dups = (
        left.join(right, "cluster")
        .where(precedes)
        .where(
            F.round(
                cosine_n(
                    F.col("l_v"), F.col("r_v"),
                    F.col("l_n"), F.col("r_n"),
                ),
                6,
            )
            >= F.lit(threshold)
        )
        .groupBy("r_id")
        .agg(F.min("l_id").alias("dup_of"))
    )
    return (
        assigned.join(dups, assigned["id"] == dups["r_id"], "left")
        .select(
            F.col("id").alias(id_col),
            "cluster",
            "centroid_sim",
            F.col("dup_of").isNotNull().alias("is_duplicate"),
            "dup_of",
        )
    )


# --------------------------------------------------------------------------
# Embedding storage utilities (normalize / quantize)
# --------------------------------------------------------------------------


def normalize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str | None = None
) -> DataFrame:
    """Unit-L2-normalize an embedding column (map-only, pure column
    expressions).  After normalization cosine similarity reduces to a
    plain dot product — the usual pre-step before ANN indexing.  A
    zero vector stays zero (NULL-safe division would silently corrupt
    downstream dot products; zeros keep scoring zero everywhere)."""
    v = F.col(vec_col).cast("array<double>")
    n = l2_norm(F.col(vec_col))
    normed = F.when(n == 0.0, v).otherwise(
        F.transform(v, lambda x: x / n)
    )
    return df.withColumn(out_col or vec_col, normed)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "embedding_q",
    scale_col: str = "embedding_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = round(x_i / scale)`` stored as ``array<tinyint>`` — a 4-8×
    storage/shuffle shrink for embedding corpora, with the per-vector
    scale kept alongside for dequantization.  Map-only column
    expressions; max round-trip error is ``scale/2`` per element
    (≤ 0.4% of the vector's max magnitude).  Zero vectors get scale 0
    and all-zero codes."""
    v = F.col(vec_col).cast("array<double>")
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = amax / F.lit(127.0)
    q = F.when(scale == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.round(x / scale).cast("int"))
    )
    return df.withColumn(scale_col, scale).withColumn(
        out_col, q.cast("array<tinyint>")
    )


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "embedding_q",
    scale_col: str = "embedding_scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: ``x_i ≈ q_i · scale``."""
    s = F.col(scale_col)
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col).cast("array<double>"), lambda x: x * s
        ),
    )


# --------------------------------------------------------------------------
# Product quantization (PQ): memory-bounded ANN at corpus scale
# --------------------------------------------------------------------------
#
# Public algorithm: Jégou, Douze, Schmid, "Product Quantization for
# Nearest Neighbor Search" (TPAMI 2011).  Split each d-dim vector into
# ``m`` subvectors; quantize each subspace with its own 2^nbits-entry
# codebook; a vector is then ``m`` small integer codes (e.g. 4 bytes
# instead of 32 float64s — a 64× memory/shuffle shrink).  Search is
# ASYMMETRIC (ADC): the query stays exact, and its dot product against
# any corpus vector is approximated by m table lookups.


def _subvectors(df: DataFrame, vec: str, dim: int, m: int) -> DataFrame:
    """Explode (id, v) into (id, sub, sv) — ``m`` rows per vector."""
    dsub = dim // m
    subs = F.array(*[
        F.struct(
            F.lit(s).alias("sub"),
            F.slice(F.col(vec), s * dsub + 1, dsub).alias("sv"),
        )
        for s in range(m)
    ])
    return df.select("id", F.explode(subs).alias("x")).select(
        "id", F.col("x.sub").alias("sub"), F.col("x.sv").alias("sv")
    )


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    nbits: int = 4,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_fraction: float | None = None,
) -> list[tuple[int, int, list[float]]]:
    """Train the ``m`` subspace codebooks (``2^nbits`` centroids each)
    with Lloyd iterations expressed as DataFrame ops over ALL
    subspaces at once — each iteration is one broadcast-join
    assignment pass and one explode→groupBy mean pass; only the
    ``m × 2^nbits × d/m`` codebook ever reaches the driver.  Returns
    ``(sub, code, centroid)`` rows.  At corpus scale train on a
    sample: the codebooks need representative cell geometry, not
    every row."""
    ksub = 1 << nbits
    v = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if sample_fraction:
        v = v.sample(fraction=sample_fraction, seed=7)
    dim = len(v.select("v").first().v)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    subs = _subvectors(v, "v", dim, m)
    # deterministic seeds: the ksub lowest-id vectors' subvectors
    seed_rows = (
        subs.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("sub").orderBy("id")
            ),
        )
        .where(F.col("__rn") <= ksub)
        .collect()
    )
    books = {
        (r.sub, r["__rn"] - 1): list(r.sv) for r in seed_rows
    }
    spark = corpus.sparkSession
    for _ in range(iters):
        book_df = F.broadcast(
            local_frame(
                spark,
                [(s, c, cent) for (s, c), cent in sorted(books.items())],
                "sub int, code int, cent array<double>",
            )
        )
        assigned = (
            subs.join(book_df, "sub")
            .select(
                "id", "sub", "sv", "code",
                _l2sq(F.col("sv"), F.col("cent")).alias("d2"),
            )
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("id", "sub").orderBy(
                        F.asc("d2"), F.asc("code")
                    )
                ),
            )
            .where(F.col("__rn") == 1)
        )
        means = (
            assigned.select(
                "sub", "code", F.posexplode("sv").alias("d", "x")
            )
            .groupBy("sub", "code", "d")
            .agg(F.avg("x").alias("mn"))
            .groupBy("sub", "code")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("d", "mn"))
                ).alias("dm")
            )
            .select(
                "sub", "code",
                F.transform("dm", lambda s: s["mn"]).alias("cent"),
            )
        )
        trained = {
            (r.sub, r.code): list(r.cent) for r in means.collect()
        }
        books = {
            key: trained.get(key, prev) for key, prev in books.items()
        }
    return [(s, c, cent) for (s, c), cent in sorted(books.items())]


def pq_encode(
    corpus: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``(vec_id, codes)`` per corpus vector — ``codes`` is the
    ``array<int>`` of nearest-centroid indices per subspace, the
    compressed representation the ADC search scans.  One broadcast
    join + one per-(id, sub) argmin + one collect_list; the corpus
    shuffles once on id."""
    m = max(s for s, _c, _v in codebooks) + 1
    dim = m * len(codebooks[0][2])
    v = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    subs = _subvectors(v, "v", dim, m)
    spark = corpus.sparkSession
    book_df = F.broadcast(
        local_frame(
            spark,
            codebooks, "sub int, code int, cent array<double>"
        )
    )
    best = (
        subs.join(book_df, "sub")
        .select(
            "id", "sub", "code",
            _l2sq(F.col("sv"), F.col("cent")).alias("d2"),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("id", "sub").orderBy(
                    F.asc("d2"), F.asc("code")
                )
            ),
        )
        .where(F.col("__rn") == 1)
    )
    return (
        best.groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("sub", "code"))
            ).alias("sc")
        )
        .select(
            F.col("id").alias("vec_id"),
            F.transform("sc", lambda s: s["code"]).alias("codes"),
        )
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    nbits: int = 4,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    codebooks: list[tuple[int, int, list[float]]] | None = None,
    codes: DataFrame | None = None,
    exclude_self: bool = True,
    rerank: int | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """PQ approximate top-k by inner product (≈ cosine when inputs
    are L2-normalized): the corpus is scanned as ``m``-byte codes and
    each query's score per vector is ``m`` table lookups — a
    whole-stage-codegen ``zip_with``/``aggregate`` expression, no
    Python in the scan.

    ``rerank=k'`` (k' ≥ k) is the standard recall lever: ADC selects
    the k' best candidates per query from the CODES (cheap scan),
    then only those k'·|Q| rows join back to their raw vectors for an
    exact cosine re-rank to k — recall@k becomes ADC's recall@k',
    while the expensive exact math touches a vanishing fraction of
    the corpus.  ``rerank=3*k`` is a good default at production
    scale.

    Scale shape: the per-query ADC tables (|Q| × m × 2^nbits doubles)
    are built as DataFrames — the same distributed two-aggregation
    assembly :func:`ivfpq_topk` uses (broadcast codebook cross-join →
    per-(query, subspace) row → per-query table), so the driver never
    collects the query set or loops over it.  The table frame
    broadcasts by default — right for |Q| ≪ corpus; for corpus-scale
    query sides pass ``broadcast_queries=False`` and the scan becomes
    a partitioned cartesian instead (identical results,
    pytest-asserted).  Pass pre-trained ``codebooks``/pre-encoded
    ``codes`` to amortize across batches (the production shape:
    train+encode once, search many).

    Approximation caveat: scores are ADC estimates — rank fidelity
    degrades with small ``m``; raise ``m``/``nbits`` for recall, at
    linear code-size cost.  Exact re-ranking of the PQ top-k' (k'>k)
    against raw vectors composes with :func:`cosine_topk` when needed.
    """
    if codebooks is None:
        codebooks = pq_train(
            corpus, m, nbits, iters, vec_col, id_col
        )
    if codes is None:
        codes = pq_encode(corpus, codebooks, vec_col, id_col)
    spark = corpus.sparkSession
    dsub = len(codebooks[0][2])
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    # ADC tables: qt[s][c] = ip(q[s·dsub:(s+1)·dsub], codebook[s][c]),
    # one partial per broadcast codebook row, assembled by two
    # aggregations bounded at |Q|·m rows — no driver-side loop
    book_df = F.broadcast(
        local_frame(
            spark,
            list(codebooks), "s int, c int, bv array<double>"
        )
    )
    partials = q.crossJoin(book_df).select(
        "query_id",
        "s",
        "c",
        dot(
            F.slice("qv", F.col("s") * dsub + 1, dsub), F.col("bv")
        ).alias("val"),
    )
    per_sub = partials.groupBy("query_id", "s").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("c", "val"))),
            lambda x: x["val"],
        ).alias("row")
    )
    qdf = per_sub.groupBy("query_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "row"))),
            lambda x: x["row"],
        ).alias("qt")
    )
    if broadcast_queries:
        qdf = F.broadcast(qdf)
    scored = codes.crossJoin(qdf)
    if exclude_self:
        scored = scored.where(F.col("vec_id") != F.col("query_id"))
    scored = scored.select(
        "query_id", "vec_id",
        F.round(
            F.aggregate(
                F.zip_with(
                    "codes", "qt",
                    lambda c, row: F.element_at(row, c + F.lit(1)),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    top = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= (rerank or k))
    )
    if rerank is None:
        return top
    # exact re-rank: only k'·|Q| candidate rows join raw vectors
    raw = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    qraw = F.broadcast(q) if broadcast_queries else q
    rescored = (
        top.select("query_id", "vec_id")
        .join(raw, "vec_id")
        .join(qraw, "query_id")
        .select(
            "query_id", "vec_id",
            F.round(
                cosine(F.col("qv"), F.col("cv")), 6
            ).alias("score"),
        )
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# --------------------------------------------------------------------------
# IVF-PQ (IVFADC): coarse cells + residual product codes
# --------------------------------------------------------------------------


def ivfpq_encode(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[tuple[int, int, list[float]]] | None = None,
    m: int = 4,
    nbits: int = 4,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[tuple[int, int, list[float]]]]:
    """``(codes, codebooks)`` for IVF-PQ: each vector is assigned to
    its nearest coarse cell and its RESIDUAL (vector − cell centroid)
    is product-quantized — the IVFADC layout of Jégou et al. (TPAMI
    2011, §IV): residuals are much smaller than raw vectors, so the
    same code budget quantizes them far more accurately.  ``codes``
    rows are ``(vec_id, cluster, codes)``; persist them (and pass them
    back) for the train-once / search-many production shape."""
    v = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    cent_df = F.broadcast(
        local_frame(
            corpus.sparkSession,
            _centroid_rows(centroids),
            "cluster int, centroid array<double>",
        )
    )
    assigned = _ivf_assign(v, centroids)
    residuals = assigned.join(cent_df, "cluster").select(
        "id",
        "cluster",
        F.zip_with(
            "v", "centroid", lambda x, c: x - c
        ).alias("r"),
    )
    if codebooks is None:
        codebooks = pq_train(
            residuals, m, nbits, iters, vec_col="r", id_col="id"
        )
    codes = pq_encode(
        residuals, codebooks, vec_col="r", id_col="id"
    ).join(
        residuals.select(F.col("id").alias("vec_id"), "cluster"),
        "vec_id",
    )
    return codes, codebooks


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 4,
    nbits: int = 4,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[tuple[int, int, list[float]]] | None = None,
    codes: DataFrame | None = None,
    exclude_self: bool = True,
    rerank: int | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF-PQ approximate top-k by inner product — the billion-scale
    composition: the IVF cells prune which codes are scanned
    (~``nprobe/nlist`` of the corpus per query) and the PQ codes make
    each scanned row ``m`` bytes + ``m`` table lookups.

    Scoring uses the residual decomposition
    ``ip(q, v) = ip(q, centroid_cell) + ip(q, residual)``: the
    ADC lookup tables depend only on the query and the SHARED residual
    codebooks (one table per query, not per probed cell), and each
    probed cell contributes a scalar ``ip(q, centroid)`` bias.  Like
    :func:`pq_topk`, scores rank by inner product — L2-normalize the
    inputs when cosine ranking is wanted — and ``rerank=k'`` re-scores
    the k' ADC candidates exactly against raw vectors.

    Scale shape: codes are hash-partitioned by cell and never move.
    Probe selection and the ADC tables are built as DataFrames — the
    same distributed path :func:`ivf_topk` ranks probes with — so the
    driver never loops over the query set: cells rank via a broadcast
    centroid cross-join + per-query window (the per-cell
    ``ip(q, centroid)`` bias falls out of the same pass), and each
    query's ``m × 2^nbits`` table assembles from a broadcast codebook
    join via two |Q|·m-bounded aggregations.  The probe frame
    (|Q| × nprobe rows, each with the bias + its query's table)
    broadcasts by default — right for |Q| ≪ corpus; for corpus-scale
    query sides pass ``broadcast_queries=False`` and both sides
    hash-partition on the cell id instead (identical results,
    pytest-asserted).  Pass persisted
    ``centroids``/``codebooks``/``codes`` from :func:`ivf_train` +
    :func:`ivfpq_encode` to amortize (train once, search many)."""
    if centroids is None:
        centroids = ivf_train(
            corpus, nlist=nlist, iters=iters,
            vec_col=vec_col, id_col=id_col,
        )
    if codes is None or codebooks is None:
        codes, codebooks = ivfpq_encode(
            corpus, centroids, codebooks, m, nbits, iters,
            vec_col, id_col,
        )
    dsub = len(codebooks[0][2])
    spark = corpus.sparkSession
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    cent_df = F.broadcast(
        local_frame(
            spark,
            _centroid_rows(centroids),
            "cluster int, centroid array<double>",
        )
    )
    # probe ranking (same cosine order ivf_topk uses) + IVFADC bias
    qscore = q.crossJoin(cent_df).select(
        "query_id",
        "cluster",
        cosine(F.col("qv"), F.col("centroid")).alias("sim"),
        dot(F.col("qv"), F.col("centroid")).alias("bias"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("cluster")
    )
    probe_sel = (
        qscore.withColumn("__rn", F.row_number().over(wq))
        .where(F.col("__rn") <= nprobe)
        .select("query_id", "cluster", "bias")
    )
    # ADC tables: qt[s][c] = ip(q[s·dsub:(s+1)·dsub], codebook[s][c]),
    # one partial per broadcast codebook row, assembled by two
    # aggregations bounded at |Q|·m rows
    book_df = F.broadcast(
        local_frame(
            spark,
            list(codebooks), "s int, c int, bv array<double>"
        )
    )
    partials = q.crossJoin(book_df).select(
        "query_id",
        "s",
        "c",
        dot(
            F.slice("qv", F.col("s") * dsub + 1, dsub), F.col("bv")
        ).alias("val"),
    )
    per_sub = partials.groupBy("query_id", "s").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("c", "val"))),
            lambda x: x["val"],
        ).alias("row")
    )
    tables = per_sub.groupBy("query_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "row"))),
            lambda x: x["row"],
        ).alias("qt")
    )
    probes = probe_sel.join(tables, "query_id")
    if broadcast_queries:
        probes = F.broadcast(probes)
    else:
        # corpus-scale query side: co-partition on the cell id and
        # join shuffle-side, never broadcasting the tables
        probes = probes.repartition("cluster")
        codes = codes.repartition("cluster")
    scored = codes.join(probes, "cluster")
    if exclude_self:
        scored = scored.where(F.col("vec_id") != F.col("query_id"))
    scored = scored.select(
        "query_id", "vec_id",
        F.round(
            F.col("bias")
            + F.aggregate(
                F.zip_with(
                    "codes", "qt",
                    lambda c, row: F.element_at(row, c + F.lit(1)),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    top = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= (rerank or k))
    )
    if rerank is None:
        return top
    raw = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    qraw = F.broadcast(q) if broadcast_queries else q
    rescored = (
        top.select("query_id", "vec_id")
        .join(raw, "vec_id")
        .join(qraw, "query_id")
        .select(
            "query_id", "vec_id",
            F.round(
                cosine(F.col("qv"), F.col("cv")), 6
            ).alias("score"),
        )
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
