"""Embedding similarity search: brute-force cosine top-k (baseline) and a
sign-random-projection LSH-bucketed variant (the scale path).

North-star extensions (SURVEY.md §7 Phase 5). Design for 100 TB:

* Brute force broadcasts the (small) query set and computes cosine per
  (query, candidate) pair — a broadcast nested loop, no shuffle of the big
  side, then a per-query top-k window. Fine when |queries| is small.
* LSH: each vector gets a bucket from the SIGNS of its dot products with
  ``NUM_PLANES`` fixed Rademacher (+1/-1) hyperplanes; queries only score
  candidates in their own bucket — candidate volume drops ~2^NUM_PLANES x.
  Bucketing is computed on round(x*1000) integer-quantized embeddings so the
  dot-product sign is exact integer math — bit-identical across engines and
  summation orders (this is what makes the LSH variant fully
  oracle-checkable, unusual for ANN).

Cosine itself is computed on the original float vectors (cast to double,
sequential fold) and rounded for cross-engine comparison.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.window import Window

from ..session import local_frame

NUM_PLANES = 8
EMBED_DIM = 64
QUANT_SCALE = 1000  # embedding quantization for exact-integer bucket math


def rademacher_planes(num_planes: int = NUM_PLANES, dim: int = EMBED_DIM,
                      seed: int = 42) -> list[list[int]]:
    """Deterministic +1/-1 hyperplanes shared by Spark code and oracle SQL."""
    rng = random.Random(seed)
    return [[rng.choice((-1, 1)) for _ in range(dim)] for _ in range(num_planes)]


def dot_col(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (same order both engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / F.sqrt(dot_col(a, a) * dot_col(b, b))


def dot_pd_col(a: Column, b: Column, deterministic: bool = True) -> Column:
    """Arrow-vectorized dot product, BIT-IDENTICAL to ``dot_col``.

    ``dot_col`` is a sequential left fold: acc = (...((0 + x0*y0) + x1*y1)...).
    numpy's ``dot``/``sum`` use pairwise/SIMD summation — a DIFFERENT IEEE
    rounding sequence — so instead we accumulate dimension-by-dimension,
    vectorized ACROSS ROWS: each ``acc += A[:, i] * B[:, i]`` performs, for
    every row, exactly the fold's i-th multiply-then-add in float64. Same
    ops, same order, same doubles — only the batching axis differs. The
    float32 -> float64 cast is exact widening, matching ``x.cast("double")``.

    Why it exists: higher-order array lambdas are evaluated on the
    interpreted expression path (no whole-stage codegen), measured ~15 s
    for 816k 64-dim pairs at sf0.1; this Arrow form does the same work in
    well under a second of numpy. Used on the high-volume verify/score
    paths; the per-row norm columns keep the cheap expression form.
    (Built lazily: decorating at import time needs an active session.)
    """
    @pandas_udf("double")
    def _dot(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if not len(xs):
            return pd.Series([], dtype="float64")
        A = np.stack(xs.to_numpy()).astype(np.float64)
        B = np.stack(ys.to_numpy()).astype(np.float64)
        acc = np.zeros(len(A), dtype=np.float64)
        for i in range(A.shape[1]):
            acc = acc + A[:, i] * B[:, i]
        return pd.Series(acc)

    if not deterministic:
        # a white lie: the UDF IS deterministic, but the marking stops
        # Catalyst cloning it into a pushed-down filter on its output
        # column (the clone re-ran the whole Arrow stage — two stacked
        # ArrowEvalPython nodes). Use from call sites that filter on the
        # result; values are unchanged either way.
        return _dot.asNondeterministic()(a, b)
    return _dot(a, b)


def lsh_bucket_col(vec: Column,
                   planes: list[list[int]] | None = None) -> Column:
    """Integer LSH bucket id from sign bits of quantized dot products."""
    planes = planes or rademacher_planes()
    q = F.transform(vec, lambda x: F.round(x.cast("double") * QUANT_SCALE).cast("long"))
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        signed = F.zip_with(
            q, F.array(*[F.lit(w) for w in plane]), lambda x, w: x * w)
        dot = F.aggregate(signed, F.lit(0).cast("long"), lambda acc, v: acc + v)
        bucket = bucket + F.when(dot >= 0, F.lit(2 ** i)).otherwise(F.lit(0)).cast("long")
    return bucket


def lsh_buckets_df(df: DataFrame, id_col: str, vec_col: str,
                   planes: list[list[int]] | None = None) -> DataFrame:
    """(id, bucket) via posexplode + broadcast plane-weight join + codegen'd
    sum aggregation — the scale path for bulk bucketing (the column-expression
    form ``lsh_bucket_col`` folds arrays in interpreted lambdas; this shape
    keeps everything in whole-stage codegen and partial-aggregates map-side).
    Bit math is identical (integer-exact quantization), so both forms give
    byte-identical buckets."""
    planes = planes or rademacher_planes()
    spark = df.sparkSession
    plane_rows = [(pos, *[planes[i][pos] for i in range(len(planes))])
                  for pos in range(len(planes[0]))]
    schema = "pos int, " + ", ".join(f"w{i} long" for i in range(len(planes)))
    weights = F.broadcast(local_frame(spark, plane_rows, schema))
    exploded = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("pos", "x"))
    q = F.round(F.col("x").cast("double") * QUANT_SCALE).cast("long")
    sums = (exploded.withColumn("q", q).join(weights, "pos")
            .groupBy(id_col)
            .agg(*[F.sum(F.col("q") * F.col(f"w{i}")).alias(f"s{i}")
                   for i in range(len(planes))]))
    bucket = sum(
        (F.when(F.col(f"s{i}") >= 0, F.lit(2 ** i)).otherwise(F.lit(0))
         for i in range(len(planes))),
        F.lit(0).cast("long"))
    return sums.select(F.col(id_col), bucket.cast("long").alias("bucket"))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("cosine").desc(), F.col("vec_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "cosine", "rank"))


def _pair_cosine(q: Column, v: Column, qn2: Column, vn2: Column) -> Column:
    """Cosine from precomputed squared norms: ONE array fold per pair instead
    of three (array lambdas run interpreted — the norms of each row must not
    be recomputed per candidate pair). Expression shape (dot/sqrt(na*nb))
    matches the oracle SQL exactly."""
    return dot_col(q, v) / F.sqrt(qn2 * vn2)


def _pair_cosine_pd(q: Column, v: Column, qn2: Column, vn2: Column,
                    deterministic: bool = True) -> Column:
    """``_pair_cosine`` with the Arrow dot product (bit-identical doubles —
    see ``dot_pd_col``) for candidate-pair verify/score stages, where the
    pair count dwarfs the row count. Pass ``deterministic=False`` from
    call sites that FILTER on the result (see dot_pd_col's note)."""
    return dot_pd_col(q, v, deterministic) / F.sqrt(qn2 * vn2)


# auto-strategy cap on the vector table's Catalyst size ESTIMATE. The
# estimate for a parquet scan is file-bytes-based
# (spark.sql.sources.fileCompressionFactor, default 1.0), while the
# broadcast materializes ~4x that: float32 parquet bytes -> double cast
# (2x) + unsafe-row/array overhead (~2x). 64 MB estimated => ~256 MB
# in-memory per broadcast side (x2 sides), which fits the usual 4-8 GB
# executor with margin. Raise it deliberately, not by default.
PAIR_VERIFY_BROADCAST_CAP = 64 << 20


def pair_cosines(cand: DataFrame, vectors: DataFrame,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 strategy: str = "broadcast",
                 broadcast_cap_bytes: int = PAIR_VERIFY_BROADCAST_CAP) -> DataFrame:
    """Exact cosine for candidate pairs ``(id_a, id_b)`` against a vector
    table — the verify stage every LSH/cluster dedup ends in. Returns
    (id_a, id_b, cosine), cosine UNROUNDED (call sites round/filter).

    Two strategies, chosen by which side is the big one:

    * ``broadcast`` — the vector table broadcasts (twice, once per pair
      side) and the PAIR STREAM never shuffles: candidates flow map-side
      through two broadcast hash joins straight into the Arrow cosine.
      Right whenever the (deduped) vector table fits the broadcast
      threshold — n * dim * 4 bytes, e.g. 10M x 64-dim fp32 = 2.5 GB is
      too big, 500k = 128 MB is fine — while the candidate set is the
      O(sum bucket^2) big side. On the adversarial bench corpus (2k
      vectors, 816k surviving pairs) this replaced a ~500 MB pair shuffle
      (1.6M melted rows each carrying a 64-dim struct) whose spill/page
      pressure caused 2x run-to-run wobble; broadcast verify measures a
      stable ~2.9 s warm (SCALE.md r7).
    * ``melt`` — the scale path when the vector table does NOT broadcast:
      each pair melts into two (pair, id) rows, the corpus joins by id
      ONCE (one corpus scan; only MATCHED vectors shuffle — candidate-
      bounded), and a groupBy on the pair reassembles both vectors via
      max_by on the role flag. Nothing corpus-sized shuffles.

    ``auto`` picks by Catalyst's size estimate of the vector table:
    broadcast while the estimate is positive and within
    ``broadcast_cap_bytes`` (default 64 MB of ESTIMATE ~= 256 MB
    materialized — see ``PAIR_VERIFY_BROADCAST_CAP`` for the 4x expansion
    arithmetic; the SCALE.md measurements show broadcast winning and
    staying stable at 51 MB/side), melt otherwise — including when the
    estimate is unknown (Catalyst reports a huge sentinel), which errs on
    the side of the shape that cannot OOM an executor.

    The Arrow cosine is marked non-deterministic (see ``dot_pd_col``) so
    a downstream threshold filter cannot clone it into a second
    ArrowEvalPython stage.
    """
    if strategy == "auto":
        est = int(str(
            vectors._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
            .stats().sizeInBytes()))
        strategy = "broadcast" if 0 < est <= broadcast_cap_bytes else "melt"
    v = vectors.select(F.col(id_col), F.col(vec_col).alias("_e"),
                       dot_col(F.col(vec_col), F.col(vec_col)).alias("_n2"))
    if strategy == "broadcast":
        # r15 GATHER form (guide §4.1: ship only the columns the function
        # needs). The r14 shape ran the pair stream through two broadcast
        # hash joins and shipped BOTH 64-dim vectors per pair into the
        # Arrow cosine — 816k pairs x 128 float64 ~ 850 MB across the
        # Python boundary per run, 8.6 of the gate's 11.5 tree-CPU s.
        # Now the vector table is collected ONCE (same driver-memory
        # class as the broadcast relation build it replaces, same
        # ``broadcast_cap_bytes`` gate) and shipped as a Spark broadcast
        # of (sorted ids, float64 matrix, norms); only the TWO PAIR IDS
        # cross the boundary (~13 MB) and each batch gathers rows by
        # searchsorted. Arithmetic is the exact fold of the join form:
        # per-dimension ``acc += A[:,i]*B[:,i]`` across rows is
        # ``dot_pd_col``'s sequence, norms use the same per-dimension
        # fold ``dot_col`` evaluated row-wise, and sqrt/divide are single
        # correctly-rounded IEEE ops — bit-identical cosines (pinned by
        # test_pair_cosines_strategies_agree vs the melt form). Missing
        # ids drop, matching the inner joins. NOTE: the collect runs a
        # job at DataFrame-BUILD time (the broadcast-relation build it
        # replaces ran at first execution); callers that might PRUNE the
        # verify from their final plan should pass ``melt``.
        rows = vectors.select(F.col(id_col), F.col(vec_col)).collect()
        spark = vectors.sparkSession
        if rows:
            raw_ids = np.array([int(r[0]) for r in rows], dtype=np.int64)
            order = np.argsort(raw_ids, kind="stable")
            ids_s = raw_ids[order]
            mat = np.array([[float(x) for x in rows[int(i)][1]]
                            for i in order], dtype=np.float64)
            norms = np.zeros(len(mat), dtype=np.float64)
            for i in range(mat.shape[1]):
                norms = norms + mat[:, i] * mat[:, i]
        else:
            ids_s = np.zeros(0, dtype=np.int64)
            mat = np.zeros((0, 0), dtype=np.float64)
            norms = np.zeros(0, dtype=np.float64)
        bc = spark.sparkContext.broadcast((ids_s, mat, norms))

        def _gather_cos(batches):
            ids_b, m_b, n_b = bc.value
            n = len(ids_b)
            for pdf in batches:
                if not len(pdf) or n == 0:
                    continue
                a = pdf["id_a"].to_numpy(dtype=np.int64)
                b = pdf["id_b"].to_numpy(dtype=np.int64)
                pa = np.minimum(np.searchsorted(ids_b, a), n - 1)
                pb = np.minimum(np.searchsorted(ids_b, b), n - 1)
                ok = (ids_b[pa] == a) & (ids_b[pb] == b)
                if not ok.any():
                    continue
                pa, pb = pa[ok], pb[ok]
                A, B = m_b[pa], m_b[pb]
                acc = np.zeros(len(A), dtype=np.float64)
                for i in range(A.shape[1]):
                    acc = acc + A[:, i] * B[:, i]
                cos = acc / np.sqrt(n_b[pa] * n_b[pb])
                yield pd.DataFrame({"id_a": a[ok], "id_b": b[ok],
                                    "cosine": cos})

        id_t = dict(cand.dtypes)["id_a"]
        return cand.select("id_a", "id_b").mapInPandas(
            _gather_cos, f"id_a {id_t}, id_b {id_t}, cosine double")
    if strategy != "melt":
        raise ValueError(f"unknown pair-verify strategy {strategy!r}")
    melted = cand.select(
        "id_a", "id_b",
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col))
    pairs = (melted.join(v, id_col)
             .groupBy("id_a", "id_b")
             .agg(F.max_by(F.struct(F.col("_e"), F.col("_n2")),
                           (F.col(id_col) == F.col("id_a")).cast("int"))
                  .alias("va"),
                  F.max_by(F.struct(F.col("_e"), F.col("_n2")),
                           (F.col(id_col) == F.col("id_b")).cast("int"))
                  .alias("vb")))
    return pairs.select(
        "id_a", "id_b",
        _pair_cosine_pd(F.col("va._e"), F.col("vb._e"),
                        F.col("va._n2"), F.col("vb._n2"),
                        deterministic=False).alias("cosine"))


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k: broadcast queries x all vectors.

    ``vectors``/``queries`` need columns (vec_id|query_id, embedding).
    Excludes self-matches. Ties broken by vec_id.
    """
    v = vectors.withColumn("_n2", dot_col(F.col("embedding"), F.col("embedding")))
    q = queries.withColumn("_qn2", dot_col(F.col("q_embedding"), F.col("q_embedding")))
    scored = (
        v.join(F.broadcast(q), v.vec_id != q.query_id)
        .select("query_id", "vec_id",
                F.round(_pair_cosine(F.col("q_embedding"), F.col("embedding"),
                                     F.col("_qn2"), F.col("_n2")), 4)
                .alias("cosine"))
    )
    return _topk(scored, k)


def max_benchmark_cosine(corpus: DataFrame, bench: DataFrame,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Per corpus vector: exact max cosine against a BROADCAST benchmark
    set — the scoring core of embedding-space benchmark decontamination
    (the semantic complement of the n-gram overlap pass: paraphrased or
    re-tokenized eval items share no shingles but stay cosine-close).

    Returns ``(id, max_benchmark_cos)`` UNROUNDED; call sites round and
    threshold.

    Scale shape: eval benchmarks are tiny next to a training corpus (10^3
    -10^5 items vs 10^9+ docs), so the benchmark side broadcasts and the
    corpus streams map-side through a broadcast nested-loop into the
    Arrow cosine — the corpus is scanned ONCE and never shuffles; the
    only exchange carries (id, cos) pairs into the per-id max, which
    partial-aggregates map-side down to one row per corpus vector per
    task. Pair volume is |corpus| x |bench|; for benchmarks past ~10^5
    items, prefilter candidates with an ANN index (lsh_multi_topk) and
    exact-score only bucket collisions — same verify contract as the
    dedup paths.
    """
    v = corpus.select(F.col(id_col), F.col(vec_col).alias("_e"),
                      dot_col(F.col(vec_col), F.col(vec_col)).alias("_n2"))
    b = bench.select(F.col(vec_col).alias("_be"),
                     dot_col(F.col(vec_col), F.col(vec_col)).alias("_bn2"))
    scored = v.join(F.broadcast(b)).select(
        F.col(id_col),
        _pair_cosine_pd(F.col("_e"), F.col("_be"),
                        F.col("_n2"), F.col("_bn2")).alias("_cos"))
    return scored.groupBy(id_col).agg(
        F.max("_cos").alias("max_benchmark_cos"))


CENTROID_MOD = 250  # vec_id % CENTROID_MOD == 0 -> centroid (deterministic "training")

#: centroid count at or above which assignment switches from per-pair
#: SQL expression scoring to the Arrow GEMM path (one BLAS matmul per
#: batch against the broadcast centroid matrix). The expression path is
#: bit-identical to the DuckDB oracle and stays the default for the
#: gate-sized C; the GEMM path is the production FLOPs shape the sf1
#: probe motivated — O(N*C) either way, but BLAS throughput instead of
#: N*C interpreted array-aggregate rows. Env-overridable for tests.
IVF_GEMM_MIN_CENTROIDS = int(os.environ.get(
    "SPARK_GRAFT_IVF_GEMM_MIN_CENTROIDS", "64"))


def _ivf_assignments_gemm(vectors: DataFrame, cent_rows: list,
                          id_col: str, vec_col: str) -> DataFrame:
    """Arrow GEMM assignment: centroids (a driver-metadata-sized list by
    the coarse-quantizer contract) become one normalized float64 matrix
    broadcast to every worker; each Arrow batch computes cosines as a
    single ``V @ C.T`` and argmaxes with the SAME (round-8 desc,
    centroid_id asc) tie-break as the expression path — centroid
    columns are sorted by id, and ``np.argmax`` returns the FIRST
    maximum, which IS the lowest id."""
    import numpy as np

    cent_rows = sorted(cent_rows, key=lambda r: int(r[0]))
    cids = np.array([int(r[0]) for r in cent_rows], dtype=np.int64)
    cmat = np.array([list(r[1]) for r in cent_rows], dtype=np.float64)
    cn = np.linalg.norm(cmat, axis=1)
    cn[cn == 0.0] = 1.0                      # zero vector: cosine 0
    cmat = cmat / cn[:, None]
    spark = vectors.sparkSession
    bc = spark.sparkContext.broadcast((cids, cmat))

    def assign(batches):
        import pandas as pd
        cids_b, cmat_b = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            vn = np.linalg.norm(v, axis=1)
            vn[vn == 0.0] = 1.0
            sims = np.round((v / vn[:, None]) @ cmat_b.T, 8)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "cell": cids_b[np.argmax(sims, axis=1)]})

    return vectors.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, cell long")


def ivf_assignments(vectors: DataFrame, centroids: DataFrame,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, cell): nearest-centroid assignment (IVF coarse quantizer).

    Centroids broadcast; cosine to each centroid; argmax with
    (rounded cosine desc, centroid_id) tie-break so the assignment is
    deterministic and reproducible in the oracle engine. At 100 TB the
    assignment is computed once at ingest and stored as a plain column
    (partition/bucket key), exactly like the LSH bucket.

    Scale shape (r10, probe-driven): the argmax is ``max_by`` over the
    broadcast-cross-join scores, NOT a row_number window — each
    vector's C score rows are produced consecutively in its own
    partition, so the map-side combiner collapses them to ONE row per
    id before anything shuffles (the window form shuffled and sorted
    all N*C rows; the sf1 probe measured that as the superlinear term
    in SemDeDup). Same per-row expression scoring, so the argmax is
    bit-identical to the oracle's. The further production step — Arrow
    GEMM against a broadcast centroid matrix — trades that exactness
    for BLAS throughput and is deliberately not the default here.
    """
    cent_rows = [(r[0], r[1]) for r in
                 centroids.select("centroid_id", vec_col).collect()]
    if len(cent_rows) >= IVF_GEMM_MIN_CENTROIDS:
        return _ivf_assignments_gemm(vectors, cent_rows, id_col, vec_col)
    v = vectors.select(F.col(id_col), F.col(vec_col).alias("_v"),
                       dot_col(F.col(vec_col), F.col(vec_col)).alias("_vn2"))
    c = centroids.select(F.col("centroid_id"), F.col(vec_col).alias("_c"),
                         dot_col(F.col(vec_col), F.col(vec_col)).alias("_cn2"))
    scored = (v.join(F.broadcast(c))
              .select(id_col, "centroid_id",
                      F.round(dot_col(F.col("_v"), F.col("_c"))
                              / F.sqrt(F.col("_vn2") * F.col("_cn2")), 8)
                      .alias("_cos")))
    # max of (cos, -centroid_id) == (cos desc, centroid_id asc) argmax
    return (scored.groupBy(id_col)
            .agg(F.max_by(
                "centroid_id",
                F.struct(F.col("_cos"), (-F.col("centroid_id"))
                         .alias("_neg"))).alias("cell"))
            .select(id_col, "cell"))


def ivf_query_cells(queries: DataFrame, centroids: DataFrame,
                    nprobe: int) -> DataFrame:
    """(query_id, q_cell): the ``nprobe`` nearest centroid cells per query —
    same scoring/tie-break as ivf_assignments, keeping ranks <= nprobe."""
    q = queries.select(F.col("query_id"), F.col("q_embedding").alias("_v"),
                       dot_col(F.col("q_embedding"), F.col("q_embedding")).alias("_vn2"))
    c = centroids.select(F.col("centroid_id"), F.col("embedding").alias("_c"),
                         dot_col(F.col("embedding"), F.col("embedding")).alias("_cn2"))
    scored = (q.join(F.broadcast(c))
              .select("query_id", "centroid_id",
                      F.round(dot_col(F.col("_v"), F.col("_c"))
                              / F.sqrt(F.col("_vn2") * F.col("_cn2")), 8)
                      .alias("_cos")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("_cos").desc(), F.col("centroid_id")))
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= nprobe)
            .select("query_id", F.col("centroid_id").alias("q_cell")))


IVF_NPROBE = 2


def kmeans_centroids(vectors: DataFrame, num_centroids: int,
                     vec_col: str = "embedding", seed: int = 42,
                     max_iter: int = 20) -> DataFrame:
    """(centroid_id, embedding): k-means-trained IVF coarse quantizer via
    ``pyspark.ml.clustering.KMeans`` (public Spark ML API).

    This is the offline training step a production IVF index runs (at
    100 TB: train on a sample, then one map-side assignment pass); the
    deterministic every-Nth-vector stand-in remains the ORACLE-gated path
    because k-means cluster identities are not reproducible in an
    engine-independent SQL oracle. ``tests/test_extensions.py`` measures
    the trained centroids' recall edge over the stand-in at equal cell
    count."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = vectors.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=num_centroids, seed=seed, maxIter=max_iter).fit(feats)
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    return local_frame(vectors.sparkSession, rows,
                       "centroid_id long, embedding array<double>")


def _seed_artifacts_local(vectors: DataFrame, centroid_mod: int | None,
                          codebook_k: int | None,
                          dim: int = EMBED_DIM, m: int | None = None,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding"):
    """ONE metadata-scale collect serving the per-query-batch artifact
    builds (r15, VERDICT r14 #7 — fuse the IVF/PQ artifact builds):
    centroid seeds (``id % centroid_mod == 0``) and/or PQ codebook seeds
    (``id < codebook_k``) gathered by a single small job and replayed as
    LOCAL relations, so every downstream consumer (the assignment
    collect, the query-cell broadcast, the encode collect, the ADC-table
    broadcast) reads a LocalTableScan instead of re-deriving its own
    id-filtered corpus scan — previously 2 collect jobs + 2 broadcast
    subtree scans per query batch. Both artifact families are
    metadata-scale BY CONTRACT (``pq_codebook`` / coarse-quantizer
    docstrings), so the single collect moves no more driver bytes than
    the collects it replaces.

    Value-exactness vs the lazy subtrees this stands in for:
    float32 -> float64 widening is exact (``dot_col`` casts every element
    to double anyway); ``centroid_id`` floor division equals the
    cast-truncation on non-negative ids; codebook ints come from
    ``quantize_np``, the pinned HALF_UP twin of ``quantize_vec``
    (tests/test_extensions.py pins frame equality of the fused and lazy
    artifact forms on the real table). Returns ``(cents_df, cb_df)``,
    ``None`` where not requested."""
    import numpy as np

    from .clustering import quantize_np

    spark = vectors.sparkSession
    cond = None
    if centroid_mod is not None:
        cond = F.col(id_col) % centroid_mod == 0
    if codebook_k is not None:
        c2 = F.col(id_col) < codebook_k
        cond = c2 if cond is None else (cond | c2)
    seed = vectors.filter(cond).select(id_col, vec_col).collect()

    # replayed through local_frame: a Catalyst LocalRelation every consumer
    # reads as a LocalTableScan, its doubles shipped as Arrow, bit-exact (a
    # Python-RDD scan instead measured 2-3x the gates' tree-CPU)
    cents_df = cb_df = None
    if centroid_mod is not None:
        rows = sorted((int(r[0]) // centroid_mod,
                       [float(x) for x in r[1]])
                      for r in seed if int(r[0]) % centroid_mod == 0)
        cents_df = local_frame(
            spark, rows, "centroid_id bigint, embedding array<double>")
    if codebook_k is not None:
        m = PQ_M if m is None else m
        d_sub = _pq_check_dim(dim, m)
        cb_rows = []
        for r in sorted(seed, key=lambda r: int(r[0])):
            j = int(r[0])
            if j >= codebook_k:
                continue
            qv = quantize_np(np.asarray([float(x) for x in r[1]],
                                        dtype=np.float64)).tolist()
            cb_rows.extend((mm, j, qv[mm * d_sub:(mm + 1) * d_sub])
                           for mm in range(m))
        cb_df = local_frame(spark, cb_rows,
                            "m int, j bigint, cbv array<bigint>")
    return cents_df, cb_df


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
             centroid_mod: int = CENTROID_MOD,
             nprobe: int = IVF_NPROBE,
             centroids: DataFrame | None = None,
             assignments: DataFrame | None = None) -> DataFrame:
    """IVF (inverted-file) ANN top-k: vectors assigned to their nearest
    centroid cell; each query scores the lists of its ``nprobe`` nearest
    cells (probe=1 measured recall@10 = 0.705 on the synthetic corpus;
    probe=2 recovers neighbors that fall just across a cell boundary).
    Default centroids are the vectors with ``vec_id % centroid_mod == 0`` —
    a deterministic stand-in for k-means training that keeps the query
    oracle-checkable; pass ``centroids`` (e.g. ``kmeans_centroids``) to use
    a trained quantizer with the identical search path. Cells are
    disjoint per vector, so multi-probe adds no duplicate candidates.

    ``assignments`` accepts the STORED (vec_id, cell) table
    (``ivf_assignments`` persisted at ingest, the cell as a
    partition/bucket key) instead of recomputing the assignment per
    query batch; it must have been built against the SAME centroids
    (test_ivf_stored_assignments_roundtrip pins parity)."""
    if centroids is None and assignments is None:
        # recompute-per-batch shape: collect the seeds once (r15)
        centroids, _ = _seed_artifacts_local(vectors, centroid_mod, None)
    cents = centroids if centroids is not None else (
        vectors.filter(F.col("vec_id") % centroid_mod == 0)
        .select((F.col("vec_id") / centroid_mod).cast("long").alias("centroid_id"),
                "embedding"))
    v_cells = (assignments if assignments is not None
               else ivf_assignments(vectors, cents))
    q_cells = ivf_query_cells(queries, cents, nprobe)
    v = (vectors.join(v_cells, "vec_id")
         .withColumn("_n2", dot_col(F.col("embedding"), F.col("embedding"))))
    q = (queries.join(F.broadcast(q_cells), "query_id")
         .withColumn("_qn2", dot_col(F.col("q_embedding"), F.col("q_embedding"))))
    scored = (
        v.join(F.broadcast(q), v.cell == q.q_cell)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id",
                F.round(_pair_cosine(F.col("q_embedding"), F.col("embedding"),
                                     F.col("_qn2"), F.col("_n2")), 4)
                .alias("cosine")))
    return _topk(scored, k)


def lsh_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
             planes: list[list[int]] | None = None) -> DataFrame:
    """Approximate top-k: score only same-LSH-bucket candidates.

    The bucket equi-join replaces the nested loop — at 1000 executors the
    big side shuffles once on bucket id (or not at all if pre-bucketed at
    write time), and each bucket is a small local top-k.
    """
    planes = planes or rademacher_planes()
    v = (vectors
         .join(lsh_buckets_df(vectors, "vec_id", "embedding", planes), "vec_id")
         .withColumn("_n2", dot_col(F.col("embedding"), F.col("embedding"))))
    qk = (queries
          .withColumn("bucket", lsh_bucket_col(F.col("q_embedding"), planes))
          .withColumn("_qn2", dot_col(F.col("q_embedding"), F.col("q_embedding"))))
    scored = (
        v.join(F.broadcast(qk), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id",
                F.round(_pair_cosine(F.col("q_embedding"), F.col("embedding"),
                                     F.col("_qn2"), F.col("_n2")), 4)
                .alias("cosine"))
    )
    return _topk(scored, k)


NUM_TABLES = 16         # OR-amplification: L independent hash tables...
PLANES_PER_TABLE = 5    # ...of b planes each (2^b buckets per table)


def lsh_table_buckets_df(df: DataFrame, id_col: str, vec_col: str,
                         num_tables: int = NUM_TABLES,
                         planes_per_table: int = PLANES_PER_TABLE,
                         planes: list[list[int]] | None = None) -> DataFrame:
    """(id, tbl, bucket): one row per hash table — multi-table sign-LSH.

    Single-table LSH with p planes AND-combines all p sign bits, so the
    collision probability for neighbors at angle theta is (1-theta/pi)^p —
    measured recall@10 of 0.005 at 8 planes on the synthetic embeddings.
    The standard fix (same banding theory as MinHash-LSH) is OR-
    amplification: L tables of b planes; a pair collides if ALL b bits
    agree in ANY table — probability 1-(1-(1-theta/pi)^b)^L. Measured on
    the synthetic embeddings (which are near-random, i.e. the hardest
    regime for ANN): L=16,b=5 reaches recall@10 = 0.71 scoring ~40% of the
    corpus per query, vs 0.005 single-table. On real clustered corpora the
    same L,b score far fewer candidates (collision probability
    concentrates on true neighbors).

    One corpus pass: posexplode + broadcast weight join computes all
    L*b quantized dot products in a single codegen'd aggregation; the
    per-table bucket ids explode to (id, tbl, bucket) rows. Integer-exact
    quantized math keeps every bucket id bit-identical across engines.
    """
    planes = planes or rademacher_planes(num_tables * planes_per_table)
    n_planes = num_tables * planes_per_table
    spark = df.sparkSession
    plane_rows = [(pos, *[planes[i][pos] for i in range(n_planes)])
                  for pos in range(len(planes[0]))]
    schema = "pos int, " + ", ".join(f"w{i} long" for i in range(n_planes))
    weights = F.broadcast(local_frame(spark, plane_rows, schema))
    exploded = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("pos", "x"))
    q = F.round(F.col("x").cast("double") * QUANT_SCALE).cast("long")
    sums = (exploded.withColumn("q", q).join(weights, "pos")
            .groupBy(id_col)
            .agg(*[F.sum(F.col("q") * F.col(f"w{i}")).alias(f"s{i}")
                   for i in range(n_planes)]))
    tables = F.array(*[
        F.struct(
            F.lit(t).alias("tbl"),
            sum((F.when(F.col(f"s{t * planes_per_table + j}") >= 0,
                        F.lit(2 ** j)).otherwise(F.lit(0))
                 for j in range(planes_per_table)),
                F.lit(0).cast("long")).cast("long").alias("bucket"))
        for t in range(num_tables)
    ])
    return (sums.select(F.col(id_col), F.explode(tables).alias("e"))
            .select(id_col, "e.tbl", "e.bucket"))


def lsh_table_buckets_pd_df(df: DataFrame, id_col: str, vec_col: str,
                            num_tables: int = NUM_TABLES,
                            planes_per_table: int = PLANES_PER_TABLE,
                            planes: list[list[int]] | None = None) -> DataFrame:
    """Arrow fast path for ``lsh_table_buckets_df`` — byte-identical buckets.

    One int64 matmul per Arrow batch replaces the posexplode x 80-column
    aggregation (measured 8.8 s -> sub-second at sf0.1): quantize, multiply
    by the (dim x L*b) +-1 plane matrix, take sign bits, pack per-table
    bucket ids, and emit the exploded (id, tbl, bucket) rows straight from
    the batch (mapInPandas — see the inline note on why not posexplode).

    Exactness argument (why no consistency gap with the expression form or
    the DuckDB oracle is possible on float32 embeddings):

    * quantization: a float32 x widened to double has <= 24 significand
      bits; x * QUANT_SCALE (1000 < 2^10) is exactly representable in
      double, so the product is EXACT — and an exact round-half tie would
      need x == (2k+1)/2000, impossible for a binary float (the denominator
      keeps a factor 5^3). With no ties and no double-rounding, every
      round-to-nearest (np.rint here, BigDecimal HALF_UP in Spark, round()
      in DuckDB) picks the same integer.
    * bucket math: integer sums of q*w in int64 — order-independent, far
      from overflow (|q| <= ~10^5, 64 dims).

    ``tests/test_impl_consistency.py`` additionally asserts frame equality
    of both forms on the real embeddings table.
    """
    planes = planes or rademacher_planes(num_tables * planes_per_table)
    W = np.array(planes, dtype=np.int64).T          # (dim, L*b)
    band_w = (np.int64(1) << np.arange(planes_per_table, dtype=np.int64))
    tbl_idx = np.arange(num_tables, dtype=np.int32)

    # mapInPandas emitting the exploded (id, tbl, bucket) rows directly —
    # NOT pandas_udf + posexplode: Catalyst duplicates a generator-input
    # UDF expression into the generate's size()>0 pre-filter, so the
    # posexplode form ran the whole matmul TWICE (two stacked
    # ArrowEvalPython nodes in the plan; test_plan_shapes pins the single
    # Python stage).
    def _bucket_rows(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * QUANT_SCALE
            Q = np.rint(X).astype(np.int64)
            bits = (Q @ W >= 0).astype(np.int64)    # (n, L*b)
            buckets = (bits.reshape(len(bits), num_tables, planes_per_table)
                       @ band_w)
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy(), num_tables),
                "tbl": np.tile(tbl_idx, len(pdf)),
                "bucket": buckets.reshape(-1),
            })

    # id type derived from the input schema — a hardcoded `long` would fail
    # (or silently coerce) string/UUID doc ids at Arrow conversion
    id_type = df.schema[id_col].dataType.simpleString()
    return (df.select(F.col(id_col), F.col(vec_col))
            .mapInPandas(_bucket_rows,
                         schema=f"{id_col} {id_type}, tbl int, bucket long"))


def build_lsh_index(vectors: DataFrame,
                    num_tables: int = NUM_TABLES,
                    planes_per_table: int = PLANES_PER_TABLE,
                    planes: list[list[int]] | None = None) -> DataFrame:
    """The stored ANN index: the (vec_id, tbl, bucket) table
    ``lsh_multi_topk`` probes. Built once at ingest and persisted —
    partition by ``tbl`` and cluster/bucket by ``bucket`` so a query
    batch's candidate join prunes to same-bucket file groups; this
    returns the plain DataFrame, layout is the writer's choice.
    (test_lsh_stored_index_roundtrip exercises build -> write -> load ->
    query parity with the recompute path.)"""
    planes = planes or rademacher_planes(num_tables * planes_per_table)
    return lsh_table_buckets_pd_df(vectors, "vec_id", "embedding",
                                   num_tables, planes_per_table, planes)


def lsh_multi_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
                   num_tables: int = NUM_TABLES,
                   planes_per_table: int = PLANES_PER_TABLE,
                   planes: list[list[int]] | None = None,
                   index: DataFrame | None = None) -> DataFrame:
    """Approximate top-k over the union of ``num_tables`` LSH tables.

    Candidates = distinct (query, vector) pairs colliding in >= 1 table —
    an equi-join on (tbl, bucket), O(L * n / 2^b) pairs per query, never a
    cartesian. Each candidate is scored once (distinct before the cosine).
    At scale pass the STORED bucket table (``build_lsh_index``, persisted
    at ingest) as ``index`` — the candidate join then prunes to
    same-bucket file groups; when omitted the buckets are recomputed from
    the vectors (fine for tests, the shape to avoid over a 100 TB
    corpus). ``vectors`` still supplies the raw embeddings for the exact
    cosine verify (the index carries only bucket ids).
    """
    planes = planes or rademacher_planes(num_tables * planes_per_table)
    vb = index if index is not None else build_lsh_index(
        vectors, num_tables, planes_per_table, planes)
    qb = lsh_table_buckets_pd_df(
        queries.select(F.col("query_id").alias("vec_id"),
                       F.col("q_embedding").alias("embedding")),
        "vec_id", "embedding", num_tables, planes_per_table, planes) \
        .select(F.col("vec_id").alias("query_id"), "tbl", "bucket")
    cand = (vb.join(F.broadcast(qb), ["tbl", "bucket"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id")
            .distinct())
    v = vectors.withColumn("_n2", dot_col(F.col("embedding"), F.col("embedding")))
    q = queries.withColumn("_qn2", dot_col(F.col("q_embedding"), F.col("q_embedding")))
    scored = (cand.join(v, "vec_id").join(F.broadcast(q), "query_id")
              .select("query_id", "vec_id",
                      F.round(_pair_cosine_pd(F.col("q_embedding"), F.col("embedding"),
                                              F.col("_qn2"), F.col("_n2")), 4)
                      .alias("cosine")))
    return _topk(scored, k)


# --- Product quantization (PQ / ADC) -----------------------------------------
#
# The memory-compression scale path: each vector stores M small codes (one
# byte each here) instead of `dim` floats — 64 floats -> 8 codes = 32x
# compression — and queries score candidates through per-subspace distance
# TABLES (asymmetric distance computation), never touching the raw vectors.
# At 100 TB this is what makes an in-memory ANN index possible at all;
# composes with IVF (ivf_topk) as classic IVF-PQ: coarse cells prune the
# candidate list, PQ codes score the survivors.
#
# Everything is exact int64 math on round(x*1000)-quantized vectors (the
# module's shared precision model), with deterministic codebooks (the
# subvectors of the first PQ_K vectors by id — the same every-Nth stand-in
# policy the IVF quantizer uses), so encode, tables and ADC scores are
# oracle-checkable; a trained codebook (per-subspace k-means) drops in
# through the `codebook` argument without touching the search path.

PQ_M = 8    # subspaces (dim 64 -> 8 dims each)
PQ_K = 16   # codewords per subspace (4-bit codes)


def _pq_check_dim(dim: int, m: int) -> int:
    """dim must split evenly into m subspaces — a silent remainder would
    mean trailing dimensions never influence codes, tables, or distances
    (quietly-wrong results, the worst failure mode)."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} is not divisible by m={m} subspaces: "
                         f"the trailing {dim % m} dimensions would be "
                         f"silently ignored")
    return dim // m


def _pq_subspaces(dim: int, m: int, field: str) -> Column:
    """array<struct<m, {field}>>: the m subvector slices of quantized
    vector column ``qv`` — the one definition every PQ path explodes."""
    d_sub = _pq_check_dim(dim, m)
    return F.array(*[
        F.struct(F.lit(mm).alias("m"),
                 F.slice(F.col("qv"), mm * d_sub + 1, d_sub).alias(field))
        for mm in range(m)])


def pq_codebook(vectors: DataFrame, id_col: str, vec_col: str,
                dim: int = EMBED_DIM, m: int = PQ_M,
                k: int = PQ_K) -> DataFrame:
    """(m, j, cbv): deterministic PQ codebooks — subspace ``m``'s codeword
    ``j`` is the m-th subvector of the vector with id ``j``. Contract: ids
    0..k-1 must exist (the testdata tables' sequential-id guarantee); a
    corpus without them yields a short codebook and empty downstream
    results, so inject a trained codebook for production corpora. Tiny
    (m*k rows) — broadcast everywhere it's used."""
    from .clustering import quantize_vec
    base = (vectors.filter(F.col(id_col) < k)
            .select(F.col(id_col).alias("j"),
                    quantize_vec(F.col(vec_col)).alias("qv")))
    return (base.select("j", F.explode(_pq_subspaces(dim, m, "cbv")).alias("s"))
            .select("s.m", "j", "s.cbv"))


def pq_encode(vectors: DataFrame, codebook: DataFrame, id_col: str,
              vec_col: str, dim: int = EMBED_DIM, m: int = PQ_M) -> DataFrame:
    """(id, m, code): each vector's nearest codeword per subspace (ties to
    the smallest code). The encode pass is explode-by-subspace x broadcast
    codebook — m*k distance evaluations per vector, map-side only, done
    ONCE at ingest in a real pipeline (codes are then stored columnar)."""
    from .clustering import quantize_vec, sq_dist_col
    sv = (vectors
          .select(F.col(id_col), quantize_vec(F.col(vec_col)).alias("qv"))
          .select(F.col(id_col), F.explode(_pq_subspaces(dim, m, "sv")).alias("s"))
          .select(F.col(id_col), F.col("s.m").alias("m"), F.col("s.sv").alias("sv")))
    scored = (sv.join(F.broadcast(codebook), "m")
              .withColumn("_d", sq_dist_col(F.col("sv"), F.col("cbv"))))
    return (scored.groupBy(id_col, "m")
            .agg(F.min(F.struct(F.col("_d"), F.col("j"))).alias("_mn"))
            .select(id_col, "m", F.col("_mn.j").alias("code")))


def pq_encode_pd(vectors: DataFrame, codebook: DataFrame, id_col: str,
                 vec_col: str, dim: int = EMBED_DIM,
                 m: int = PQ_M) -> DataFrame:
    """Arrow fast path for ``pq_encode`` — identical (id, m, code) rows.

    The expression form evaluates ``sq_dist_col`` (an interpreted
    zip_with/aggregate lambda) once per (vector, subspace, codeword) —
    n * m * k folds; the noop-probe measured it as the dominant stage of
    the PQ gates at sf0.1 (~0.8 s of 1.8 s). Here each Arrow batch does
    the same arithmetic as one vectorized int64 pass: HALF_UP quantize
    (``clustering.quantize_np``, the pinned numpy twin), per-subspace
    squared-distance tensor against the collected codebook, argmin.

    Exactness: distances are int64 sums of squares of int64 differences
    (|q| <= ~10^5 over <= 8 dims — far from overflow), so every distance
    is the same exact integer as the expression form's; ``np.argmin``
    returns the FIRST minimum and codewords are ordered by ascending
    ``j``, which IS the expression form's (distance, j) min-struct
    tie-break. The codebook is metadata-scale BY CONTRACT (m*k rows —
    ``pq_codebook`` docstring), so collecting it to the driver mirrors
    ``ivf_assignments``'s centroid collect; a subspace absent from the
    codebook emits no codes for that m, exactly like the inner join.
    ``tests/test_impl_consistency.py`` pins frame equality of both forms
    on the real embeddings table.
    """
    from .clustering import quantize_np

    d_sub = _pq_check_dim(dim, m)
    cb_rows = codebook.select("m", "j", "cbv").collect()
    by_m: dict[int, list] = {}
    for r in cb_rows:
        by_m.setdefault(int(r["m"]), []).append(
            (int(r["j"]), [int(x) for x in r["cbv"]]))
    ms = sorted(mm for mm in by_m if 0 <= mm < m)
    js = {mm: np.array([j for j, _ in sorted(by_m[mm])], dtype=np.int64)
          for mm in ms}
    cbs = {mm: np.array([v for _, v in sorted(by_m[mm])], dtype=np.int64)
           for mm in ms}
    spark = vectors.sparkSession
    bc = spark.sparkContext.broadcast((ms, js, cbs))

    def _enc(batches):
        ms_b, js_b, cbs_b = bc.value
        for pdf in batches:
            if not len(pdf) or not ms_b:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Q = quantize_np(X)                        # (n, dim) int64
            ids = pdf[id_col].to_numpy()
            n = len(Q)
            out_id, out_m, out_code = [], [], []
            for mm in ms_b:
                sv = Q[:, mm * d_sub:(mm + 1) * d_sub]      # (n, d_sub)
                diff = sv[:, None, :] - cbs_b[mm][None, :, :]
                dist = np.einsum("nkd,nkd->nk", diff, diff)
                code = js_b[mm][np.argmin(dist, axis=1)]
                out_id.append(ids)
                out_m.append(np.full(n, mm, dtype=np.int32))
                out_code.append(code)
            yield pd.DataFrame({
                id_col: np.concatenate(out_id),
                "m": np.concatenate(out_m),
                "code": np.concatenate(out_code)})

    id_type = vectors.schema[id_col].dataType.simpleString()
    return (vectors.select(F.col(id_col), F.col(vec_col))
            .mapInPandas(_enc, f"{id_col} {id_type}, m int, code long"))


def pq_query_tables(queries: DataFrame, cb: DataFrame,
                    dim: int = EMBED_DIM, m: int = PQ_M) -> DataFrame:
    """(query_id, m, code, td): per-query ADC distance tables — the exact
    int64 distance from each query subvector to every codeword. The ONE
    builder both pq_adc_topk and ivf_pq_topk use (the IVF-PQ subset test
    pins that both paths assign identical distances, which must not depend
    on hand-synchronized copies). |Q| * m * k rows — broadcast."""
    from .clustering import quantize_vec, sq_dist_col
    return (queries
            .select(F.col("query_id"), quantize_vec(F.col("q_embedding")).alias("qv"))
            .select("query_id", F.explode(_pq_subspaces(dim, m, "sv")).alias("s"))
            .select("query_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
            .join(F.broadcast(cb), "m")
            .select("query_id", "m", F.col("j").alias("code"),
                    sq_dist_col(F.col("sv"), F.col("cbv")).alias("td")))


def pq_adc_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
                dim: int = EMBED_DIM, m: int = PQ_M,
                codebook: DataFrame | None = None,
                codes: DataFrame | None = None) -> DataFrame:
    """(query_id, vec_id, adc_dist, rank): per-query top-k by asymmetric
    PQ distance — sum over subspaces of the exact distance from the query's
    subvector to the candidate's CODEWORD.

    Scale shape: codes are 3 small ints per (vector, subspace); the
    query-side distance tables (|Q| * m * k rows) broadcast; the big side
    joins map-side on (m, code) and one shuffle on (query, vec) sums the m
    partial distances. The raw corpus vectors are read only by the encode
    pass — and not even then when the STORED code table (``pq_encode``
    persisted at ingest, with its codebook) is passed as ``codes``: the
    query then never touches raw vectors at all, which is the whole point
    of PQ at 100 TB (test_pq_stored_codes_roundtrip pins parity). ADC
    score ties and rank ties both break deterministically (min code at
    encode, vec_id at rank)."""
    if codebook is None and codes is None:
        # recompute-per-batch shape: collect the seeds once (r15)
        _, codebook = _seed_artifacts_local(vectors, None, PQ_K, dim, m)
    cb = codebook if codebook is not None else pq_codebook(
        vectors, "vec_id", "embedding", dim, m)
    if codes is None:
        codes = pq_encode_pd(vectors, cb, "vec_id", "embedding", dim, m)
    qtab = pq_query_tables(queries, cb, dim, m)
    scored = (codes.join(F.broadcast(qtab), ["m", "code"])
              .filter(F.col("vec_id") != F.col("query_id"))
              .groupBy("query_id", "vec_id")
              .agg(F.sum("td").alias("adc_dist")))
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(),
                                               F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "adc_dist", "rank"))


def ivf_pq_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
                centroid_mod: int = CENTROID_MOD, nprobe: int = IVF_NPROBE,
                dim: int = EMBED_DIM, m: int = PQ_M,
                centroids: DataFrame | None = None,
                codebook: DataFrame | None = None,
                assignments: DataFrame | None = None,
                codes: DataFrame | None = None) -> DataFrame:
    """IVF-PQ: the production ANN shape — IVF cells prune the candidate
    list (each query scores only its ``nprobe`` nearest cells), PQ codes
    score the survivors by asymmetric distance, raw vectors touched by
    neither at query time.

    Scale shape: both the cell id and the PQ codes are ingest-time columns;
    a query touches |cells probed| / |cells| of the corpus and reads 8
    small ints per candidate instead of 64 floats. The cell join and the
    distance-table join both broadcast their small side; one shuffle on
    (query, vec) sums the per-subspace distances. Pass the STORED
    ``assignments`` (vec_id, cell) and ``codes`` tables (persisted at
    ingest with their centroids/codebook) and a query batch reads no raw
    corpus vectors at all — the full production layout
    (test_ivf_pq_stored_layout_roundtrip pins parity).
    """
    if (centroids is None and codebook is None and assignments is None
            and codes is None):
        # recompute-per-batch shape: ONE seed collect serves the
        # centroid AND codebook artifacts (r15, VERDICT r14 #7)
        centroids, codebook = _seed_artifacts_local(
            vectors, centroid_mod, PQ_K, dim, m)
    cents = centroids if centroids is not None else (
        vectors.filter(F.col("vec_id") % centroid_mod == 0)
        .select((F.col("vec_id") / centroid_mod).cast("long").alias("centroid_id"),
                "embedding"))
    cb = codebook if codebook is not None else pq_codebook(
        vectors, "vec_id", "embedding", dim, m)
    v_cells = (assignments if assignments is not None
               else ivf_assignments(vectors, cents))
    q_cells = ivf_query_cells(queries, cents, nprobe)
    if codes is None:
        codes = pq_encode_pd(vectors, cb, "vec_id", "embedding", dim, m)
    qtab = pq_query_tables(queries, cb, dim, m)
    cand = (v_cells.join(F.broadcast(q_cells),
                         v_cells.cell == q_cells.q_cell)
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id"))
    scored = (cand.join(codes, "vec_id")
              .join(F.broadcast(qtab), ["query_id", "m", "code"])
              .groupBy("query_id", "vec_id")
              .agg(F.sum("td").alias("adc_dist")))
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(),
                                               F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "adc_dist", "rank"))


SEMDEDUP_EPS_COS = 0.3  # drop when cosine to a smaller-id cluster-mate >= this


def semdedup_flags(vectors: DataFrame, centroids: DataFrame,
                   threshold: float = SEMDEDUP_EPS_COS,
                   max_bucket: int | None = None,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) semantic-dedup flags:
    cluster the embeddings with a coarse quantizer, then WITHIN each cluster
    drop every item whose cosine to a smaller-id cluster-mate reaches
    ``threshold``. Returns (id, cell, is_dropped, max_sim_smaller) — one row
    per input vector, keep/drop decided per item with no transitive
    closure (the paper's rule: dedup against earlier items in the cluster).

    Scale shape — the whole point of the cluster stage is to confine the
    O(m^2) pairwise cosine to cluster-sized m:

    * assignment is one broadcast-centroid map pass (``ivf_assignments``;
      at 100 TB it is an ingest-time column / partition key),
    * candidate pairs come from ONE shuffle on the cell id
      (``bucket_pairs`` — the same single-execution within-bucket explode
      the LSH dedups use, with the same ``max_bucket`` degenerate guard),
    * the exact-cosine verify is the melt-join: each pair melts to two
      (pair, id) rows, the corpus joins by id once (candidates broadcast,
      vectors stream map-side), Arrow-batched cosine on the reassembled
      pairs. Nothing corpus-sized shuffles except the one cell exchange.
    """
    from .dedup import bucket_pairs

    # cells has TWO consumers (pair mining + the final flag join); the
    # assignment pipeline would re-execute per consumer, so materialize the
    # tiny (id, cell) projection once. At 100 TB the cell id is an
    # ingest-time stored column and this is a plain scan either way.
    cells = (ivf_assignments(vectors, centroids, id_col, vec_col)
             .localCheckpoint(eager=True))
    # one cell per id -> within-cell (a < b) pairs are already distinct
    cand = (bucket_pairs(cells, ["cell"], F.col(id_col),
                         max_bucket=max_bucket)
            .select(F.col("a").alias("id_a"), F.col("b").alias("id_b")))
    scored = (pair_cosines(cand, vectors, id_col, vec_col, strategy="melt")
              .withColumn("cosine", F.round(F.col("cosine"), 4)))
    # pairs are (smaller, larger): the LARGER id is the one SemDeDup drops
    dropped = (scored.filter(F.col("cosine") >= threshold)
               .groupBy("id_b")
               .agg(F.max("cosine").alias("max_sim_smaller")))
    return (cells.join(dropped, cells[id_col] == dropped["id_b"], "left")
            .select(F.col(id_col), F.col("cell"),
                    F.col("max_sim_smaller").isNotNull().alias("is_dropped"),
                    F.col("max_sim_smaller")))
