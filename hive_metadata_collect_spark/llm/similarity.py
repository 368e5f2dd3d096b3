"""Embedding similarity search — SURVEY.md §2.11 (#69, #70) plus
three ANN scale paths: random-projection LSH, IVF, and product
quantization.

Scale notes: dense numeric kernels run as scalar pandas UDFs (one
NumPy matmul/einsum per Arrow batch — the sanctioned vectorized-
Python path); the exact pairwise oracle path keeps the element-order
Catalyst `_dot` so rounded results match DuckDB exactly. #69 (one
query vs corpus) is embarrassingly parallel — a scan + per-batch
matvec + TakeOrderedAndProject; that shape holds at any corpus size.
#70 (all pairs ≥ τ) is inherently quadratic — fine to SF-scale; the
100 TB paths bound candidates structurally: sim_pairs_lsh (seeded
hyperplane buckets → exact re-rank), sim_topk_ivf (k-means lists →
probe pruning), sim_topk_pq (16×-compressed codes → ADC table lookup
→ exact re-rank).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType

from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.sources.fixtures import load_table

_COSINE_TAU = 0.45


def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list:
    """The query embedding, read on the driver by every build: in a
    production API it is a call argument; the fixture shape makes the
    operator fetch it from the corpus (an O(1)-row lookup)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") == vec_id).select("embedding").head()[0]


def _cosine_vs_query_udf(query_vec):
    """Scalar pandas UDF computing cosine(embedding, query_vec) per
    row, vectorized over each Arrow batch: np.vstack turns the batch's
    arrays into one (n, dim) matrix, one BLAS matvec + einsum replace
    three interpreted higher-order aggregates per row. The query
    vector is baked into the closure (64 floats — broadcast-by-
    pickling, the same size class as the IVF centroid probe), so no
    per-row copy of it ever crosses Arrow. float64 accumulation
    mirrors the DuckDB oracle's DOUBLE[] cast."""
    q = np.asarray(query_vec, dtype=np.float64)
    qq = float(q @ q)

    @F.pandas_udf(DoubleType())
    def cos(emb: pd.Series) -> pd.Series:
        E = np.vstack(emb.to_numpy()).astype(np.float64)
        num = E @ q
        den = np.sqrt(np.einsum("ij,ij->i", E, E) * qq)
        return pd.Series(num / den)

    return cos


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ over two array<float> columns, accumulated in double in
    element order (mirrors DuckDB's list_dot_product order so rounded
    results agree)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@register(
    "sim_topk_cosine",
    survey_row=69,
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label,
           round(list_dot_product(embedding::DOUBLE[], qe) /
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
                      * list_dot_product(qe, qe)), 6) AS cosine
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id=0 — the exact
    baseline every ANN variant is measured against. One-row broadcast
    cross join + TakeOrderedAndProject; no shuffle of the corpus.

    The dot products run in a scalar pandas UDF (NumPy matvec per
    Arrow batch) — the sanctioned vectorized-Python path for dense
    numeric kernels; the earlier higher-order-function formulation was
    JVM-side but interpreted per element (~3 interpreted dots per
    row). The one-row query vector is fetched driver-side once and
    closed over — fetching one k-dim vector is O(dims), the same
    pattern as sim_topk_ivf's centroid probe, and beats shipping the
    vector through Arrow once per corpus row via a cross join
    (measured 2× at sf0.1)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cos = _cosine_vs_query_udf(_query_vector(spark, sf_dir, 0))
    return (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", "label", F.round(cos("embedding"), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "sim_pairs_threshold",
    survey_row=70,
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                 sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])
                      * list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])),
                 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
          sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])
               * list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))
          >= {_COSINE_TAU}
    """,
)
def sim_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All embedding pairs with cosine ≥ τ, exact. Norms are computed
    once per vector (narrow pass), then the triangular self-join only
    evaluates the cross dot product. Quadratic by nature — the scale
    path is sim_pairs_lsh."""
    emb = load_table(spark, sf_dir, "embeddings")
    with_norm = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    a = with_norm.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = with_norm.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") >= _COSINE_TAU)
        .select("vec_a", "vec_b", F.round("cosine_raw", 6).alias("cosine"))
    )


#: Signed-random-projection LSH: _SRP_BITS sign bits AND-amplified into
#: one bucket id per table, _SRP_TABLES tables OR-amplified for recall.
#: Tuned on the fixture threshold (τ=0.45 → per-bit collision p≈0.65 for
#: true pairs): 7×24 measures recall 0.71–0.86 with ~19 % of all pairs
#: as candidates (vs ~100 % for single-hyperplane floor buckets — width
#: √(2−2τ)≈1.05 spanned the whole unit-projection range, degenerating to
#: all-pairs). At a production τ of 0.8+ the same structure yields <1 %
#: candidates; bits/tables are the knobs.
_SRP_TABLES = 24
_SRP_BITS = 7


def _srp_bucket_udf(planes):
    """pandas UDF mapping an embedding to its _SRP_TABLES signed-
    random-projection bucket ids in one NumPy matmul: unit-normalize
    the batch, take sign bits against the seeded hyperplanes, pack
    each table's _SRP_BITS bits into one int64. Returns
    array<bigint> (one id per table)."""
    P = planes.T  # (dim, tables*bits)
    w = (2 ** np.arange(_SRP_BITS)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(e: pd.Series) -> pd.Series:
        E = np.vstack(e.to_numpy()).astype(np.float64)
        U = E / np.linalg.norm(E, axis=1, keepdims=True)
        bits = (U @ P > 0).astype(np.int64)
        B = bits.reshape(len(E), _SRP_TABLES, _SRP_BITS) @ w
        return pd.Series(list(B))

    return buckets


@F.pandas_udf(DoubleType())
def _pair_cosine(ea: pd.Series, eb: pd.Series) -> pd.Series:
    """Exact cosine over candidate pairs, one einsum per Arrow batch."""
    A = np.vstack(ea.to_numpy()).astype(np.float64)
    B = np.vstack(eb.to_numpy()).astype(np.float64)
    num = np.einsum("ij,ij->i", A, B)
    den = np.sqrt(
        np.einsum("ij,ij->i", A, A) * np.einsum("ij,ij->i", B, B)
    )
    return pd.Series(num / den)


def lsh_pair_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH candidate generation + exact
    re-rank — the 100 TB path for #70, expressed natively (no ML-lib
    UDF join). This is the PRODUCTION pair surface (vec_a, vec_b,
    cosine); the registered `sim_pairs_lsh` entry wraps it in the
    driver-hashable recall contract.

    Unit-normalize and hash each vector into _SRP_TABLES bucket ids
    (_SRP_BITS AND-amplified sign bits each, one NumPy matmul per Arrow
    batch); self-join on (table, bucket) carrying ONLY (vec_id, table,
    bucket) — the candidate shuffle moves 24-byte rows, never embeddings
    (shuffling two 64-float embeddings per candidate moves ≈ 0.5 GB at
    sf0.01 and took 37 s); distinct the id pairs; join the two
    embeddings back for the survivors only; exact cosine keeps pairs ≥ τ
    (false candidates never survive — approx ⊆ exact, asserted in
    tests/test_edge_cases.py along with recall vs the exact op). The
    deduped candidate count is published as the observation metric
    `lsh_candidates` (visible to any QueryExecutionListener — the
    measure-don't-guess knob for bits/tables tuning). Approximate recall
    → rows-only driver check. """
    rng = np.random.default_rng(42)
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(_query_vector(spark, sf_dir))
    planes = rng.standard_normal((_SRP_TABLES * _SRP_BITS, dim))
    buckets = _srp_bucket_udf(planes)

    hashed = emb.select(
        "vec_id",
        F.posexplode(buckets("embedding")).alias("table", "bucket"),
    )
    a = hashed.select(
        F.col("vec_id").alias("vec_a"), "table", "bucket"
    )
    b = hashed.select(
        F.col("vec_id").alias("vec_b"), "table", "bucket"
    )
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
        .observe("sim_pairs_lsh", F.count(F.lit(1)).alias("lsh_candidates"))
    )
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cosine_raw", _pair_cosine("emb_a", "emb_b"))
        .filter(F.col("cosine_raw") >= _COSINE_TAU)
        .select("vec_a", "vec_b", F.round("cosine_raw", 6).alias("cosine"))
    )


@register(
    "sim_pairs_lsh",
    survey_row=70,
    oracle=f"""
    WITH p AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
              sqrt(list_dot_product(a.embedding::DOUBLE[],
                                    a.embedding::DOUBLE[])
                   * list_dot_product(b.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]))
              >= {_COSINE_TAU}
    )
    SELECT count(*)::BIGINT AS n_exact_pairs,
           TRUE AS recall_ge_05,
           TRUE AS no_false_positives
    FROM p
    """,
)
def sim_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-HASHABLE RECALL CONTRACT for the SRP-LSH pair path (the
    agg_approx_distinct exact-regime pattern). The LSH candidate set
    itself depends on the seeded random planes, which no SQL engine can
    re-derive, so on its own it allows only a rows-only driver check
    with the recall assertion living in tests/test_edge_cases.py. This
    form makes the bound DRIVER-VISIBLE: it computes BOTH the LSH pairs
    (`lsh_pair_candidates` — the production surface, unchanged) and the
    exact τ-threshold pairs (the sim_pairs_threshold kernel, quadratic —
    the contract gate runs at oracle scales, the LSH path alone is the
    100 TB plan), then emits one hashable row: the exact pair count
    (DuckDB re-derives it independently), recall ≥ 0.5 (2·hits ≥ exact,
    integer compare — measured 0.71-0.86 over sf0.001-0.1, engine test
    floor 0.5), and no-false-positives (exact re-rank guarantees approx
    ⊆ exact; anti-join count must be 0)."""
    lsh = lsh_pair_candidates(spark, sf_dir).select("vec_a", "vec_b")
    exact = sim_pairs_threshold(spark, sf_dir).select("vec_a", "vec_b")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_hits = lsh.join(exact, ["vec_a", "vec_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    n_fp = lsh.join(exact, ["vec_a", "vec_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_fp")
    )
    return (
        n_exact.crossJoin(n_hits)
        .crossJoin(n_fp)
        .select(
            "n_exact_pairs",
            (2 * F.col("n_hits") >= F.col("n_exact_pairs")).alias(
                "recall_ge_05"
            ),
            (F.col("n_fp") == 0).alias("no_false_positives"),
        )
    )


def ivf_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN top-10 for vec_id=0 — the partition-
    pruned scale path for #69.

    Pipeline: L2-normalize → k-means coarse quantizer (seeded) →
    every vector lands in one inverted list keyed by its nearest
    centroid → the query probes only the nprobe closest lists →
    exact cosine re-rank inside probed lists. At 100 TB the corpus
    is written partitioned by the list id, so a probe is literal
    partition pruning: the scan touches nprobe/k of the data and the
    re-rank is the same brute-force kernel as sim_topk_cosine on that
    slice. Approximate (a true neighbor can live in an unprobed
    list); this is the PRODUCTION neighbor surface — the registered
    `sim_topk_ivf` entry wraps it in the driver-hashable recall
    contract, and recall vs the exact operator is additionally
    asserted in tests/test_edge_cases.py.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    k, nprobe = 10, 3
    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    unit = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double") / norm).alias("unit"),
    ).select("vec_id", "label", "unit", array_to_vector("unit").alias("features"))

    model = KMeans(k=k, seed=42, featuresCol="features", predictionCol="list_id").fit(
        unit
    )
    lists = model.transform(unit)

    # Driver-side probe selection: centroids are k tiny vectors; rank
    # them by dot with the query's unit vector.
    qrow = unit.filter(F.col("vec_id") == 0).select("unit").head()
    quv = qrow["unit"]
    scored = sorted(
        ((sum(c[i] * quv[i] for i in range(len(quv))), lid)
         for lid, c in enumerate(model.clusterCenters())),
        reverse=True,
    )
    probe_ids = [lid for _, lid in scored[:nprobe]]

    q = F.broadcast(
        unit.filter(F.col("vec_id") == 0).select(F.col("unit").alias("qu"))
    )
    cos = _dot(F.col("unit"), F.col("qu"))  # unit vectors: cosine = dot
    return (
        lists.filter(F.col("list_id").isin(probe_ids))
        .filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select("vec_id", "label", F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


_EXACT_TOP10_SQL = """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe
               FROM embeddings WHERE vec_id = 0),
    top10 AS (
        SELECT vec_id,
               round(list_dot_product(embedding::DOUBLE[], qe) /
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])
                          * list_dot_product(qe, qe)), 6) AS cosine
        FROM embeddings, q
        WHERE vec_id <> 0
        ORDER BY cosine DESC, vec_id ASC
        LIMIT 10
    )
"""


def _ann_recall_contract(
    approx: DataFrame, exact: DataFrame, min_hits: int, flag: str
) -> DataFrame:
    """Fold an ANN top-k frame and the exact top-k frame into the
    1-row driver-hashable contract: returned count, hits ≥ floor
    (integer compare), and the exact frame's top-1 / top-k-min
    cosines, which the DuckDB oracle re-derives independently."""
    n_ret = approx.agg(F.count(F.lit(1)).alias("n_returned"))
    n_hits = approx.select("vec_id").join(
        exact.select("vec_id"), "vec_id", "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    stats = exact.agg(
        F.max("cosine").alias("exact_top1_cosine"),
        F.min("cosine").alias("exact_top10_min_cosine"),
    )
    return (
        n_ret.crossJoin(n_hits)
        .crossJoin(stats)
        .select(
            "n_returned",
            (F.col("n_hits") >= min_hits).alias(flag),
            "exact_top1_cosine",
            "exact_top10_min_cosine",
        )
    )


@register(
    "sim_topk_ivf",
    survey_row=69,
    oracle=f"""
    {_EXACT_TOP10_SQL}
    SELECT count(*)::BIGINT AS n_returned,
           TRUE AS recall_ge_04,
           round(max(cosine), 6) AS exact_top1_cosine,
           round(min(cosine), 6) AS exact_top10_min_cosine
    FROM top10
    """,
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-HASHABLE RECALL CONTRACT for the IVF ANN path. IVF's
    neighbor ids depend on the seeded k-means quantizer, which SQL
    cannot re-derive, so on its own it allows only a rows-only driver
    check. The contract form runs the IVF top-10 (`ivf_topk_neighbors`,
    the production surface, unchanged) AND the exact brute-force top-10
    (linear — a broadcast query against the corpus, so unlike the pair
    contracts this gate is itself 100 TB-shaped), then emits one
    hashable row: returned count, `n ∩ exact-top-10 ≥ 4` (measured 5-8
    over sf0.001-0.1; the engine test keeps the tighter 0.5 floor, the
    contract floor leaves one-hit headroom against k-means float-order
    jitter), and the exact top-1/top-10-min cosines the oracle
    recomputes."""
    return _ann_recall_contract(
        ivf_topk_neighbors(spark, sf_dir),
        sim_topk_cosine(spark, sf_dir),
        4,
        "recall_ge_04",
    )


@register(
    "sim_label_centroids",
    survey_row=69,
    oracle="""
    SELECT label, i AS dim, round(avg(embedding[i]), 6) AS centroid
    FROM embeddings, generate_series(1, 64) AS t(i)
    GROUP BY label, i
    """,
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding space — the training step
    of an IVF index (sim_topk_ivf) and the summary statistic behind
    label-drift monitoring. posexplode flattens to (label, dim, val)
    so the centroid is one hash aggregate; partial aggregation
    collapses the 64× row fan-out map-side, so the shuffle carries
    |labels|×|dims| rows. At extreme dims prefer spark.ml's
    Summarizer.mean over vectors to avoid the explode entirely."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(F.round(F.avg("val"), 6).alias("centroid"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — third ANN path beside LSH and IVF.

_PQ_M = 8  # sub-vectors per embedding
_PQ_K = 16  # centroids per sub-codebook
_PQ_TRAIN_MAX = 2048  # codebook training sample cap (driver-side)
_PQ_CAND = 100  # ADC candidates re-ranked exactly


def _pq_train_codebooks(vectors, normalize: bool = True):
    """Train the M sub-codebooks with a deterministic seeded Lloyd's
    k-means over the (≤ _PQ_TRAIN_MAX) sample. PQ codebooks are
    O(M·K·dim/M) floats trained from a tiny sample by design — at
    100 TB the sample stays this size while encoding scales out, so
    driver-side training is the production shape, not a shortcut.
    ``normalize=False`` trains over the rows AS GIVEN — the residual
    space of IVFPQ, where rows are differences, not unit vectors."""
    X = np.asarray(vectors, dtype=np.float64)
    if normalize:
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
    d_sub = X.shape[1] // _PQ_M
    rng = np.random.default_rng(42)
    books = []
    for m in range(_PQ_M):
        S = X[:, m * d_sub : (m + 1) * d_sub]
        C = S[rng.choice(len(S), size=_PQ_K, replace=False)]
        for _ in range(10):  # fixed iterations → deterministic
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for k in range(_PQ_K):
                members = S[assign == k]
                if len(members):
                    C[k] = members.mean(axis=0)
        books.append(C)
    return books  # list of (K, d_sub) arrays


def _pq_encode_udf(books):
    """pandas UDF: embedding → its M PQ codes (nearest sub-centroid
    per block), one vectorized distance computation per Arrow batch."""
    d_sub = books[0].shape[1]

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(e: pd.Series) -> pd.Series:
        E = np.vstack(e.to_numpy()).astype(np.float64)
        E = E / np.linalg.norm(E, axis=1, keepdims=True)
        codes = np.empty((len(E), _PQ_M), dtype=np.int32)
        for m in range(_PQ_M):
            S = E[:, m * d_sub : (m + 1) * d_sub]
            d2 = ((S[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def _pq_adc_udf(table):
    """pandas UDF: PQ codes → approximate query dot product via the
    precomputed asymmetric-distance (ADC) lookup table (M×K)."""

    @F.pandas_udf(DoubleType())
    def adc(codes: pd.Series) -> pd.Series:
        C = np.vstack(codes.to_numpy()).astype(np.int64)  # (n, M)
        scores = table[np.arange(_PQ_M)[:, None], C.T].sum(axis=0)
        return pd.Series(scores)

    return adc


def pq_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-10 for vec_id=0 — the compressed
    third scale path for #69 beside LSH (sim_pairs_lsh) and IVF
    (sim_topk_ivf). This is the PRODUCTION neighbor surface; the
    registered `sim_topk_pq` entry wraps it in the driver-hashable
    recall contract.

    Pipeline: unit-normalize → split each vector into M=8 sub-vectors
    → per-block codebook of K=16 centroids (seeded sample-trained
    k-means; the codebook is tiny by construction and ships to
    executors inside the encode UDF closure) → every corpus vector
    compresses to M one-byte codes (16× smaller than the floats — the
    point of PQ at 100 TB: the candidate scan reads codes, not
    vectors) → query scoring is a table lookup: ADC table[m][k] =
    q_m · c_mk, approx dot = Σ_m table[m][code_m] → top-_PQ_CAND by
    ADC score re-ranked with exact cosine, emit top 10. Approximate
    (quantization error) → rows-only driver check; recall vs the
    exact operator is asserted in tests/test_edge_cases.py.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # Deterministic hash-sampled codebook training set (same sampling
    # idiom as scan_hash_sample — stable under repartition/rerun).
    sample_rows = (
        emb.select("vec_id", "embedding")
        .filter(
            F.conv(
                F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
            ).cast("bigint")
            % 4
            == 0
        )
        .limit(_PQ_TRAIN_MAX)
        .collect()
    )
    books = _pq_train_codebooks([r["embedding"] for r in sample_rows])

    qv = np.asarray(_query_vector(spark, sf_dir, 0), dtype=np.float64)
    qu = qv / np.linalg.norm(qv)
    d_sub = len(qu) // _PQ_M
    table = np.stack(
        [books[m] @ qu[m * d_sub : (m + 1) * d_sub] for m in range(_PQ_M)]
    )  # (M, K) of sub-dot-products

    encode = _pq_encode_udf(books)
    adc = _pq_adc_udf(table)
    coded = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", "label", "embedding", encode("embedding").alias("codes")
    )
    cand = (
        coded.withColumn("adc_score", adc("codes"))
        .orderBy(F.col("adc_score").desc(), F.col("vec_id").asc())
        .limit(_PQ_CAND)
    )
    cos = _cosine_vs_query_udf(qv)
    return (
        cand.select(
            "vec_id", "label", F.round(cos("embedding"), 6).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "sim_topk_pq",
    survey_row=69,
    oracle=f"""
    {_EXACT_TOP10_SQL}
    SELECT count(*)::BIGINT AS n_returned,
           TRUE AS recall_ge_05,
           round(max(cosine), 6) AS exact_top1_cosine,
           round(min(cosine), 6) AS exact_top10_min_cosine
    FROM top10
    """,
)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-HASHABLE RECALL CONTRACT for the PQ ANN path — same shape
    as sim_topk_ivf's contract: run the PQ top-10 (`pq_topk_neighbors`,
    the production surface, unchanged) and the exact brute-force top-10
    (linear), emit one hashable row: returned count, `n ∩ exact-top-10 ≥
    5` (measured 6-9 over sf0.001-0.1), and the exact top-1/top-10-min
    cosines the oracle recomputes. The quantization error PQ trades for
    its 16× code compression is exactly what the bound makes visible."""
    return _ann_recall_contract(
        pq_topk_neighbors(spark, sf_dir),
        sim_topk_cosine(spark, sf_dir),
        5,
        "recall_ge_05",
    )


def _ivfpq_encode_udf(books, centers):
    """pandas UDF: (unit vector, list_id) → M PQ codes of the vector's
    RESIDUAL against its coarse centroid — the IVFPQ encode step. The
    centers matrix (k×dim) and codebooks ride the closure; one
    vectorized distance computation per Arrow batch."""
    d_sub = books[0].shape[1]

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(u: pd.Series, lid: pd.Series) -> pd.Series:
        U = np.vstack(u.to_numpy()).astype(np.float64)
        R = U - centers[lid.to_numpy().astype(np.int64)]
        codes = np.empty((len(R), _PQ_M), dtype=np.int32)
        for m in range(_PQ_M):
            S = R[:, m * d_sub : (m + 1) * d_sub]
            d2 = ((S[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def ivfpq_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ ANN top-10 for vec_id=0 — the composite Faiss-IVFPQ
    shape, combining BOTH scale levers: the IVF coarse quantizer
    prunes the candidate scan to nprobe/k of the corpus (partition
    pruning at 100 TB) and PQ residual codes make that scan read
    M one-byte codes instead of the float vectors (16× less IO).
    This is the PRODUCTION neighbor surface; the registered
    `sim_topk_ivfpq` entry wraps it in the driver-hashable recall
    contract.

    Pipeline: unit vectors → seeded k-means coarse quantizer (same
    k=10/seed=42 as ivf_topk_neighbors) → per-vector RESIDUAL
    r = u − c(list) → M=8 sub-codebooks of K=16 centroids trained on
    a hash-sampled residual set (driver-side by design: the codebook
    is O(M·K·d/M) floats at any corpus size) → every vector stores
    (list_id, M codes). Query: probe the nprobe=3 closest lists;
    since u ≈ c_l + q(r), score ≈ c_l·qu + Σ_m table[m][code_m] with
    ONE shared ADC table (books·qu sub-blocks) plus a per-list
    constant — a lookup per candidate, no float vector touched until
    the exact top-_PQ_CAND re-rank."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    k, nprobe = 10, 3
    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    unit = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.transform("embedding", lambda x: x.cast("double") / norm).alias("unit"),
    ).select(
        "vec_id", "label", "embedding", "unit",
        array_to_vector("unit").alias("features"),
    )
    model = KMeans(
        k=k, seed=42, featuresCol="features", predictionCol="list_id"
    ).fit(unit)
    lists = model.transform(unit)
    centers = np.vstack([np.asarray(c) for c in model.clusterCenters()])

    qv = np.asarray(_query_vector(spark, sf_dir, 0), dtype=np.float64)
    qu = qv / np.linalg.norm(qv)
    probe_ids = [int(i) for i in np.argsort(-(centers @ qu))[:nprobe]]

    # Residual codebooks from a deterministic hash sample (same
    # sampling idiom as pq_topk_neighbors — stable under rerun).
    sample_rows = (
        lists.select("vec_id", "unit", "list_id")
        .filter(
            F.conv(
                F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
            ).cast("bigint")
            % 4
            == 0
        )
        .limit(_PQ_TRAIN_MAX)
        .collect()
    )
    residuals = [
        np.asarray(r["unit"], dtype=np.float64) - centers[r["list_id"]]
        for r in sample_rows
    ]
    books = _pq_train_codebooks(residuals, normalize=False)
    d_sub = len(qu) // _PQ_M
    table = np.stack(
        [books[m] @ qu[m * d_sub : (m + 1) * d_sub] for m in range(_PQ_M)]
    )
    list_const = F.array(*[F.lit(float(v)) for v in centers @ qu])

    encode = _ivfpq_encode_udf(books, centers)
    adc = _pq_adc_udf(table)
    cand = (
        lists.filter(F.col("list_id").isin(probe_ids))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            "embedding",
            (
                F.element_at(list_const, F.col("list_id") + 1)
                + adc(encode(F.col("unit"), F.col("list_id")))
            ).alias("adc_score"),
        )
        .orderBy(F.col("adc_score").desc(), F.col("vec_id").asc())
        .limit(_PQ_CAND)
    )
    cos = _cosine_vs_query_udf(qv)
    return (
        cand.select(
            "vec_id", "label", F.round(cos("embedding"), 6).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "sim_topk_ivfpq",
    survey_row=69,
    oracle=f"""
    {_EXACT_TOP10_SQL}
    SELECT count(*)::BIGINT AS n_returned,
           TRUE AS recall_ge_04,
           round(max(cosine), 6) AS exact_top1_cosine,
           round(min(cosine), 6) AS exact_top10_min_cosine
    FROM top10
    """,
)
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-HASHABLE RECALL CONTRACT for the composite IVF+PQ path
    — same contract shape as sim_topk_ivf/sim_topk_pq: run the IVFPQ
    top-10 (`ivfpq_topk_neighbors`, the production surface) and the
    exact brute-force top-10, emit one hashable row. The floor is
    IVF's ≥4 (the coarse quantizer's unprobed-list misses dominate;
    PQ's quantization error only reorders within probed lists and the
    exact re-rank of _PQ_CAND candidates absorbs it — measured equal
    to the plain-IVF hits at sf0.001-0.1)."""
    return _ann_recall_contract(
        ivfpq_topk_neighbors(spark, sf_dir),
        sim_topk_cosine(spark, sf_dir),
        4,
        "recall_ge_04",
    )


def _pack_sign_word(col, start: int) -> Column:
    """Pack 32 consecutive embedding dims (1-based `start`) into one
    long: bit j set iff embedding[start+j] > 0. Pure Catalyst fold
    over a literal bit-weight array (the weights are distinct powers
    of two, so SUM ≡ OR) — map-only, whole-stage-codegen, no Python,
    no shuffle."""
    weights = F.array(*[F.lit(1 << j).cast("long") for j in range(32)])
    pairs = F.zip_with(
        F.slice(col, start, 32),
        weights,
        lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        pairs, F.lit(0).cast("long"), lambda acc, x: acc + x
    )


@register(
    "sim_hamming_topk_packed",
    survey_row=69,
    oracle="""
    WITH packed AS (
        SELECT vec_id, label,
               list_sum(list_transform(generate_series(1, 32),
                   i -> CASE WHEN embedding[i] > 0
                             THEN (1::BIGINT << (i - 1)) ELSE 0 END))
                   ::BIGINT AS w0,
               list_sum(list_transform(generate_series(33, 64),
                   i -> CASE WHEN embedding[i] > 0
                             THEN (1::BIGINT << (i - 33)) ELSE 0 END))
                   ::BIGINT AS w1
        FROM embeddings
    ),
    q AS (SELECT w0 AS q0, w1 AS q1 FROM packed WHERE vec_id = 0)
    SELECT vec_id, label,
           (bit_count(xor(w0, q0)) + bit_count(xor(w1, q1)))::BIGINT
               AS hamming
    FROM packed, q
    WHERE vec_id <> 0
    ORDER BY hamming ASC, vec_id ASC
    LIMIT 10
    """,
)
def sim_hamming_topk_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-SIGN EMBEDDING compression + Hamming top-10 — the
    64-dim float vector folds to TWO packed 32-bit sign words (8
    bytes total, 32× smaller than the floats; the binary-quantization
    retrieval tier below PQ: Faiss's binary indexes / BinaryVectorDB
    shapes), and candidate distance becomes 2 XORs + 2 popcounts per
    comparison — no float math anywhere, so unlike every cosine tier
    the result is EXACT and engine-deterministic by construction (the
    quantization IS the operator; sign correlates with cosine and the
    standard pipeline re-ranks binary candidates with floats —
    sim_topk_cosine is that stage here).

    Scale shape: packing is a pure-Catalyst per-row fold (map-only,
    codegen, zero shuffle — the ingest projection pays it once and a
    100 TB corpus stores 8-byte codes beside the floats); the query's
    two words ride a 1-row broadcast; top-10 is
    TakeOrderedAndProject. 32-bit words per long sidestep the 1<<63
    sign-bit hazard portably (DuckDB's checked BIGINT sum vs two's
    complement) and generalize to any dim as ceil(dim/32) words."""
    emb = load_table(spark, sf_dir, "embeddings")
    packed = emb.select(
        "vec_id",
        "label",
        _pack_sign_word(F.col("embedding"), 1).alias("w0"),
        _pack_sign_word(F.col("embedding"), 33).alias("w1"),
    )
    qv = _query_vector(spark, sf_dir, 0)
    q0 = sum(1 << j for j in range(32) if qv[j] > 0)
    q1 = sum(1 << j for j in range(32) if qv[32 + j] > 0)
    hamming = (
        F.bit_count(F.col("w0").bitwiseXOR(F.lit(q0).cast("long")))
        + F.bit_count(F.col("w1").bitwiseXOR(F.lit(q1).cast("long")))
    ).cast("long")
    return (
        packed.filter(F.col("vec_id") != 0)
        .select("vec_id", "label", hamming.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
        .limit(10)
    )


_KNN_BATCH_K = 5


def _pairwise_cosine_udf():
    """Scalar pandas UDF: cosine between two array columns, one
    vectorized einsum per Arrow batch (no per-row Python)."""

    @F.pandas_udf(DoubleType())
    def cos2(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.vstack(a.to_numpy()).astype(np.float64)
        B = np.vstack(b.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.sqrt(
            np.einsum("ij,ij->i", A, A) * np.einsum("ij,ij->i", B, B)
        )
        return pd.Series(num / den)

    return cos2


@register(
    "sim_knn_batch",
    survey_row=69,
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
               FROM embeddings WHERE vec_id % 100 = 0),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS e
               FROM embeddings WHERE vec_id % 100 <> 0)
    SELECT q_id, vec_id,
           round(list_dot_product(e, qe) /
                 sqrt(list_dot_product(e, e) * list_dot_product(qe, qe)),
                 6) AS cosine
    FROM c, q
    QUALIFY row_number() OVER (
        PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC)
        <= {_KNN_BATCH_K}
    """,
)
def sim_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN for a BATCH of query vectors (vec_id % 100 == 0)
    against the rest of the corpus — the bulk-retrieval shape (dedup
    of a new shard against an index, batch eval probes) as opposed to
    sim_topk_cosine's single online query.

    The query side is structurally tiny (a fixed probe set), so it is
    broadcast and the corpus scan fans each row out to |Q| scored
    pairs — the corpus itself never shuffles for the join. Scoring is
    one einsum per Arrow batch. Top-k per query then runs as a window
    rank over q_id: the only shuffle is |corpus|×|Q| narrow score
    rows hashed across |Q| groups. At larger |Q|, cap that shuffle
    with a per-partition partial top-k (mapInPandas heap) before the
    final rank — same two-phase idea as partial aggregation; at
    larger corpus, switch to the IVF/PQ paths which prune candidates
    structurally.

    sf10 status: a documented VOLUME-BOUND skip on both engines — the
    probe set is a fixed 1% fraction, so the scored intermediate is
    |Q|×|corpus| = 4e10 rows at sf10 (~TB-scale shuffle Spark-side, the
    same product DuckDB-side). That is the exact-brute-force semantics
    doing what it says; the operator's role is the small-SF exact twin
    that gates the ANN contracts (sim_topk_ivf / _pq / _ivfpq), each of
    which IS sf10-swept with bucketed plans. Hash gates at
    sf0.001–sf1."""
    emb = load_table(spark, sf_dir, "embeddings")
    is_q = F.col("vec_id") % 100 == 0
    q = emb.filter(is_q).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    c = emb.filter(~is_q).select("vec_id", "embedding")
    cos2 = _pairwise_cosine_udf()
    scored = c.crossJoin(F.broadcast(q)).select(
        "q_id",
        "vec_id",
        F.round(cos2("embedding", "qe"), 6).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNN_BATCH_K)
        .drop("rn")
    )


@register(
    "pipeline_decontaminate_embed",
    survey_row=70,
    oracle=f"""
    WITH bucketed AS (
        SELECT vec_id, embedding,
               CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS bucket
        FROM embeddings),
    train AS (SELECT vec_id, embedding FROM bucketed WHERE bucket < 90),
    eval AS (SELECT vec_id, embedding FROM bucketed WHERE bucket >= 90)
    SELECT t.vec_id AS train_vec,
           count(*)::BIGINT AS n_eval_hits,
           round(max(
               list_dot_product(t.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
               sqrt(list_dot_product(t.embedding::DOUBLE[], t.embedding::DOUBLE[])
                    * list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
           ), 6) AS max_cosine
    FROM train t JOIN eval e
      ON list_dot_product(t.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
         sqrt(list_dot_product(t.embedding::DOUBLE[], t.embedding::DOUBLE[])
              * list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
         >= {_COSINE_TAU}
    GROUP BY t.vec_id
    """,
)
def pipeline_decontaminate_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination — the semantic twin of
    pipeline_decontaminate's n-gram overlap check: flag TRAINING
    vectors whose cosine to any EVAL-split vector reaches τ (the
    near-duplicate leak n-gram matching misses: paraphrases,
    translations, re-encodings). Split assignment reuses the
    deterministic md5 bucket contract (train <90, eval ≥90). Exact
    cross-set scoring: norms computed once per side (narrow), then a
    train×eval join evaluates only the cross dot product, aggregated
    to (train_vec, n_eval_hits, max_cosine). The eval side is the
    ~10 % split — bounded, broadcastable; at 100 TB the join becomes
    the SRP-bucketed candidate join (sim_pairs_lsh's structure) with
    this exact scorer as the re-rank, so the operator's contract is
    the scale path's correctness oracle.

    sf10 status: a documented VOLUME-BOUND skip on both engines — the
    10%-eval split makes the cross-set scoring 1.8M × 200k ≈ 3.6e11
    cosine evaluations at sf10 by construction (same class as
    sim_knn_batch). The production scale path is
    `pipeline_decontaminate_embed_lsh`'s SRP-bucketed candidate join
    (whose registered contract re-derives THIS exact hit set, so its
    sf10 oracle shares the wall); hash gates for both live at
    sf0.001–sf1."""
    emb = load_table(spark, sf_dir, "embeddings")
    bucket = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    with_norm = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
        bucket.alias("bucket"),
    )
    train = with_norm.filter(F.col("bucket") < 90).select(
        F.col("vec_id").alias("train_vec"),
        F.col("embedding").alias("emb_t"),
        F.col("norm").alias("norm_t"),
    )
    ev = with_norm.filter(F.col("bucket") >= 90).select(
        F.col("embedding").alias("emb_e"), F.col("norm").alias("norm_e")
    )
    cos = _dot(F.col("emb_t"), F.col("emb_e")) / (
        F.col("norm_t") * F.col("norm_e")
    )
    return (
        train.crossJoin(F.broadcast(ev))
        .withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") >= _COSINE_TAU)
        .groupBy("train_vec")
        .agg(
            F.count(F.lit(1)).alias("n_eval_hits"),
            F.round(F.max("cosine_raw"), 6).alias("max_cosine"),
        )
    )


def decontaminate_lsh_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB DECONTAMINATION path `pipeline_decontaminate_embed`
    declares: SRP-bucketed candidate generation between the train and
    eval splits, exact-cosine re-rank on survivors only. Both sides
    hash once with the SAME random planes (one NumPy matmul per Arrow
    batch); the candidate join is (table, bucket)-keyed and carries
    24-byte id rows, never embeddings; embeddings join back only for
    the candidate pairs and the exact τ filter decides — so every
    flagged (train, eval) hit is REAL (precision 1 by construction:
    approx ⊆ exact), and misses are only pairs no table banded
    together (recall vs the exact twin asserted engine-side in
    tests/test_edge_cases.py). Output matches the exact twin's shape
    (train_vec, n_eval_hits, max_cosine) over the candidate subset.
    This is the PRODUCTION surface; the registered
    `pipeline_decontaminate_embed_lsh` entry wraps it in the
    driver-hashable recall/precision contract.
    """
    rng = np.random.default_rng(42)
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(_query_vector(spark, sf_dir))
    planes = rng.standard_normal((_SRP_TABLES * _SRP_BITS, dim))
    buckets = _srp_bucket_udf(planes)
    split_bucket = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    base = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
        split_bucket.alias("split"),
        F.posexplode(buckets("embedding")).alias("table", "bucket"),
    )
    train_h = base.filter(F.col("split") < 90).select(
        F.col("vec_id").alias("train_vec"), "table", "bucket"
    )
    eval_h = base.filter(F.col("split") >= 90).select(
        F.col("vec_id").alias("eval_vec"), "table", "bucket"
    )
    cand = (
        train_h.join(eval_h, ["table", "bucket"])
        .select("train_vec", "eval_vec")
        .distinct()
        .observe(
            "decontaminate_lsh",
            F.count(F.lit(1)).alias("decontaminate_candidates"),
        )
    )
    et = emb.select(
        F.col("vec_id").alias("train_vec"),
        F.col("embedding").alias("emb_t"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm_t"),
    )
    ee = emb.select(
        F.col("vec_id").alias("eval_vec"),
        F.col("embedding").alias("emb_e"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm_e"),
    )
    cos = _dot(F.col("emb_t"), F.col("emb_e")) / (
        F.col("norm_t") * F.col("norm_e")
    )
    return (
        cand.join(et, "train_vec")
        .join(ee, "eval_vec")
        .withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") >= _COSINE_TAU)
        .groupBy("train_vec")
        .agg(
            F.count(F.lit(1)).alias("n_eval_hits"),
            F.round(F.max("cosine_raw"), 6).alias("max_cosine"),
        )
    )


@register(
    "pipeline_decontaminate_embed_lsh",
    survey_row=69,
    oracle=f"""
    WITH bucketed AS (
        SELECT vec_id, embedding,
               CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS bucket
        FROM embeddings),
    train AS (SELECT vec_id, embedding FROM bucketed WHERE bucket < 90),
    eval AS (SELECT vec_id, embedding FROM bucketed WHERE bucket >= 90),
    contaminated AS (
        SELECT DISTINCT t.vec_id
        FROM train t JOIN eval e
          ON list_dot_product(t.embedding::DOUBLE[],
                              e.embedding::DOUBLE[]) /
             sqrt(list_dot_product(t.embedding::DOUBLE[],
                                   t.embedding::DOUBLE[])
                  * list_dot_product(e.embedding::DOUBLE[],
                                     e.embedding::DOUBLE[]))
             >= {_COSINE_TAU}
    )
    SELECT count(*)::BIGINT AS n_exact_contaminated,
           TRUE AS subset_ok,
           TRUE AS recall_ge_06
    FROM contaminated
    """,
)
def pipeline_decontaminate_embed_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DRIVER-HASHABLE RECALL/PRECISION CONTRACT for the SRP-bucketed
    decontamination path. The flagged set depends on the seeded
    projection planes, so on its own it allows only a rows-only driver
    check. The contract runs the LSH path (`decontaminate_lsh_hits`,
    the production surface, unchanged) AND the exact twin
    (train×eval cross-set scoring — the eval side is the bounded
    ~10 % split, so the gate itself scales), then emits one hashable
    row: the exact contaminated-train count (DuckDB re-derives it),
    subset_ok (every LSH flag is a true flag — precision 1 by the
    exact re-rank; anti-join count must be 0), and recall ≥ 0.6
    (10·hits ≥ 6·exact, integer compare — measured 0.76-1.0 over
    sf0.001-0.1, matching the engine-side floor)."""
    approx = decontaminate_lsh_hits(spark, sf_dir).select("train_vec")
    exact = pipeline_decontaminate_embed(spark, sf_dir).select("train_vec")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_contaminated"))
    n_hits = approx.join(exact, "train_vec", "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    n_fp = approx.join(exact, "train_vec", "left_anti").agg(
        F.count(F.lit(1)).alias("n_fp")
    )
    return (
        n_exact.crossJoin(n_hits)
        .crossJoin(n_fp)
        .select(
            "n_exact_contaminated",
            (F.col("n_fp") == 0).alias("subset_ok"),
            (10 * F.col("n_hits") >= 6 * F.col("n_exact_contaminated")).alias(
                "recall_ge_06"
            ),
        )
    )


@register(
    "sim_quantize_int8",
    survey_row=69,
    oracle="""
    WITH s AS (
        SELECT vec_id,
               embedding,
               CAST(list_max(list_transform(embedding, x -> abs(x)))
                    AS DOUBLE) / 127.0 AS scale
        FROM embeddings
    )
    SELECT vec_id,
           CAST(floor(scale * 1e9 + 0.5) AS BIGINT) AS scale_nano,
           CAST(list_sum(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5)
                         AS BIGINT))) AS BIGINT) AS sum_q,
           CAST(list_sum(list_transform(embedding,
               x -> abs(CAST(floor(CAST(x AS DOUBLE) / scale + 0.5)
                             AS BIGINT)))) AS BIGINT) AS sum_abs_q,
           CAST(floor(
               list_sum(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)
                            - floor(CAST(x AS DOUBLE) / scale + 0.5)
                              * scale)))
               / len(embedding) * 1e9 + 0.5) AS BIGINT) AS err_nano
    FROM s WHERE scale > 0
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the 4× memory cut
    that makes a 100 TB embedding store fit its serving tier:
    scale = max|x|/127, q = round-half-up(x/scale), plus the
    reconstruction-error audit column a quantization rollout is
    gated on. Emits exact integer checksums (sum of quantized
    values / magnitudes) and the mean absolute error.

    Every emitted number is an INTEGER: quantized-value checksums
    are integral by construction, and scale / mean-abs-error are
    fixed-pointed to nano units through an explicit
    floor(x·1e9 + 0.5) chain — `round()` half-ties and float32
    display noise diverge between engines, IEEE double ops do not.
    All arithmetic is forced to double (the column is float32, and
    an engine that folds in float32 carries visible noise); fold
    order is the array order on both sides, so the double sums
    agree bit-for-bit before fixed-pointing. Narrow per-row map,
    no shuffle, whole-stage codegen."""
    e = load_table(spark, sf_dir, "embeddings")
    scale = F.array_max(
        F.transform("embedding", lambda x: F.abs(x))
    ).cast("double") / F.lit(127.0)
    s = e.select("vec_id", "embedding", scale.alias("scale")).filter(
        F.col("scale") > 0
    )
    q = lambda x: F.floor(
        x.cast("double") / F.col("scale") + F.lit(0.5)
    ).cast("long")
    nano = lambda c: F.floor(c * F.lit(1e9) + F.lit(0.5)).cast("long")
    return s.select(
        "vec_id",
        nano(F.col("scale")).alias("scale_nano"),
        F.aggregate(
            F.col("embedding"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + q(x),
        ).alias("sum_q"),
        F.aggregate(
            F.col("embedding"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.abs(q(x)),
        ).alias("sum_abs_q"),
        nano(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: acc
                + F.abs(
                    x.cast("double")
                    - q(x).cast("double") * F.col("scale")
                ),
            )
            / F.size("embedding")
        ).alias("err_nano"),
    )


@register(
    "sim_mips_maxdot",
    survey_row=69,
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 1)
    SELECT vec_id, label,
           round(list_dot_product(embedding::DOUBLE[], qe), 6) AS dot
    FROM embeddings, q
    WHERE vec_id <> 1
    ORDER BY dot DESC, vec_id ASC
    LIMIT 10
    """,
)
def sim_mips_maxdot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-INNER-PRODUCT search (MIPS) top-10 — the retrieval
    objective recommenders and reranker score tables actually use
    (cosine's unit-norm assumption drops the magnitude signal; a
    long-normed item SHOULD outrank a better-aligned short one).
    Brute-force exact form: one matvec per Arrow batch against the
    broadcast query vector, TakeOrderedAndProject global top-k — the
    corpus never shuffles.

    Scale path, documented for the ANN twins: MIPS reduces to cosine
    by norm augmentation (append sqrt(M² − ‖x‖²) to each item, 0 to
    the query; Shrivastava & Li's asymmetric LSH), after which
    sim_pairs_lsh / sim_topk_ivf machinery applies unchanged — so no
    separate MIPS index is implemented, by design. float64
    accumulation mirrors the oracle's DOUBLE[] list_dot_product."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = np.asarray(_query_vector(spark, sf_dir, 1), dtype=np.float64)

    @F.pandas_udf(DoubleType())
    def dot(col: pd.Series) -> pd.Series:
        E = np.vstack(col.to_numpy()).astype(np.float64)
        return pd.Series(E @ q)

    return (
        emb.filter(F.col("vec_id") != 1)
        .select("vec_id", "label", F.round(dot("embedding"), 6).alias("dot"))
        .orderBy(F.col("dot").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "sim_rank_fusion",
    survey_row=69,
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 2),
    scored AS (
        SELECT vec_id, label,
               list_dot_product(embedding::DOUBLE[], qe) AS dot,
               list_dot_product(embedding::DOUBLE[], qe) /
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
                      * list_dot_product(qe, qe)) AS cosine
        FROM embeddings, q
        WHERE vec_id <> 2
    ),
    ranked AS (
        SELECT vec_id, label,
               row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS r_cos,
               row_number() OVER (ORDER BY dot DESC, vec_id ASC) AS r_dot
        FROM scored
    )
    SELECT vec_id, label, r_cos::BIGINT AS r_cos, r_dot::BIGINT AS r_dot,
           round(1.0 / (60 + r_cos) + 1.0 / (60 + r_dot), 6) AS rrf
    FROM ranked
    ORDER BY rrf DESC, vec_id ASC
    LIMIT 10
    """,
)
def sim_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL-RANK FUSION of two retrieval rankings (cosine and
    raw inner product against the same query) — the standard
    zero-tuning way to combine retrievers (BM25+dense, multi-index
    ANN): score = Σ 1/(k + rank_i), k = 60. Fusing on RANKS rather
    than scores sidesteps scale mismatch between metrics entirely —
    which is also why the gate is robust: ranks are integers with
    the (metric desc, vec_id) tie-break, and the only float in the
    output is 1/(60+r), a single IEEE division both engines compute
    bit-identically.

    Both metrics come from ONE matvec pass (dot reused for cosine's
    numerator); the rankings are global windows over the candidate
    frame — fine at fixture scale, and the documented scale form
    ranks only each retriever's top-N (two TakeOrderedAndProject
    feeds, N ≈ 1000) before fusing, since RRF past rank ~k adds
    negligible mass."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = np.asarray(_query_vector(spark, sf_dir, 2), dtype=np.float64)
    qq = float(q @ q)

    @F.pandas_udf("dot double, cosine double")
    def scores(col: pd.Series) -> pd.DataFrame:
        E = np.vstack(col.to_numpy()).astype(np.float64)
        dot = E @ q
        cos = dot / np.sqrt(np.einsum("ij,ij->i", E, E) * qq)
        return pd.DataFrame({"dot": dot, "cosine": cos})

    scored = (
        emb.filter(F.col("vec_id") != 2)
        .select("vec_id", "label", scores("embedding").alias("s"))
        .select("vec_id", "label", F.col("s.dot").alias("dot"), F.col("s.cosine").alias("cosine"))
    )
    from pyspark.sql import Window

    ranked = scored.select(
        "vec_id",
        "label",
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()))
        .cast("long")
        .alias("r_cos"),
        F.row_number()
        .over(Window.orderBy(F.col("dot").desc(), F.col("vec_id").asc()))
        .cast("long")
        .alias("r_dot"),
    )
    rrf = F.round(
        1.0 / (F.col("r_cos") + 60) + 1.0 / (F.col("r_dot") + 60), 6
    )
    return (
        ranked.select("vec_id", "label", "r_cos", "r_dot", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "sim_embedding_audit",
    survey_row=69,
    oracle="""
    WITH norms AS (
        SELECT label,
               round(sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])), 6)
                   AS norm
        FROM embeddings
    )
    SELECT label,
           count(*)::BIGINT AS n_vectors,
           count(*) FILTER (WHERE norm < 0.1)::BIGINT AS n_near_zero,
           round(min(norm), 6) AS min_norm,
           round(max(norm), 6) AS max_norm,
           count(*) FILTER (WHERE norm > 2.0)::BIGINT AS n_overscaled
    FROM norms GROUP BY label
    """,
)
def sim_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING hygiene audit — the ingest gate an
    embedding-dependent pipeline runs before building any index
    (`sim_topk_*`, dedup, decontamination all silently degrade on
    bad vectors): per label, count near-zero vectors (failed
    encoder calls — they cosine-match everything), overscaled norms
    (mixed normalization regimes poison MIPS), and the norm range.
    Every reported statistic is ORDER-INDEPENDENT by construction —
    counts of per-row predicates and min/max of per-row rounded
    norms — so no accumulation-order float risk exists anywhere (a
    mean-norm column was deliberately left out: averaging rounded
    doubles reintroduces exactly that risk for cosmetic value).

    One pandas-UDF norm pass (same einsum kernel family as the
    retrieval ops) + one |labels| rollup; map-side combine does the
    heavy lifting at scale."""
    emb = load_table(spark, sf_dir, "embeddings")

    @F.pandas_udf(DoubleType())
    def norm6(col: pd.Series) -> pd.Series:
        E = np.vstack(col.to_numpy()).astype(np.float64)
        return pd.Series(np.round(np.sqrt(np.einsum("ij,ij->i", E, E)), 6))

    norms = emb.select("label", norm6("embedding").alias("norm"))
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.count(F.when(F.col("norm") < 0.1, 1)).alias("n_near_zero"),
        F.round(F.min("norm"), 6).alias("min_norm"),
        F.round(F.max("norm"), 6).alias("max_norm"),
        F.count(F.when(F.col("norm") > 2.0, 1)).alias("n_overscaled"),
    )


@register(
    "sim_centroid_drift",
    survey_row=69,
    oracle="""
    WITH q AS (
        SELECT label, vec_id % 2 AS half,
               unnest(generate_series(0, len(embedding) - 1)) AS d,
               unnest(embedding) AS x
        FROM embeddings
    ),
    comp AS (
        SELECT label, half, d,
               sum(CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS sx,
               count(*) AS n
        FROM q GROUP BY label, half, d
    ),
    cents AS (
        SELECT a.label, a.d,
               a.sx * 1.0 / a.n AS ca,
               b.sx * 1.0 / b.n AS cb
        FROM comp a JOIN comp b
          ON a.label = b.label AND a.d = b.d
         AND a.half = 0 AND b.half = 1
    )
    SELECT label,
           round(sqrt(sum((ca - cb) * (ca - cb))) / 1000.0, 6)
               AS centroid_drift,
           count(*)::BIGINT AS n_dims
    FROM cents GROUP BY label
    """,
)
def sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CENTROID drift between two halves of each label's vectors —
    the embedding-space monitoring a serving stack runs (if the
    centroid of fresh traffic walks away from the index-build
    centroid, recall silently decays and the IVF lists need
    retraining). Split = vec_id parity (the deterministic stand-in
    for before/after); drift = L2 distance between per-half
    centroids, per label.

    The float-sum trap is handled the `sim_quantize_int8` way:
    components quantize to EXACT integer thousandths BEFORE the
    per-dimension sums (a raw float mean over thousands of rows is
    accumulation-order-dependent; integer sums are not), and floats
    reappear only in the final per-dimension division and the
    64-term distance — fixed-length, fixed-order, engine-identical.
    Shape: explode to (label, half, dim) partial sums — map-side
    combine into |labels|×2×|dims| rows — then one broadcast-sized
    join and rollup."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("d", "x"),
    )
    comp = q.groupBy("label", "half", "d").agg(
        F.sum(F.floor(F.col("x") * 1000 + 0.5).cast("long")).alias("sx"),
        F.count(F.lit(1)).alias("n"),
    )
    a = comp.filter(F.col("half") == 0).select(
        "label", "d", (F.col("sx") / F.col("n")).alias("ca")
    )
    b = comp.filter(F.col("half") == 1).select(
        F.col("label").alias("lb"), F.col("d").alias("db"),
        (F.col("sx") / F.col("n")).alias("cb"),
    )
    cents = a.join(
        b, (a["label"] == b["lb"]) & (a["d"] == b["db"])
    )
    diff = F.col("ca") - F.col("cb")
    return cents.groupBy("label").agg(
        F.round(F.sqrt(F.sum(diff * diff)) / 1000.0, 6).alias(
            "centroid_drift"
        ),
        F.count(F.lit(1)).alias("n_dims"),
    )


@register(
    "sim_matryoshka_eval",
    survey_row=69,
    oracle="""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 3
    ),
    scored AS (
        SELECT vec_id,
               list_dot_product(embedding::DOUBLE[], qe) AS dot_full,
               list_dot_product((embedding::DOUBLE[])[1:16], qe[1:16])
                   AS dot_16
        FROM embeddings, q WHERE vec_id <> 3
    ),
    top_full AS (
        SELECT vec_id FROM scored
        ORDER BY dot_full DESC, vec_id LIMIT 10
    ),
    top_16 AS (
        SELECT vec_id FROM scored
        ORDER BY dot_16 DESC, vec_id LIMIT 10
    )
    SELECT (SELECT list_sort(list(vec_id)) FROM top_full)
               AS top10_full,
           (SELECT list_sort(list(vec_id)) FROM top_16) AS top10_16,
           (SELECT count(*) FROM top_full f JOIN top_16 s
            ON f.vec_id = s.vec_id)::BIGINT AS overlap_at_10
    """,
)
def sim_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA truncation evaluation — the dimension-budget
    decision for MRL-style embeddings (serve the 16-dim prefix at
    1/4 the memory and FLOPs if its retrieval agrees with full
    dimension often enough): top-10 by inner product at full
    dimensionality vs at the 16-dim PREFIX of the same vectors,
    with overlap@10 as the agreement metric. Overlap near 10 →
    truncate and bank the savings; low overlap → this encoder's
    early dims aren't information-ordered and MRL serving is off
    the table.

    Both rankings come from one matvec pass each (the established
    kernel), tie-broken (score, vec_id); the overlap is a 10×10
    semi-join. The emitted id lists are SORTED so the gate compares
    sets, not ranking order (rank order at equal sets is already
    pinned by the tie-break)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = np.asarray(_query_vector(spark, sf_dir, 3), dtype=np.float64)
    q16 = q[:16]

    @F.pandas_udf("dot_full double, dot_16 double")
    def scores(col: pd.Series) -> pd.DataFrame:
        E = np.vstack(col.to_numpy()).astype(np.float64)
        return pd.DataFrame(
            {"dot_full": E @ q, "dot_16": E[:, :16] @ q16}
        )

    scored = (
        emb.filter(F.col("vec_id") != 3)
        .select("vec_id", scores("embedding").alias("s"))
        .select(
            "vec_id",
            F.col("s.dot_full").alias("dot_full"),
            F.col("s.dot_16").alias("dot_16"),
        )
        .cache()
    )
    top_full = (
        scored.orderBy(F.col("dot_full").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    top_16 = (
        scored.orderBy(F.col("dot_16").desc(), F.col("vec_id"))
        .limit(10)
        .select(F.col("vec_id").alias("v16"))
    )
    overlap = top_full.join(
        F.broadcast(top_16), top_full["vec_id"] == top_16["v16"]
    ).count()
    full_list = top_full.agg(
        F.sort_array(F.collect_list("vec_id")).alias("top10_full")
    )
    l16 = top_16.agg(F.sort_array(F.collect_list("v16")).alias("top10_16"))
    return full_list.crossJoin(l16).select(
        "top10_full",
        "top10_16",
        F.lit(overlap).cast("long").alias("overlap_at_10"),
    )


@register(
    "sim_hard_negatives",
    survey_row=70,
    oracle="""
    WITH anchors AS (
        SELECT vec_id AS a_id, label AS a_label,
               embedding::DOUBLE[] AS a_emb
        FROM embeddings WHERE vec_id < 5
    ),
    cand AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS emb
        FROM embeddings WHERE vec_id >= 5
    ),
    scored AS (
        SELECT a.a_id, a.a_label, c.vec_id, c.label,
               list_dot_product(c.emb, a.a_emb) /
                 sqrt(list_dot_product(c.emb, c.emb)
                      * list_dot_product(a.a_emb, a.a_emb)) AS cos,
               row_number() OVER (
                   PARTITION BY a.a_id
                   ORDER BY list_dot_product(c.emb, a.a_emb) /
                       sqrt(list_dot_product(c.emb, c.emb)
                            * list_dot_product(a.a_emb, a.a_emb)) DESC,
                       c.vec_id) AS rn
        FROM anchors a JOIN cand c ON c.label <> a.a_label
    )
    SELECT a_id, a_label, vec_id AS negative_id,
           label AS negative_label, round(cos, 6) AS cosine
    FROM scored WHERE rn = 1
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining — the contrastive-training data step
    (retrieval encoders trained on random negatives plateau; the
    gradient signal lives in negatives that LOOK positive): for
    each anchor, the most-similar candidate with a DIFFERENT label.

    This is the sim_knn_batch shape with a label-inequality residual:
    the anchor set is structurally tiny, so it rides a broadcast
    nest-loop join (`label <> a_label` IS the join predicate —
    same-label candidates never materialize a score row), cosine is ONE
    vectorized einsum per Arrow batch over the joined pairs, and top-1
    per anchor is a window rank. The corpus never shuffles for the join;
    the only shuffle is |corpus|×|A| narrow score rows hashed across |A|
    anchor groups — one plan regardless of anchor count, not A unioned
    TakeOrdered branches. Ranking orders by the UNROUNDED cosine with
    negative_id tie-break, mirroring the oracle's row_number; F.round(…,
    6) applies only in the output projection. At training scale
    (millions of anchors) the same mining runs against the ANN index
    (sim_topk_ivf) with the label filter applied post-probe — this op is
    that pipeline's exact oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("a_emb"),
    )
    cand = emb.filter(F.col("vec_id") >= 5).select(
        "vec_id", "label", "embedding"
    )
    cos2 = _pairwise_cosine_udf()
    scored = cand.join(
        F.broadcast(anchors), F.col("label") != F.col("a_label")
    ).select(
        "a_id",
        "a_label",
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        cos2("embedding", "a_emb").alias("cos_raw"),
    )
    w = Window.partitionBy("a_id").orderBy(
        F.col("cos_raw").desc(), F.col("negative_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "a_id",
            "a_label",
            "negative_id",
            "negative_label",
            F.round("cos_raw", 6).alias("cosine"),
        )
    )


@register(
    "sim_covariance_top_pairs",
    survey_row=69,
    oracle="""
    WITH comp AS (
        SELECT vec_id,
               unnest(generate_series(0, len(embedding) - 1)) AS d,
               CAST(floor(unnest(embedding) * 1000 + 0.5) AS BIGINT)
                   AS q
        FROM embeddings
    ),
    n_ AS (SELECT count(*) AS n FROM embeddings),
    sums AS (
        SELECT d, sum(q) AS s FROM comp GROUP BY d
    ),
    cross_ AS (
        SELECT a.d AS d1, b.d AS d2,
               sum(a.q * b.q) AS sxy
        FROM comp a JOIN comp b
          ON a.vec_id = b.vec_id AND a.d < b.d
        GROUP BY a.d, b.d
    ),
    num AS (
        SELECT d1::BIGINT AS d1, d2::BIGINT AS d2,
               CAST(n_.n AS HUGEINT) * sxy
               - CAST(s1.s AS HUGEINT) * s2.s AS nu,
               CAST(n_.n AS HUGEINT) * n_.n AS nn
        FROM cross_
        JOIN sums s1 ON s1.d = d1
        JOIN sums s2 ON s2.d = d2
        CROSS JOIN n_
    )
    SELECT d1, d2,
           CAST((CASE WHEN nu < 0 THEN -1 ELSE 1 END)
                * ((2 * abs(nu) + nn) // (2 * nn)) AS DOUBLE)
           / 1000000.0 AS cov
    FROM num
    ORDER BY abs(nu) DESC, d1, d2
    LIMIT 20
    """,
)
def sim_covariance_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-COVARIANCE dimension pairs of the embedding space — the
    redundancy audit behind dimensionality decisions (two highly
    covarying dimensions carry one dimension of information;
    before PCA/MRL truncation you look at exactly this list), and
    the computation underneath is the distributed-PCA primitive:
    the GRAM matrix as a mergeable aggregate. Components quantize
    to exact integer thousandths (the centroid-drift rule), each
    row contributes integer products, and the d×d sums are
    order-free int64 — partitions compute partial Grams and they
    ADD, which is how a 100 TB covariance matrix is actually built
    (the d²-sized result never shuffles more than once).

    Top-20 by |centered covariance| with a (d1, d2) tie-break.
    The pair join is per-vector (a.d < b.d), i.e. 64·63/2 products
    per row — the map-side cost of any Gram build.

    Exactness at an EXACT-half boundary (found by hypothesis): a
    generated corpus produced cov·1e6 = 7893.5 exactly, and the two
    engines' round(double, 6) DISAGREE on such values by
    construction — Spark's Round goes through Java
    BigDecimal.valueOf, which reads the SHORTEST decimal repr of the
    double ("0.0078935" → half-up → 0.007894), while DuckDB rounds
    the exact binary value (…349999… → 0.007893). No double-side
    formulation can reconcile that, so the rounding itself moved to
    exact integer arithmetic on BOTH engines: with nu = n·sxy −
    s1·s2 (exact wide int: decimal(38,0)/HUGEINT) and nn = n², the
    half-up-rounded 6-decimal value is sign(nu)·((2|nu| + nn) div
    (2nn)) — pure integral ops — and the emitted double is that
    integer cast to double divided by 1e6, one identical IEEE op per
    engine. The ORDER key is |nu| itself."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    comp = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("d", "x"),
    ).select(
        "vec_id",
        "d",
        F.floor(F.col("x") * 1000 + 0.5).cast("long").alias("q"),
    )
    sums = comp.groupBy("d").agg(F.sum("q").alias("s"))
    b = comp.select(
        F.col("vec_id").alias("vb"),
        F.col("d").alias("d2"),
        F.col("q").alias("qb"),
    )
    cross = (
        comp.join(
            b, (F.col("vec_id") == F.col("vb")) & (F.col("d") < F.col("d2"))
        )
        .groupBy(F.col("d").alias("d1"), "d2")
        .agg(F.sum(F.col("q") * F.col("qb")).alias("sxy"))
    )
    s1 = sums.select(F.col("d").alias("d1"), F.col("s").alias("s1"))
    s2 = sums.select(F.col("d").alias("d2"), F.col("s").alias("s2"))
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    centered_n = d19(F.lit(n)) * d19(F.col("sxy")) - d19(F.col("s1")) * d19(
        F.col("s2")
    )  # exact decimal(38,0) integer: nu = n·sxy − s1·s2
    nn = n * n  # exact python int; literals below stay integral
    rounded_e6 = F.when(centered_n < 0, F.lit(-1)).otherwise(F.lit(1)) * (
        F.expr(f"(2 * abs(_nu) + {nn}) div {2 * nn}")
    )  # half-up |nu|/nn in pure integral ops (see docstring)
    return (
        cross.join(F.broadcast(s1), "d1")
        .join(F.broadcast(s2), "d2")
        .withColumn("_nu", centered_n)
        .select(
            F.col("d1").cast("long").alias("d1"),
            F.col("d2").cast("long").alias("d2"),
            (rounded_e6.cast("double") / F.lit(1000000.0)).alias("cov"),
            F.abs(F.col("_nu")).alias("_ord"),
        )
        .orderBy(F.col("_ord").desc(), "d1", "d2")
        .limit(20)
        .drop("_ord")
    )


@register(
    "sim_power_iteration_top_pc",
    survey_row=75,
    oracle="""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> round(CAST(x AS DOUBLE) * 1000)::BIGINT) AS qv
        FROM embeddings
    ),
    el AS (
        -- single explode to (vec, dim, value); the Gram cells come
        -- from a streaming self-join on vec_id instead of a second
        -- unnest that would drag the whole 64-list onto every one of
        -- the n*64*64 rows (the r10 sf10 sweep OOM-killed that form
        -- at 500k vectors; this one streams through a 4,096-group
        -- hash aggregate in bounded memory)
        SELECT vec_id, i.i - 1 AS i, qv[i.i] AS qi
        FROM q, unnest(range(1, len(qv) + 1)) AS i(i)
    ),
    c AS (
        SELECT a.i AS i, b.i AS j, sum(a.qi * b.qi) AS c
        FROM el a JOIN el b USING (vec_id)
        GROUP BY a.i, b.i
    ),
    v1 AS (SELECT i, sum(c) AS v FROM c GROUP BY i),
    v2 AS (
        SELECT c.i, sum(c.c * v1.v) AS v
        FROM c JOIN v1 ON v1.i = c.j GROUP BY c.i
    ),
    v3 AS (
        SELECT c.i, sum(c.c * v2.v) AS v
        FROM c JOIN v2 ON v2.i = c.j GROUP BY c.i
    ),
    m AS (SELECT max(abs(v)) AS vmax FROM v3)
    SELECT v3.i AS dim,
           round(CAST(v3.v AS DOUBLE) / CAST(m.vmax AS DOUBLE), 6)
               AS component_ratio
    FROM v3, m
    ORDER BY dim
    """,
)
def sim_power_iteration_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by POWER
    ITERATION over the Gram matrix — the iterative-linear-algebra
    shape (drift/collapse diagnostics, whitening, spectral init) run
    natively on the engine with NO float accumulation anywhere:

      1. quantize embeddings to exact integers (×1000, round),
      2. Gram matrix C = Σ_docs q qᵀ via two posexplodes → one
         (i,j)-keyed aggregate — 64² = 4,096 cells regardless of
         corpus size; map-side partials collapse each task's
         contribution to ≤4,096 rows before the one shuffle,
      3. three power steps v ← C·v from v₀ = 1, each a broadcast join
         of the 64-row vector onto the 4,096-cell matrix; integer
         products accumulate in DECIMAL(38,0) (magnitudes reach
         ~10²⁸ by v₃ — bigint would overflow, decimal sums stay
         exact and order-free; DuckDB's HUGEINT mirrors),
      4. report each dimension's component as a ratio to the max
         |component| (eigenvectors are scale/sign-free; ratio-to-max
         is the canonical exact-friendly normalization — L2 would
         square 10²⁸ past any exact type).

    The one float division happens on exact decimals at the output
    edge. At 100 TB the corpus appears ONLY in step 2's partial
    aggregate — iterations cost O(d²) independent of data size, so
    the convergence loop is free at scale."""
    e = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000).cast("long"),
    )
    rows_i = e.select(q.alias("qv")).select(
        F.posexplode("qv").alias("i", "qi"), F.col("qv")
    )
    cells = rows_i.select(
        "i", "qi", F.posexplode("qv").alias("j", "qj")
    )
    # The Gram matrix feeds the v₀ init and both C·v steps; persist
    # its 4,096 rows so the corpus-sized aggregation runs ONCE (the
    # docstring's "corpus appears only in step 2" claim, made true in
    # the plan — without this, each branch re-scans the embeddings).
    c = (
        cells.groupBy("i", "j")
        .agg(F.sum(F.col("qi") * F.col("qj")).alias("c"))
        .persist()
    )
    cd = c.select("i", "j", F.col("c").cast("decimal(38,0)").alias("c"))
    v = c.groupBy("i").agg(
        F.sum("c").cast("decimal(38,0)").alias("v")
    )
    for _ in range(2):
        v = (
            cd.join(
                F.broadcast(
                    v.select(F.col("i").alias("j"), F.col("v").alias("vj"))
                ),
                "j",
            )
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("vj")).alias("v"))
        )
    m = v.agg(F.max(F.abs(F.col("v"))).alias("vmax"))
    return (
        v.join(F.broadcast(m))
        .select(
            F.col("i").alias("dim"),
            F.round(
                F.col("v").cast("double") / F.col("vmax").cast("double"), 6
            ).alias("component_ratio"),
        )
        .orderBy("dim")
    )


# Shared by sim_kmeans_lloyd and its array-native assignment twin
# sim_kmeans_lloyd_arrays: both compute the IDENTICAL integer
# milli-unit trajectory, so one oracle binds both.
_KMEANS_LLOYD_ORACLE = """
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> round(CAST(x AS DOUBLE) * 1000)::BIGINT) AS qv
        FROM embeddings
    ),
    ve AS (
        SELECT vec_id, i.i - 1 AS dim, qv[i.i] AS val
        FROM q, unnest(range(1, len(qv) + 1)) AS i(i)
    ),
    init AS (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS k
        FROM q ORDER BY vec_id LIMIT 4
    ),
    c0 AS (
        SELECT init.k, ve.dim, ve.val AS cv
        FROM init JOIN ve ON init.vec_id = ve.vec_id
    ),
    d1 AS (
        SELECT ve.vec_id, c0.k,
               sum((ve.val - c0.cv) * (ve.val - c0.cv)) AS dist
        FROM ve JOIN c0 ON ve.dim = c0.dim
        GROUP BY ve.vec_id, c0.k
    ),
    a1 AS (
        SELECT vec_id, k FROM (
            SELECT vec_id, k, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, k) AS rk
            FROM d1)
        WHERE rk = 1
    ),
    c1 AS (
        SELECT a1.k, ve.dim,
               CAST(floor(sum(ve.val) * 1.0 / count(*)) AS BIGINT) AS cv
        FROM a1 JOIN ve ON a1.vec_id = ve.vec_id
        GROUP BY a1.k, ve.dim
    ),
    d2 AS (
        SELECT ve.vec_id, c1.k,
               sum((ve.val - c1.cv) * (ve.val - c1.cv)) AS dist
        FROM ve JOIN c1 ON ve.dim = c1.dim
        GROUP BY ve.vec_id, c1.k
    ),
    a2 AS (
        SELECT vec_id, k FROM (
            SELECT vec_id, k, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, k) AS rk
            FROM d2)
        WHERE rk = 1
    ),
    c2 AS (
        SELECT a2.k, ve.dim,
               CAST(floor(sum(ve.val) * 1.0 / count(*)) AS BIGINT) AS cv
        FROM a2 JOIN ve ON a2.vec_id = ve.vec_id
        GROUP BY a2.k, ve.dim
    ),
    sizes AS (SELECT k, count(*) AS n FROM a2 GROUP BY k)
    SELECT c2.k AS k, max(sizes.n)::BIGINT AS n_members,
           sum(abs(c2.cv))::BIGINT AS centroid_l1,
           sum(abs(c2.cv - c1.cv))::BIGINT AS shift_l1
    FROM c2 JOIN c1 ON c1.k = c2.k AND c1.dim = c2.dim
    JOIN sizes ON sizes.k = c2.k
    GROUP BY c2.k
    ORDER BY k
    """


@register(
    "sim_kmeans_lloyd",
    survey_row=75,
    oracle=_KMEANS_LLOYD_ORACLE,
)
def sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed LLOYD'S K-MEANS (K=4, two full iterations) — the
    canonical iterative-ML shape (IVF list training, corpus
    clustering for mixture control, semantic dedup seeds) run as
    pure DataFrame algebra with NO float state: vectors quantize to
    exact integer milli-units once; every distance is an int64 sum
    of squared integer diffs; every centroid update floors an
    engine-identical double (Σ/n) back to integers, so the
    trajectory — assignments, centroids, shifts — is bit-identical
    on both engines and any partitioning. Argmin ties break (dist,
    k) ascending: total order, no flicker.

    The scale architecture is the textbook one: the K×64-row
    centroid frame BROADCASTS onto the corpus (assignment = map-side
    join + per-vector aggregate, no corpus shuffle beyond the
    (vec,k) reduce); the update aggregate collapses map-side to
    ≤K×64 rows/task. Corpus cost is per-iteration linear;
    iterations are driver-looped like cat_lineage_closure. Output:
    per-cluster size, centroid L1 mass, and the iteration-2 shift
    (the convergence telemetry a production trainer monitors).
    Empty clusters (possible under adversarial seeds) drop from the
    join identically on both engines.

    MEASURED DEAD-END at scale (warm best-of-3, local[32]): this
    pure-Catalyst form costs 4.03 s at sf1 / 8.15 s at sf10 vs the
    array-native twin's 1.28 s / 2.16 s — the K×|corpus| grouped rows
    the assignment shuffles through the argmin window dominate once
    the corpus is large. sim_kmeans_lloyd_arrays (same oracle, bit-
    identical output) is the bench headliner; this form stays as the
    no-Python-worker variant."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1000).cast("long"),
        ).alias("qv"),
    )
    ve = q.select(
        "vec_id", F.posexplode("qv").alias("dim", "val")
    ).persist()
    init = (
        q.orderBy("vec_id")
        .limit(4)
        .select(
            "vec_id",
            (
                F.row_number().over(Window.orderBy("vec_id")) - 1
            ).alias("k"),
        )
    )
    cent = init.join(ve, "vec_id").select(
        "k", "dim", F.col("val").alias("cv")
    )
    prev = None
    for _ in range(2):
        c = F.broadcast(cent)
        d = (
            ve.join(c, "dim")
            .groupBy("vec_id", "k")
            .agg(
                F.sum(
                    (F.col("val") - F.col("cv"))
                    * (F.col("val") - F.col("cv"))
                ).alias("dist")
            )
        )
        w = Window.partitionBy("vec_id").orderBy("dist", "k")
        a = (
            d.select("vec_id", "k", F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") == 1)
            .drop("rk")
        )
        prev = cent
        cent = (
            a.join(ve, "vec_id")
            .groupBy("k", "dim")
            .agg(
                F.floor(F.sum("val") * 1.0 / F.count(F.lit(1)))
                .cast("long")
                .alias("cv")
            )
        )
        last_assign = a
    sizes = last_assign.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    p = prev.select("k", "dim", F.col("cv").alias("cv_prev"))
    # both centroid frames are K×dim metadata — broadcast the join
    return (
        cent.join(F.broadcast(p), ["k", "dim"])
        .join(F.broadcast(sizes), "k")
        .groupBy("k")
        .agg(
            F.max("n").cast("long").alias("n_members"),
            F.sum(F.abs(F.col("cv"))).cast("long").alias("centroid_l1"),
            F.sum(F.abs(F.col("cv") - F.col("cv_prev")))
            .cast("long")
            .alias("shift_l1"),
        )
        .orderBy("k")
    )


@register(
    "sim_kmeans_lloyd_arrays",
    survey_row=75,
    oracle=_KMEANS_LLOYD_ORACLE,
)
def sim_kmeans_lloyd_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY-NATIVE twin of sim_kmeans_lloyd: identical K=4 /
    2-iteration integer milli-unit trajectory — same oracle,
    bit-identical output — but the ASSIGNMENT stage is a map-only Arrow
    `mapInPandas` over the packed int64 vector instead of posexplode →
    join(dim) → groupBy(vec,k) → argmin window. The posexplode form
    shuffles K×|corpus| grouped rows per iteration through a per-vector
    window; this one shuffles NOTHING to assign — the K×64 integer
    centroid matrix collects to the driver (256 values, bounded by
    construction — the 25-row-dim-memo discipline) and rides the UDF
    closure; numpy computes the n×K squared-int64 distance block per
    Arrow batch and argmin's first-minimum, which equals the (dist,
    k)-ascending tie-break exactly. The UPDATE stage keeps posexplode →
    groupBy(k, dim): that aggregate collapses map-side to ≤K×64
    rows/task, so its shuffle is metadata-sized — it was never the cost.
    Quantization stays Spark-side (F.round is HALF_UP; numpy rounds
    half-even) so both twins quantize identically. Measured sf1/sf10
    numbers live in BASELINE.md (the kmeans twin pairing); the faster
    twin is the bench headliner."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1000).cast("long"),
        ).alias("qv"),
    ).persist()
    init_rows = q.orderBy("vec_id").limit(4).select("qv").collect()
    # centroids keyed by CLUSTER ID (a cluster that empties drops out,
    # exactly as it drops from the DataFrame twin's join)
    cent: dict[int, list[int]] = {
        k: list(r["qv"]) for k, r in enumerate(init_rows)
    }

    def assign_with(centroids: dict[int, list[int]]):
        ks = sorted(centroids)
        k_ids = np.asarray(ks, dtype=np.int64)
        c_arr = np.asarray([centroids[k] for k in ks], dtype=np.int64)

        def fn(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
                # n×K×d diff block: |milli-unit| ≲ 2e3 → squared diff
                # ≤ 1.6e7, ×64 dims ≤ 1.1e9 — comfortably int64.
                diff = x[:, None, :] - c_arr[None, :, :]
                dist = (diff * diff).sum(axis=2)
                # argmin's first-minimum over ascending cluster ids ==
                # the twin's (dist, k)-ascending row_number tie-break
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "k": k_ids[dist.argmin(axis=1)],
                        "qv": pdf["qv"],
                    }
                )

        return fn

    prev: dict[int, list[int]] = cent
    for _ in range(2):
        a = q.mapInPandas(
            assign_with(cent), "vec_id long, k long, qv array<bigint>"
        )
        rows = (
            a.select("k", F.posexplode("qv").alias("dim", "val"))
            .groupBy("k", "dim")
            .agg(
                F.floor(F.sum("val") * 1.0 / F.count(F.lit(1)))
                .cast("long")
                .alias("cv")
            )
            .collect()  # ≤ K×64 = 256 rows — bounded by construction
        )
        by_k: dict[int, dict[int, int]] = {}
        for r in rows:
            by_k.setdefault(r["k"], {})[r["dim"]] = r["cv"]
        ndim = len(next(iter(cent.values())))
        prev = cent
        cent = {
            k: [dims[d] for d in range(ndim)] for k, dims in by_k.items()
        }
        last_assign = a
    sizes = {
        r["k"]: r["n"]
        for r in last_assign.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out = [
        (
            k,
            int(sizes[k]),
            int(sum(abs(v) for v in c2)),
            int(sum(abs(a_ - b_) for a_, b_ in zip(c2, prev[k]))),
        )
        for k, c2 in sorted(cent.items())
    ]
    return spark.createDataFrame(
        out, "k long, n_members long, centroid_l1 long, shift_l1 long"
    ).orderBy("k")


@register(
    "sim_centroid_silhouette",
    survey_row=75,
    oracle="""
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> round(CAST(x AS DOUBLE) * 1000)::BIGINT) AS qv
        FROM embeddings
    ),
    ve AS (
        SELECT vec_id, label, i.i - 1 AS dim, qv[i.i] AS val
        FROM q, unnest(range(1, len(qv) + 1)) AS i(i)
    ),
    cents AS (
        SELECT label AS k, dim,
               CAST(floor(sum(val) * 1.0 / count(*)) AS BIGINT) AS cv
        FROM ve GROUP BY label, dim
    ),
    dists AS (
        SELECT ve.vec_id, ve.label, cents.k,
               sum((ve.val - cents.cv) * (ve.val - cents.cv)) AS d2
        FROM ve JOIN cents ON ve.dim = cents.dim
        GROUP BY ve.vec_id, ve.label, cents.k
    ),
    ab AS (
        SELECT vec_id, label,
               max(CASE WHEN k = label THEN d2 END) AS a2,
               min(CASE WHEN k <> label THEN d2 END) AS b2
        FROM dists GROUP BY vec_id, label
    ),
    s AS (
        SELECT label,
               CAST(floor((b2 - a2) * 1000000.0
                          / greatest(a2, b2)) AS BIGINT) AS s_u
        FROM ab WHERE greatest(a2, b2) > 0
    )
    SELECT label, count(*) AS n,
           round(sum(s_u) / 1000000.0 / count(*), 6)
               AS mean_silhouette
    FROM s GROUP BY label ORDER BY label
    """,
)
def sim_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CENTROID silhouette — the cluster-quality audit for labeled
    embedding spaces (is this taxonomy real in vector space, or did
    the labeler hallucinate structure?): per vector, a² = squared
    distance to OWN label centroid, b² = min squared distance to any
    OTHER centroid, s = (b²−a²)/max(a²,b²) ∈ [−1,1]; per-label mean.
    The simplified (medoid-free) silhouette — the full form's
    all-pairs distances are exactly what cannot run at 100 TB, while
    this one is two broadcast joins.

    Determinism end to end: integer milli-unit vectors → integer
    centroids (floored Σ/n, the sim_kmeans_lloyd rule) → int64
    squared distances → per-vector s floored to micro-units →
    per-label int64 sum. One corpus-keyed aggregate for distances
    (|labels|×64 centroid frame broadcasts), one label-keyed
    reduce."""
    e = load_table(spark, sf_dir, "embeddings")
    ve = e.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * 1000).cast("long"),
            )
        ).alias("dim", "val"),
    )
    cents = ve.groupBy(F.col("label").alias("k"), F.col("dim")).agg(
        F.floor(F.sum("val") * 1.0 / F.count(F.lit(1)))
        .cast("long")
        .alias("cv")
    )
    dists = (
        ve.join(F.broadcast(cents), "dim")
        .groupBy("vec_id", "label", "k")
        .agg(
            F.sum(
                (F.col("val") - F.col("cv")) * (F.col("val") - F.col("cv"))
            ).alias("d2")
        )
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("k") == F.col("label"), F.col("d2"))).alias("a2"),
        F.min(F.when(F.col("k") != F.col("label"), F.col("d2"))).alias("b2"),
    )
    s = ab.filter(F.greatest("a2", "b2") > 0).select(
        "label",
        F.floor(
            (F.col("b2") - F.col("a2"))
            * 1000000.0
            / F.greatest("a2", "b2")
        )
        .cast("long")
        .alias("s_u"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum("s_u") / 1000000.0 / F.count(F.lit(1)), 6
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


@register(
    "sim_semdedup",
    survey_row=75,
    oracle="""
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> round(CAST(x AS DOUBLE) * 1000)::BIGINT) AS qv
        FROM embeddings
    ),
    ve AS (
        SELECT vec_id, label, i.i - 1 AS dim, qv[i.i] AS val
        FROM q, unnest(range(1, len(qv) + 1)) AS i(i)
    ),
    cents AS (
        SELECT label, dim,
               CAST(floor(sum(val) * 1.0 / count(*)) AS BIGINT) AS cv
        FROM ve GROUP BY label, dim
    ),
    d2 AS (
        SELECT ve.vec_id, ve.label,
               sum((ve.val - cents.cv) * (ve.val - cents.cv)) AS d2
        FROM ve JOIN cents
            ON ve.label = cents.label AND ve.dim = cents.dim
        GROUP BY ve.vec_id, ve.label
    ),
    m AS (
        SELECT q.vec_id, q.label, q.qv,
               CAST(list_dot_product(q.qv, q.qv) AS BIGINT) AS n2, d2.d2
        FROM q JOIN d2 ON q.vec_id = d2.vec_id
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM m a JOIN m b ON a.label = b.label AND a.vec_id <> b.vec_id
        WHERE (a.d2 < b.d2 OR (a.d2 = b.d2 AND a.vec_id < b.vec_id))
          AND list_dot_product(a.qv, b.qv) > 0
          AND CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
              * CAST(list_dot_product(a.qv, b.qv) AS BIGINT) * 100
              > 9 * a.n2 * b.n2
    ),
    flags AS (
        SELECT m.label,
               CASE WHEN dropped.vec_id IS NULL THEN 0 ELSE 1 END AS is_drop
        FROM m LEFT JOIN dropped ON m.vec_id = dropped.vec_id
    )
    SELECT label, count(*)::BIGINT AS n_members,
           sum(is_drop)::BIGINT AS n_dropped,
           (count(*) - sum(is_drop))::BIGINT AS n_kept,
           round(sum(is_drop) * 1.0 / count(*), 6) AS drop_rate
    FROM flags GROUP BY label ORDER BY label
    """,
)
def sim_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMDEDUP (Abbas et al. 2023, arXiv:2303.09540 — public):
    semantic deduplication that restricts pairwise cosine to WITHIN
    k-means cluster cells and, inside each near-duplicate pair, keeps
    the member closest to its cluster centroid (the paper's
    "keep low-cluster-distance" policy, made deterministic here with
    (distance, vec_id) lexicographic priority). The fixture's `label`
    column stands in for the trained cell assignment —
    `sim_kmeans_lloyd` in this module is the trainer that would
    produce it.

    Everything is integer-exact: vectors quantize to milli-units
    once; cos(u,v) > τ=0.3 is evaluated as dot>0 ∧ 100·dot² > 9·|u|²|v|²
    (all int64 — max |dot| ≈ 5.8e6 on this fixture so 100·dot² ≈
    3.4e15 ≪ 2⁶³), and centroid distance is the same Σ(val−cv)² int64
    as sim_kmeans_lloyd/sim_centroid_silhouette, so both engines see
    bit-identical drop decisions.

    Scale shape — the reason SemDeDup exists: the pair join carries
    the CLUSTER key, so candidate volume is Σ|cell|², not |corpus|²;
    at 100 TB one raises K (the paper uses K≈10⁵ cells for ~10⁸
    docs) so cells stay ~10³ and the quadratic term is bounded per
    task. Parallelism comes from the cell count, the centroid is a
    d-vector computed in-cell from data the task already holds (a
    trainer would hand it over as K×d metadata), and only
    vec_id/priority — never raw vectors — leave the pair stage. A vector is dropped iff a
    strictly-better same-cell partner exceeds τ, so output accounting
    (per-cell members/dropped/kept) is exactly the paper's dedup-rate
    telemetry."""
    e = load_table(spark, sf_dir, "embeddings")
    m = e.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1000).cast("long"),
        ).alias("qv"),
    )

    # Per-cell BLAS Gram stage. A join form that expresses the
    # within-cell pair scan as a label self-join, whose join predicate
    # evaluates the 64-element zip_with dot per pair, is too slow:
    # Catalyst runs higher-order functions INTERPRETED, so the cell's
    # |cell|² pairs each pay an interpreted array walk, and ~4e9 pairs
    # at sf10 never finish a 30-min budget. (The cost was invisible to
    # the bench until protocol v3: under count() Catalyst pruned the
    # whole pair join out of the executed plan — 2 joins vs 7 — and
    # the committed 1.27 s sf10 number timed that skeleton.) This is
    # the SemDeDup paper's own computation unit — a per-cluster Gram
    # matrix — so run it that way: one Arrow group per cell, rows
    # sorted by (d2, vec_id) so "strictly better" ≡ "earlier row",
    # V·Vᵀ in float64 dgemm blocks (exact: every dot is an integer
    # < 2⁵³), the τ compare done back in int64 with the same headroom
    # as the old Catalyst expression, column-block masking keeping
    # peak memory at n×2048 doubles per cell. Parallelism is the cell
    # count — exactly the K-scaling story the docstring's 100 TB note
    # describes (raise K, cells stay ~10³). Measured at sf10:
    # interpreted pair join >1800 s → 18 s end-to-end.
    # The centroid / centroid-distance / norm² stages run INSIDE the
    # cell task. Built distributed (posexplode to (vec, dim, val), a
    # broadcast-join centroid aggregate, and a re-join of d2 back onto
    # the arrays) they took ~29 s of a 47 s sf10 wall, but the cell
    # task already holds the ENTIRE label group, so all three are one
    # vectorized pass over data already in hand (sub-ms per cell). The
    # arithmetic is replicated operation-for-operation so hashes are
    # unchanged: centroid = floor(float64(Σval) · 1.0 / n) per dim —
    # the same IEEE double divide both engines' floor sees — and
    # d2/n2 are int64 exactly as before. At 100 TB the trainer hands
    # each cell its centroid anyway; recomputing the mean in-cell is
    # O(n·d) colocated work, not an extra distributed stage.
    def _cell_drops(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        # Cell-size guard: one Arrow group materializes the whole cell
        # in this task (V is n×64 float64, a dots block n×2048 int64 ≈
        # n×16 KB). A degenerate/skewed label distribution must fail
        # loudly with the fix named — raise K so cells shrink — not OOM
        # the executor. 200k members ≈ 3.2 GB peak block, the edge of a
        # sane task.
        if n > 200_000:
            raise ValueError(
                f"semdedup cell has {n} members; raise the cluster "
                "count K so cells stay bounded (SemDeDup's own "
                "scale lever) — refusing a >200k-member Gram"
            )
        Vi = np.array(pdf["qv"].tolist(), dtype=np.int64)
        cv = np.floor(
            Vi.sum(axis=0).astype(np.float64) * 1.0 / n
        ).astype(np.int64)
        diff = Vi - cv
        d2 = (diff * diff).sum(axis=1)
        n2v = (Vi * Vi).sum(axis=1)
        vid = pdf["vec_id"].to_numpy()
        # int64 headroom guard: n2 and d2 are 64-term int64 sums of
        # val², so |val| must stay ≤ 1e8 or the sums wrap silently; the
        # ×1000 quantization of unit-norm embeddings gives |val| ≈ 1e3,
        # five orders inside.
        if n and int(np.abs(Vi).max(initial=0)) > 100_000_000:
            raise ValueError(
                f"semdedup quantized value {int(np.abs(Vi).max())} "
                "exceeds the 1e8 int64-headroom bound for the "
                "n2/d2 sums; reduce the quantization scale"
            )
        # priority order: (d2, vec_id) lexicographic — "strictly
        # better" ≡ "earlier row" exactly as in a (d2, vec_id)-sorted
        # frame
        order = np.lexsort((vid, d2))
        Vi = Vi[order]
        n2v = n2v[order]
        labels = pdf["label"].to_numpy()[order]
        # τ compare as a SINGLE float compare on the normalized Gram
        # cos = W·Wᵀ with W = V/‖V‖ row-normalized once, and
        # "cos > 0.3" decides each pair — one dgemm + one pass,
        # replacing an int64 elementwise chain (rint/astype,
        # 100·dots², 9·outer(n2,n2)) that was 10× the dgemm cost in
        # memory traffic (measured per 20k cell, same session: 58 s →
        # 8.3 s, identical drop sets). Exactness is preserved, not
        # assumed: |C − cos| ≤ ~1e-13 (64-term unit-vector dot), so
        # any entry with |C − 0.3| ≥ 1e-9 is decided correctly for
        # ANY BLAS summation order, and the rare near-boundary
        # entries are re-checked in exact arbitrary-precision integer
        # arithmetic (python ints — the original 100·dot² > 9·n2ᵢn2ⱼ
        # compare). The dgemm is also PREFIX-height (rows 0..b1 only
        # — later rows can never be the "better partner"), halving
        # FLOPs; blocks stay 2048 wide (an 8192 block thrashed cache:
        # 74 s).
        s = np.sqrt(n2v.astype(np.float64))
        s[s == 0.0] = 1.0  # zero vectors: cos ≡ 0 (< τ) on both paths
        W = Vi.astype(np.float64) / s[:, None]
        dropped = np.zeros(n, dtype=bool)
        block = 2048
        for b0 in range(0, n, block):
            b1 = min(b0 + block, n)
            C = W[:b1] @ W[b0:b1].T
            tri = np.arange(b1)[:, None] < np.arange(b0, b1)[None, :]
            cond = (C > 0.3) & tri
            near = (np.abs(C - 0.3) < 1e-9) & tri
            if near.any():
                for i, j in zip(*np.nonzero(near)):
                    d = int(Vi[i] @ Vi[j + b0])
                    cond[i, j] = d > 0 and (
                        100 * d * d > 9 * int(n2v[i]) * int(n2v[j + b0])
                    )
            dropped[b0:b1] |= cond.any(axis=0)
        return pd.DataFrame(
            {"label": labels, "is_drop": dropped.astype(np.int64)}
        )

    label_t = next(
        f.dataType.simpleString() for f in m.schema.fields if f.name == "label"
    )
    flags = m.groupBy("label").applyInPandas(
        _cell_drops, f"label {label_t}, is_drop long"
    )
    return (
        flags.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("is_drop").cast("long").alias("n_dropped"),
            (F.count(F.lit(1)) - F.sum("is_drop"))
            .cast("long")
            .alias("n_kept"),
            F.round(F.sum("is_drop") * 1.0 / F.count(F.lit(1)), 6).alias(
                "drop_rate"
            ),
        )
        .orderBy("label")
    )


#: DCG position weights: floor-stable micro-unit quantization of
#: 1/log2(i+1), i = 1..10, computed ONCE offline and embedded as
#: integer literals so neither engine's libm log2 is in the hash path.
_NDCG_W = [
    (1, 1000000), (2, 630930), (3, 500000), (4, 430677), (5, 386853),
    (6, 356207), (7, 333333), (8, 315465), (9, 301030), (10, 289065),
]


@register(
    "sim_ndcg_eval",
    survey_row=69,
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> round(CAST(x AS DOUBLE) * 1000)::BIGINT) AS qv
        FROM embeddings
    ),
    qs AS (SELECT * FROM q WHERE vec_id < 5),
    corpus AS (SELECT * FROM q WHERE vec_id >= 5),
    w AS (
        SELECT * FROM (VALUES {", ".join(f"({i}, {wt})" for i, wt in _NDCG_W)})
            t(i, wt)
    ),
    scored AS (
        SELECT qs.vec_id AS query_vec, qs.label AS qlabel,
               c.vec_id AS cid, c.label AS clabel,
               CAST(list_dot_product(qs.qv, c.qv) AS BIGINT) AS dot
        FROM qs JOIN corpus c ON true
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_vec ORDER BY dot DESC, cid) AS rk
        FROM scored
    ),
    dcg AS (
        SELECT query_vec,
               sum(CASE WHEN clabel = qlabel THEN wt ELSE 0 END) AS dcg_u,
               sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END)
                   AS rel_in_top10
        FROM ranked JOIN w ON w.i = ranked.rk
        WHERE rk <= 10 GROUP BY query_vec
    ),
    nrel AS (
        SELECT qs.vec_id AS query_vec, count(*) AS n_rel
        FROM qs JOIN corpus c ON c.label = qs.label GROUP BY 1
    ),
    idcg AS (
        SELECT query_vec, sum(wt) AS idcg_u
        FROM nrel JOIN w ON w.i <= least(10, n_rel) GROUP BY query_vec
    )
    SELECT dcg.query_vec, rel_in_top10::BIGINT AS rel_in_top10,
           dcg_u::BIGINT AS dcg_u, idcg_u::BIGINT AS idcg_u,
           round(dcg_u * 1.0 / idcg_u, 6) AS ndcg_at_10
    FROM dcg JOIN idcg ON dcg.query_vec = idcg.query_vec
    ORDER BY 1
    """,
)
def sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 RETRIEVAL EVALUATION — the ranking-quality readout
    every retrieval stack (BM25, dense, fused) reports. Five query
    vectors score against the rest of the corpus by exact integer
    dot product (milli-quantized — ties impossible to flicker),
    rank with a (score DESC, id) total order, and DCG accumulates
    INTEGER micro-unit position weights (1/log2(i+1) pre-quantized
    into `_NDCG_W` literals, so no libm call is in the comparison
    path on either engine). Relevance is label match; IDCG sums the
    first min(10, n_relevant) weights, making nDCG exact integer
    arithmetic until one final rounded division.

    Scale shape: queries BROADCAST onto the corpus (the sim_knn_batch
    einsum architecture — corpus never shuffles); per-query top-10 is
    a rank-k window on the query key, i.e. TakeOrdered per group, and
    the weight/IDCG frames are ≤10-row metadata broadcasts. Eval
    batches of 10⁴ queries against 10⁹ docs keep the same plan with
    the query side still the broadcast relation."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1000).cast("long"),
        ).alias("qv"),
    )
    qs = q.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_vec"),
        F.col("label").alias("qlabel"),
        F.col("qv").alias("qqv"),
    )
    corpus = q.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("qv").alias("cqv"),
    )
    wts = spark.createDataFrame(_NDCG_W, "i int, wt long")
    dot = F.aggregate(
        F.zip_with(F.col("qqv"), F.col("cqv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = corpus.join(F.broadcast(qs)).select(
        "query_vec", "qlabel", "cid", "clabel", dot.alias("dot")
    )
    rk = F.row_number().over(
        Window.partitionBy("query_vec").orderBy(
            F.col("dot").desc(), F.col("cid")
        )
    )
    top = scored.select("query_vec", "qlabel", "clabel", rk.alias("rk")).filter(
        F.col("rk") <= 10
    )
    dcg = (
        top.join(F.broadcast(wts), top["rk"] == wts["i"])
        .groupBy("query_vec")
        .agg(
            F.sum(
                F.when(F.col("clabel") == F.col("qlabel"), F.col("wt"))
                .otherwise(0)
            ).alias("dcg_u"),
            F.sum(
                F.when(F.col("clabel") == F.col("qlabel"), 1).otherwise(0)
            ).alias("rel_in_top10"),
        )
    )
    nrel = (
        corpus.join(
            F.broadcast(qs.select("query_vec", "qlabel")),
            corpus["clabel"] == F.col("qlabel"),
        )
        .groupBy("query_vec")
        .agg(F.count(F.lit(1)).alias("n_rel"))
    )
    idcg = (
        nrel.join(F.broadcast(wts), wts["i"] <= F.least(F.lit(10), F.col("n_rel")))
        .groupBy("query_vec")
        .agg(F.sum("wt").alias("idcg_u"))
    )
    return (
        dcg.join(F.broadcast(idcg), "query_vec")
        .select(
            "query_vec",
            F.col("rel_in_top10").cast("long").alias("rel_in_top10"),
            F.col("dcg_u").cast("long").alias("dcg_u"),
            F.col("idcg_u").cast("long").alias("idcg_u"),
            F.round(F.col("dcg_u") * 1.0 / F.col("idcg_u"), 6).alias(
                "ndcg_at_10"
            ),
        )
        .orderBy("query_vec")
    )
