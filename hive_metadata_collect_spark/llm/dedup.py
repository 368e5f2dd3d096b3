"""Deduplication operators for LLM training-data pipelines —
SURVEY.md §2.11 (#67, #68) plus a canonical-fingerprint variant and
the MinHash-LSH scale path.

Scale notes: exact dedup (#67) is a single hash-groupBy on a 16-byte
digest — shuffles digests, not documents. The exact near-dup path
(#68) generates candidates via an inverted-index self-join (pairs
must share ≥1 token) and computes Jaccard from co-occurrence counts;
correct at any SF, but its candidate volume is driven by document
frequency — at 100 TB you first drop ultra-high-DF tokens (they pair
everything with everything) and/or switch to the MinHash-LSH
banding variant (dedup_near_minhash_lsh below): signatures + band
buckets bound candidates independently of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.sources.fixtures import load_table, spread_small

_JACCARD_TAU = 0.95
_NGRAM_TAU = 0.8
_EMB_COSINE_TAU = 0.45


def _jaccard_pairs(items: DataFrame, tau: float) -> DataFrame:
    """All (doc_a, doc_b, jaccard ≥ tau) pairs from a distinct
    ``(doc_id, item)`` frame via an inverted-index self-join.

    Only pairs sharing ≥1 item are ever generated (the join key IS the
    item), so candidate volume is Σ df(item)² — bounded by dropping
    ultra-high-DF items at scale, never by materializing all pairs.
    Each side carries its doc's set size so the join condition also
    applies the size-band prune (sound: jaccard ≥ τ forces
    min(|A|,|B|) ≥ τ·max(|A|,|B|)) — mismatched-size pairs die inside
    the codegen'd join, before the per-pair groupBy shuffle ever sees
    them; the skewier the size distribution, the bigger the cut.
    ``items`` must carry a ``set_size`` column, computed by callers as
    ``F.size(arr)`` BEFORE the explode — a free projection, where
    re-deriving it here would cost a count-per-doc shuffle join.
    |A ∪ B| = |A| + |B| − |A ∩ B| from the sizes.
    """
    a = items.select(
        F.col("doc_id").alias("doc_a"), "item", F.col("set_size").alias("size_a")
    )
    b = items.select(
        F.col("doc_id").alias("doc_b"), "item", F.col("set_size").alias("size_b")
    )
    inter = (
        a.join(
            b,
            (a["item"] == b["item"])
            & (F.col("doc_a") < F.col("doc_b"))
            & (F.col("size_a") >= F.ceil(tau * F.col("size_b")))
            & (F.col("size_b") >= F.ceil(tau * F.col("size_a"))),
        )
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter"))
    return inter.filter(jac >= tau).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


@register(
    "dedup_exact",
    survey_row=67,
    oracle="""
    SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_doc
    FROM documents
    GROUP BY md5(text)
    HAVING count(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by md5(text): digest → groupBy → keep
    the lowest doc_id as the canonical survivor."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc"))
        .filter(F.col("n_docs") > 1)
    )


@register(
    "dedup_fingerprint",
    survey_row=67,
    oracle="""
    SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fingerprint,
           count(*) AS n_docs, min(doc_id) AS keep_doc
    FROM documents
    GROUP BY 1
    HAVING count(*) > 1
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-fingerprint dedup: documents whose sorted distinct
    word sets are identical (catches reorderings/repetitions that
    byte-exact md5 misses). Same groupBy-digest plan as #67."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " "
        ).cast("binary")
    )
    return (
        d.groupBy(fp.alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc"))
        .filter(F.col("n_docs") > 1)
    )


@register(
    "dedup_near_minhash",
    survey_row=68,
    # All-pairs oracle with a size-band prefilter (sound: Jaccard ≥ τ
    # forces min(|A|,|B|) ≥ τ·max(|A|,|B|)) — same rows, ~4× faster,
    # still an independent formulation of the Spark inverted index.
    oracle=f"""
    WITH w AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM documents
    ), wf AS (SELECT doc_id, ws, len(ws) AS n FROM w)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.ws, b.ws))::DOUBLE /
                 (a.n + b.n - len(list_intersect(a.ws, b.ws))), 6)
               AS jaccard
    FROM wf a JOIN wf b
      ON a.doc_id < b.doc_id
     AND a.n >= CAST(ceil({_JACCARD_TAU} * b.n) AS BIGINT)
     AND b.n >= CAST(ceil({_JACCARD_TAU} * a.n) AS BIGINT)
    WHERE len(list_intersect(a.ws, b.ws))::DOUBLE /
          (a.n + b.n - len(list_intersect(a.ws, b.ws))) >= {_JACCARD_TAU}
    """,
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs with word-set Jaccard ≥ τ (exact).

    Distributed algorithm (no all-pairs materialization):
      1. explode distinct tokens → (doc, token)
      2. self-join on token → co-occurrence count = |A ∩ B|
         (only pairs sharing ≥1 token are ever generated)
      3. |A ∪ B| = |A| + |B| − |A ∩ B| from per-doc set sizes
    The oracle cross-checks with literal all-pairs SQL at small SF.
    """
    return _jaccard_pairs(_word_items(spark, sf_dir), _JACCARD_TAU)


def _word_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, item, set_size) over distinct words — the input shape
    _jaccard_pairs needs; set_size comes from the array pre-explode."""
    d = load_table(spark, sf_dir, "documents")
    arr = F.array_distinct(F.split(F.col("text"), " "))
    return d.select("doc_id", arr.alias("ws")).select(
        "doc_id", F.size("ws").alias("set_size"), F.explode("ws").alias("item")
    )


_MH_BANDS = 8  # b bands of r rows: P(candidate) = 1-(1-j^r)^b
_MH_ROWS = 8  # at j=0.95 → 0.9998 recall; at j=0.5 → 0.03 false-cand
_LSH_FAMILY_SHARDS = 16  # salted triangle expansion of dup families


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates — the 100 TB path for #68,
    expressed natively in Catalyst (no ML-lib UDF join). This is the
    PRODUCTION pair surface (doc_a, doc_b, est_jaccard); the
    registered `dedup_near_minhash_lsh` entry wraps it in the
    driver-hashable recall contract.

    Pipeline: distinct tokens → 64 minhashes per doc, computed as 64
    map-side-combined ``min(xxhash64(seed_i, token))`` aggs over the
    exploded token stream (one shuffle of 64 longs per doc, same shape
    as dedup_simhash) → 8 bands × 8 rows, band key = hash of the
    band's 8 minhashes → self-join on (band, key) gives candidates →
    estimated Jaccard = matching-minhash fraction from the signatures.

    Candidate volume scales with corpus × bands, never corpus²; every
    stage is a plain shuffle on small keys, so the plan survives a
    1000-executor scale-up unchanged. Banding (AND over 8 rows, OR
    over 8 bands) gives ~0.9998 recall at j=0.95 while pruning low-j
    pairs that single-hash OR-amplification would flood in.
    Approximate (LSH recall < 1) → rows-only driver check; recall vs
    the exact operator is asserted in tests/test_edge_cases.py.

    SIGNATURE-COLLAPSE shape (without it the sf1 band joins run for
    minutes): boilerplate families — docs with the IDENTICAL
    distinct-token set, hence the identical signature — collide in ALL b
    bands, so a g-member family costs b·g² join work for pairs the
    signature already proves are duplicates (the sf1 fixture has a
    2,480-doc family → 8×3.07M redundant band-join rows; real web
    corpora have worse). The fix mirrors the production
    exact-before-fuzzy discipline: group docs by ``xxhash64(m0..m63)``
    (64-bit signature key; a cross-family collision needs ~2³² distinct
    signatures to be likely), band-join only the DISTINCT signatures,
    score the estimated Jaccard once per signature PAIR, then expand
    back to doc pairs with two hash joins on the signature key —
    within-family pairs are emitted directly at est_jaccard=1.0 with no
    band join at all. Candidate work becomes quadratic in DISTINCT
    signatures, linear in family sizes except the final unavoidable pair
    output. Family expansion itself parallelized by SALTED TRIANGLE
    EXPANSION: members shard into S=16 buckets by doc-id hash and
    within-family pairs join on (sig_key, shard_a, shard_b), so a
    g-member family's g²/2 output rows spread over S(S+1)/2 = 136 tasks
    instead of one hot key (sf10's 25k-doc family → 3×10⁸ pairs would
    otherwise be a single-task straggler; each member rides the shuffle
    ≤S times as a 3-long row). Measured at sf1: 36-task straggler stages
    → seconds; the narrow pairs-first layout (signatures never ride the
    candidate shuffle) is kept from the previous revision. The remaining
    quadratic term is the OUTPUT itself — pair semantics are inherently
    g² per family; cluster semantics (dedup_components) is the volume
    answer at web scale. """
    n_mh = _MH_BANDS * _MH_ROWS
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("w"),
    )
    # The signature table feeds SIX downstream branches (band-join
    # sides, two signature-attach joins, two member expansions); with
    # no common-subplan materialization in Catalyst, each branch
    # would re-run the token explode + 64-min aggregation — measured
    # at sf0.1 that recomputation was ~⅔ of the operator's wall (6
    # parquet scans, 16 HashAggregates, 0 ReusedExchanges in the
    # uncached plan). One narrow row per doc (65 longs) makes this
    # the textbook persist() point — same discipline the iterative
    # catalog ops use.
    sigs = tok.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("w"))).alias(f"m{i}")
            for i in range(n_mh)
        ]
    ).persist()
    mh_cols = [F.col(f"m{i}") for i in range(n_mh)]
    keyed = sigs.select("doc_id", F.xxhash64(*mh_cols).alias("sig_key"))
    members = keyed.select("sig_key", "doc_id")
    # One row per DISTINCT signature; the band join runs over these
    # only (first() is safe: equal sig_key ⇒ equal signature).
    reps = sigs.select(F.xxhash64(*mh_cols).alias("sig_key"), *mh_cols).groupBy(
        "sig_key"
    ).agg(*[F.first(f"m{i}").alias(f"m{i}") for i in range(n_mh)])
    band_keys = [
        F.xxhash64(
            *[F.col(f"m{b * _MH_ROWS + r}") for r in range(_MH_ROWS)]
        ).alias(f"b{b}")
        for b in range(_MH_BANDS)
    ]
    banded = reps.select(
        "sig_key",
        F.explode(
            F.arrays_zip(
                F.sequence(F.lit(0), F.lit(_MH_BANDS - 1)).alias("band"),
                F.array(*band_keys).alias("key"),
            )
        ).alias("bk"),
    ).select("sig_key", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.select(F.col("sig_key").alias("sig_a"), "band", "key")
    b = banded.select(F.col("sig_key").alias("sig_b"), "band", "key")
    rep_pairs = (
        a.join(b, ["band", "key"])
        .filter(F.col("sig_a") < F.col("sig_b"))
        .select("sig_a", "sig_b")
        .dropDuplicates(["sig_a", "sig_b"])
    )
    sig_arr = F.array(*mh_cols)
    rep_sigs = reps.select("sig_key", sig_arr.alias("sig"))
    matches = F.size(
        F.filter(
            F.zip_with(F.col("arr_a"), F.col("arr_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    # Threshold on the signature-estimated Jaccard so the operator has
    # the same semantics as the exact twin (pairs with j ≥ τ), not "any
    # band collision": band collisions alone admit ~37% of all pairs at
    # j=0.7 on this short-doc fixture. 0.85 sits 3.6σ below τ=0.95
    # (estimator std = sqrt(j(1-j)/64) ≈ 0.028 at j=0.95), so the
    # probability of dropping a true dup is < 2e-4 while the output
    # volume stays bounded on self-similar corpora.
    scored = (
        rep_pairs.join(
            rep_sigs.select(
                F.col("sig_key").alias("sig_a"), F.col("sig").alias("arr_a")
            ),
            "sig_a",
        )
        .join(
            rep_sigs.select(
                F.col("sig_key").alias("sig_b"), F.col("sig").alias("arr_b")
            ),
            "sig_b",
        )
        .select(
            "sig_a",
            "sig_b",
            F.round(matches / F.lit(float(n_mh)), 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= 0.85)
    )
    cross = (
        scored.join(
            members.select(
                F.col("sig_key").alias("sig_a"), F.col("doc_id").alias("da")
            ),
            "sig_a",
        )
        .join(
            members.select(
                F.col("sig_key").alias("sig_b"), F.col("doc_id").alias("db")
            ),
            "sig_b",
        )
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "est_jaccard",
        )
    )
    # Salted triangle expansion: shard(doc) = hash(doc) mod S; the
    # x side targets every shard ≥ its own, the y side accepts every
    # shard ≤ its own, so each unordered pair meets in exactly one
    # (sa, sb) bucket (same-shard buckets keep doc_x < doc_y).
    s = _LSH_FAMILY_SHARDS
    shard = F.pmod(F.xxhash64(F.lit(-1), F.col("doc_id")), F.lit(s)).cast("int")
    xm = members.select(
        "sig_key", F.col("doc_id").alias("dx"), shard.alias("sa")
    ).withColumn("sb", F.explode(F.sequence(F.col("sa"), F.lit(s - 1))))
    ym = members.select(
        "sig_key", F.col("doc_id").alias("dy"), shard.alias("sb")
    ).withColumn("sa", F.explode(F.sequence(F.lit(0), F.col("sb"))))
    within = (
        xm.join(ym, ["sig_key", "sa", "sb"])
        .filter((F.col("sa") < F.col("sb")) | (F.col("dx") < F.col("dy")))
        .select(
            F.least("dx", "dy").alias("doc_a"),
            F.greatest("dx", "dy").alias("doc_b"),
            F.lit(1.0).alias("est_jaccard"),
        )
    )
    return cross.unionByName(within)


@register(
    "dedup_near_minhash_lsh",
    survey_row=68,
    oracle=f"""
    WITH w AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
        FROM documents
    ), wf AS (SELECT doc_id, ws, len(ws) AS n FROM w),
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM wf a JOIN wf b
          ON a.doc_id < b.doc_id
         AND a.n >= CAST(ceil({_JACCARD_TAU} * b.n) AS BIGINT)
         AND b.n >= CAST(ceil({_JACCARD_TAU} * a.n) AS BIGINT)
        WHERE len(list_intersect(a.ws, b.ws))::DOUBLE /
              (a.n + b.n - len(list_intersect(a.ws, b.ws)))
              >= {_JACCARD_TAU}
    )
    SELECT count(*)::BIGINT AS n_exact_pairs,
           TRUE AS recall_ge_09
    FROM p
    """,
)
def dedup_near_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-HASHABLE RECALL CONTRACT for the MinHash-LSH banding path.
    The candidate set rides seeded xxhash64 minhashes, which SQL cannot
    re-derive, so on its own the path allows only a rows-only driver
    check with the recall assertion engine-side only. The contract runs
    the banding path (`minhash_lsh_candidates`, the production surface,
    unchanged) AND the exact word-set-Jaccard twin (dedup_near_minhash's
    inverted-index kernel; its quadratic all-pairs ORACLE carries the
    same sound size-band prefilter), then emits one hashable row: the
    exact τ=0.95 pair count (DuckDB re-derives it) and recall ≥ 0.9 as
    an integer compare 10·hits ≥ 9·exact (measured 1.0 at
    sf0.001/0.01/0.1 — banding at 8×8 gives ~0.9998 recall at j=0.95,
    and the signature-collapse path emits within-family pairs
    deterministically). No false-positive claim: banding admits sub-τ
    candidates BY DESIGN (the verify step downstream filters them), so
    precision is not part of this op's contract."""
    cand = minhash_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    exact = dedup_near_minhash(spark, sf_dir).select("doc_a", "doc_b")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_hits = cand.join(exact, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return n_exact.crossJoin(n_hits).select(
        "n_exact_pairs",
        (10 * F.col("n_hits") >= 9 * F.col("n_exact_pairs")).alias(
            "recall_ge_09"
        ),
    )


#: shared DuckDB CTE prefix for the signature-collapsed 3-gram-set
#: oracles: distinct SORTED gram sets (signatures) with their member
#: doc lists. chr(31) (unit separator) joins grams for the digest;
#: both engines hash the same concatenated string, so even a
#: pathological separator ambiguity would merge groups IDENTICALLY
#: on both sides.
_GRAM_SIG_CTES = """
    t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    gs AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(w) - 2),
                   i -> array_to_string(w[i:i+2], ' '))) AS grams
        FROM t
    ),
    gf AS (
        SELECT doc_id, list_sort(grams) AS grams, len(grams) AS ng
        FROM gs WHERE len(grams) > 0
    ),
    sig AS (
        SELECT md5(array_to_string(grams, chr(31))) AS sg,
               min(grams) AS grams, len(min(grams)) AS ng,
               list(doc_id) AS docs, count(*) AS n
        FROM gf GROUP BY 1
    )
"""


def _gram_signature_frames(spark: SparkSession, sf_dir: str):
    """(membership, distinct-set) frames for the 3-gram-shingle dedup
    family — the SIGNATURE COLLAPSE (the cat_lineage_2hop /
    dedup_simhash recipe): documents with identical shingle SETS
    collapse to one signature row before any pairwise work, so the
    inverted-index join runs over distinct sets (sf10: 4 992 signatures
    for 500 000 docs — a 100× cut on each join side, 10 000× on
    candidate pairs) and doc-level pairs are recovered by joining group
    membership back at the end.

    Returns (mem, sets): mem = (doc_id, sg); sets = (sg, grams
    sorted, ng, n). The signature is xxhash64 over the
    chr(31)-joined sorted gram list — sorted first so docs with the
    same set but different first-occurrence order collapse."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    # Guard: F.sequence(1, n) descends when n < 1, so gate on size ≥ 3
    # (DuckDB's generate_series just returns [] there).
    grams = F.when(
        F.size(w) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 2),
                lambda i: F.concat_ws(" ", F.slice(w, i, 3)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    gf = (
        d.select("doc_id", F.array_sort(grams).alias("grams"))
        .filter(F.size("grams") > 0)
        .select(
            "doc_id",
            "grams",
            F.size("grams").alias("ng"),
            F.xxhash64(F.concat_ws("\x1f", F.col("grams"))).alias("sg"),
        )
    )
    mem = gf.select("doc_id", "sg")
    # Deterministic representative: if two DISTINCT sorted gram lists
    # ever collided through the chr(31) join (a token containing \x1f),
    # F.first vs DuckDB's any_value could pick different members; min
    # over the lexicographic array ordering is engine-agreed, with ng
    # derived FROM the chosen representative so the (grams, ng) pair
    # stays consistent.
    sets = gf.groupBy("sg").agg(
        F.min("grams").alias("grams"),
        F.count(F.lit(1)).alias("n"),
    ).withColumn("ng", F.size("grams"))
    return mem, sets


@register(
    "dedup_ngram_jaccard",
    survey_row=68,
    oracle=f"""
    WITH {_GRAM_SIG_CTES},
    sp AS (
        SELECT len(list_intersect(a.grams, b.grams)) AS ni,
               a.ng AS na, b.ng AS nb, a.docs AS da, b.docs AS db
        FROM sig a JOIN sig b
          ON a.sg < b.sg
         AND a.ng >= CAST(ceil({_NGRAM_TAU} * b.ng) AS BIGINT)
         AND b.ng >= CAST(ceil({_NGRAM_TAU} * a.ng) AS BIGINT)
    )
    SELECT least(x, y) AS doc_a, greatest(x, y) AS doc_b,
           round(ni::DOUBLE / (na + nb - ni), 6) AS jaccard
    FROM sp, unnest(da) AS ua(x), unnest(db) AS ub(y)
    WHERE ni::DOUBLE / (na + nb - ni) >= {_NGRAM_TAU}
    UNION ALL
    SELECT x AS doc_a, y AS doc_b, 1.0 AS jaccard
    FROM sig, unnest(docs) AS ua(x), unnest(docs) AS ub(y)
    WHERE x < y
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by word-3-gram-shingle Jaccard ≥ τ.

    Shingling makes the set order-sensitive (unlike the word-set
    variant #68), so reordered texts stop matching — the standard
    web-dedup formulation.

    SIGNATURE-COLLAPSED: the inverted-index pair generation
    (`_jaccard_pairs` — shuffle key is the shingle, pairs only
    materialize on co-occurrence) runs over DISTINCT gram sets rather
    than documents (see `_gram_signature_frames`), and doc pairs are
    recovered by two membership joins: cross-set pairs inherit the
    set-level Jaccard (identical rationals — the value depends only on
    the sets); same-set pairs are exactly the Jaccard-1.0 rows, emitted
    directly from membership without any intersection work. This lets
    the oracle run at sf10: the DuckDB twin's all-pairs list_intersect
    drops from 500k²-scale (OOM) to 4 992² with the same final row
    set."""
    mem, sets = _gram_signature_frames(spark, sf_dir)
    items = sets.select(
        F.col("sg").alias("doc_id"),
        F.col("ng").alias("set_size"),
        F.explode("grams").alias("item"),
    )
    sig_pairs = _jaccard_pairs(items, _NGRAM_TAU).select(
        F.col("doc_a").alias("sg_a"),
        F.col("doc_b").alias("sg_b"),
        "jaccard",
    )
    ma = mem.select(F.col("sg").alias("sg_a"), F.col("doc_id").alias("x"))
    mb = mem.select(F.col("sg").alias("sg_b"), F.col("doc_id").alias("y"))
    cross = (
        sig_pairs.join(ma, "sg_a")
        .join(mb, "sg_b")
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "jaccard",
        )
    )
    m2 = mem.select("sg", F.col("doc_id").alias("y"))
    intra = (
        mem.join(m2, "sg")
        .filter(F.col("doc_id") < F.col("y"))
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("y").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionAll(intra)


@register(
    "dedup_simhash",
    survey_row=68,
    # The oracle mirrors the Spark plan's shape ON PURPOSE: 64 SUM(CASE)
    # aggregate columns over the raw (doc, word) stream. The previous
    # formulation unnested words x 16 hex chars x 4 bits into a contrib
    # relation (j, c) — semantically identical, but 3.2e9 materialized
    # rows at sf10 (500k docs), which OOM-kills DuckDB (the
    # power-iteration-oracle class: the double unnest is the blowup, not
    # the math). Checked row-identical to the old formulation at sf0.01
    # before the swap.
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
    ),
    hashed AS (SELECT doc_id, md5(w) AS h FROM words),
    sums AS (
        SELECT doc_id,
               """
    + ",\n               ".join(
        f"sum(CASE WHEN ((instr('0123456789abcdef', substring(h, {p + 1}, 1))"
        f" - 1) >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{p * 4 + b}"
        for p in range(16)
        for b in range(4)
    )
    + """
        FROM hashed GROUP BY doc_id
    ),
    fp AS (
        SELECT doc_id, """
    + " || ".join(
        f"(CASE WHEN s{j} > 0 THEN '1' ELSE '0' END)" for j in range(64)
    )
    + """ AS simhash
        FROM sums
    )
    SELECT simhash, count(*) AS n_docs, min(doc_id) AS keep_doc
    FROM fp GROUP BY simhash HAVING count(*) > 1
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash duplicate groups: 64-bit fingerprint from the signs of
    per-bit ±1 sums over md5(token) bits; docs sharing a fingerprint
    form a dup group (the equality-bucket stage of simhash dedup).

    Token hash = first 16 hex chars of md5 (4 bits per char), chosen
    because md5 is bit-identical in Spark and DuckDB — the oracle
    recomputes the same fingerprint independently. The Spark plan keeps
    one row per (doc, token) and folds all 64 bit-sums into a single
    map-side-combined groupBy (64 agg columns), so the shuffle carries
    64 ints per doc — never doc × token × 64 rows.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("w"),
    ).select("doc_id", F.md5(F.col("w").cast("binary")).alias("h"))
    hexvals = [
        F.conv(F.substring(F.col("h"), p + 1, 1), 16, 10).cast("int")
        for p in range(16)
    ]
    aggs = [
        F.sum(F.shiftright(hexvals[p], b).bitwiseAND(F.lit(1)) * 2 - 1).alias(
            f"s{p * 4 + b}"
        )
        for p in range(16)
        for b in range(4)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    bitstr = F.concat(
        *[
            F.when(F.col(f"s{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(64)
        ]
    )
    fp = sums.select("doc_id", bitstr.alias("simhash"))
    return (
        fp.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc"))
        .filter(F.col("n_docs") > 1)
    )


@register(
    "dedup_embedding_cosine",
    survey_row=68,
    oracle=f"""
    WITH de AS (
        SELECT d.doc_id, d.lang, e.embedding::DOUBLE[] AS emb
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.lang AS lang_a, b.lang AS lang_b,
           round(list_dot_product(a.emb, b.emb) /
                 sqrt(list_dot_product(a.emb, a.emb) * list_dot_product(b.emb, b.emb)),
                 6) AS cosine
    FROM de a JOIN de b ON a.doc_id < b.doc_id
    WHERE list_dot_product(a.emb, b.emb) /
          sqrt(list_dot_product(a.emb, a.emb) * list_dot_product(b.emb, b.emb))
          >= {_EMB_COSINE_TAU}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup candidates: document pairs whose embeddings
    (doc_id = vec_id) have cosine ≥ τ, labeled with both languages —
    the cross-modal dedup signal lexical methods miss (translations,
    paraphrases). Exact pairwise here; the 100 TB path swaps the
    triangular join for sim_pairs_lsh-style bucketing, keeping this
    documents⋈embeddings enrichment unchanged.
    """
    from hive_metadata_collect_spark.llm.similarity import _dot

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = load_table(spark, sf_dir, "embeddings")
    de = docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        "doc_id", "lang", "embedding"
    )
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    den = de.select("doc_id", "lang", "embedding", norm.alias("norm"))
    a = den.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = den.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") >= _EMB_COSINE_TAU)
        .select(
            "doc_a", "doc_b", "lang_a", "lang_b",
            F.round("cosine_raw", 6).alias("cosine"),
        )
    )


def min_label_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected pair list (doc_a,
    doc_b) by min-label propagation with pointer jumping; returns
    (doc_id, canonical_id) for every node that appears in a pair.
    Shared by dedup_components (Jaccard pair graph) and
    mm_phash_neardup (image Hamming pair graph); see
    dedup_components' docstring for the algorithm/scale notes."""
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).cache()

    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    for _ in range(16):  # hard bound; fixpoint check exits far earlier
        neigh_min = (
            edges.join(labels, edges["doc_b"] == labels["doc_id"])
            .groupBy("doc_a")
            .agg(F.min("label").alias("neigh_label"))
        )
        # localCheckpoint truncates the logical plan each iteration —
        # without it the self-referencing lineage doubles per step and
        # planning itself blows up (the standard iterative-DataFrame
        # pitfall; same fix applies on a cluster via checkpoint()).
        # The convergence flag rides along as a column computed in the
        # same pass, so the fixpoint check is a filter over the
        # just-materialized checkpoint — not a second join job.
        # Pointer jump: each label is itself a doc_id; adopting the
        # label's current label halves every path to the component
        # minimum. Self-join on the (tiny, |clustered docs|-bounded)
        # labels frame.
        lab2 = labels.select(
            F.col("doc_id").alias("label"), F.col("label").alias("jump_label")
        )
        new_label = F.least(
            F.col("label"),
            F.coalesce(F.col("neigh_label"), F.col("label")),
            F.coalesce(F.col("jump_label"), F.col("label")),
        )
        new_labels = (
            labels.join(neigh_min, labels["doc_id"] == neigh_min["doc_a"], "left")
            .join(lab2, "label", "left")
            .select(
                "doc_id",
                new_label.alias("label"),
                (new_label != F.col("label")).alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        converged = new_labels.filter(F.col("chg")).isEmpty()
        labels = new_labels.select("doc_id", "label")
        if converged:
            break
    # The labels come from an eager local checkpoint, not from edges.
    edges.unpersist()
    return labels.select("doc_id", F.col("label").alias("canonical_id"))


@register(
    "dedup_components",
    survey_row=68,
    # Pair generation uses the inverted-index form (independently
    # oracled by dedup_near_minhash, whose all-pairs SQL returns the
    # identical pair set) and MATERIALIZED CTEs so the recursive
    # closure doesn't re-derive pairs per iteration — the semantics
    # under test HERE is the closure, and this cut the oracle from
    # ~15 s to ~0.6 s at sf0.01 (driver check budget).
    oracle=f"""
    WITH RECURSIVE tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM tok a JOIN tok b USING (w)
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    ), pairs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i::DOUBLE / (sa.n + sb.n - i) >= {_JACCARD_TAU}
    ), edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach(node, r) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT reach.node, edges.dst
        FROM reach JOIN edges ON reach.r = edges.src
    )
    SELECT node AS doc_id, least(node, min(r)) AS canonical_id
    FROM reach GROUP BY node
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the Jaccard-pair
    graph, labeling every clustered doc with its component's minimum
    doc_id (the canonical survivor) — the final stage of a dedup
    pipeline (pairs alone over-delete: A~B, B~C must kill at most two
    of three, not break A-C arbitrarily).

    Algorithm: min-label propagation with pointer jumping — each doc
    starts as its own label; every iteration takes the min of its own
    label, its neighbors' labels, AND its label's label (path
    halving), so convergence needs O(log diameter) rounds instead of
    O(diameter) — on a 1000-executor cluster each round is a
    stragglers-bound barrier, making the log bound the part that
    matters most at scale (measured here too: the fixture graph has
    diameter ~7 → 3 rounds instead of 7). Loop until a fixpoint
    action reports zero changes; the driver only inspects the
    converged flag. The oracle recomputes components with a
    recursive CTE. Every build runs the loop; the labels it returns
    are an eager local checkpoint, so reading them re-runs nothing.
    """
    pairs = _jaccard_pairs(_word_items(spark, sf_dir), _JACCARD_TAU).select(
        "doc_a", "doc_b"
    )
    return min_label_components(pairs)


@register(
    "dedup_components_star",
    survey_row=68,
    oracle="""
    WITH RECURSIVE w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), memb AS (
        SELECT doc_id,
               'f:' || md5(array_to_string(
                   list_sort(list_distinct(words)), ' ')) AS gkey
        FROM w
        UNION ALL
        SELECT doc_id,
               'p:' || md5(array_to_string(words[1:8], ' '))
        FROM w WHERE len(words) >= 8
    ), g AS (
        SELECT gkey, min(doc_id) AS gid
        FROM memb GROUP BY gkey HAVING count(*) >= 2
    ), m2 AS (
        SELECT memb.doc_id, g.gid FROM memb JOIN g USING (gkey)
    ), ge AS (
        SELECT DISTINCT ga, gb FROM (
            SELECT doc_id, min(gid) AS ga, max(gid) AS gb
            FROM m2 GROUP BY doc_id)
        WHERE ga < gb
    ), edges AS (
        SELECT ga AS src, gb AS dst FROM ge
        UNION ALL SELECT gb, ga FROM ge
    ), reach(node, r) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT reach.node, edges.dst
        FROM reach JOIN edges ON reach.r = edges.src
    ), glab AS (
        SELECT gids.gid, coalesce(rr.mn, gids.gid) AS glabel
        FROM (SELECT DISTINCT gid FROM g) gids
        LEFT JOIN (
            SELECT node, least(node, min(r)) AS mn
            FROM reach GROUP BY node) rr ON rr.node = gids.gid
    )
    SELECT m2.doc_id AS doc_id, min(glab.glabel) AS canonical_id
    FROM m2 JOIN glab USING (gid)
    GROUP BY m2.doc_id ORDER BY doc_id
    """,
)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components WITHOUT the pair graph — the shape that
    survives where dedup_components cannot: the exact Jaccard pair
    graph is ~18.1e9 pairs at sf10 (one 34,700-doc duplicate family
    alone contributes 0.6e9), so ANY components algorithm that
    materializes pairs is volume-bound by construction. This operator
    clusters over EQUIVALENCE-GROUP memberships instead — here the
    fingerprint digest (dedup_fingerprint's relation) unioned with the
    8-word prefix digest (dedup_prefix's relation) — so the edge set
    is ≤ 2 rows per document (doc → group), linear at any corpus size:

      1. memberships (doc, group) for both digest relations; groups
         with one member are dropped (they can merge nothing),
      2. every group gets gid = min(doc_id) of its members (one
         hash-agg — at 100 TB this is the dedup_exact shape),
      3. the GROUP graph — one edge per doc that belongs to two
         surviving groups — is metadata-sized (≤1 edge/doc before
         distinct); min-label components run on IT, not on docs,
      4. doc label = min over its groups' component labels. Since a
         group's gid is its min member, the component minimum IS the
         canonical min doc_id — same labeling contract as
         dedup_components.

    The same star trick is how LSH-bucket output should feed
    components at 100 TB (bucket = group); the digest relations used
    here are chosen because DuckDB reproduces them exactly (md5 over
    sorted distinct words / word prefixes — the conventions
    dedup_fingerprint and dedup_prefix already gate), which makes this
    op hash-checkable at EVERY scale factor including sf10, where the
    pair-graph form has no feasible oracle at all."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    fp = d.select(
        "doc_id",
        F.concat(
            F.lit("f:"),
            F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(words)))),
        ).alias("gkey"),
    )
    pre = d.filter(F.size(words) >= 8).select(
        "doc_id",
        F.concat(
            F.lit("p:"), F.md5(F.concat_ws(" ", F.slice(words, 1, 8)))
        ).alias("gkey"),
    )
    memb = fp.unionAll(pre)
    g = (
        memb.groupBy("gkey")
        .agg(F.min("doc_id").alias("gid"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("gkey", "gid")
    )
    m2 = memb.join(g, "gkey").select("doc_id", "gid")
    ge = (
        m2.groupBy("doc_id")
        .agg(F.min("gid").alias("doc_a"), F.max("gid").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    glabels = min_label_components(ge).select(
        F.col("doc_id").alias("gid"), F.col("canonical_id").alias("glabel")
    )
    glab = (
        g.select("gid")
        .distinct()
        .join(F.broadcast(glabels), "gid", "left")
        .select(
            "gid", F.coalesce("glabel", F.col("gid")).alias("glabel")
        )
    )
    return (
        m2.join(F.broadcast(glab), "gid")
        .groupBy("doc_id")
        .agg(F.min("glabel").alias("canonical_id"))
        .orderBy("doc_id")
    )


#: dedup_lsh_components hash family: universal hashes over ONE md5
#: base per word — h_i(w) = (A·(i+1)·b(w) + C·(i+1)) mod P with
#: b(w) = first 7 hex chars of md5(w) (28 bits, so A·(i+1)·b < 2^52
#: never overflows int64 in either engine). md5 is the one hash both
#: Spark and DuckDB compute bit-identically, which is what makes this
#: the only LSH clustering with an EXACT cross-engine oracle.
_LSHC_P = 2147483647  # Mersenne prime 2^31-1
_LSHC_A = 1000003
_LSHC_C = 15485863
_LSHC_H = 16  # minhashes
_LSHC_R = 4  # rows per band -> 4 bands


def _lshc_band_sql(b: int) -> str:
    cols = ", ".join(f"m{_LSHC_R * b + i}" for i in range(_LSHC_R))
    return f"SELECT doc_id, md5(concat_ws(',', {b}, {cols})) AS gkey FROM sig"


_LSHC_SIG_SQL = ",\n           ".join(
    f"min(({_LSHC_A * (i + 1)} * h + {_LSHC_C * (i + 1)}) % {_LSHC_P}) AS m{i}"
    for i in range(_LSHC_H)
)


#: Shared oracle CTE chain: documents → md5-based universal minhashes
#: → band buckets → star components on the group graph → per-doc
#: labels (doclab). Consumed by dedup_lsh_components (the labeling
#: itself) and pipeline_clean_corpus_lsh (the corpus it cleans).
_LSHC_ORACLE_CTES = f"""
    WITH RECURSIVE w AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
    ), b AS (
        SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 7)) AS BIGINT) AS h
        FROM w
    ), sig AS (
        SELECT doc_id,
           {_LSHC_SIG_SQL}
        FROM b GROUP BY doc_id
    ), memb AS (
        {" UNION ALL ".join(_lshc_band_sql(b) for b in range(_LSHC_H // _LSHC_R))}
    ), g AS (
        SELECT gkey, min(doc_id) AS gid
        FROM memb GROUP BY gkey HAVING count(*) >= 2
    ), m2 AS (
        SELECT memb.doc_id, g.gid FROM memb JOIN g USING (gkey)
    ), dmin AS (
        SELECT doc_id, min(gid) AS g0 FROM m2 GROUP BY doc_id
    ), ge AS (
        SELECT DISTINCT dmin.g0 AS ga, m2.gid AS gb
        FROM m2 JOIN dmin USING (doc_id) WHERE m2.gid > dmin.g0
    ), edges AS (
        SELECT ga AS src, gb AS dst FROM ge
        UNION ALL SELECT gb, ga FROM ge
    ), reach(node, r) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT reach.node, edges.dst
        FROM reach JOIN edges ON reach.r = edges.src
    ), glab AS (
        SELECT gids.gid, coalesce(rr.mn, gids.gid) AS glabel
        FROM (SELECT DISTINCT gid FROM g) gids
        LEFT JOIN (
            SELECT node, least(node, min(r)) AS mn
            FROM reach GROUP BY node) rr ON rr.node = gids.gid
    ), doclab AS (
        SELECT m2.doc_id AS doc_id, min(glab.glabel) AS canonical_id
        FROM m2 JOIN glab USING (gid)
        GROUP BY m2.doc_id
    )
"""


@register(
    "dedup_lsh_components",
    survey_row=68,
    oracle=_LSHC_ORACLE_CTES
    + """
    SELECT doc_id, canonical_id FROM doclab ORDER BY doc_id
    """,
)
def dedup_lsh_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy-dedup clustering at the 100 TB shape:
    MinHash-LSH band buckets AS the equivalence groups of a star
    components pass — the composition dedup_components_star's
    docstring names but no operator implemented until now. This is
    the recall stage of large-scale fuzzy dedup (NearDup / SlimPajama
    style): docs sharing any band bucket join one cluster, no
    verification re-rank (that is dedup_near_minhash_lsh's contract),
    and crucially NO pair graph — the edge set is ≤ #bands rows per
    document at any corpus size, where the exact-Jaccard components
    (dedup_components) are volume-bound at ~18.1e9 pairs by sf10.

      1. one md5 per distinct (doc, word) → 16 universal minhashes
         (map-side-combined min aggs — the dedup_near_minhash_lsh
         plan, but over a hash family DuckDB reproduces exactly),
      2. 4 bands × 4 rows → bucket key md5(band, m..m); buckets with
         ≥2 docs become groups keyed by gid = min member doc_id,
      3. star edges (doc's min gid → each other gid, ≤3/doc after
         distinct) feed min-label components on the GROUP graph —
         metadata-sized, never the doc corpus,
      4. doc label = min over its groups' component labels ≡ the
         cluster's min doc_id (gid is a member min, so the component
         min IS the canonical doc).

    Unlike every other near-dup clustering here, the full pipeline is
    hash-checkable at EVERY scale factor including sf10, because the
    signature family is (A·i·b + C·i) mod 2^31-1 over b = 28 bits of
    md5 — products stay < 2^52, exact in int64 in both engines."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("w"),
    )
    base = F.conv(F.substring(F.md5(F.col("w")), 1, 7), 16, 10).cast("long")
    sig = w.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(_LSHC_A * (i + 1)) * base + F.lit(_LSHC_C * (i + 1)))
                % F.lit(_LSHC_P)
            ).alias(f"m{i}")
            for i in range(_LSHC_H)
        ]
    )
    gkeys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    F.lit(b),
                    *[F.col(f"m{_LSHC_R * b + i}") for i in range(_LSHC_R)],
                )
            )
            for b in range(_LSHC_H // _LSHC_R)
        ]
    )
    memb = sig.select("doc_id", F.explode(gkeys).alias("gkey"))
    g = (
        memb.groupBy("gkey")
        .agg(F.min("doc_id").alias("gid"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("gkey", "gid")
    )
    m2 = memb.join(g, "gkey").select("doc_id", "gid")
    dmin = m2.groupBy("doc_id").agg(F.min("gid").alias("g0"))
    ge = (
        m2.join(dmin, "doc_id")
        .filter(F.col("gid") > F.col("g0"))
        .select(F.col("g0").alias("doc_a"), F.col("gid").alias("doc_b"))
        .distinct()
    )
    glabels = min_label_components(ge).select(
        F.col("doc_id").alias("gid"), F.col("canonical_id").alias("glabel")
    )
    glab = (
        g.select("gid")
        .distinct()
        .join(F.broadcast(glabels), "gid", "left")
        .select("gid", F.coalesce("glabel", F.col("gid")).alias("glabel"))
    )
    return (
        m2.join(F.broadcast(glab), "gid")
        .groupBy("doc_id")
        .agg(F.min("glabel").alias("canonical_id"))
        # Terminal presentation sort; when this frame is composed
        # under a join/aggregate (pipeline_clean_corpus_lsh) Catalyst's
        # EliminateSorts removes it — verified in the composite's plan.
        .orderBy("doc_id")
    )


@register(
    "pipeline_clean_corpus_lsh",
    survey_row=68,
    oracle=_LSHC_ORACLE_CTES
    + """
    SELECT lang, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           min(doc_id) AS first_doc
    FROM documents
    WHERE doc_id NOT IN (
        SELECT doc_id FROM doclab WHERE canonical_id <> doc_id)
      AND len(string_split(text, ' ')) >= 3
    GROUP BY lang
    """,
)
def pipeline_clean_corpus_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline_clean_corpus at the 100 TB shape: identical cleaning
    composition (cluster → keep canonical → length floor → per-lang
    stats of the survivors) but the clustering stage is
    dedup_lsh_components instead of the exact-Jaccard pair graph — so
    the END-TO-END pretraining cleanup is hash-checkable at every
    scale factor, where pipeline_clean_corpus's oracle (and its
    engine-side pair stage) is a documented sf10 skip by pair-volume
    construction. Same lazy anti-join composition: the casualty set
    (non-canonical cluster members) is metadata-sized next to the
    corpus scan it filters."""
    d = load_table(spark, sf_dir, "documents")
    labels = dedup_lsh_components(spark, sf_dir)
    casualties = labels.filter(F.col("canonical_id") != F.col("doc_id")).select(
        "doc_id"
    )
    return (
        d.join(casualties, "doc_id", "left_anti")
        .filter(F.size(F.split(F.col("text"), " ")) >= 3)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "pipeline_clean_corpus",
    survey_row=68,
    # Same fast pair CTEs as dedup_components (see note there).
    oracle=f"""
    WITH RECURSIVE tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM tok a JOIN tok b USING (w)
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    ), pairs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i::DOUBLE / (sa.n + sb.n - i) >= {_JACCARD_TAU}
    ), edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach(node, r) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT reach.node, edges.dst
        FROM reach JOIN edges ON reach.r = edges.src
    ), casualties AS (
        SELECT node AS doc_id FROM reach
        GROUP BY node HAVING least(node, min(r)) <> node
    )
    SELECT lang, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           min(doc_id) AS first_doc
    FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM casualties)
      AND len(string_split(text, ' ')) >= 3
    GROUP BY lang
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning — the composite every stage above
    exists for: near-dup components → keep only each cluster's
    canonical doc (which also kills exact dups: identical texts have
    Jaccard 1) → length quality floor → per-language stats of the
    surviving corpus.

    Composition stays lazy end to end: the casualty set (non-canonical
    cluster members) is a tiny frame anti-joined against the corpus
    scan, so the full pipeline is one job whose width is |documents| +
    |clustered docs| — nothing quadratic survives past the pair stage.
    """
    d = load_table(spark, sf_dir, "documents")
    labels = dedup_components(spark, sf_dir)
    casualties = labels.filter(F.col("canonical_id") != F.col("doc_id")).select(
        "doc_id"
    )
    return (
        d.join(casualties, "doc_id", "left_anti")
        .filter(F.size(F.split(F.col("text"), " ")) >= 3)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "dedup_levenshtein",
    survey_row=68,
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS lev_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand
     AND a.p_partkey < b.p_partkey
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
     AND levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution near-dup pairs by edit distance ≤ 3 within a
    blocking key plus a length-band prefilter. Blocking turns the
    quadratic all-pairs scan into per-block pairs — the standard
    record-linkage shape.

    The length band is part of the EQUI-JOIN KEY, not just a join
    filter: blocks are (brand, name_len DIV 3) and the left side
    explodes to its 3 neighbor bands (the grid-cell idiom of
    join_spatial_radius — band width 3 ≥ the ±2 length tolerance, so
    a qualifying pair meets in exactly one band, no dedup pass).
    With brand-only blocking the length test ran per enumerated pair:
    at sf1 that was 25 blocks × 8k rows = ~800M pair probes and the
    operator wall-clocked in MINUTES; banding cuts enumerated pairs
    ~10× (measured 9.5× fewer output-stage rows, seconds at sf1).
    At 100 TB the same rule holds: every cheap pair predicate that
    can be bucketed belongs in the block key. The DP itself uses
    Spark 3.5+'s thresholded levenshtein(l, r, 3), which
    short-circuits rows whose distance exceeds the bound."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_name", F.length("p_name").alias("name_len")
    )
    band = (F.col("name_len") / 3).cast("int")
    a = (
        p.select("*", band.alias("band0"))
        .select(
            "*",
            F.explode(
                F.array(
                    F.col("band0") - 1, F.col("band0"), F.col("band0") + 1
                )
            ).alias("band"),
        )
        .drop("band0")
        .alias("a")
    )
    b = p.select("*", band.alias("band")).alias("b")
    lev = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 3)
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (F.abs(F.col("a.name_len") - F.col("b.name_len")) <= 2),
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            lev.alias("lev_dist"),
        )
        .filter(F.col("lev_dist") >= 0)
    )


@register(
    "pipeline_train_eval_split",
    survey_row=67,
    oracle="""
    WITH bucketed AS (
        SELECT lang, n_chars,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS bucket
        FROM documents)
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars
    FROM bucketed
    GROUP BY split, lang
    """,
)
def pipeline_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test corpus split by content
    hash of the document id — the assignment is a pure function of the
    row, so it is identical across engines, reruns, repartitions, and
    incremental appends (a new document never moves an old one between
    splits, unlike randomSplit). Output: per (split, lang) doc counts
    and length stats for split-balance monitoring."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    return (
        d.withColumn(
            "split",
            F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


_DECON_N = 8  # shingle width for eval-overlap decontamination


@register(
    "pipeline_decontaminate",
    survey_row=67,
    oracle=f"""
    WITH sh AS MATERIALIZED (
        SELECT doc_id,
               array_to_string(
                   (string_split(text, ' '))[i:i+{_DECON_N - 1}], ' ') AS sh
        FROM documents,
             unnest(range(1, len(string_split(text, ' ')) - {_DECON_N} + 2))
                 AS r(i)
    ),
    eval_sh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0),
    contaminated AS (
        SELECT DISTINCT doc_id FROM sh
        WHERE doc_id % 20 <> 0 AND sh IN (SELECT sh FROM eval_sh)
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id % 20 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination: drop every train document that
    shares an 8-token shingle with the held-out eval split (doc_id %
    20 == 0, the same stable hash-bucket idiom as
    pipeline_train_eval_split). This is the standard benchmark-leak
    guard run before LLM pretraining.

    Scale shape: shingles are xxhash64-compressed to 8-byte keys
    before the joins, so the shuffle carries hashes, not text
    (collision odds ~n²/2⁶⁴ — negligible against corpus sizes, and a
    collision only over-drops). The eval side is a DISTINCT over the
    ~5 % split — orders of magnitude smaller than the corpus, so AQE
    broadcasts it and the contaminated-doc semi-join never shuffles
    the train shingles. Final step is a left-anti join of the corpus
    against the contaminated id set; docs shorter than the shingle
    width produce no shingles, are never contaminated, and survive
    through the anti-join unharmed.

    Shingle construction (the naive form ran 11× over DuckDB): the token
    array is materialized ONCE as a projection column — embedding
    split() inside the transform lambda re-tokenized the text per
    shingle position — and the shingle key is xxhash64 over the 8 token
    values directly (element_at composition) instead of hashing a
    rebuilt joined string; same fingerprint semantics (tuple hashing is
    delimiter-unambiguous), 3× less per-position work. Measured 1.43 s →
    0.45 s for the shingle stage at sf0.1. """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    n_sh = F.size(F.col("t")) - (_DECON_N - 1)
    idx = F.when(n_sh > 0, F.sequence(F.lit(1), n_sh)).otherwise(
        F.array().cast("array<int>")
    )
    shingles = base.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.xxhash64(
                    *[
                        F.element_at(F.col("t"), i + j)
                        for j in range(_DECON_N)
                    ]
                ),
            )
        ).alias("sh"),
    )
    is_eval = F.col("doc_id") % 20 == 0
    eval_sh = shingles.filter(is_eval).select("sh").distinct()
    contaminated = (
        shingles.filter(~is_eval)
        .join(eval_sh, "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        docs.filter(~is_eval)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
    )


@register(
    "dedup_exact_keep_best",
    survey_row=67,
    oracle="""
    WITH ranked AS (
        SELECT md5(text) AS text_hash, doc_id,
               row_number() OVER (
                   PARTITION BY md5(text)
                   ORDER BY n_chars DESC, doc_id ASC) AS rn,
               count(*) OVER (PARTITION BY md5(text)) AS n_docs
        FROM documents
    )
    SELECT text_hash, n_docs, doc_id AS keep_doc FROM ranked WHERE rn = 1
    """,
)
def dedup_exact_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a QUALITY-keep policy: within each byte-equal
    group, survive the longest document (n_chars), ties to the lowest
    doc_id — the policy real corpus dedup uses ("keep the best copy"),
    vs dedup_exact's simpler min-id canon. Single digest groupBy;
    `max_by` over a (quality, -id) ordering struct picks the winner
    map-side, so no per-group sort and the shuffle carries one
    candidate row per (hash, partition)."""
    d = load_table(spark, sf_dir, "documents")
    winner = F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
    return d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max_by("doc_id", winner).alias("keep_doc"),
    )


@register(
    "pipeline_stratified_sample",
    survey_row=67,
    oracle="""
    WITH bucketed AS (
        SELECT doc_id, lang, n_chars,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS bucket
        FROM documents)
    SELECT doc_id, lang, bucket::BIGINT AS bucket
    FROM bucketed
    WHERE bucket < (CASE WHEN lang = 'en' THEN 20 ELSE 60 END)
    """,
)
def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling — the rebalancing pass a
    training-data pipeline runs when one language (or source)
    dominates the crawl: per-stratum sampling rates (en 20 %, every
    other lang 60 %) applied via a content-hash bucket of the doc id,
    so membership is a pure row function — identical across engines,
    reruns, and repartitions, and a new document never evicts an old
    one (unlike sample()/rand()). Embarrassingly parallel: a narrow
    filter over the scan, no shuffle at all; at 100 TB the rate map
    becomes a broadcast dim keyed by (lang, source) and the filter is
    one broadcast-join lookup instead of a CASE."""
    d = spread_small(
        spark, sf_dir, "documents", cols=["doc_id", "lang", "n_chars"]
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    rate = F.when(F.col("lang") == "en", 20).otherwise(60)
    return (
        d.withColumn("bucket", bucket)
        .filter(F.col("bucket") < rate)
        .select("doc_id", "lang", "bucket")
    )


@register(
    "dedup_paragraph",
    survey_row=67,
    oracle="""
    WITH synth AS (
        SELECT doc_id,
               text || chr(10) || chr(10) ||
               'boilerplate footer ' || (doc_id % 7) ||
               CASE WHEN doc_id % 3 = 0
                    THEN chr(10) || chr(10) ||
                         'subscribe banner ' || (doc_id % 2)
                    ELSE '' END AS txt
        FROM documents
    ),
    p AS (
        SELECT doc_id,
               unnest(string_split(txt, chr(10) || chr(10))) AS para
        FROM synth
    ),
    pc AS (
        SELECT md5(para) AS ph, count(DISTINCT doc_id) AS nd
        FROM p GROUP BY md5(para)
    )
    SELECT p.doc_id,
           count(*)::BIGINT AS n_paras,
           (count(*) FILTER (WHERE pc.nd > 1))::BIGINT AS n_dup_paras,
           round((count(*) FILTER (WHERE pc.nd > 1))::DOUBLE / count(*), 4)
               AS dup_frac
    FROM p JOIN pc ON md5(p.para) = pc.ph
    GROUP BY p.doc_id
    """,
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-granularity dedup — the
    RefinedWeb/CCNet signal between doc-exact and shingle-near dedup:
    boilerplate (footers, subscribe banners, cookie notices) repeats
    across pages whose bodies differ, so dedup must run at the
    paragraph level and each doc is scored by the fraction of its
    paragraphs that also appear in OTHER documents. The fixture
    corpus is single-paragraph, so multi-paragraph docs are
    synthesized deterministically in BOTH engines (the lineage/PII
    synthesis pattern): body + a footer shared by every 7th doc + a
    banner on every 3rd — cross-doc duplicate paragraphs exist by
    construction, and body paragraphs of fixture-level exact dups
    count too. Plan: split on blank lines → posexplode →
    paragraph-digest count (countDistinct doc, map-side combinable,
    one shuffle on the 16-byte digest) → join back on digest → one
    per-doc rollup. No all-pairs anywhere; at 100 TB both shuffles
    key on digests/doc ids and the digest-count frame is exactly the
    CCNet hash-count table."""
    d = load_table(spark, sf_dir, "documents")
    txt = F.concat(
        F.col("text"),
        F.lit("\n\nboilerplate footer "),
        (F.col("doc_id") % 7).cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("\n\nsubscribe banner "),
                (F.col("doc_id") % 2).cast("string"),
            ),
        ).otherwise(""),
    )
    paras = d.select(
        "doc_id",
        F.explode(F.split(txt, "\n\n")).alias("para"),
    ).withColumn("ph", F.md5(F.col("para").cast("binary")))
    counts = paras.groupBy("ph").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    return (
        paras.join(counts, "ph")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.count_if(F.col("nd") > 1).alias("n_dup_paras"),
            F.round(
                F.count_if(F.col("nd") > 1) / F.count(F.lit(1)), 4
            ).alias("dup_frac"),
        )
    )


@register(
    "dedup_url_canonical",
    survey_row=67,
    oracle="""
    WITH urls AS (
        SELECT doc_id,
               'HTTPS://WWW.' || source || '.example.com/Page/' ||
               (doc_id % 25) ||
               CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
               CASE WHEN doc_id % 2 = 0
                    THEN '?utm_source=feed&id=' || (doc_id % 5)
                    ELSE '' END AS raw_url
        FROM documents
    ),
    canon AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(lower(raw_url),
                           '^https?://(www\\.)?', ''),
                       '[?&]utm_[a-z]+=[^&]*', ''),
                   '/+(\\?|$)', '\\1') AS canon_url
        FROM urls
    )
    SELECT canon_url,
           count(*)::BIGINT AS n_docs,
           min(doc_id) AS keeper_doc
    FROM canon
    GROUP BY canon_url
    HAVING count(*) > 1
    ORDER BY canon_url
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-CANONICALIZATION dedup — the FIRST stage of every web-crawl
    pipeline, before any content hashing: lowercase, strip scheme and
    `www.`, strip `utm_*` tracking params, strip the trailing slash —
    then group by canonical form and keep the lowest doc_id. The
    fixture has no URL column, so raw URLs are synthesized
    deterministically (scheme-case, www, trailing-slash and
    utm-variants from doc_id arithmetic) in BOTH engines and the
    operator is the canonicalization itself: three regexp_replace
    passes, all codegen, then one canon-key shuffle. At 100 TB the
    canon key is the crawl dedup key — this groupBy replaces a
    content-hash pass over every recrawl of the same page."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".example.com/Page/"),
        (F.col("doc_id") % 25).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("?utm_source=feed&id="),
                (F.col("doc_id") % 5).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(raw), r"^https?://(www\.)?", ""),
            r"[?&]utm_[a-z]+=[^&]*",
            "",
        ),
        r"/+(\?|$)",
        r"$1",
    )
    return (
        d.select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("canon_url")
    )


@register(
    "pipeline_epoch_shuffle",
    survey_row=67,
    oracle="""
    WITH sharded AS (
        SELECT doc_id, n_chars,
               CAST(('0x' || substr(md5('epoch7:' || doc_id), 1, 8))
                    AS BIGINT) % 16 AS shard
        FROM documents
    )
    SELECT shard,
           count(*)::BIGINT AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           min(doc_id) AS first_doc
    FROM sharded
    GROUP BY shard
    ORDER BY shard
    """,
)
def pipeline_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH SHUFFLE — the deterministic global reshuffle a training
    run performs per epoch: every doc is assigned to one of 16 output
    shards by a SEEDED content-independent hash (seed "epoch7" —
    change the seed, get an independent permutation; rerun the same
    seed, get byte-identical shards, which is what makes training
    resumable). The shard histogram (counts balanced to ~1/16,
    per-shard size stats) is the job's sanity artifact. One narrow
    projection + one |shards|-group agg; the actual data movement at
    100 TB is a single hash-partitioned write with NO sort — the
    md5 rank IS the order, no global orderBy needed."""
    d = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("epoch7:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 16
    )
    return (
        d.select("doc_id", "n_chars", shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("shard")
    )


@register(
    "dedup_containment",
    survey_row=68,
    oracle=f"""
    WITH {_GRAM_SIG_CTES},
    sp AS (
        SELECT len(list_intersect(a.grams, b.grams)) AS ni,
               a.ng AS na, b.ng AS nb, a.docs AS da, b.docs AS db
        FROM sig a JOIN sig b ON a.sg < b.sg
        WHERE len(list_intersect(a.grams, b.grams)) > 0
    )
    SELECT x AS doc_sub, y AS doc_super,
           round(ni::DOUBLE / na, 6) AS containment
    FROM sp, unnest(da) AS ua(x), unnest(db) AS ub(y)
    WHERE ni::DOUBLE / na >= {_NGRAM_TAU}
    UNION ALL
    SELECT y AS doc_sub, x AS doc_super,
           round(ni::DOUBLE / nb, 6) AS containment
    FROM sp, unnest(da) AS ua(x), unnest(db) AS ub(y)
    WHERE ni::DOUBLE / nb >= {_NGRAM_TAU}
    UNION ALL
    SELECT x AS doc_sub, y AS doc_super, 1.0 AS containment
    FROM sig, unnest(docs) AS ua(x), unnest(docs) AS ub(y)
    WHERE x <> y
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: 3-gram-shingle containment
    |A∩B| / |A| ≥ τ — doc A substantially inside doc B. Jaccard
    misses the quote-expansion / boilerplate-wrapper case (a small
    doc embedded in a much larger one scores low symmetric overlap
    but containment 1.0); dedup policy keeps the superset doc.

    SIGNATURE-COLLAPSED like the Jaccard twin
    (`_gram_signature_frames`): the inverted-index intersection runs
    over distinct gram sets; each qualifying DIRECTED set pair expands
    to ordered doc pairs through two membership joins (containment
    ni/n_sub depends only on the sets, so the expanded value is the same
    rational the per-doc form computed); same-set ordered pairs (x≠y)
    are containment-1.0 both ways by identity. The size-band prune still
    cannot apply (small-inside-large IS the signal); the scale lever
    remains dropping ultra-high-DF shingles before the join — noted, not
    needed at fixture DF. This lets the oracle run at sf10 (all-pairs
    list_intersect → |distinct sets|² with the same row multiset)."""
    mem, sets = _gram_signature_frames(spark, sf_dir)
    a = sets.select(
        F.col("sg").alias("sa"),
        F.col("ng").alias("na"),
        F.explode("grams").alias("item"),
    )
    b = sets.select(
        F.col("sg").alias("sb"),
        F.col("ng").alias("nb"),
        F.explode("grams").alias("item"),
    )
    inter = (
        a.join(b, (a["item"] == b["item"]) & (F.col("sa") < F.col("sb")))
        .groupBy("sa", "sb", "na", "nb")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    fwd = inter.filter(F.col("ni") / F.col("na") >= _NGRAM_TAU).select(
        F.col("sa").alias("sg_sub"),
        F.col("sb").alias("sg_sup"),
        F.round(F.col("ni") / F.col("na"), 6).alias("containment"),
    )
    rev = inter.filter(F.col("ni") / F.col("nb") >= _NGRAM_TAU).select(
        F.col("sb").alias("sg_sub"),
        F.col("sa").alias("sg_sup"),
        F.round(F.col("ni") / F.col("nb"), 6).alias("containment"),
    )
    msub = mem.select(
        F.col("sg").alias("sg_sub"), F.col("doc_id").alias("doc_sub")
    )
    msup = mem.select(
        F.col("sg").alias("sg_sup"), F.col("doc_id").alias("doc_super")
    )
    cross = (
        fwd.unionAll(rev)
        .join(msub, "sg_sub")
        .join(msup, "sg_sup")
        .select("doc_sub", "doc_super", "containment")
    )
    m2 = mem.select("sg", F.col("doc_id").alias("doc_super"))
    intra = (
        mem.join(m2, "sg")
        .filter(F.col("doc_id") != F.col("doc_super"))
        .select(
            F.col("doc_id").alias("doc_sub"),
            "doc_super",
            F.lit(1.0).alias("containment"),
        )
    )
    return cross.unionAll(intra)


@register(
    "pipeline_incremental_dedup",
    survey_row=67,
    oracle="""
    WITH corpus AS (
        SELECT md5(text) AS digest FROM documents
        WHERE doc_id % 2 = 0 GROUP BY 1
    ), batch AS (
        SELECT doc_id, lang, md5(text) AS digest FROM documents
        WHERE doc_id % 2 = 1
    ), in_batch_first AS (
        SELECT doc_id, lang, digest,
               row_number() OVER (PARTITION BY digest
                                  ORDER BY doc_id) AS rn
        FROM batch
    )
    SELECT b.doc_id, b.lang
    FROM in_batch_first b
    LEFT JOIN corpus c ON b.digest = c.digest
    WHERE b.rn = 1 AND c.digest IS NULL
    """,
)
def pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ingest dedup — the shape a rolling crawl actually
    runs nightly (full-corpus re-dedup at 100 TB is the anti-pattern):
    the new batch (odd doc_ids stand in for tonight's crawl) is
    deduped WITHIN itself (first doc_id per digest wins) and then
    anti-joined against the standing corpus digest index (even
    doc_ids stand in for the already-ingested store). Admitted docs
    are exactly those whose content digest is new to both.

    Two digest-keyed hash operations, both shuffling digests only —
    never text. At scale the corpus side is a bucketed digest-only
    index table (bytes per doc, not the corpus itself), the batch
    side is one night's partition, and admitted digests append to the
    index — the join stays bucket-local run over run."""
    d = load_table(spark, sf_dir, "documents")
    corpus = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )
    batch = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", F.md5("text").alias("digest")
    )
    # first-per-digest as a hash AGG (min_by), not a window — no sort,
    # and partial aggregation collapses duplicates map-side
    first_in_batch = batch.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("lang", "doc_id").alias("lang"),
    )
    return first_in_batch.join(corpus, "digest", "left_anti").select(
        "doc_id", "lang"
    )


@register(
    "dedup_prefix",
    survey_row=67,
    oracle="""
    WITH p AS (
        SELECT doc_id, lang,
               md5(array_to_string(string_split(text, ' ')[1:8], ' '))
                   AS prefix_digest,
               len(string_split(text, ' ')) AS n_words
        FROM documents
        WHERE len(string_split(text, ' ')) >= 8
    ), g AS (
        SELECT prefix_digest, count(*) AS n_docs,
               min(doc_id) AS keep_doc, max(n_words) AS longest_doc_words
        FROM p GROUP BY prefix_digest
        HAVING count(*) > 1
    )
    SELECT prefix_digest, n_docs, keep_doc, longest_doc_words FROM g
    """,
)
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX dedup: docs sharing their first 8 words — the crawl
    truncation/re-crawl artifact class (same page fetched twice, one
    copy cut short) that exact-hash dedup misses because the tails
    differ and shingle-Jaccard under-scores because one side is
    short. Groups by a digest of the word prefix; emits group size,
    the kept doc (lowest id), and the longest member (the policy is
    keep-the-longest — the truncated copies are the junk).

    One digest hash-agg, exactly the dedup_exact shape — prefix
    digests shuffle, never text. Sub-8-word docs are excluded (their
    'prefix' is the whole doc — that's exact dedup's job)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    p = d.filter(F.size(words) >= 8).select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(words, 1, 8))).alias(
            "prefix_digest"
        ),
        F.size(words).alias("n_words"),
    )
    return (
        p.groupBy("prefix_digest")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
            F.max("n_words").alias("longest_doc_words"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "pipeline_quality_resample",
    survey_row=67,
    oracle="""
    WITH w AS (
        SELECT doc_id, lang, n_chars,
               least(greatest(n_chars / 2000.0, 0.05), 0.95) AS keep_p,
               CAST(('0x' || substr(md5('qrs:' || CAST(doc_id AS VARCHAR)),
                                    1, 8)) AS BIGINT) AS u32
        FROM documents)
    SELECT doc_id, lang, round(keep_p, 6) AS keep_p
    FROM w
    WHERE u32 < keep_p * 4294967296.0
    """,
)
def pipeline_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED resampling — the soft alternative to a hard
    quality cutoff (CCNet/FineWeb keep documents with probability
    proportional to a quality weight, preserving some low-quality
    mass instead of biasing the corpus at the boundary): each doc's
    keep probability is a clamped function of its quality proxy, and
    the keep decision is u < p with u a 32-bit md5-derived uniform —
    deterministic, append-stable (a doc's fate never changes when
    the corpus grows), and reproducible across engines, unlike
    rand()-based sampling.

    The comparison is exact: u is an integer compared against
    p·2³², and p itself is one IEEE division + clamp computed
    identically on both sides — no accumulated float. Map-only
    (zero shuffles) at any scale; the 100 TB form is this exact
    predicate pushed into the scan."""
    docs = load_table(spark, sf_dir, "documents")
    keep_p = F.least(
        F.greatest(F.col("n_chars") / 2000.0, F.lit(0.05)), F.lit(0.95)
    )
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("qrs:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.select(
            "doc_id", "lang", keep_p.alias("keep_p"), u32.alias("u32")
        )
        .filter(F.col("u32") < F.col("keep_p") * 4294967296.0)
        .select("doc_id", "lang", F.round("keep_p", 6).alias("keep_p"))
    )


@register(
    "pipeline_interleave_order",
    survey_row=67,
    oracle="""
    WITH langs AS (
        SELECT lang, row_number() OVER (ORDER BY lang) - 1 AS lang_idx,
               count(*) OVER () AS n_langs
        FROM (SELECT DISTINCT lang FROM documents)
    ),
    seq AS (
        SELECT d.doc_id, d.lang, l.lang_idx, l.n_langs,
               row_number() OVER (
                   PARTITION BY d.lang
                   ORDER BY md5('il:' || d.doc_id), d.doc_id) - 1 AS rn
        FROM documents d JOIN langs l ON l.lang = d.lang
    )
    SELECT doc_id, lang,
           (rn * n_langs + lang_idx)::BIGINT AS train_position
    FROM seq
    """,
)
def pipeline_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TRAINING-ORDER interleave — the data-ordering
    step between mixture planning (`pipeline_domain_mix`) and
    sequence packing: round-robin the domains so no training window
    sees a long single-domain run (which spikes gradient noise and
    wrecks small-batch loss curves). Each domain shuffles internally
    by md5 rank (reproducible, the stratified-sample discipline),
    then position = rn·n_domains + domain_idx — a CLOSED FORM, so
    the global order needs NO global sort: it's one window per
    domain partition plus integer arithmetic, and a downstream
    writer just sorts-within-partitions by the position key.

    The |domains| dim is a broadcast join; uneven domain sizes
    leave gaps in the position sequence by design (positions stay
    unique and ordered — the writer's sort doesn't care), which is
    what keeps the form closed instead of needing a second pass."""
    docs = load_table(spark, sf_dir, "documents")
    langs = (
        docs.select("lang")
        .distinct()
        .select(
            "lang",
            (F.row_number().over(Window.orderBy("lang")) - 1).alias(
                "lang_idx"
            ),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n_langs"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("il:"), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    seq = docs.join(F.broadcast(langs), "lang").select(
        "doc_id",
        "lang",
        "lang_idx",
        "n_langs",
        (F.row_number().over(w) - 1).alias("rn"),
    )
    return seq.select(
        "doc_id",
        "lang",
        (F.col("rn") * F.col("n_langs") + F.col("lang_idx"))
        .cast("long")
        .alias("train_position"),
    )


@register(
    "pipeline_preference_pairs",
    survey_row=67,
    oracle="""
    WITH cand AS (
        SELECT doc_id % 500 AS prompt_id, doc_id, n_chars,
               least(greatest(n_chars / 2000.0, 0.05), 0.95) AS score,
               row_number() OVER (
                   PARTITION BY doc_id % 500
                   ORDER BY least(greatest(n_chars / 2000.0, 0.05), 0.95)
                            DESC, doc_id) AS rk,
               count(*) OVER (PARTITION BY doc_id % 500) AS n_cand
        FROM documents
    )
    SELECT a.prompt_id::BIGINT AS prompt_id,
           a.doc_id AS chosen_doc,
           b.doc_id AS rejected_doc,
           round(a.score - b.score, 6) AS margin
    FROM cand a JOIN cand b
      ON a.prompt_id = b.prompt_id AND a.rk = 1 AND b.rk = b.n_cand
    WHERE a.n_cand >= 2 AND a.score - b.score >= 0.1
    """,
)
def pipeline_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-pair construction — the DPO/RLHF dataset builder:
    responses sharing a prompt are ranked by a reward proxy, and
    (best, worst) become the (chosen, rejected) pair — but only
    when the margin clears a threshold (near-tie pairs teach noise;
    the 0.1 floor is the standard margin filter). Prompts here are
    doc_id buckets, the reward proxy the quality-resample clamp, so
    both the grouping and the ranking are deterministic in both
    engines; single-candidate prompts produce no pair by
    definition.

    One window over the prompt partition (rank + candidate count in
    the same sort), then a self-join pinned to rk=1 × rk=n — at
    scale this is the grouped-top/bottom-1 pattern: the self-join
    carries only two rows per prompt, so it broadcasts after the
    window pass; the margin is one subtraction of clamped IEEE
    divisions."""
    docs = load_table(spark, sf_dir, "documents")
    score = F.least(
        F.greatest(F.col("n_chars") / 2000.0, F.lit(0.05)), F.lit(0.95)
    )
    w = Window.partitionBy("prompt_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    cand = docs.select(
        (F.col("doc_id") % 500).alias("prompt_id"),
        "doc_id",
        score.alias("score"),
    ).select(
        "prompt_id",
        "doc_id",
        "score",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("prompt_id")).alias(
            "n_cand"
        ),
    )
    a = cand.filter(F.col("rk") == 1).select(
        F.col("prompt_id"),
        F.col("doc_id").alias("chosen_doc"),
        F.col("score").alias("s_a"),
        "n_cand",
    )
    b = cand.filter(F.col("rk") == F.col("n_cand")).select(
        F.col("prompt_id").alias("pb"),
        F.col("doc_id").alias("rejected_doc"),
        F.col("score").alias("s_b"),
    )
    return (
        a.join(b, a["prompt_id"] == b["pb"])
        .filter((F.col("n_cand") >= 2) & (F.col("s_a") - F.col("s_b") >= 0.1))
        .select(
            F.col("prompt_id").cast("long").alias("prompt_id"),
            "chosen_doc",
            "rejected_doc",
            F.round(F.col("s_a") - F.col("s_b"), 6).alias("margin"),
        )
    )


@register(
    "pipeline_license_taint",
    survey_row=67,
    oracle="""
    WITH lic AS (
        SELECT doc_id, md5(text) AS grp,
               CASE WHEN doc_id % 11 = 3 THEN 2
                    WHEN doc_id % 4 = 1 THEN 1
                    ELSE 0 END AS lic_rank
        FROM documents
    ),
    taint AS (
        SELECT grp, max(lic_rank) AS grp_rank, count(*) AS n_copies
        FROM lic GROUP BY grp
    )
    SELECT l.doc_id,
           CASE l.lic_rank WHEN 2 THEN 'cc-nc' WHEN 1 THEN 'cc-by'
                ELSE 'public' END AS own_license,
           CASE t.grp_rank WHEN 2 THEN 'cc-nc' WHEN 1 THEN 'cc-by'
                ELSE 'public' END AS effective_license,
           (t.grp_rank > l.lic_rank) AS tainted_by_copy,
           t.n_copies::BIGINT AS n_copies
    FROM lic l JOIN taint t ON t.grp = l.grp
    """,
)
def pipeline_license_taint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LICENSE taint through duplicate clusters — the curation rule
    licensing reviews actually impose: if any copy of a document
    carries a restrictive license, EVERY copy inherits it (you
    cannot launder a cc-nc text by training on its public-mirror
    duplicate). Licenses are synthesized per doc on residue classes
    (public < cc-by < cc-nc as an ordered severity rank); clusters
    are exact-duplicate text groups (the dedup_exact digest — the
    same taint composes over near-dup components via
    min_label_components when policy requires it, declared as the
    extension path); effective license = the cluster max severity,
    with the tainted-by-copy flag marking docs whose own label was
    upgraded.

    One digest group-agg + a join-back on the digest — both keyed
    on the same hash, so AQE coalesces them into one exchange
    lineage; severity is integer max, nothing to round."""
    docs = load_table(spark, sf_dir, "documents")
    lic_rank = (
        F.when(F.col("doc_id") % 11 == 3, 2)
        .when(F.col("doc_id") % 4 == 1, 1)
        .otherwise(0)
    )
    lic = docs.select(
        "doc_id",
        F.md5(F.encode("text", "UTF-8")).alias("grp"),
        lic_rank.alias("lic_rank"),
    )
    taint = lic.groupBy("grp").agg(
        F.max("lic_rank").alias("grp_rank"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    name = (
        lambda c: F.when(c == 2, "cc-nc").when(c == 1, "cc-by").otherwise("public")
    )
    return (
        lic.join(taint, "grp")
        .select(
            "doc_id",
            name(F.col("lic_rank")).alias("own_license"),
            name(F.col("grp_rank")).alias("effective_license"),
            (F.col("grp_rank") > F.col("lic_rank")).alias("tainted_by_copy"),
            F.col("n_copies").cast("long").alias("n_copies"),
        )
    )


@register(
    "pipeline_annotator_kappa",
    survey_row=67,
    oracle="""
    WITH labels AS (
        SELECT doc_id,
               CASE WHEN (doc_id * 7) % 10 < 6 THEN 'keep'
                    ELSE 'drop' END AS rater_a,
               CASE WHEN (doc_id * 7) % 10 < 6
                    THEN CASE WHEN doc_id % 9 = 4 THEN 'drop'
                              ELSE 'keep' END
                    ELSE CASE WHEN doc_id % 13 = 6 THEN 'keep'
                              ELSE 'drop' END END AS rater_b
        FROM documents
    ),
    cells AS (
        SELECT count(*) AS n,
               count(*) FILTER (WHERE rater_a = rater_b) AS agree,
               count(*) FILTER (WHERE rater_a = 'keep') AS a_keep,
               count(*) FILTER (WHERE rater_b = 'keep') AS b_keep
        FROM labels
    )
    SELECT n::BIGINT AS n,
           round(agree * 1.0 / n, 6) AS observed_agreement,
           round((a_keep * b_keep + (n - a_keep) * (n - b_keep))
                 * 1.0 / (n * n), 6) AS expected_agreement,
           round((agree * 1.0 / n
                  - (a_keep * b_keep + (n - a_keep) * (n - b_keep))
                    * 1.0 / (n * n))
                 / nullif(1.0 - (a_keep * b_keep
                                 + (n - a_keep) * (n - b_keep))
                          * 1.0 / (n * n), 0), 6) AS cohens_kappa
    FROM cells
    """,
)
def pipeline_annotator_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA between two annotators — the labeling-QA
    statistic that raw agreement hides (two raters who both mark
    90 % "keep" agree 82 % by pure chance; kappa measures agreement
    ABOVE chance, and it's the gate every labeling vendor contract
    specifies): two raters are synthesized with a controlled
    disagreement structure (rater B flips A's verdict on seeded
    residues), the 2×2 contingency reduces to four exact counts,
    and κ = (p_o − p_e)/(1 − p_e) follows in closed form.

    One global aggregate (four conditional counts, map-side
    combine); every ratio is an IEEE division of exact int64
    counts; the perfect-agreement singularity (p_e = 1) guards
    with nullif on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    rater_a = F.when((did * 7) % 10 < 6, "keep").otherwise("drop")
    rater_b = F.when(
        (did * 7) % 10 < 6,
        F.when(did % 9 == 4, "drop").otherwise("keep"),
    ).otherwise(F.when(did % 13 == 6, "keep").otherwise("drop"))
    labels = docs.select(rater_a.alias("a"), rater_b.alias("b"))
    cells = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("a") == F.col("b"), 1)).alias("agree"),
        F.count(F.when(F.col("a") == "keep", 1)).alias("a_keep"),
        F.count(F.when(F.col("b") == "keep", 1)).alias("b_keep"),
    )
    n, agree = F.col("n"), F.col("agree")
    pe = (
        F.col("a_keep") * F.col("b_keep")
        + (n - F.col("a_keep")) * (n - F.col("b_keep"))
    ) / (n * n)
    po = agree / n
    return cells.select(
        n.cast("long").alias("n"),
        F.round(po, 6).alias("observed_agreement"),
        F.round(pe, 6).alias("expected_agreement"),
        F.round((po - pe) / F.nullif(1.0 - pe, F.lit(0.0)), 6).alias(
            "cohens_kappa"
        ),
    )


@register(
    "pipeline_curation_verdict",
    survey_row=67,
    oracle="""
    WITH sig AS (
        SELECT doc_id, lang, n_chars,
               md5(text) AS grp,
               CASE WHEN doc_id % 11 = 3 THEN 2
                    WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS lic_rank,
               CASE
                 WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                 WHEN regexp_matches(text, '[ßäöü]') THEN 'de'
                 WHEN regexp_matches(text, '[áíóúñ]') THEN 'es'
                 WHEN regexp_matches(text, '[àâçèéêë]') THEN 'fr'
                 ELSE 'en'
               END AS lang_pred
        FROM documents
    ),
    grp AS (
        SELECT grp, min(doc_id) AS canonical, max(lic_rank) AS grp_lic
        FROM sig GROUP BY grp
    )
    SELECT s.doc_id,
           CASE
             WHEN g.grp_lic = 2 THEN 'drop_license'
             WHEN s.doc_id <> g.canonical THEN 'drop_duplicate'
             WHEN s.n_chars < 120 THEN 'drop_too_short'
             WHEN s.lang_pred <> s.lang THEN 'review_lang_mismatch'
             ELSE 'keep'
           END AS verdict,
           (s.doc_id = g.canonical) AS is_canonical,
           g.grp_lic = 2 AS cluster_restricted
    FROM sig s JOIN grp g ON g.grp = s.grp
    """,
)
def pipeline_curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURATION VERDICT — the per-document decision table a
    pretraining data pipeline actually emits, composing the signal
    family into one pass with a PINNED precedence (the order IS
    policy): cluster-restrictive license drops the whole duplicate
    group first (`pipeline_license_taint`'s rule — legal beats
    everything); then non-canonical duplicates drop
    (`dedup_exact_keep_best`'s min-id canonical); then the length
    floor; then language-label/prediction mismatches route to
    review (`text_lang_id`'s rule) rather than dropping — mislabels
    are fixable, duplicates aren't. Keep is what remains.

    One signal projection (map-only: digest, license rank, lang
    rule), one digest group-agg for canonical + cluster license,
    one join-back — the whole verdict costs a dedup pass; every
    signal is integer/string logic, nothing to round. The reasons
    column doubles as the funnel report input
    (`pipeline_quality_report`'s stage counts are one groupBy
    away)."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    sig = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.encode("text", "UTF-8")).alias("grp"),
        F.when(did % 11 == 3, 2).when(did % 4 == 1, 1).otherwise(0).alias(
            "lic_rank"
        ),
        F.when(F.col("text").rlike("[一-鿿]"), "zh")
        .when(F.col("text").rlike("[ßäöü]"), "de")
        .when(F.col("text").rlike("[áíóúñ]"), "es")
        .when(F.col("text").rlike("[àâçèéêë]"), "fr")
        .otherwise("en")
        .alias("lang_pred"),
    )
    grp = sig.groupBy("grp").agg(
        F.min("doc_id").alias("canonical"),
        F.max("lic_rank").alias("grp_lic"),
    )
    return sig.join(grp, "grp").select(
        "doc_id",
        F.when(F.col("grp_lic") == 2, "drop_license")
        .when(F.col("doc_id") != F.col("canonical"), "drop_duplicate")
        .when(F.col("n_chars") < 120, "drop_too_short")
        .when(F.col("lang_pred") != F.col("lang"), "review_lang_mismatch")
        .otherwise("keep")
        .alias("verdict"),
        (F.col("doc_id") == F.col("canonical")).alias("is_canonical"),
        (F.col("grp_lic") == 2).alias("cluster_restricted"),
    )


@register(
    "pipeline_temporal_split",
    survey_row=67,
    oracle="""
    WITH stamped AS (
        SELECT doc_id, lang,
               (doc_id * 2654435761) % 100000 AS crawl_tick
        FROM documents
    ),
    cut AS (
        SELECT CAST(quantile_disc(crawl_tick, 0.9) AS BIGINT) AS c
        FROM stamped
    )
    SELECT CASE WHEN s.crawl_tick <= cut.c THEN 'train'
                ELSE 'eval' END AS split,
           count(*)::BIGINT AS n_docs,
           min(s.crawl_tick)::BIGINT AS tick_min,
           max(s.crawl_tick)::BIGINT AS tick_max,
           max(cut.c)::BIGINT AS boundary_tick
    FROM stamped s, cut
    GROUP BY 1
    """,
)
def pipeline_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL train/eval split — the leakage-free split policy
    random splits cannot give (a random split of a crawl lets the
    model "predict" the past from the future and inflates eval;
    time-based splits train strictly on the past): documents carry
    a synthesized crawl tick (Knuth-hash of doc_id — the fixture
    has no crawl time; a real corpus uses its fetch timestamp),
    the boundary is the exact 90th-percentile tick (quantile_disc —
    DISCRETE, an actual data value, so the boundary is a member of
    the train side by the ≤ rule, pinned on both sides), and the
    report carries each side's tick range — tick_max(train) ≤
    tick_min(eval) IS the no-leakage proof, visible in the output.

    One percentile reduce + a broadcast scalar + one pass; at 100
    TB the boundary comes from approx_percentile and the split
    predicate pushes into the scan, the stratified-sample
    discipline applied to time."""
    docs = load_table(spark, sf_dir, "documents")
    stamped = docs.select(
        "doc_id",
        ((F.col("doc_id") * 2654435761) % 100000).alias("crawl_tick"),
    )
    cut = stamped.agg(
        F.expr("percentile_approx(crawl_tick, 0.9, 2147483647)")
        .cast("long")
        .alias("c")
    )
    j = stamped.crossJoin(F.broadcast(cut))
    return (
        j.select(
            F.when(F.col("crawl_tick") <= F.col("c"), "train")
            .otherwise("eval")
            .alias("split"),
            "crawl_tick",
            "c",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("crawl_tick").cast("long").alias("tick_min"),
            F.max("crawl_tick").cast("long").alias("tick_max"),
            F.max("c").cast("long").alias("boundary_tick"),
        )
    )


@register(
    "pipeline_calibration_ece",
    survey_row=67,
    oracle="""
    WITH preds AS (
        SELECT doc_id,
               ((doc_id * 37) % 100) AS conf_pct,
               CASE WHEN CAST(('0x' || substr(md5('lbl:' || doc_id), 1, 8))
                         AS BIGINT) % 100 < (doc_id * 37) % 100
                    THEN 1 ELSE 0 END AS correct
        FROM documents
    ),
    binned AS (
        SELECT conf_pct // 10 AS bin,
               count(*) AS n,
               sum(correct) AS n_correct,
               sum(conf_pct) AS conf_sum
        FROM preds GROUP BY conf_pct // 10
    ),
    tot AS (SELECT sum(n) AS total FROM binned)
    SELECT bin::BIGINT AS bin,
           n::BIGINT AS n,
           round(n_correct * 1.0 / n, 6) AS bin_accuracy,
           round(conf_sum * 1.0 / (100 * n), 6) AS bin_confidence,
           round(abs(n_correct * 1.0 / n - conf_sum * 1.0 / (100 * n))
                 * n / tot.total, 6) AS ece_term
    FROM binned, tot
    """,
)
def pipeline_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPECTED CALIBRATION ERROR — the model-confidence audit every
    classifier-in-a-pipeline needs before its scores gate anything
    (a quality filter whose "0.9 confidence" is right 60 % of the
    time silently reshapes the corpus; ECE is THE number that
    catches it): predictions binned by confidence decile, per-bin
    accuracy vs mean confidence, and the n-weighted |gap| terms
    whose sum IS the ECE. Confidences and outcomes are synthesized
    so the model is calibrated BY CONSTRUCTION in expectation
    (outcome drawn under its own confidence via an md5 uniform) —
    so the per-bin gaps show honest sampling noise, exactly what a
    calibrated model's ECE report looks like in production.

    One decile contingency agg (integer division binning, exact
    counts), ratios as single IEEE divisions; the weighted terms
    expose the full report, the scalar ECE is one further sum."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    conf = (did * 37) % 100
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lbl:"), did.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    preds = docs.select(
        conf.alias("conf_pct"),
        F.when(u < conf, 1).otherwise(0).alias("correct"),
    )
    binned = preds.groupBy(
        F.floor(F.col("conf_pct") / 10).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("correct").alias("n_correct"),
        F.sum("conf_pct").alias("conf_sum"),
    )
    total = Window.partitionBy()
    acc = F.col("n_correct") / F.col("n")
    cf = F.col("conf_sum") / (100 * F.col("n"))
    return binned.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n").cast("long").alias("n"),
        F.round(acc, 6).alias("bin_accuracy"),
        F.round(cf, 6).alias("bin_confidence"),
        F.round(
            F.abs(acc - cf) * F.col("n") / F.sum("n").over(total), 6
        ).alias("ece_term"),
    )


@register(
    "pipeline_weighted_sample_es",
    survey_row=67,
    oracle="""
    WITH keyed AS (
        SELECT doc_id, lang,
               least(greatest(n_chars / 2000.0, 0.05), 0.95) AS w,
               (CAST(('0x' || substr(md5('es:' || doc_id), 1, 8))
                     AS BIGINT) + 1) / 4294967297.0 AS u
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, w,
               round(-ln(u) / w, 6) AS es_key,
               row_number() OVER (
                   ORDER BY -ln(u) / w ASC, doc_id) AS rk
        FROM keyed
    )
    SELECT doc_id, lang, round(w, 6) AS weight, es_key
    FROM ranked WHERE rk <= 100
    """,
)
def pipeline_weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sampling WITHOUT replacement (Efraimidis-Spirakis) —
    the missing member of the sampling family
    (`pipeline_quality_resample` keeps each doc independently at
    probability p, so the output SIZE varies; training-set builders
    usually need EXACTLY k docs, weight-proportionally, no
    duplicates): each doc draws key = −ln(u)/w with a deterministic
    md5 uniform, and the k SMALLEST keys are precisely a weighted
    sample without replacement — the one-pass, fully-parallel
    algorithm (keys are independent per row; the only coordination
    is a top-k), which is why it's THE distributed weighted sampler.

    u is (h+1)/2³³ so it is never 0 (ln(0) = −∞ would tie all
    zero-u rows); keys are deterministic functions of doc_id, the
    top-k is TakeOrdered with a doc_id tie-break, and the emitted
    es_key makes the selection auditable. ln on engine-identical
    IEEE arguments, the logprob contract."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.least(
        F.greatest(F.col("n_chars") / 2000.0, F.lit(0.05)), F.lit(0.95)
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("es:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / 4294967297.0
    keyed = docs.select(
        "doc_id", "lang", w.alias("w"), (-F.log(u) / w).alias("key_raw")
    )
    return (
        keyed.orderBy(F.col("key_raw").asc(), F.col("doc_id"))
        .limit(100)
        .select(
            "doc_id",
            "lang",
            F.round("w", 6).alias("weight"),
            F.round("key_raw", 6).alias("es_key"),
        )
    )


@register(
    "pipeline_fuzzy_dedup_keep_best",
    survey_row=68,
    # Components CTE shared with dedup_components (see the note
    # there on MATERIALIZED pair CTEs); keep-best layered on top.
    oracle=f"""
    WITH RECURSIVE tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM tok a JOIN tok b USING (w)
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    ), pairs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i::DOUBLE / (sa.n + sb.n - i) >= {_JACCARD_TAU}
    ), edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach(node, r) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT reach.node, edges.dst
        FROM reach JOIN edges ON reach.r = edges.src
    ), labels AS (
        SELECT node AS doc_id, least(node, min(r)) AS canonical_id
        FROM reach GROUP BY node
    ), ranked AS (
        SELECT l.canonical_id, l.doc_id, d.n_chars,
               row_number() OVER (
                   PARTITION BY l.canonical_id
                   ORDER BY d.n_chars DESC, l.doc_id ASC) AS rn,
               count(*) OVER (PARTITION BY l.canonical_id) AS sz
        FROM labels l JOIN documents d USING (doc_id)
    )
    SELECT canonical_id AS cluster_id, doc_id AS kept_doc,
           sz, n_chars AS kept_chars
    FROM ranked WHERE rn = 1
    """,
)
def pipeline_fuzzy_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup survivorship: near-dup clusters (from
    dedup_components' min-label propagation) each keep their
    HIGHEST-QUALITY member — longest text, ties to the lowest
    doc_id — not the arbitrary minimum-id canonical. This is the
    other half of the production dedup contract: exact dedup keeps
    any copy (they're identical), but fuzzy clusters contain
    *different* docs, and dropping all but the min-id one throws
    away the best-quality variant about half the time
    (dedup_exact_keep_best is the exact-dup twin; this is the fuzzy
    form RefinedWeb-class pipelines run after MinHash clustering).

    Shape: cluster labels (|clustered docs| rows, tiny vs corpus)
    hash-join the corpus for the quality column, then ONE window
    over canonical_id computes rank and cluster size in a single
    sort — no second aggregation pass, no self-join. Quality here
    is n_chars; a real pipeline swaps in the composite score
    (text_quality_score) without touching the plan shape.
    """
    labels = dedup_components(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("canonical_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    wsz = Window.partitionBy("canonical_id")
    return (
        labels.join(d, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("sz", F.count(F.lit(1)).over(wsz))
        .filter(F.col("rn") == 1)
        .select(
            F.col("canonical_id").alias("cluster_id"),
            F.col("doc_id").alias("kept_doc"),
            "sz",
            F.col("n_chars").alias("kept_chars"),
        )
    )


@register(
    "text_contamination_report",
    survey_row=67,
    oracle=f"""
    WITH sh AS MATERIALIZED (
        SELECT doc_id,
               array_to_string(
                   (string_split(text, ' '))[i:i+{_DECON_N - 1}], ' ') AS sh
        FROM documents,
             unnest(range(1, len(string_split(text, ' ')) - {_DECON_N} + 2))
                 AS r(i)
    ),
    eval_sh AS (SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id % 20 = 0),
    train_sh AS (SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id % 20 <> 0),
    tot AS (
        SELECT doc_id, count(DISTINCT sh) AS n_shingles
        FROM sh WHERE doc_id % 20 = 0 GROUP BY doc_id
    ),
    hits AS (
        SELECT e.doc_id,
               count(DISTINCT t.doc_id) AS n_train_docs,
               count(DISTINCT e.sh) AS n_shared
        FROM eval_sh e JOIN train_sh t USING (sh)
        GROUP BY e.doc_id
    )
    SELECT tot.doc_id AS eval_doc,
           coalesce(h.n_train_docs, 0) AS n_train_docs,
           coalesce(h.n_shared, 0) AS n_shared_shingles,
           tot.n_shingles,
           round(coalesce(h.n_shared, 0) * 1.0 / tot.n_shingles, 6)
               AS leak_frac
    FROM tot LEFT JOIN hits h ON h.doc_id = tot.doc_id
    """,
)
def text_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-leakage severity report — the AUDIT side of
    pipeline_decontaminate (which silently drops): for every eval
    doc (doc_id % 20 == 0), how many train docs share an 8-token
    shingle with it, how many of its own shingles leak, and the
    leaked fraction. This is the per-benchmark table an eval owner
    reads to decide whether a benchmark is compromised, as opposed
    to the train-side filter the pretraining run applies.

    Scale shape mirrors the decontaminate twin: shingles are
    xxhash64 tuples (8-byte keys on the shuffle, never text), the
    eval side is the ~5 % split, and the inverted-index join fans
    out per shared shingle before two count-distincts collapse it
    per eval doc. On a web corpus the high-document-frequency
    shingles (boilerplate) dominate this fan-out; the production
    lever is dropping shingles above a train-DF cap before the join
    — they identify no specific leak — which changes this plan by
    one filter. Short eval docs (< 8 tokens) produce no shingles
    and are absent from the report by construction in both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    n_sh = F.size(F.col("t")) - (_DECON_N - 1)
    idx = F.when(n_sh > 0, F.sequence(F.lit(1), n_sh)).otherwise(
        F.array().cast("array<int>")
    )
    shingles = base.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.xxhash64(
                    *[F.element_at(F.col("t"), i + j) for j in range(_DECON_N)]
                ),
            )
        ).alias("sh"),
    ).distinct()
    is_eval = F.col("doc_id") % 20 == 0
    eval_sh = shingles.filter(is_eval)
    train_sh = shingles.filter(~is_eval)
    tot = eval_sh.groupBy("doc_id").agg(
        F.countDistinct("sh").alias("n_shingles")
    )
    hits = (
        eval_sh.join(
            train_sh.select(F.col("doc_id").alias("train_doc"), "sh"), "sh"
        )
        .groupBy("doc_id")
        .agg(
            F.countDistinct("train_doc").alias("n_train_docs"),
            F.countDistinct("sh").alias("n_shared"),
        )
    )
    return (
        tot.join(hits, "doc_id", "left")
        .select(
            F.col("doc_id").alias("eval_doc"),
            F.coalesce("n_train_docs", F.lit(0)).alias("n_train_docs"),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared_shingles"),
            "n_shingles",
            F.round(
                F.coalesce("n_shared", F.lit(0)) / F.col("n_shingles"), 6
            ).alias("leak_frac"),
        )
    )


@register(
    "pipeline_dedup_rate_curve",
    survey_row=68,
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), lv AS (
        SELECT n FROM (VALUES (1), (2), (3), (4)) v(n)
    ), digs AS (
        SELECT lv.n, t.doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   list_transform(generate_series(1, len(w) - lv.n + 1),
                       i -> array_to_string(w[i:i+lv.n-1], ' ')))),
                   chr(31))) AS dig
        FROM t, lv WHERE len(w) >= lv.n
    ), g AS (
        SELECT n, dig, count(*) AS c FROM digs GROUP BY 1, 2
    )
    SELECT n, sum(c)::BIGINT AS total_docs,
           sum(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS dup_docs,
           round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c), 6)
               AS dup_rate
    FROM g GROUP BY n
    """,
)
def pipeline_dedup_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-sensitivity curve: the duplicate-doc rate at shingle
    widths n = 1..4, where a doc is a duplicate iff its SORTED
    DISTINCT n-gram set digests identically to another doc's. n=1 is
    bag-of-words dedup (order-blind, most aggressive), rising n
    converges on exact-text dedup — the curve a dataset card shows
    to justify WHERE the fuzzy-dedup threshold was set (a corpus
    whose rate collapses between n=1 and n=2 is template spam; one
    whose curve is flat duplicates whole passages).

    One corpus scan serves all four granularities: the four digests
    are computed in a single projection (shared token split), stacked
    with explode into (n, digest) rows, and reduced by one
    map-side-combinable groupBy — the shuffle carries 4 × 16-byte
    digests per doc, never grams or text, so adding a granularity
    costs a projection column, not a pass. Docs shorter than n
    tokens are excluded from level n in both engines (a NULL digest
    dropped before the stack), not lumped into a shared
    empty-digest bucket.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )

    def dig(n: int):
        grams = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - n + 1),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(F.col("t"), i + j) for j in range(n)]
                ),
            )
        )
        return F.when(
            F.size("t") >= n,
            F.md5(F.array_join(F.array_sort(grams), "\x1f")),
        )

    stacked = (
        d.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(n).alias("n"), dig(n).alias("dig")
                        )
                        for n in (1, 2, 3, 4)
                    ]
                )
            ).alias("s")
        )
        .select(F.col("s.n").alias("n"), F.col("s.dig").alias("dig"))
        .filter(F.col("dig").isNotNull())
    )
    g = stacked.groupBy("n", "dig").agg(F.count(F.lit(1)).alias("c"))
    dup = F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
    return g.groupBy("n").agg(
        F.sum("c").alias("total_docs"),
        dup.alias("dup_docs"),
        F.round(dup / F.sum("c"), 6).alias("dup_rate"),
    )


@register(
    "pipeline_pretraining_e2e",
    survey_row=67,
    oracle="""
    WITH s0 AS (
        SELECT doc_id, text, n_chars,
               len(string_split(lower(text), ' ')) AS n_tokens,
               len(list_distinct(string_split(lower(text), ' ')))
                   AS n_distinct
        FROM documents
    ),
    s1 AS (
        SELECT * FROM s0 WHERE n_chars >= 50 AND n_tokens >= 10
    ),
    s2 AS (
        SELECT * FROM s1
        WHERE doc_id = (
            SELECT min(doc_id) FROM s1 i WHERE md5(i.text) = md5(s1.text)
        )
    ),
    eval_set AS (
        SELECT DISTINCT md5(text) AS d FROM documents WHERE doc_id % 97 = 0
    ),
    s3 AS (
        SELECT * FROM s2 WHERE md5(text) NOT IN (SELECT d FROM eval_set)
    ),
    s4 AS (
        SELECT * FROM s3 WHERE n_distinct * 2 > n_tokens
    )
    SELECT * FROM (
        SELECT '1_length_clean' AS stage,
               (SELECT count(*) FROM s0) AS rows_in,
               (SELECT count(*) FROM s1) AS rows_out
        UNION ALL
        SELECT '2_exact_dedup',
               (SELECT count(*) FROM s1), (SELECT count(*) FROM s2)
        UNION ALL
        SELECT '3_decontaminate',
               (SELECT count(*) FROM s2), (SELECT count(*) FROM s3)
        UNION ALL
        SELECT '4_repetition_filter',
               (SELECT count(*) FROM s3), (SELECT count(*) FROM s4)
    ) ORDER BY stage
    """,
)
def pipeline_pretraining_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE pretraining-curation pipeline as ONE composed plan —
    length/structure cleaning → exact dedup → eval-set
    decontamination → repetition filtering — with the per-stage
    funnel accounting (rows in/out) every dataset card reports. The
    individual stages exist as standalone operators
    (text_c4_cleaning_rules, dedup_exact, pipeline_decontaminate,
    text_repetition_score); this operator is the INTEGRATION shape:
    one logical plan through all four, so Catalyst sees the whole
    DAG (the length predicate pushes into the scan; the dedup
    window and the digest anti-join share the md5 computed once;
    nothing materializes between stages).

    Stage rules are closed-form: keep length (n_chars ≥ 50 AND
    ≥ 10 tokens), dedup keeps the MIN doc_id per text digest
    (window, not distinct — survivorship is auditable), the eval
    set is the deterministic doc_id % 97 slice of the corpus
    matched by digest anti-join, repetition keeps docs whose
    distinct-token count exceeds half their token count. The
    funnel counts collapse to four 1-row aggregates unioned — at
    100 TB this report costs one corpus pass per stage boundary
    with all counts map-side-combined."""
    docs = load_table(spark, sf_dir, "documents")
    s0 = docs.select(
        "doc_id",
        "text",
        "n_chars",
        F.size(F.split(F.lower(F.col("text")), " ")).alias("n_tokens"),
        F.size(
            F.array_distinct(F.split(F.lower(F.col("text")), " "))
        ).alias("n_distinct"),
        F.md5(F.col("text")).alias("digest"),
    )
    s1 = s0.filter((F.col("n_chars") >= 50) & (F.col("n_tokens") >= 10))
    w = Window.partitionBy("digest").orderBy("doc_id")
    s2 = (
        s1.select("*", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    eval_set = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(F.md5(F.col("text")).alias("digest"))
        .distinct()
    )
    s3 = s2.join(F.broadcast(eval_set), "digest", "left_anti")
    s4 = s3.filter(F.col("n_distinct") * 2 > F.col("n_tokens"))

    def n(df):
        return df.agg(F.count(F.lit(1)).alias("n"))

    c0, c1, c2, c3, c4 = n(s0), n(s1), n(s2), n(s3), n(s4)
    report = (
        c0.crossJoin(c1.withColumnRenamed("n", "n1"))
        .select(
            F.lit("1_length_clean").alias("stage"),
            F.col("n").alias("rows_in"),
            F.col("n1").alias("rows_out"),
        )
        .unionAll(
            c1.crossJoin(c2.withColumnRenamed("n", "n2")).select(
                F.lit("2_exact_dedup").alias("stage"),
                F.col("n").alias("rows_in"),
                F.col("n2").alias("rows_out"),
            )
        )
        .unionAll(
            c2.crossJoin(c3.withColumnRenamed("n", "n3")).select(
                F.lit("3_decontaminate").alias("stage"),
                F.col("n").alias("rows_in"),
                F.col("n3").alias("rows_out"),
            )
        )
        .unionAll(
            c3.crossJoin(c4.withColumnRenamed("n", "n4")).select(
                F.lit("4_repetition_filter").alias("stage"),
                F.col("n").alias("rows_in"),
                F.col("n4").alias("rows_out"),
            )
        )
    )
    return report.orderBy("stage")


@register(
    "dedup_sorted_neighborhood",
    survey_row=68,
    oracle="""
    WITH d AS (
        SELECT doc_id,
               list_distinct(string_split(lower(text), ' ')) AS ws,
               substr(lower(text), 1, 16) AS k,
               string_split(lower(text), ' ')[1] AS bucket
        FROM documents
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY bucket ORDER BY k, doc_id) AS rn
        FROM d
    ),
    probe AS (
        SELECT doc_id, ws, bucket, rn,
               unnest([(rn - 1) // 4, (rn - 1) // 4 + 1]) AS blk
        FROM r
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.ws, b.ws)) AS n_inter,
               len(a.ws) + len(b.ws)
                   - len(list_intersect(a.ws, b.ws)) AS n_union
        FROM probe a JOIN r b
            ON a.bucket = b.bucket AND (b.rn - 1) // 4 = a.blk
            AND b.rn BETWEEN a.rn + 1 AND a.rn + 4
    )
    SELECT doc_a, doc_b, n_inter::BIGINT AS n_inter,
           n_union::BIGINT AS n_union,
           round(n_inter * 1.0 / n_union, 6) AS jaccard
    FROM cand
    WHERE n_inter * 10 >= 8 * n_union
    ORDER BY doc_a, doc_b
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-NEIGHBORHOOD entity resolution (Hernández & Stolfo
    1995 — public): sort records on a blocking key, slide a window of
    w=5, verify only window-adjacent candidates — the classic
    alternative to hash blocking when near-duplicates share key
    PREFIXES rather than exact block values. Candidates verify with
    exact distinct-token Jaccard ≥ 0.8, compared as the integer
    cross-product 10·|∩| ≥ 8·|∪| (no float threshold).

    Distributed form: the sort window is PARTITIONED by the first
    token (the key's own leading term), so ranking parallelizes
    across buckets instead of collapsing to one range partition — the
    standard multi-pass SNM deployment where cross-boundary misses
    are recovered by a second pass under a rotated key (here, any of
    this module's hash-blocked twins). Candidate volume is exactly
    (w−1)·N — LINEAR in the corpus, the method's whole point — and
    the verify step ships distinct-token arrays only for those ≤4·N
    pairs. rn adjacency joins bucket-locally (equi-join on bucket +
    range on rn), never across buckets."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_distinct(F.split(F.lower(F.col("text")), " ")).alias("ws"),
        F.substring(F.lower(F.col("text")), 1, 16).alias("k"),
        F.split(F.lower(F.col("text")), " ").getItem(0).alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy("k", "doc_id")
    r = d.select("doc_id", "ws", "bucket", F.row_number().over(w).alias("rn"))
    # Neighbor-BLOCK equi-join (the dedup_levenshtein grid idiom): a
    # bucket-only equi key would make the join evaluate |bucket|²
    # candidate pairs before the rn range filter (measured as the sf1
    # sweep wall: 62M pairs carrying token arrays). Blocks of size
    # w−1=4 put every qualifying pair in (blk, blk) or (blk, blk+1),
    # so each probe row meets ≤ 2 blocks — candidate EVALUATIONS are
    # linear, matching the (w−1)·N output bound the method promises.
    blk = F.floor((F.col("rn") - 1) / 4).cast("long")
    a = r.select(
        F.col("bucket"),
        F.col("doc_id").alias("doc_a"),
        F.col("ws").alias("ws_a"),
        F.col("rn").alias("rn_a"),
        F.explode(F.array(blk, blk + 1)).alias("blk"),
    )
    b = r.select(
        F.col("bucket"),
        F.col("doc_id").alias("doc_b"),
        F.col("ws").alias("ws_b"),
        F.col("rn").alias("rn_b"),
        blk.alias("blk"),
    )
    n_inter = F.size(F.array_intersect("ws_a", "ws_b"))
    n_union = F.size("ws_a") + F.size("ws_b") - n_inter
    return (
        a.join(
            b,
            ["bucket", "blk"],
        ).filter(
            (F.col("rn_b") >= F.col("rn_a") + 1)
            & (F.col("rn_b") <= F.col("rn_a") + 4)
        )
        .select(
            "doc_a",
            "doc_b",
            n_inter.cast("long").alias("n_inter"),
            n_union.cast("long").alias("n_union"),
        )
        .filter(F.col("n_inter") * 10 >= 8 * F.col("n_union"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_union",
            F.round(F.col("n_inter") * 1.0 / F.col("n_union"), 6).alias(
                "jaccard"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "pipeline_mixture_epochs",
    survey_row=67,
    oracle="""
    WITH plan AS (
        SELECT doc_id, source, n_chars,
               CASE CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) % 4
                    WHEN 0 THEN 2500000
                    WHEN 1 THEN 1000000
                    WHEN 2 THEN 250000
                    ELSE 1750000 END AS ep_micro,
               CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':mix'),
                                      1, 8) AS BIGINT) % 1000000 AS u
        FROM documents
    ),
    copies AS (
        SELECT source, n_chars,
               ep_micro // 1000000
                   + CASE WHEN u < ep_micro % 1000000 THEN 1 ELSE 0 END
                   AS n_copies
        FROM plan
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(n_copies)::BIGINT AS planned_copies,
           round(sum(n_copies) * 1.0 / count(*), 6) AS effective_epochs,
           sum(n_chars * n_copies)::BIGINT AS planned_chars
    FROM copies GROUP BY source ORDER BY source
    """,
)
def pipeline_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRACTIONAL-EPOCH MIXTURE PLAN — the up-sampling side of data
    mixing ("2.5 epochs of src0, 0.25 of src2"), complementing
    `pipeline_domain_mix`'s down-sampling quotas: every doc gets
    ⌊ep⌋ guaranteed copies plus one more iff its md5-uniform draw
    falls under frac(ep) — so the EXPECTED per-source volume hits the
    target exactly while each individual doc's replication is
    deterministic, append-stable, and identical across engines and
    re-runs (the property that keeps resumed training runs sampling
    the same corpus). Epoch targets live in micro-units (integers);
    the comparison u < ep_micro mod 10⁶ never touches a float.

    Output is the plan's accounting per source: docs, planned
    copies, realized effective epochs, and the planned char volume
    (n_chars-weighted) a token-budget check reads. Scale shape:
    map-only per-doc arithmetic then one source-keyed
    map-side-combined rollup; the actual materialization at 100 TB
    is explode(sequence(1, n_copies)) on the SAME plan column —
    accounting and materialization share the decision, so what this
    op reports is exactly what the writer would emit."""
    d = load_table(spark, sf_dir, "documents")
    idx = F.regexp_extract("source", r"src(\d+)", 1).cast("int")
    ep = (
        F.when(idx % 4 == 0, 2500000)
        .when(idx % 4 == 1, 1000000)
        .when(idx % 4 == 2, 250000)
        .otherwise(1750000)
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1000000
    )
    copies = d.select(
        "source",
        "n_chars",
        (
            F.floor(ep / 1000000)
            + F.when(u < ep % 1000000, 1).otherwise(0)
        ).alias("n_copies"),
    )
    return (
        copies.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_copies").cast("long").alias("planned_copies"),
            F.round(
                F.sum("n_copies") * 1.0 / F.count(F.lit(1)), 6
            ).alias("effective_epochs"),
            F.sum(F.col("n_chars") * F.col("n_copies"))
            .cast("long")
            .alias("planned_chars"),
        )
        .orderBy("source")
    )


@register(
    "pipeline_mixture_alpha",
    survey_row=67,
    oracle="""
    WITH counts AS (
        SELECT source, count(*) AS n_docs, sum(n_chars) AS n_chars
        FROM documents GROUP BY source
    ),
    weighted AS (
        SELECT source, n_docs, n_chars,
               CAST(floor(sqrt(n_chars)) AS BIGINT) AS w
        FROM counts
    ),
    tot AS (SELECT sum(w) AS wsum, sum(n_chars) AS csum FROM weighted)
    SELECT source,
           n_docs::BIGINT AS n_docs,
           n_chars::BIGINT AS n_chars,
           w AS weight_isqrt,
           CAST((1000000 * w) // wsum AS BIGINT) AS quota_ppm,
           round(((1000000 * w) // wsum)
                 / round(1000000.0 * n_chars / csum, 0), 6)
               AS upsample_vs_natural
    FROM weighted, tot
    ORDER BY source
    """,
)
def pipeline_mixture_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED MIXTURE WEIGHTS (α = 0.5) — the third data-
    mixing policy beside `pipeline_domain_mix` (hard quotas) and
    `pipeline_mixture_epochs` (fixed fractional epochs): sample
    source i proportional to (size_i)^α, the exponent family
    multilingual/multi-source pretraining uses to up-weight small
    sources without letting any one source dominate (α=1 is natural
    sampling, α=0 uniform; 0.3–0.7 is the published band). α = 1/2
    is computed as ISQRT — floor(sqrt(n_chars)) — so the weight is an
    exact integer on both engines (IEEE sqrt is correctly rounded and
    both engines floor the same double; no float leaves the row),
    and the mixing quota is exact integer arithmetic: quota_ppm =
    (10⁶·w) div Σw. The report also states each source's up-sampling
    factor vs natural (char-proportional) sampling — the number a
    mixing review asks for first.

    Scale shape: one map-side-combined rollup to |sources| rows, a
    1-row total broadcast back, integer division — the weights frame
    is metadata-sized at any corpus size, so the policy costs one agg
    regardless of scale; materialization reuses the same
    deterministic md5-draw machinery as the epochs plan."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    weighted = counts.select(
        "source",
        "n_docs",
        "n_chars",
        F.floor(F.sqrt(F.col("n_chars"))).cast("long").alias("weight_isqrt"),
    )
    tot = weighted.agg(
        F.sum("weight_isqrt").alias("wsum"),
        F.sum("n_chars").alias("csum"),
    )
    quota = F.expr("(1000000 * weight_isqrt) div wsum")
    natural_ppm = F.round(1000000.0 * F.col("n_chars") / F.col("csum"), 0)
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_chars",
            "weight_isqrt",
            quota.cast("long").alias("quota_ppm"),
            F.round(quota / natural_ppm, 6).alias("upsample_vs_natural"),
        )
        .orderBy("source")
    )


@register(
    "dedup_substring_spans",
    survey_row=68,
    oracle="""
    WITH d AS (
        SELECT doc_id, source, string_split(lower(text), ' ') AS w
        FROM documents
    ),
    pos AS (
        SELECT doc_id, source, i,
               w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
               || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
               || ' ' || w[i+8] AS g
        FROM d, unnest(range(len(w) - 7)) r(i)
    ),
    df AS (
        SELECT g FROM pos GROUP BY g
        HAVING count(DISTINCT doc_id) > 1
    ),
    dup AS (
        SELECT p.doc_id, p.source, p.i,
               CASE WHEN p.i - lag(p.i) OVER (
                   PARTITION BY p.doc_id ORDER BY p.i) >= 8
               THEN 1 ELSE 0 END AS brk
        FROM pos p JOIN df USING (g)
    ),
    isl AS (
        SELECT doc_id, source, i,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
        FROM dup
    ),
    spans AS (
        SELECT doc_id, source,
               max(i) - min(i) + 8 AS span_words
        FROM isl GROUP BY doc_id, source, island
    ),
    per_doc AS (
        SELECT doc_id, source, count(*) AS n_spans,
               max(span_words) AS max_span_words,
               sum(span_words) AS covered_words
        FROM spans GROUP BY doc_id, source
    ),
    corpus AS (
        SELECT source, sum(len(w)) AS total_words FROM d GROUP BY source
    )
    SELECT c.source,
           coalesce(count(p.doc_id), 0)::BIGINT AS n_docs_with_spans,
           coalesce(sum(p.n_spans), 0)::BIGINT AS n_spans,
           coalesce(max(p.max_span_words), 0)::BIGINT AS max_span_words,
           coalesce(sum(p.covered_words), 0)::BIGINT AS covered_words,
           c.total_words::BIGINT AS total_words,
           round(coalesce(sum(p.covered_words), 0) * 1.0
                 / c.total_words, 6) AS covered_frac
    FROM corpus c LEFT JOIN per_doc p USING (source)
    GROUP BY c.source, c.total_words ORDER BY c.source
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING DEDUP SPANS (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the span-removal
    form, public): per document, merge the word positions covered by
    cross-document duplicated 8-grams (distinct-doc df ≥ 2) into
    MAXIMAL SPANS — a gaps-and-islands pass where a new island starts
    when the next duplicated gram position no longer overlaps the
    previous one's 8-word window (gap ≥ 8) — then roll up per source
    the span structure a substring-dedup pass would actually cut:
    span count, longest span, and the exact number of word positions
    covered. `text_dup_ngram_coverage` counts duplicated GRAM
    positions; this op resolves them into disjoint WORD intervals —
    the difference between "how much is duplicated" and "what would
    removal delete", and the reason covered_frac < dup_coverage on
    bursty boilerplate (overlapping grams collapse into one span).

    Shape: one posexplode to (position, 8-gram); the gram inverted
    index collapsed to distinct-doc df (map-side combined) with the
    df > 1 survivors semi-joined back onto the position stream — one
    gram-keyed exchange, the same index every near-dup op builds;
    then islands via a per-doc window (lag + running sum — state
    bounded by a single doc's dup positions) and pure integer
    rollups. At 100 TB the gram index is the scale object (bucketable
    by gram hash; ultra-high-df grams cap out exactly like minhash
    band buckets), and the window stage partitions by doc_id —
    embarrassingly parallel, no global ordering anywhere. Only the
    presentation ratio is a float; every accumulator is an integer.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split(F.lower(F.col("text")), " ").alias("w")
    )
    pos = d.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                "CASE WHEN size(w) >= 8 THEN"
                " transform(sequence(0, size(w) - 8),"
                " i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],"
                " w[i+4], w[i+5], w[i+6], w[i+7]))"
                " ELSE array() END"
            )
        ).alias("i", "g"),
    )
    # distinct-doc df per gram: collapse (g, doc) first (map-side
    # combined), then a gram-partitioned window count — one exchange.
    gd = pos.select("g", "doc_id").groupBy("g", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    dup_grams = (
        gd.select("g", F.count(F.lit(1)).over(Window.partitionBy("g")).alias("df"))
        .filter(F.col("df") > 1)
        .select("g")
        .distinct()
    )
    dup_pos = pos.join(dup_grams, "g", "left_semi")
    wdoc = Window.partitionBy("doc_id").orderBy("i")
    isl = dup_pos.select(
        "doc_id",
        "source",
        "i",
        F.sum(
            F.when(F.col("i") - F.lag("i").over(wdoc) >= 8, 1).otherwise(0)
        )
        .over(wdoc.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    spans = isl.groupBy("doc_id", "source", "island").agg(
        (F.max("i") - F.min("i") + 8).alias("span_words")
    )
    per_doc = spans.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.max("span_words").alias("max_span_words"),
        F.sum("span_words").alias("covered_words"),
    )
    corpus = d.groupBy("source").agg(F.sum(F.size("w")).alias("total_words"))
    return (
        corpus.join(per_doc, "source", "left_outer")
        .groupBy("source", "total_words")
        .agg(
            F.count("doc_id").cast("long").alias("n_docs_with_spans"),
            F.coalesce(F.sum("n_spans"), F.lit(0))
            .cast("long")
            .alias("n_spans"),
            F.coalesce(F.max("max_span_words"), F.lit(0))
            .cast("long")
            .alias("max_span_words"),
            F.coalesce(F.sum("covered_words"), F.lit(0))
            .cast("long")
            .alias("covered_words"),
            F.round(
                F.coalesce(F.sum("covered_words"), F.lit(0))
                * 1.0
                / F.col("total_words"),
                6,
            ).alias("covered_frac"),
        )
        .select(
            "source",
            "n_docs_with_spans",
            "n_spans",
            "max_span_words",
            "covered_words",
            F.col("total_words").cast("long").alias("total_words"),
            "covered_frac",
        )
        .orderBy("source")
    )
