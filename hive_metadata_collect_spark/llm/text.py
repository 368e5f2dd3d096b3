"""Text analysis for training-data pipelines — SURVEY.md §2.11
(#71–73) plus language-ID, quality scoring, token counting, and
rolling-hash fingerprinting (driver-mandated text ops).

Scale notes: everything here is explode/groupBy/join on builtin
functions — whole-stage codegen end to end, no Python in any hot
path. Wordcount-style aggs benefit from partial aggregation (token
counts collapse before the shuffle); TF-IDF is two narrow aggregates
plus one broadcast-able join on the term dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hive_metadata_collect_spark.plans.explain import plan_size_bytes
from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.sources.fixtures import load_table, spread_small

# Plan-time scan-size gate for the exact-duplicate text collapse
# (text_vocab_coverage): below this, the collapse's two join-backs
# cost more than the duplicate work they remove (measured sf0.1
# 0.25 s → 0.63 s on a near-unique corpus; −36 % at 100×-dup sf10).
_VOCAB_COLLAPSE_GATE_BYTES = 2 << 20


@register(
    "text_wordcount",
    survey_row=71,
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    GROUP BY word
    ORDER BY n DESC, word ASC
    LIMIT 20
    """,
)
def text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 tokens: explode → partial-agg count → top-k."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(20)
    )


@register(
    "text_lang_stats",
    survey_row=72,
    oracle="""
    SELECT lang, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           count(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc counts / size / source spread."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "text_tfidf_topterms",
    survey_row=73,
    oracle="""
    WITH tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
              FROM documents)
        GROUP BY doc_id, word
    ), df AS (
        SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY word
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, word AS top_term,
           round(tf * ln(n_docs / df), 6) AS tfidf
    FROM (
        SELECT tf.doc_id, tf.word, tf.tf, df.df, n.n_docs,
               row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf * ln(n.n_docs / df.df) DESC, tf.word ASC) AS rn
        FROM tf JOIN df USING (word) CROSS JOIN n
    ) ranked
    WHERE rn = 1
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top TF-IDF term per document, pure DataFrame (no MLlib):
    term counts → document frequencies (broadcast-able term dim) →
    score → row_number top-1 per doc."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()  # scalar dimension; at scale keep as 1-row broadcast
    tf = (
        d.select(
            "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    score = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("word").asc())
    return (
        tf.join(F.broadcast(df), "word")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("word").alias("top_term"), F.round(score, 6).alias("tfidf"))
    )


@register(
    "text_lang_id",
    survey_row=72,
    oracle="""
    SELECT doc_id, lang,
           CASE
             WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
             WHEN regexp_matches(text, '[ßäöü]') THEN 'de'
             WHEN regexp_matches(text, '[áíóúñ]') THEN 'es'
             WHEN regexp_matches(text, '[àâçèéêë]') THEN 'fr'
             ELSE 'en'
           END AS lang_pred
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID from character-class evidence (CJK →
    zh; diacritic classes → de/es/fr; default en) — the classic
    cheap first-pass filter before model-based LID. Emits the fixture
    label alongside for accuracy eyeballing; the oracle runs the
    identical rule so the check is exactness of the rule, not truth."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    pred = (
        F.when(t.rlike("[一-鿿]"), "zh")
        .when(t.rlike("[ßäöü]"), "de")
        .when(t.rlike("[áíóúñ]"), "es")
        .when(t.rlike("[àâçèéêë]"), "fr")
        .otherwise("en")
    )
    return d.select("doc_id", "lang", pred.alias("lang_pred"))


@register(
    "text_quality_score",
    survey_row=72,
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           round(len(text) / len(string_split(text, ' ')), 6) AS avg_token_len,
           round(len(list_filter(string_split(text, ' '),
                                 w -> w IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE
                 / len(string_split(text, ' ')), 6) AS stopword_ratio,
           len(text) >= 100 AND len(string_split(text, ' ')) >= 20 AS passes_length
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals per document (Gopher/C4-style
    length + stopword-density filters): token count, mean token
    length, stopword ratio, length-gate flag."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words)
    stop = F.size(
        F.filter(words, lambda w: w.isin("the", "a", "of", "and", "to"))
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(F.length("text") / n_tokens, 6).alias("avg_token_len"),
        F.round(stop.cast("double") / n_tokens, 6).alias("stopword_ratio"),
        ((F.length("text") >= 100) & (n_tokens >= 20)).alias("passes_length"),
    )


@register(
    "text_token_count",
    survey_row=71,
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS bpe_ish_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish
    regex (letter runs / digit runs / single symbols) — the cheap
    proxy for tokenizer-budget estimation over a corpus."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), F.lit(0)
            )
        ).alias("bpe_ish_tokens"),
    )


@register(
    "text_fingerprint",
    survey_row=67,
    oracle="""
    SELECT doc_id,
           md5(text) AS full_fp,
           md5(array_to_string((string_split(text, ' '))[1:8], ' '))
               AS prefix_fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via content digests (full text + an
    8-token prefix block) for cheap shard-local duplicate candidate
    blocking. The digest is md5 — bit-identical across engines, which
    makes this a hash-exact oracle check rather than a rows-only one
    (xxhash64 values are reproduced by no other engine). In production
    the knob is a cheaper non-cryptographic 64-bit hash (xxhash64 — same
    plan shape, ~3× cheaper per byte); the blocking SEMANTICS (equal
    text ⇒ equal fingerprint, shared prefix ⇒ candidate pair) are
    digest-agnostic. Narrow, shuffle-free, codegen end to end."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("full_fp"),
        F.md5(
            F.encode(
                F.array_join(F.slice(F.split(F.col("text"), " "), 1, 8), " "),
                "UTF-8",
            )
        ).alias("prefix_fp"),
    )


@register(
    "text_bigram_topk",
    survey_row=71,
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    SELECT z[1] || ' ' || z[2] AS bigram, count(*) AS n
    FROM w, unnest(list_zip(ws[1:-2], ws[2:])) AS t(z)
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 word bigrams: zip_with pairs each token with its
    successor inside Catalyst (no Python), explode, count. The n-gram
    generation is per-row and shuffle-free; the only shuffle is the
    bigram count — at corpus scale, partial aggregation collapses it
    to |vocab²∩corpus| rows, and a count-min sketch or a pre-filter on
    document frequency caps the tail if the bigram space explodes."""
    ws = F.split(F.col("text"), " ")
    pairs = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    # Single-row-group fixture file → 1 scan task; spread the small
    # input before the CPU-heavy pair/explode stage (size-gated no-op
    # at scale — see spread_small).
    return (
        spread_small(spark, sf_dir, "documents", cols=["text"])
        .select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


@register(
    "text_unigram_logprob",
    survey_row=72,
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ),
    freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT sum(c)::DOUBLE AS t FROM freq)
    SELECT doc_id,
           count(*)::BIGINT AS n_tokens,
           round(avg(log10(c / t)), 6) AS avg_logprob
    FROM tok JOIN freq USING (w), tot
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram log-probability per document — the
    frequency-based fluency/quality proxy of a training-data pipeline
    (documents full of corpus-rare tokens score low; perplexity's
    cheap unigram cousin).

    Two-pass shape: pass 1 builds the unigram model (token → count,
    one partially-aggregated shuffle; the model is |vocab|-bounded),
    pass 2 joins it back onto the exploded token stream and averages
    log10 p(w) per document. The model join is left to AQE: at
    fixture scale the vocab broadcasts; at web scale a natural-
    language vocab still tops out in the low millions of rows —
    broadcastable — while a truly unbounded key space (URLs, ids)
    degrades gracefully to a shuffled join on the token key."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").cast("double").alias("t"))
    return (
        tok.join(freq, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log10(F.col("c") / F.col("t"))), 6).alias(
                "avg_logprob"
            ),
        )
    )


@register(
    "text_bigram_logprob",
    survey_row=72,
    oracle="""
    WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
               FROM documents),
    big AS MATERIALIZED (
        SELECT doc_id, z[1] AS w1, z[2] AS w2
        FROM w, unnest(list_zip(ws[1:-2], ws[2:])) AS t(z)
    ),
    cb AS MATERIALIZED (
        SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2
    ),
    model AS (
        SELECT w1, w2,
               log10((cb + 1.0) /
                     (sum(cb) OVER (PARTITION BY w1) +
                      (SELECT count(DISTINCT w1) FROM cb))) AS logp
        FROM cb
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_bigrams,
           round(avg(logp), 6) AS avg_logprob
    FROM big JOIN model USING (w1, w2)
    GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-1-smoothed bigram language-model score per document — the
    CCNet-style perplexity filter of a pretraining pipeline, one
    modeling step up from text_unigram_logprob: P(wᵢ|wᵢ₋₁) =
    (c(wᵢ₋₁wᵢ)+1)/(c(wᵢ₋₁)+V), averaged in log10 per doc. V is the
    context vocabulary (distinct wᵢ₋₁), so the whole model — pair
    counts, per-context totals, smoothing denominator, final log-prob
    — derives from ONE |bigram-vocab|-bounded aggregate of the
    exploded pair stream: 3 shuffles total (pair counts; the
    vocab-sized window over them; per-doc average), not a separate
    pass per model table. Scoring re-joins the finished model onto
    the pair stream — AQE broadcasts it at fixture scale and degrades
    to a shuffled join beyond broadcast size. Documents with fewer
    than two tokens carry no bigram evidence and drop out (an
    upstream length filter removes them in a real pipeline)."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.col("text")), " ")
    pairs = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = d.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    v = cb.select(F.countDistinct("w1").cast("double").alias("v"))
    cu_w = Window.partitionBy("w1")
    model = cb.crossJoin(F.broadcast(v)).select(
        "w1",
        "w2",
        F.log10(
            (F.col("cb") + 1.0) / (F.sum("cb").over(cu_w) + F.col("v"))
        ).alias("logp"),
    )
    return (
        big.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("logp"), 6).alias("avg_logprob"),
        )
    )


#: Chunking geometry: ~CHUNK_TOKENS-token chunks, CHUNK_OVERLAP-token
#: overlap → stride CHUNK_TOKENS - CHUNK_OVERLAP.
CHUNK_TOKENS = 50
CHUNK_OVERLAP = 10
_CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


@register(
    "text_chunk_overlap",
    survey_row=71,
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    c AS (SELECT doc_id, toks,
                 CASE WHEN len(toks) <= {CHUNK_TOKENS} THEN 1
                      ELSE CAST(ceil((len(toks) - {CHUNK_TOKENS})
                                     / {_CHUNK_STRIDE}.0) AS INT) + 1
                 END AS nc
          FROM t)
    SELECT doc_id,
           ix::BIGINT AS chunk_ix,
           array_to_string(
               toks[ix * {_CHUNK_STRIDE} + 1 :
                    ix * {_CHUNK_STRIDE} + {CHUNK_TOKENS}], ' '
           ) AS chunk_text,
           len(toks[ix * {_CHUNK_STRIDE} + 1 :
                    ix * {_CHUNK_STRIDE} + {CHUNK_TOKENS}])::BIGINT
               AS n_tokens
    FROM c, unnest(range(nc)) AS u(ix)
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the step a training-data
    pipeline runs before embedding/tokenizing: split each document
    into ~CHUNK_TOKENS-token chunks with CHUNK_OVERLAP tokens of
    overlap (stride 40). Pure Catalyst: split → sequence over the
    chunk count → explode → slice/array_join; no Python UDF. Each
    output row carries (doc_id, chunk_ix, chunk_text, n_tokens);
    reassembling chunk 0 plus every later chunk minus its leading
    overlap reproduces the token stream exactly (property-tested).
    Scale: explode fan-out is ~n_tokens/stride per doc and the op is
    embarrassingly parallel — no shuffle at all; the chunker inherits
    the scan's partitioning."""
    d = spread_small(spark, sf_dir, "documents", cols=["doc_id", "text"])
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    nc = (
        F.when(n <= CHUNK_TOKENS, 1)
        .otherwise(
            F.ceil((n - CHUNK_TOKENS) / F.lit(float(_CHUNK_STRIDE))).cast(
                "int"
            )
            + 1
        )
    )
    base = d.select(
        "doc_id", toks.alias("toks"), nc.alias("nc")
    ).select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("ix"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("ix") * _CHUNK_STRIDE + 1, F.lit(CHUNK_TOKENS)
    )
    return base.select(
        "doc_id",
        F.col("ix").cast("long").alias("chunk_ix"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"),
    )


#: PII patterns in the Java-regex ∩ RE2 common dialect (no lookarounds,
#: no backrefs) so Spark and DuckDB match identically.
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


@register(
    "text_pii_redact",
    survey_row=71,
    oracle=f"""
    WITH synth AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@example.com or ' ||
               lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-555-' ||
               lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_PII_EMAIL}'))::BIGINT
               AS n_emails,
           len(regexp_extract_all(text, '{_PII_PHONE}'))::BIGINT
               AS n_phones,
           length(regexp_replace(regexp_replace(text, '{_PII_EMAIL}',
               '[EMAIL]', 'g'), '{_PII_PHONE}', '[PHONE]', 'g'))::BIGINT
               AS redacted_len
    FROM synth
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the compliance pass a training-data pipeline
    runs before anything else: count and redact emails / phone
    numbers per document. The fixture corpus carries no PII, so a
    deterministic synthetic address + phone is appended per doc_id in
    BOTH engines; the operator itself is regexp_extract_all +
    regexp_replace, whole-stage codegen end to end (no Python).
    Patterns stay inside the Java-regex ∩ RE2 common dialect so both
    engines tokenize identically. Embarrassingly parallel at scale —
    no shuffle, inherits scan partitioning."""
    d = spread_small(spark, sf_dir, "documents", cols=["doc_id", "text"])
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or "),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(synth, _PII_EMAIL, "[EMAIL]"),
        _PII_PHONE,
        "[PHONE]",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(synth, F.lit(_PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(synth, F.lit(_PII_PHONE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


_PACK_CTX = 512  # context-window token budget for sequence packing


@register(
    "pipeline_pack_sequences",
    survey_row=71,
    oracle=f"""
    SELECT lang, doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           (coalesce(sum(len(string_split(text, ' ')))
                OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) // {_PACK_CTX})::BIGINT AS bin_id,
           (coalesce(sum(len(string_split(text, ' ')))
                OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) % {_PACK_CTX})::BIGINT AS bin_offset
    FROM documents
    """,
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing planner — the concat-and-chunk step a
    pretraining pipeline runs to fill fixed context windows: within
    each language stream (deterministic doc_id order), documents are
    laid head-to-tail and every _PACK_CTX tokens starts a new bin;
    each doc gets its (bin_id, bin_offset) placement. Docs straddle
    bin boundaries by design (concat-and-chunk, not first-fit — the
    standard pretraining packing that wastes zero tokens). One
    shuffle on lang; the placement is a running-sum window (the
    1-preceding frame gives each doc its START offset). At 100 TB the
    lang partition becomes (lang, shard) so no single stream
    serializes — packing only needs to be deterministic per stream,
    not global."""
    d = spread_small(spark, sf_dir, "documents", cols=["doc_id", "lang", "text"])
    n_tokens = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(n_tokens).over(w), F.lit(0))
    return d.select(
        "lang",
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.floor(start / _PACK_CTX).alias("bin_id"),
        (start % _PACK_CTX).alias("bin_offset"),
    )


@register(
    "text_repetition_score",
    survey_row=72,
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    words AS (SELECT doc_id, unnest(w) AS word FROM d),
    wc AS (SELECT doc_id, word, count(*) AS c FROM words GROUP BY 1, 2),
    ws AS (
        SELECT doc_id, sum(c) AS n_words, max(c) AS top_cnt
        FROM wc GROUP BY 1
    ),
    idx AS (
        SELECT doc_id, w, unnest(range(len(w) - 2)) AS i FROM d
    ),
    tri AS (
        SELECT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS g
        FROM idx
    ),
    tc AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
    ts AS (
        SELECT doc_id, sum(c) AS n_tri,
               sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_tri
        FROM tc GROUP BY 1
    )
    SELECT ws.doc_id,
           n_words::BIGINT AS n_words,
           round(top_cnt / n_words, 4) AS top_word_frac,
           round(dup_tri / n_tri, 4) AS dup_3gram_frac,
           (top_cnt / n_words <= 0.2 AND dup_tri / n_tri <= 0.3) AS keep
    FROM ws JOIN ts ON ws.doc_id = ts.doc_id
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style REPETITION quality filter: per-doc
    top-word fraction and duplicate-3-gram fraction (the two signals
    that catch boilerplate/spam pages), plus the keep verdict at the
    published-style thresholds (top word ≤ 0.2, dup 3-grams ≤ 0.3).
    Trigrams come from a JVM-side transform over the token array
    (sequence + lambda — no Python, no UDF); both signals reduce via
    (doc, gram) partial counts then a per-doc rollup, so the shuffle
    carries gram COUNTS, never gram text duplicated per occurrence
    beyond the explode. Docs under 3 tokens emit no trigram row and
    drop from the output (fraction undefined), identically on both
    engines. Fractions are ratios of small exact integers —
    deterministic across engines. At 100 TB this is embarrassingly
    parallel per doc; the only shuffle key is doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    # The signature-collapse recipe: both signals are PURE FUNCTIONS OF
    # THE TEXT, so the whole explode/count pipeline runs over DISTINCT
    # texts only (sf10: 4 992 of 500 000 docs) and per-doc rows are
    # recovered by one signature join at the end — AQE picks the join
    # strategy, so an all-unique corpus degrades to one extra
    # metadata-width shuffle. Words and trigrams shuffle as xxhash64
    # DIGESTS, not text (collisions merge counts within one text only;
    # ~n²/2⁶⁵ odds — negligible and hash-verified at every swept SF);
    # the gram string never materializes at all. Measured: digests alone
    # sf10 7.4 s → 4.7 s; + the collapse → 1.2 s. Dead end (measured):
    # fusing both signals into ONE tagged-struct explode + single (key,
    # kind, h) shuffle ran 1.6× SLOWER at sf0.1 — the struct-array
    # concat/explode costs more than the second exchange saves.
    sig = F.xxhash64(F.lower(F.col("text")))
    mem = docs.select("doc_id", sig.alias("sig"))
    reps = mem.groupBy("sig").agg(F.min("doc_id").alias("rep_doc"))
    d = (
        docs.select("doc_id", "text")
        .join(reps.select(F.col("rep_doc").alias("doc_id"), "sig"), "doc_id")
        .select("sig", F.split(F.lower(F.col("text")), " ").alias("w"))
    )
    words = d.select(
        "sig",
        F.explode(F.expr("transform(w, x -> xxhash64(x))")).alias("word"),
    )
    ws = (
        words.groupBy("sig", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("sig")
        .agg(F.sum("c").alias("n_words"), F.max("c").alias("top_cnt"))
    )
    tri = d.select(
        "sig",
        F.explode(
            # guard: sequence(0, n) DESCENDS when n < 0, so a <3-token
            # doc would fabricate grams from null-padded wraparound —
            # emit an empty gram list instead (the doc then has no
            # trigram row, same as the oracle's empty unnest(range))
            F.expr(
                "CASE WHEN size(w) >= 3 THEN"
                " transform(sequence(0, size(w) - 3),"
                " i -> xxhash64(w[i], w[i+1], w[i+2]))"
                " ELSE CAST(array() AS array<bigint>) END"
            )
        ).alias("g"),
    )
    ts = (
        tri.groupBy("sig", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("sig")
        .agg(
            F.sum("c").alias("n_tri"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias(
                "dup_tri"
            ),
        )
    )
    top_frac = F.col("top_cnt") / F.col("n_words")
    dup_frac = F.col("dup_tri") / F.col("n_tri")
    # <3-token texts have no ts row and their docs drop through the
    # inner joins, exactly as in the per-doc form
    return mem.join(ws.join(ts, "sig"), "sig").select(
        "doc_id",
        "n_words",
        F.round(top_frac, 4).alias("top_word_frac"),
        F.round(dup_frac, 4).alias("dup_3gram_frac"),
        ((top_frac <= 0.2) & (dup_frac <= 0.3)).alias("keep"),
    )


@register(
    "pipeline_domain_mix",
    survey_row=67,
    oracle="""
    WITH docs AS (
        SELECT doc_id,
               CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) % 4
                   AS domain
        FROM documents
    ),
    wt AS (
        SELECT i::INT AS domain, [4, 3, 2, 1][i + 1] AS weight
        FROM range(4) t(i)
    ),
    avail AS (SELECT domain, count(*) AS n_avail FROM docs GROUP BY 1),
    s AS (
        SELECT min((n_avail * 10) // weight) AS scale
        FROM avail JOIN wt USING (domain)
    ),
    quota AS (
        SELECT domain, ((weight * scale) // 10)::BIGINT AS k
        FROM wt, s
    ),
    ranked AS (
        SELECT doc_id, domain,
               row_number() OVER (
                   PARTITION BY domain
                   ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        FROM docs
    ),
    sel AS (
        SELECT r.domain, count(*) AS n_selected
        FROM ranked r JOIN quota q ON r.domain = q.domain AND r.rn <= q.k
        GROUP BY 1
    )
    SELECT a.domain::INT AS domain,
           a.n_avail::BIGINT AS n_available,
           sel.n_selected::BIGINT AS n_selected,
           round(sel.n_selected / sum(sel.n_selected) OVER (), 4)
               AS achieved_share
    FROM avail a JOIN sel ON a.domain = sel.domain
    """,
)
def pipeline_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data MIXTURE planner + sampler: hit target domain
    proportions (4:3:2:1 here) from unequal availability. The largest
    feasible corpus scale S satisfies weight_d/10 * S ≤ n_d for every
    domain, so S = min((n_d*10) div w_d) and quota_d = (w_d*S) div 10
    — ALL-INTEGER arithmetic (no float rounding can flip a quota
    across engines). Selection is deterministic: per-domain md5-rank
    take-quota, so re-runs and both engines pick identical documents.
    Scale: the planner aggregates |domains| rows and broadcasts;
    ranking is the top-k-per-group window (per-domain sort). At 100 TB
    swap the exact rank for an md5-threshold cut (rank ≤ k ⇔ hash <
    per-domain quantile) to avoid the global per-domain sort — the
    planner math is unchanged."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.regexp_extract("source", r"src(\d+)", 1).cast("int") % 4
        ).alias("domain"),
    )
    wt = spark.range(4).select(
        F.col("id").cast("int").alias("domain"),
        F.element_at(
            F.array(F.lit(4), F.lit(3), F.lit(2), F.lit(1)),
            F.col("id").cast("int") + 1,
        ).alias("weight"),
    )
    avail = docs.groupBy("domain").agg(F.count(F.lit(1)).alias("n_avail"))
    s = (
        avail.join(F.broadcast(wt), "domain")
        .agg(
            F.min(F.expr("(n_avail * 10) div weight")).alias("scale")
        )
    )
    quota = wt.join(F.broadcast(s)).select(
        "domain", F.expr("(weight * scale) div 10").alias("k")
    )
    w = Window.partitionBy("domain").orderBy(
        F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), "doc_id"
    )
    ranked = docs.withColumn("rn", F.row_number().over(w))
    sel = (
        ranked.join(F.broadcast(quota), "domain")
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_selected"))
    )
    total = Window.partitionBy()
    return (
        avail.join(sel, "domain")
        .select(
            "domain",
            F.col("n_avail").alias("n_available"),
            "n_selected",
            F.round(
                F.col("n_selected") / F.sum("n_selected").over(total), 4
            ).alias("achieved_share"),
        )
    )


@register(
    "text_ngram_novelty",
    survey_row=72,
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    idx2 AS (
        SELECT doc_id, w, unnest(range(len(w) - 2)) AS i FROM d
    ),
    tri AS (
        SELECT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS g
        FROM idx2
    ),
    first_seen AS (
        SELECT g, min(doc_id) AS first_doc FROM tri GROUP BY g
    )
    SELECT t.doc_id,
           count(*)::BIGINT AS n_grams,
           sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)::BIGINT
               AS n_novel,
           round(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                 / count(*), 4) AS novelty
    FROM tri t JOIN first_seen f ON t.g = f.g
    GROUP BY t.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY vs the corpus-so-far: per doc, the fraction of
    its 3-grams whose FIRST occurrence (by doc_id ingestion order) is
    this doc — the incremental-crawl signal that separates fresh
    content from recombined boilerplate (a doc of only already-seen
    grams scores 0). Two shuffles: the gram inverted index (min doc_id
    per gram — |vocab|-bounded, the same index the near-dup ops
    build) joined back to the per-doc gram stream, then the doc
    rollup. A gram occurring twice in its first doc counts novel on
    each occurrence, identically in both engines. Sub-3-token docs
    drop (no grams), same guard as `text_repetition_score`. At 100 TB
    the index is the scale object: it's gram-keyed, bucketable, and
    incrementally mergeable by min."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("w")
    )
    tri = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 3 THEN"
                " transform(sequence(0, size(w) - 3),"
                " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
                " ELSE array() END"
            )
        ).alias("g"),
    )
    first_seen = tri.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        tri.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(novel).alias("n_novel"),
            F.round(F.sum(novel) / F.count(F.lit(1)), 4).alias("novelty"),
        )
    )


@register(
    "pipeline_quality_report",
    survey_row=72,
    oracle="""
    WITH d AS (
        SELECT doc_id, lang, text,
               len(string_split(lower(text), ' ')) AS n_words,
               len(regexp_replace(lower(text), '[^a-z ]', '', 'g'))
                   * 1.0 / greatest(len(text), 1) AS alpha_ratio
        FROM documents
    ),
    staged AS (
        SELECT lang,
               (n_words < 12) AS drop1,
               (n_words >= 12 AND alpha_ratio < 0.6) AS drop2
        FROM d
    )
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN drop1 THEN 1 ELSE 0 END)::BIGINT
               AS dropped_too_short,
           sum(CASE WHEN drop2 THEN 1 ELSE 0 END)::BIGINT
               AS dropped_low_alpha,
           sum(CASE WHEN NOT drop1 AND NOT drop2 THEN 1 ELSE 0 END)::BIGINT
               AS kept,
           round(sum(CASE WHEN NOT drop1 AND NOT drop2 THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS keep_rate
    FROM staged
    GROUP BY lang
    """,
)
def pipeline_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-FUNNEL REPORT — the per-stage accounting a training-data
    org tracks for every corpus release: docs dropped at stage 1
    (too short), dropped at stage 2 AMONG STAGE-1 SURVIVORS (low
    alphabetic ratio — the OCR-garbage signal), kept, and keep rate,
    per language. Sequential semantics matter: a doc failing both
    filters is charged to the FIRST stage only, so the stage columns
    sum to n_docs and the funnel is auditable. Pure codegen flags
    (split/regexp_replace), one |langs|-group shuffle. At 100 TB this
    is the observability layer over `pipeline_clean_corpus` — same
    predicates, aggregated instead of applied."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.split(F.lower(F.col("text")), " ")).alias("n_words"),
        (
            F.length(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", "")
            )
            * 1.0
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("alpha_ratio"),
    )
    drop1 = F.col("n_words") < 12
    drop2 = (F.col("n_words") >= 12) & (F.col("alpha_ratio") < 0.6)
    kept = ~drop1 & ~drop2
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(drop1.cast("int")).alias("dropped_too_short"),
        F.sum(drop2.cast("int")).alias("dropped_low_alpha"),
        F.sum(kept.cast("int")).alias("kept"),
        F.round(
            F.sum(kept.cast("int")) * 1.0 / F.count(F.lit(1)), 4
        ).alias("keep_rate"),
    )


@register(
    "text_corpus_divergence",
    survey_row=72,
    oracle="""
    WITH words AS (
        SELECT lang, unnest(string_split(lower(text), ' ')) AS word
        FROM documents
    ),
    dist AS (
        SELECT lang, word,
               count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY lang)
                   AS p
        FROM words GROUP BY lang, word
    ),
    en AS (SELECT word, p AS q FROM dist WHERE lang = 'en'),
    en_expanded AS (
        SELECT l.lang, en.word, en.q
        FROM (SELECT DISTINCT lang FROM dist WHERE lang <> 'en') l, en
    ),
    joined AS (
        SELECT coalesce(d.lang, e.lang) AS lang,
               coalesce(d.p, 0.0) AS p,
               coalesce(e.q, 0.0) AS q
        FROM (SELECT * FROM dist WHERE lang <> 'en') d
        FULL OUTER JOIN en_expanded e
          ON d.lang = e.lang AND d.word = e.word
    )
    SELECT lang,
           round(sum(
               CASE WHEN p > 0 THEN 0.5 * p * ln(2.0 * p / (p + q))
                    ELSE 0 END
               + CASE WHEN q > 0 THEN 0.5 * q * ln(2.0 * q / (p + q))
                      ELSE 0 END), 4) AS js_divergence,
           sum(CASE WHEN p > 0 AND q > 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_shared_words
    FROM joined
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS DRIFT metric: Jensen-Shannon divergence between each
    language's unigram distribution and English — the statistic a
    data org tracks across crawl snapshots to catch distribution
    shift (same math, different axis: here the axis is language, in
    production it's snapshot date). Full-outer join of each lang's
    distribution against the (broadcastable, |vocab|-sized) English
    one, expanded per comparison language so each pair sees the
    complete English support; one-sided words contribute their
    half-KL term with the other side at zero, via explicit guards —
    identical term-by-term in both engines, rounded after the sum.
    Caveat stated per house rules: per-lang full-outer arms can't
    broadcast the probe side, so the shuffle is |vocab × langs| —
    still vocabulary-bounded, never corpus-bounded."""
    words = load_table(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    )
    wl = Window.partitionBy("lang")
    dist = (
        words.groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "lang", "word", (F.col("c") * 1.0 / F.sum("c").over(wl)).alias("p")
        )
    )
    en = dist.filter(F.col("lang") == "en").select(
        F.col("word").alias("en_word"), F.col("p").alias("q")
    )
    other = dist.filter(F.col("lang") != "en")
    # expand the en distribution once per comparison language so each
    # (lang, en) pair sees ALL en-only words — a single global
    # full-outer would drop their q-mass for every lang where some
    # OTHER lang matched the word, biasing the divergence low
    langs = other.select("lang").distinct().select(
        F.col("lang").alias("e_lang")
    )
    en_expanded = F.broadcast(langs).crossJoin(en)
    joined = other.join(
        en_expanded,
        (other.lang == en_expanded.e_lang)
        & (other.word == en_expanded.en_word),
        "full_outer",
    ).select(
        F.coalesce(F.col("lang"), F.col("e_lang")).alias("lang"),
        F.coalesce(F.col("p"), F.lit(0.0)).alias("p"),
        F.coalesce(F.col("q"), F.lit(0.0)).alias("q"),
    )
    term = F.when(
        F.col("p") > 0,
        0.5 * F.col("p") * F.log(2.0 * F.col("p") / (F.col("p") + F.col("q"))),
    ).otherwise(0.0) + F.when(
        F.col("q") > 0,
        0.5 * F.col("q") * F.log(2.0 * F.col("q") / (F.col("p") + F.col("q"))),
    ).otherwise(0.0)
    shared = F.when((F.col("p") > 0) & (F.col("q") > 0), 1).otherwise(0)
    return (
        joined.groupBy("lang")
        .agg(
            F.round(F.sum(term), 4).alias("js_divergence"),
            F.sum(shared).alias("n_shared_words"),
        )
        .orderBy("lang")
    )


@register(
    "text_code_detect",
    survey_row=72,
    oracle="""
    WITH feats AS (
        SELECT doc_id, lang, greatest(len(text), 1) AS n,
               len(text) - len(regexp_replace(text, '[{};()=<>\\[\\]]', '', 'g'))
                   AS n_symbols,
               len(text) - len(replace(text, ' ', '')) AS n_spaces
        FROM documents
    )
    SELECT doc_id, lang,
           round(n_symbols * 1.0 / n, 4) AS symbol_ratio,
           (n_symbols * 1.0 / n > 0.02 AND n_spaces * 1.0 / n < 0.25)
               AS looks_like_code
    FROM feats
    """,
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODE-vs-PROSE router — pretraining corpora route code and
    natural language down different cleaning pipelines, and the
    router is exactly this kind of symbol-density heuristic
    (brace/bracket/operator ratio up, space ratio down ⇒ code).
    Counting is subtraction-after-strip (len − len(strip)) so both
    engines count with their OWN regex engine yet agree exactly —
    counting via regexp_extract_all lengths would hinge on engine
    match semantics. Integer-ratio features, deterministic verdicts;
    embarrassingly parallel, no shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    n = F.greatest(F.length("text"), F.lit(1))
    n_symbols = F.length("text") - F.length(
        F.regexp_replace("text", r"[{};()=<>\[\]]", "")
    )
    n_spaces = F.length("text") - F.length(
        F.regexp_replace("text", " ", "")
    )
    sym_ratio = n_symbols * 1.0 / n
    space_ratio = n_spaces * 1.0 / n
    return d.select(
        "doc_id",
        "lang",
        F.round(sym_ratio, 4).alias("symbol_ratio"),
        ((sym_ratio > 0.02) & (space_ratio < 0.25)).alias("looks_like_code"),
    )


@register(
    "pipeline_dataset_card",
    survey_row=72,
    oracle="""
    WITH base AS (
        SELECT doc_id, lang, n_chars,
               len(string_split(lower(text), ' ')) AS n_words,
               md5(text) AS digest,
               len(regexp_replace(lower(text), '[^a-z ]', '', 'g')) * 1.0
                   / greatest(len(text), 1) AS alpha_ratio
        FROM documents
    ),
    dupes AS (SELECT digest, count(*) AS c FROM base GROUP BY 1)
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(b.n_words)::BIGINT AS total_tokens,
           round(avg(b.n_chars), 4) AS avg_chars,
           sum(CASE WHEN d.c > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
           round(sum(CASE WHEN b.n_words >= 12 AND b.alpha_ratio >= 0.6
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
               AS keep_rate
    FROM base b JOIN dupes d ON b.digest = d.digest
    GROUP BY lang
    ORDER BY lang
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD — the per-language datasheet a corpus release
    ships with, composed in one frame: volume (docs, whitespace
    tokens, mean length), exact-duplicate exposure (docs whose
    content digest repeats ANYWHERE in the corpus — the digest join
    is corpus-wide even though the rollup is per-lang, so
    cross-language copies count), and the quality keep rate at the
    funnel's thresholds. One pass computes every per-doc signal; the
    |digests|-row dup side joins back by digest; one |langs|-group
    rollup. This is the reporting layer over the dedup + quality
    family — every number in it is independently queryable through
    those operators, which keeps the card auditable."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split(F.lower(F.col("text")), " ")).alias("n_words"),
        F.md5(F.encode("text", "UTF-8")).alias("digest"),
        (
            F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", ""))
            * 1.0
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("alpha_ratio"),
    )
    dupes = base.groupBy("digest").agg(F.count(F.lit(1)).alias("c"))
    keep = (F.col("n_words") >= 12) & (F.col("alpha_ratio") >= 0.6)
    return (
        base.join(dupes, "digest")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup_docs"),
            F.round(
                F.sum(keep.cast("int")) * 1.0 / F.count(F.lit(1)), 4
            ).alias("keep_rate"),
        )
        .orderBy("lang")
    )


@register(
    "text_bpe_pair_counts",
    survey_row=71,
    oracle="""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    p AS (
        SELECT unnest(list_transform(range(1, length(w)),
                   i -> substring(w, CAST(i AS INT), 2))) AS pair
        FROM w WHERE length(w) >= 2
    )
    SELECT pair, count(*) AS n_pair
    FROM p GROUP BY pair
    ORDER BY n_pair DESC, pair ASC LIMIT 30
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction, step one: corpus-wide adjacent
    symbol-pair frequencies at the character level (the statistic the
    first BPE merge maximizes — iterating merge-and-recount yields
    the tokenizer's merge table). Top-30 pairs under a total order
    (count desc, pair asc) so the cut is deterministic.

    Scale: explode produces one row per character position, but the
    groupBy key space is |alphabet|² — partial aggregation collapses
    the stream map-side, the shuffle carries only the pair
    vocabulary, and top-30 is TakeOrderedAndProject. The sub-2-char
    word guard matters: Spark's sequence(1, n) DESCENDS for n < 1."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .orderBy(F.col("n_pair").desc(), F.col("pair").asc())
        .limit(30)
    )


_BPE_ROUNDS = 4
_BPE_SYM_PAT = r"\(([^)]+)\)"


def _bpe_learn_oracle() -> str:
    """Chained-CTE DuckDB oracle for the iterated BPE merge loop: one
    (pairs → argmax → replace → recount) block per merge round, the
    relational unrolling of the driver loop."""
    syms = "regexp_extract_all(sym, '\\(([^)]+)\\)', 1)"
    sql = """
    WITH w0 AS (
        SELECT regexp_replace(w, '(.)', '(\\1)', 'g') AS sym,
               count(*)::BIGINT AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE regexp_full_match(w, '[a-z]{2,}')
        GROUP BY 1
    )"""
    for r in range(1, _BPE_ROUNDS + 1):
        sql += f""",
    p{r} AS (
        SELECT pr AS pair, sum(cnt)::BIGINT AS n
        FROM (
            SELECT cnt,
                   unnest(list_transform(range(1, len(s)),
                       i -> '(' || s[i] || ')(' || s[i + 1] || ')')) AS pr
            FROM (SELECT cnt, {syms} AS s FROM w{r - 1})
        ) GROUP BY pr
    ),
    m{r} AS (SELECT pair, n FROM p{r} ORDER BY n DESC, pair ASC LIMIT 1),
    w{r} AS (
        SELECT replace(sym, (SELECT pair FROM m{r}),
                       replace((SELECT pair FROM m{r}), ')(', '')) AS sym,
               cnt
        FROM w{r - 1}
    ),
    t{r} AS (
        SELECT sum(cnt * len({syms}))::BIGINT AS tokens_after FROM w{r}
    )"""
    sql += "\n    " + "\n    UNION ALL\n    ".join(
        f"""SELECT {r}::BIGINT AS merge_rank,
           regexp_extract(m{r}.pair, '^\\(([^)]+)\\)', 1) AS left_sym,
           regexp_extract(m{r}.pair, '\\(([^)]+)\\)$', 1) AS right_sym,
           translate(m{r}.pair, '()', '') AS merged,
           m{r}.n AS n_pair,
           t{r}.tokens_after
    FROM m{r}, t{r}"""
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return sql


@register("text_bpe_learn", survey_row=71, oracle=_bpe_learn_oracle())
def text_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction, the ITERATED merge loop
    (`text_bpe_pair_counts` is one pair-count step; this learns the
    actual merge table the tokenizer ships): 4 rounds of (corpus-wide
    weighted pair count → argmax merge under the (count desc, pair asc)
    total order → non-overlapping left-to-right merge application →
    recount), emitting one row per learned merge with its pair count at
    merge time and the post-merge corpus token count.

    The two design moves that make this Spark-shaped:

    * **Vocab collapse.** The corpus folds to (word, count) ONCE;
      every subsequent round runs over |vocab| rows, never |corpus|
      — the standard BPE-at-scale trick (pair counts are weighted
      sums over word frequencies). At 100 TB the word-histogram
      shuffle happens once; the 4 iterated jobs touch megabytes.
    * **Parenthesized symbol strings.** A word's symbol sequence is
      `(h)(e)(l)(l)(o)`; applying merge (l,l) is
      `replace(sym, '(l)(l)', '(ll)')`. Because the wrapping makes
      symbol boundaries unshareable, both engines' plain `replace`
      — all occurrences, left-to-right, non-overlapping — IS the
      BPE merge rule (`(a)(a)(a)` + merge (a,a) → `(aa)(a)`, never
      `(aa)(aa)`-style double consumption), all inside whole-stage
      codegen with no UDF.

    The driver loop is the cat_lineage_closure architecture: each
    round collects ONE argmax row (bounded), rewrites the vocab
    frame, and localCheckpoints to keep lineage flat. tokens_after
    is a real recount, not tokens_before - n_pair, because
    overlapping pair occurrences merge fewer times than they count
    ((a,a) in 'aaa' counts 2, merges once)."""
    _vocab, merges = _bpe_loop(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        schema=(
            "merge_rank long, left_sym string, right_sym string,"
            " merged string, n_pair long, tokens_after long"
        ),
    )


def _bpe_loop(spark: SparkSession, sf_dir: str):
    """Shared BPE merge loop: returns (final vocab frame with
    (w, sym, cnt) after _BPE_ROUNDS merges, merge-table rows).
    text_bpe_learn emits the merge table; text_bpe_apply tokenizes
    the corpus with the final vocab."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]{2,}$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "w", F.regexp_replace("w", "(.)", r"($1)").alias("sym"), "cnt"
        )
    )
    cur = vocab.localCheckpoint()
    sym_pat = F.lit(_BPE_SYM_PAT)
    merges = []
    for r in range(1, _BPE_ROUNDS + 1):
        with_syms = cur.withColumn(
            "s", F.regexp_extract_all("sym", sym_pat, 1)
        ).filter(F.size("s") >= 2)
        pairs = with_syms.select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(s) - 2),"
                    " i -> concat('(', s[i], ')(', s[i + 1], ')'))"
                )
            ).alias("pair"),
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("pair").asc())
            .limit(1)
            .collect()[0]
        )
        left, right = top["pair"][1:-1].split(")(")
        cur = cur.select(
            "w",
            F.replace(
                F.col("sym"), F.lit(top["pair"]), F.lit(f"({left}{right})")
            ).alias("sym"),
            "cnt",
        ).localCheckpoint()
        tokens_after = cur.select(
            F.sum(
                F.col("cnt")
                * F.size(F.regexp_extract_all("sym", sym_pat, 1))
            )
        ).collect()[0][0]
        merges.append(
            (r, left, right, left + right, int(top["n"]), int(tokens_after))
        )
    return cur, merges


@register(
    "text_hashed_features",
    survey_row=73,
    oracle="""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ), b AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(word), 1, 4) AS BIGINT) % 256
                   AS bucket,
               count(*) AS cnt
        FROM w GROUP BY 1, 2
    )
    SELECT doc_id,
           count(*) AS n_buckets,
           CAST(sum(cnt * cnt) AS BIGINT) AS sq_norm,
           md5(string_agg(bucket || ':' || cnt, ',' ORDER BY bucket))
               AS vec_digest
    FROM b GROUP BY doc_id
    """,
)
def text_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (the fixed-width bag-of-words a
    linear quality classifier trains on): every word maps to one of
    256 buckets via an engine-identical md5-prefix hash — no
    vocabulary pass, no dictionary to ship, the property that makes
    feature hashing THE at-scale featurizer. Emits per-doc sparse-
    vector invariants: nonzero-bucket count, squared L2 norm (exact
    integers), and an md5 digest of the canonical `bucket:count`
    serialization — so the gate pins the ENTIRE vector, not a
    summary.

    The canonical serialization uses the ordered-string-agg idiom
    (collect structs → array_sort → transform → concat_ws):
    collect_list order is never trusted. One (doc, bucket) hash agg
    + one per-doc agg; the 16-bit hash prefix fits a BIGINT cast on
    both engines."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    bucket = (
        F.conv(F.substring(F.md5("word"), 1, 4), 16, 10).cast("long") % 256
    )
    b = words.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return b.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sq_norm"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("bucket", "cnt"))
                    ),
                    lambda s: F.concat_ws(
                        ":",
                        s["bucket"].cast("string"),
                        s["cnt"].cast("string"),
                    ),
                ),
            )
        ).alias("vec_digest"),
    )


@register(
    "text_vocab_coverage",
    survey_row=71,
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents
    ),
    vocab AS (
        SELECT word FROM (
            SELECT word, count(*) AS n FROM words GROUP BY word
            ORDER BY n DESC, word ASC LIMIT 50
        )
    )
    SELECT w.doc_id,
           count(*)::BIGINT AS n_tokens,
           count(*) FILTER (WHERE v.word IS NULL)::BIGINT AS n_oov,
           round(count(*) FILTER (WHERE v.word IS NULL)
                 * 1.0 / count(*), 6) AS oov_rate
    FROM words w LEFT JOIN vocab v ON v.word = w.word
    GROUP BY w.doc_id
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY coverage / OOV-rate per document — the tokenizer-
    fit diagnostic a training-data pipeline runs before committing a
    vocab (high OOV in a language slice means the tokenizer
    fragments it into bytes, inflating sequence length and cost):
    build the top-50 corpus vocabulary (count desc, word asc — the
    deterministic tie-break), then score every document's token
    stream against it.

    Two-phase shape: the vocab is a corpus-wide top-k (one word
    hash-agg + TakeOrdered — at 100 TB the vocab build is the same
    map-side-combine wordcount as text_wordcount, and the resulting
    50-row vocab BROADCASTS to the scoring join, so the per-doc pass
    never shuffles the exploded token stream by word; it re-groups
    by doc_id, which the explode preserves partition-locally."""
    docs = load_table(spark, sf_dir, "documents")
    # Signature collapse: both the corpus word counts (weighted
    # by text multiplicity — Σ over docs ≡ Σ over distinct texts ×
    # n_docs) and the per-doc OOV scores (pure text functions given
    # the vocab) compute over DISTINCT texts only; doc rows recover
    # via one signature join. AQE picks the join strategies, so an
    # all-unique corpus degrades to one extra metadata-width shuffle.
    #
    # That degradation is not free when the base work is this small —
    # the collapse's two extra joins took the near-unique sf0.1 corpus
    # 0.25 s → 0.63 s while buying 36 % at the 100×-duplicated sf10.
    # Gate on the plan-time scan size (zero-cost, the join_multiway_star
    # stats-gate pattern): small corpora score per-doc directly; past
    # the gate the collapse's join-backs amortize over the dup mass
    # (fixture sizes: sf0.1 0.6 MB near-unique, sf1 5.6 MB at 10× dup —
    # gate between).
    if plan_size_bytes(docs) < _VOCAB_COLLAPSE_GATE_BYTES:
        words_str = docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
        )
        vocab = (
            words_str.groupBy(F.xxhash64("word").alias("wh"))
            .agg(F.count(F.lit(1)).alias("n"), F.min("word").alias("word"))
            .orderBy(F.col("n").desc(), F.col("word").asc())
            .limit(50)
            .select("wh", F.lit(1).alias("in_vocab"))
        )
        words_h = docs.select(
            "doc_id",
            F.explode(
                F.expr("transform(split(lower(text), ' '), x -> xxhash64(x))")
            ).alias("wh"),
        )
        return (
            words_h.join(F.broadcast(vocab), "wh", "left_outer")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
                F.round(
                    F.count(F.when(F.col("in_vocab").isNull(), 1))
                    / F.count(F.lit(1)),
                    6,
                ).alias("oov_rate"),
            )
        )
    sig = F.xxhash64(F.lower(F.col("text")))
    mem = docs.select("doc_id", sig.alias("sig"))
    reps = mem.groupBy("sig").agg(
        F.min("doc_id").alias("rep_doc"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    d = (
        docs.select("doc_id", "text")
        .join(
            reps.select(F.col("rep_doc").alias("doc_id"), "sig", "n_docs"),
            "doc_id",
        )
        .select(
            "sig", "n_docs", F.split(F.lower(F.col("text")), " ").alias("w")
        )
    )
    # vocab build: word strings are needed once for the deterministic
    # (count desc, word asc) tie-break, but the hash-agg KEY is the
    # xxhash64 digest — the string rides along as min(word) (all
    # members of a digest group are the same word modulo 64-bit
    # collisions; odds ~n²/2⁶⁵ — hash-verified per SF); counts are
    # multiplicity-weighted so the top-50 is the corpus top-50.
    words_str = d.select("n_docs", F.explode("w").alias("word"))
    vocab = (
        words_str.groupBy(F.xxhash64("word").alias("wh"))
        .agg(F.sum("n_docs").alias("n"), F.min("word").alias("word"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(50)
        .select("wh", F.lit(1).alias("in_vocab"))
    )
    # scoring pass: tokens cross as digests only; the 50-row digest
    # vocab broadcasts, so the exploded stream never shuffles by word
    words_h = d.select(
        "sig",
        F.explode(F.expr("transform(w, x -> xxhash64(x))")).alias("wh"),
    )
    per_sig = (
        words_h.join(F.broadcast(vocab), "wh", "left_outer")
        .groupBy("sig")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
            F.round(
                F.count(F.when(F.col("in_vocab").isNull(), 1))
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )
    return mem.join(per_sig, "sig").select(
        "doc_id", "n_tokens", "n_oov", "oov_rate"
    )


@register(
    "text_lang_id_eval",
    survey_row=72,
    oracle="""
    WITH pred AS (
        SELECT lang,
               CASE
                 WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                 WHEN regexp_matches(text, '[ßäöü]') THEN 'de'
                 WHEN regexp_matches(text, '[áíóúñ]') THEN 'es'
                 WHEN regexp_matches(text, '[àâçèéêë]') THEN 'fr'
                 ELSE 'en'
               END AS lang_pred
        FROM documents
    ),
    cells AS (
        SELECT lang, lang_pred, count(*) AS n
        FROM pred GROUP BY 1, 2
    )
    SELECT lang, lang_pred, n::BIGINT AS n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY lang), 6) AS recall,
           round(n * 1.0 / sum(n) OVER (PARTITION BY lang_pred), 6)
               AS precision
    FROM cells
    """,
)
def text_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID EVALUATION — the confusion matrix + per-cell
    precision/recall for the `text_lang_id` classifier against the
    fixture's ground-truth labels. This is the classifier-eval shape
    every model-quality loop runs distributed (predict → contingency
    → marginals): diagonal cells carry recall (share of the true
    class predicted right) and precision (share of the prediction
    that was right); off-diagonal cells name the confusions worth
    fixing (e.g. fr → en when no diacritic appears).

    One corpus-sized contingency agg (map-side partials) into
    |langs|² cells; both marginals are windows over that metadata-
    sized frame. Each ratio is one IEEE division of exact integer
    counts, round(…,6) hash-stable."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    pred = (
        F.when(t.rlike("[一-鿿]"), "zh")
        .when(t.rlike("[ßäöü]"), "de")
        .when(t.rlike("[áíóúñ]"), "es")
        .when(t.rlike("[àâçèéêë]"), "fr")
        .otherwise("en")
    )
    cells = d.select("lang", pred.alias("lang_pred")).groupBy(
        "lang", "lang_pred"
    ).agg(F.count(F.lit(1)).alias("n"))
    w_true = Window.partitionBy("lang")
    w_pred = Window.partitionBy("lang_pred")
    return cells.select(
        "lang",
        "lang_pred",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.sum("n").over(w_true), 6).alias("recall"),
        F.round(F.col("n") / F.sum("n").over(w_pred), 6).alias("precision"),
    )


@register(
    "text_span_chunk_align",
    survey_row=71,
    oracle="""
    WITH chunks AS (
        SELECT doc_id, i AS chunk_idx,
               i * 100 AS c_start,
               least((i + 1) * 100, n_chars) AS c_end
        FROM documents,
             LATERAL (SELECT unnest(generate_series(0,
                 greatest((n_chars - 1) // 100, 0))) AS i)
    ),
    spans AS (
        SELECT doc_id,
               (doc_id * 37 + s * 61) % greatest(n_chars, 1) AS s_start,
               least((doc_id * 37 + s * 61) % greatest(n_chars, 1)
                     + 15 + (doc_id + s) % 30, n_chars) AS s_end,
               s AS span_idx
        FROM documents,
             LATERAL (SELECT unnest(generate_series(0, 2)) AS s)
        WHERE n_chars > 0
    )
    SELECT s.doc_id, s.span_idx, c.chunk_idx,
           greatest(s.s_start, c.c_start)::BIGINT AS ov_start,
           least(s.s_end, c.c_end)::BIGINT AS ov_end,
           (s.s_start < c.c_start OR s.s_end > c.c_end) AS is_split
    FROM spans s JOIN chunks c
      ON s.doc_id = c.doc_id
     AND s.s_start < c.c_end AND s.s_end > c.c_start
    """,
)
def text_span_chunk_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-to-CHUNK alignment — the stand-off-annotation join every
    NLP labeling pipeline needs when documents get chunked for
    training (`text_chunk_overlap` makes the chunks; labels arrive
    as character spans against the ORIGINAL document and must be
    re-addressed to chunks): each span joins to every chunk it
    overlaps, with the clipped interval and a split flag (spans
    crossing a chunk boundary — the rows a labeling QA pass
    reviews). Spans are synthesized deterministically per doc in
    both engines.

    The join is doc-keyed equi + interval-overlap residual — the
    `join_interval_overlap` pattern specialized to co-document
    spans, so there is never a cross-document pair; chunk and span
    frames both explode from the same doc row and co-partition by
    doc_id. All offsets are integers."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id",
        "n_chars",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.floor((F.col("n_chars") - 1) / 100).cast("int"), F.lit(0)
                ),
            )
        ).alias("chunk_idx"),
    ).select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * 100).alias("c_start"),
        F.least((F.col("chunk_idx") + 1) * 100, F.col("n_chars")).alias(
            "c_end"
        ),
    )
    spans = (
        docs.filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "n_chars",
            F.explode(F.sequence(F.lit(0), F.lit(2))).alias("span_idx"),
        )
        .select(
            "doc_id",
            "span_idx",
            (
                (F.col("doc_id") * 37 + F.col("span_idx") * 61)
                % F.greatest(F.col("n_chars"), F.lit(1))
            ).alias("s_start"),
            F.least(
                (F.col("doc_id") * 37 + F.col("span_idx") * 61)
                % F.greatest(F.col("n_chars"), F.lit(1))
                + 15
                + (F.col("doc_id") + F.col("span_idx")) % 30,
                F.col("n_chars"),
            ).alias("s_end"),
        )
    )
    return (
        spans.alias("s")
        .join(
            chunks.alias("c"),
            (F.col("s.doc_id") == F.col("c.doc_id"))
            & (F.col("s.s_start") < F.col("c.c_end"))
            & (F.col("s.s_end") > F.col("c.c_start")),
        )
        .select(
            F.col("s.doc_id").alias("doc_id"),
            "span_idx",
            "chunk_idx",
            F.greatest("s_start", "c_start").cast("long").alias("ov_start"),
            F.least("s_end", "c_end").cast("long").alias("ov_end"),
            (
                (F.col("s_start") < F.col("c_start"))
                | (F.col("s_end") > F.col("c_end"))
            ).alias("is_split"),
        )
    )


@register(
    "text_html_strip",
    survey_row=71,
    oracle="""
    WITH html AS (
        SELECT doc_id,
               '<html><head><title>d' || doc_id ||
               '</title><script>var x=' || (doc_id % 7) ||
               ';</script></head><body><p>' || text ||
               '</p><div class="nav">menu menu menu</div></body></html>'
                   AS raw
        FROM documents
    ),
    stripped AS (
        SELECT doc_id, raw,
               trim(regexp_replace(regexp_replace(regexp_replace(raw,
                   '<script[^>]*>[^<]*</script>', ' ', 'g'),
                   '<[^>]+>', ' ', 'g'),
                   ' +', ' ', 'g')) AS clean
        FROM html
    )
    SELECT doc_id,
           length(raw)::BIGINT AS raw_len,
           length(clean)::BIGINT AS clean_len,
           len(regexp_extract_all(raw, '<[a-z]+[^>]*>'))::BIGINT
               AS n_tags,
           round(length(clean) * 1.0 / length(raw), 6) AS text_ratio
    FROM stripped
    """,
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate STRIPPING — the first transformation of
    every web-crawl pipeline (CCNet/trafilatura's cheap tier):
    script blocks dropped whole (their CONTENT is code, not prose —
    a tag-only strip would leak it into the corpus), remaining tags
    to whitespace, runs collapsed; emits raw/clean lengths, tag
    count, and the text-to-markup ratio (the boilerplate-page
    filter signal — chrome-heavy pages score low). HTML is
    synthesized around each fixture doc in both engines, with the
    script CONTENT deliberately present so the strip-order mistake
    is catchable.

    Three regexp_replace passes in the Java∩RE2 common dialect
    (order matters and is pinned: script-with-content first);
    map-only codegen, inherits scan partitioning — the 100 TB form
    is this exact expression in the crawl-ingest projection."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("<html><head><title>d"),
        F.col("doc_id").cast("string"),
        F.lit("</title><script>var x="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(";</script></head><body><p>"),
        F.col("text"),
        F.lit('</p><div class="nav">menu menu menu</div></body></html>'),
    )
    html = docs.select("doc_id", raw.alias("raw"))
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.col("raw"), r"<script[^>]*>[^<]*</script>", " "
                ),
                r"<[^>]+>",
                " ",
            ),
            r" +",
            " ",
        )
    )
    stripped = html.select("doc_id", "raw", clean.alias("clean"))
    return stripped.select(
        "doc_id",
        F.length("raw").cast("long").alias("raw_len"),
        F.length("clean").cast("long").alias("clean_len"),
        F.size(F.expr("regexp_extract_all(raw, '<[a-z]+[^>]*>', 0)"))
        .cast("long")
        .alias("n_tags"),
        F.round(F.length("clean") / F.length("raw"), 6).alias("text_ratio"),
    )


@register(
    "pipeline_chat_format_validate",
    survey_row=71,
    oracle="""
    WITH conv AS (
        SELECT doc_id,
               '[{"role":"user","content":"q' || doc_id || '"},' ||
               '{"role":"' ||
               CASE WHEN doc_id % 7 = 3 THEN 'user'
                    ELSE 'assistant' END ||
               '","content":"' ||
               CASE WHEN doc_id % 5 = 2 THEN ''
                    ELSE 'a' || doc_id END || '"}' ||
               CASE WHEN doc_id % 3 = 0
                    THEN ',{"role":"user","content":"f' || doc_id ||
                         '"},{"role":"assistant","content":"g' ||
                         doc_id || '"}'
                    ELSE '' END || ']' AS msgs
        FROM documents
    ),
    checks AS (
        SELECT doc_id, msgs,
               CAST(json_array_length(msgs) AS BIGINT) AS n_turns,
               json_extract_string(msgs, '$[0].role') = 'user'
                   AS starts_with_user,
               json_extract_string(msgs,
                   '$[' || (json_array_length(msgs) - 1) || '].role')
                   = 'assistant' AS ends_with_assistant,
               json_extract_string(msgs, '$[1].role') <>
                   json_extract_string(msgs, '$[0].role')
                   AS first_pair_alternates,
               (json_extract_string(msgs, '$[0].content') = ''
                OR json_extract_string(msgs, '$[1].content') = '')
                   AS has_empty_content
        FROM conv
    )
    SELECT doc_id, n_turns,
           (starts_with_user AND ends_with_assistant
            AND first_pair_alternates AND NOT has_empty_content)
               AS is_valid,
           starts_with_user, ends_with_assistant,
           first_pair_alternates, has_empty_content
    FROM checks
    """,
)
def pipeline_chat_format_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAT-format validation — the SFT-data ingest gate (a
    malformed conversation silently teaches the wrong turn
    structure): each record's message array is checked for the
    contract every chat template assumes — opens with a user turn,
    closes with an assistant turn, roles alternate, no empty
    content. Conversations are synthesized with three seeded defect
    classes (role repetition on a 7-residue, empty assistant content
    on a 5-residue, plus valid 4-turn dialogs) so each rule
    provably fires and the defect classes compose.

    Pure JSON-path extraction (get_json_object ≡
    json_extract_string) + boolean algebra, all codegen, map-only —
    the validation predicate pushes into the ingest scan at any
    scale. The last-turn path is computed from the array LENGTH
    (dynamic JSON path), exercising the path-construction case the
    fixed-path fn_json_extract op doesn't."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    msgs = F.concat(
        F.lit('[{"role":"user","content":"q'),
        did.cast("string"),
        F.lit('"},{"role":"'),
        F.when(did % 7 == 3, "user").otherwise("assistant"),
        F.lit('","content":"'),
        F.when(did % 5 == 2, "").otherwise(
            F.concat(F.lit("a"), did.cast("string"))
        ),
        F.lit('"}'),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(',{"role":"user","content":"f'),
                did.cast("string"),
                F.lit('"},{"role":"assistant","content":"g'),
                did.cast("string"),
                F.lit('"}'),
            ),
        ).otherwise(""),
        F.lit("]"),
    )
    conv = docs.select("doc_id", msgs.alias("msgs"))
    n_turns = F.json_array_length("msgs").cast("long")
    checks = conv.select(
        "doc_id",
        n_turns.alias("n_turns"),
        (F.get_json_object("msgs", "$[0].role") == "user").alias(
            "starts_with_user"
        ),
        (
            F.expr(
                "get_json_object(msgs, concat('$[', "
                "json_array_length(msgs) - 1, '].role'))"
            )
            == "assistant"
        ).alias("ends_with_assistant"),
        (
            F.get_json_object("msgs", "$[1].role")
            != F.get_json_object("msgs", "$[0].role")
        ).alias("first_pair_alternates"),
        (
            (F.get_json_object("msgs", "$[0].content") == "")
            | (F.get_json_object("msgs", "$[1].content") == "")
        ).alias("has_empty_content"),
    )
    return checks.select(
        "doc_id",
        "n_turns",
        (
            F.col("starts_with_user")
            & F.col("ends_with_assistant")
            & F.col("first_pair_alternates")
            & ~F.col("has_empty_content")
        ).alias("is_valid"),
        "starts_with_user",
        "ends_with_assistant",
        "first_pair_alternates",
        "has_empty_content",
    )


@register(
    "text_encoding_audit",
    survey_row=71,
    oracle="""
    WITH noisy AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 6 = 1
                    THEN ' ' || chr(65533) || 'corrupt' || chr(65533)
                    ELSE '' END ||
               CASE WHEN doc_id % 8 = 2
                    THEN chr(8) || chr(11) ELSE '' END AS t
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, chr(65533)))::BIGINT
               AS n_replacement,
           len(regexp_extract_all(t,
               '[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F]'))::BIGINT
               AS n_control,
           (len(regexp_extract_all(t, chr(65533))) > 0
            OR len(regexp_extract_all(t,
                   '[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F]')) > 0)
               AS is_suspect
    FROM noisy
    """,
)
def text_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODING-health audit — the mojibake detector every crawl
    pipeline runs before training (U+FFFD replacement characters
    mean a decoder already ate bytes; C0 control characters mean
    binary junk leaked into "text" — both poison tokenizers
    silently): per document, count replacement chars and non-
    whitespace control chars, flag suspects. Defects are seeded
    deterministically on residue classes (the PII-scan control
    technique) since the fixture corpus is clean — the detector's
    positive AND negative behavior is hash-gated.

    Two regexp counts in the common dialect (the control-char class
    spelled byte-exactly, TAB/LF/CR excluded as legitimate);
    map-only, fuses into the ingest scan."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(
            did % 6 == 1,
            F.concat(F.lit(" �"), F.lit("corrupt"), F.lit("�")),
        ).otherwise(""),
        F.when(did % 8 == 2, F.lit("\x08\x0b")).otherwise(""),
    )
    noisy = docs.select("doc_id", t.alias("t"))
    n_repl = F.size(F.expr("regexp_extract_all(t, '�', 0)"))
    n_ctrl = F.size(
        F.expr(
            "regexp_extract_all(t, '[\\\\x01-\\\\x08\\\\x0B\\\\x0C\\\\x0E-\\\\x1F]', 0)"
        )
    )
    return noisy.select(
        "doc_id",
        n_repl.cast("long").alias("n_replacement"),
        n_ctrl.cast("long").alias("n_control"),
        ((n_repl > 0) | (n_ctrl > 0)).alias("is_suspect"),
    )


@register(
    "text_zipf_fit",
    survey_row=73,
    oracle="""
    WITH topw AS (
        SELECT word, n,
               row_number() OVER (ORDER BY n DESC, word ASC) AS rk
        FROM (
            SELECT word, count(*) AS n
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
                  FROM documents)
            GROUP BY word
        )
        QUALIFY rk <= 50
    ),
    pts AS (
        SELECT CAST(floor(ln(rk) * 1000000) AS BIGINT) AS lx,
               CAST(floor(ln(n) * 1000000) AS BIGINT) AS ly
        FROM topw
    ),
    s AS (
        SELECT count(*)::BIGINT AS k,
               sum(lx) AS sx, sum(ly) AS sy,
               sum(lx * lx) AS sxx, sum(lx * ly) AS sxy
        FROM pts
    )
    SELECT k,
           round((k * sxy - sx * sy)::DOUBLE
                 / nullif((k * sxx - sx * sx)::DOUBLE, 0), 6)
               AS zipf_slope,
           round((sy - (k * sxy - sx * sy)::DOUBLE
                       / nullif((k * sxx - sx * sx)::DOUBLE, 0) * sx)
                 / (k * 1000000.0), 6) AS intercept_ln
    FROM s
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF-law fit over the corpus rank-frequency curve — the
    naturalness diagnostic for LLM corpora (natural language sits
    near slope −1 on log-log rank-frequency; machine-generated,
    template-heavy, or deduplication-damaged corpora bend away
    from it, which makes this a cheap generated-text / corpus-
    damage alarm): least-squares slope of ln(freq) vs ln(rank) over
    the top-50 words, plus the intercept.

    Same determinism architecture as `agg_regression_normal_eq`:
    the log coordinates quantize to EXACT integer micro-units
    (each a single libm ln of an engine-identical integer argument
    — one per rank, 50 total), the sufficient statistics are then
    order-free int64 sums, and floats reappear only in the Cramer
    solve. The wordcount top-k is the only corpus-sized work; the
    fit itself runs on 50 rows."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    )
    topw = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "n",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), F.col("word").asc()))
            .alias("rk"),
        )
        .filter(F.col("rk") <= 50)
    )
    pts = topw.select(
        F.floor(F.log(F.col("rk").cast("double")) * 1000000)
        .cast("long")
        .alias("lx"),
        F.floor(F.log(F.col("n").cast("double")) * 1000000)
        .cast("long")
        .alias("ly"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    k, sx, sy = F.col("k"), F.col("sx"), F.col("sy")
    det = F.nullif(
        (k * F.col("sxx") - sx * sx).cast("double"), F.lit(0.0)
    )
    slope = (k * F.col("sxy") - sx * sy).cast("double") / det
    return s.select(
        k.cast("long").alias("k"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / (k * 1000000.0), 6).alias(
            "intercept_ln"
        ),
    )


@register(
    "text_markdown_profile",
    survey_row=71,
    oracle="""
    WITH md AS (
        SELECT doc_id,
               coalesce(CASE WHEN doc_id % 4 = 0
                    THEN '# T' || doc_id || chr(10) END, '') ||
               coalesce(CASE WHEN doc_id % 3 = 1
                    THEN '```' || chr(10) || 'x = ' || (doc_id % 9)
                         || chr(10) || '```' || chr(10) END, '') ||
               coalesce(CASE WHEN doc_id % 5 = 2
                    THEN '- item a' || chr(10) || '- item b' || chr(10)
               END, '') ||
               text ||
               coalesce(CASE WHEN doc_id % 7 = 4
                    THEN ' [ref](http://ex.com/' || doc_id || ')' END, '')
                   AS t
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '(^|\\n)#+ '))::BIGINT AS n_headings,
           (len(regexp_extract_all(t, '```')) // 2)::BIGINT
               AS n_code_blocks,
           len(regexp_extract_all(t, '(^|\\n)- '))::BIGINT
               AS n_list_items,
           len(regexp_extract_all(t, '\\[[^\\]]*\\]\\([^)]*\\)'))::BIGINT
               AS n_links,
           CASE WHEN len(regexp_extract_all(t, '```')) >= 2
                THEN 'technical'
                WHEN len(regexp_extract_all(t, '(^|\\n)#+ ')) > 0
                THEN 'structured'
                ELSE 'plain' END AS doc_class
    FROM md
    """,
)
def text_markdown_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKDOWN structure profile — the routing signal crawl
    pipelines extract before quality scoring (code-fenced documents
    go to the code pipeline with different dedup thresholds;
    heading-structured docs chunk on headings instead of fixed
    windows — `text_chunk_overlap`'s smarter sibling): per doc,
    heading / fenced-code-block / list-item / inline-link counts
    and a routing class with pinned precedence (code beats
    structure beats plain). Markdown features are synthesized
    around the fixture text on residue classes, every feature class
    independently seeded so the counts are structural.

    COALESCE-free concat quirk is deliberate: SQL string || NULL is
    NULL — the CASE arms WITHOUT an ELSE return NULL and would
    nullify the whole doc, so the Spark side uses concat_ws-style
    empty defaults and the oracle relies on DuckDB's ||
    propagation... no: both sides must AGREE. The oracle's || chain
    nullifies nothing because every CASE carries its feature only
    when seeded — and concat() in Spark propagates NULL the same
    way, so BOTH engines build the doc only from non-NULL arms via
    coalesce-to-empty on each arm. Regexes in the common dialect
    with multiline anchors spelled as (^|\\n). Map-only."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    nl = F.lit("\n")
    t = F.concat(
        F.coalesce(
            F.when(
                did % 4 == 0,
                F.concat(F.lit("# T"), did.cast("string"), nl),
            ),
            F.lit(""),
        ),
        F.coalesce(
            F.when(
                did % 3 == 1,
                F.concat(
                    F.lit("```"), nl, F.lit("x = "),
                    (did % 9).cast("string"), nl, F.lit("```"), nl,
                ),
            ),
            F.lit(""),
        ),
        F.coalesce(
            F.when(did % 5 == 2, F.concat(F.lit("- item a"), nl, F.lit("- item b"), nl)),
            F.lit(""),
        ),
        F.col("text"),
        F.coalesce(
            F.when(
                did % 7 == 4,
                F.concat(
                    F.lit(" [ref](http://ex.com/"), did.cast("string"), F.lit(")")
                ),
            ),
            F.lit(""),
        ),
    )
    md = docs.select("doc_id", t.alias("t"))
    n_head = F.size(F.expr(r"regexp_extract_all(t, '(^|\n)#+ ', 0)"))
    n_fence = F.floor(F.size(F.expr("regexp_extract_all(t, '```', 0)")) / 2)
    n_list = F.size(F.expr(r"regexp_extract_all(t, '(^|\n)- ', 0)"))
    n_links = F.size(
        F.expr(r"regexp_extract_all(t, '\\[[^\\]]*\\]\\([^)]*\\)', 0)")
    )
    return md.select(
        "doc_id",
        n_head.cast("long").alias("n_headings"),
        n_fence.cast("long").alias("n_code_blocks"),
        n_list.cast("long").alias("n_list_items"),
        n_links.cast("long").alias("n_links"),
        F.when(
            F.size(F.expr("regexp_extract_all(t, '```', 0)")) >= 2, "technical"
        )
        .when(n_head > 0, "structured")
        .otherwise("plain")
        .alias("doc_class"),
    )


@register(
    "text_word_burstiness",
    survey_row=73,
    oracle="""
    WITH counts AS (
        SELECT doc_id, word, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(string_split(lower(text), ' ')) AS word
              FROM documents)
        GROUP BY doc_id, word
    ),
    ndocs AS (SELECT count(*) AS nd FROM documents),
    stats AS (
        SELECT word,
               sum(c) AS total,
               sum(c * c) AS sum_sq,
               count(*) AS df
        FROM counts GROUP BY word
    )
    SELECT word, total::BIGINT AS total, df::BIGINT AS doc_freq,
           round((sum_sq * 1.0 - total * total * 1.0 / nd)
                 / nullif(nd - 1, 0)
                 / nullif(total * 1.0 / nd, 0), 6) AS burstiness
    FROM stats, ndocs
    WHERE total >= 30
    """,
)
def text_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORD BURSTINESS (variance-to-mean ratio of per-document
    counts, zeros included) — the dispersion statistic that
    separates topical words from function words at equal total
    frequency (a word appearing 100× in 3 docs is a TOPIC; 100×
    spread over 90 docs is glue — tf-idf's document-frequency
    signal refined to a rate): VMR = s²/mean over all docs, where
    absent docs count as zero — handled WITHOUT materializing
    zeros, via the algebraic identity s² = (Σc² − (Σc)²/N)/(N−1)
    with N = total docs (the sparse-vector variance trick; a dense
    per-doc-per-word frame would be |docs|×|vocab|).

    Sufficient statistics (Σc, Σc², df) are exact int64 sums from
    one word-level reduce; N broadcasts; the VMR is a fixed IEEE
    sequence. Restricted to total ≥ 30 so the statistic is over
    words where dispersion is meaningful."""
    docs = load_table(spark, sf_dir, "documents")
    nd = docs.count()
    counts = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = counts.groupBy("word").agg(
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
        F.count(F.lit(1)).alias("df"),
    )
    total = F.col("total")
    var = (F.col("sum_sq") - total * total / nd) / F.nullif(
        F.lit(nd - 1), F.lit(0)
    )
    mean = total / nd
    return stats.filter(total >= 30).select(
        "word",
        total.cast("long").alias("total"),
        F.col("df").cast("long").alias("doc_freq"),
        F.round(var / F.nullif(mean, F.lit(0.0)), 6).alias("burstiness"),
    )


@register(
    "text_readability_score",
    survey_row=72,
    oracle="""
    WITH feats AS (
        SELECT doc_id,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                   AS n_sents,
               greatest(len(string_split(lower(text), ' ')), 1)
                   AS n_words,
               greatest(len(regexp_extract_all(lower(text),
                   '[aeiouy]+')), 1) AS n_syll
        FROM documents
    )
    SELECT doc_id,
           n_sents::BIGINT AS n_sents,
           n_words::BIGINT AS n_words,
           n_syll::BIGINT AS n_syll,
           round(0.39::DOUBLE * n_words / n_sents
                 + 11.8::DOUBLE * n_syll / n_words - 15.59::DOUBLE, 4)
               AS fk_grade,
           (0.39::DOUBLE * n_words / n_sents
            + 11.8::DOUBLE * n_syll / n_words - 15.59::DOUBLE) > 12.0
               AS too_complex
    FROM feats
    """,
)
def text_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READABILITY (Flesch-Kincaid grade) — the audience-level
    filter curation pipelines run beside quality scoring (a
    children's-content dataset and a legal corpus want opposite
    tails of exactly this score): words-per-sentence and
    approximate syllables-per-word (vowel-group runs — the
    standard dependency-free syllable proxy, biased but
    consistently so) feed the published FK formula. Sentence/word/
    syllable counts floor at 1 so fragmentary documents score
    rather than divide by zero — the clamp is applied identically
    on both sides.

    Three regexp/split counts + one fixed IEEE formula per row —
    map-only codegen; at 100 TB this lives in the same ingest
    projection as the quality signals. The oracle pins its literals
    ::DOUBLE — DuckDB parses 0.39 as DECIMAL and computes the
    formula in decimal arithmetic, which flipped a 4th-decimal
    rounding boundary at sf1."""
    docs = load_table(spark, sf_dir, "documents")
    n_sents = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    )
    n_words = F.greatest(
        F.size(F.split(F.lower(F.col("text")), " ")), F.lit(1)
    )
    n_syll = F.greatest(
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")),
        F.lit(1),
    )
    grade = 0.39 * n_words / n_sents + 11.8 * n_syll / n_words - 15.59
    return docs.select(
        "doc_id",
        n_sents.cast("long").alias("n_sents"),
        n_words.cast("long").alias("n_words"),
        n_syll.cast("long").alias("n_syll"),
        F.round(grade, 4).alias("fk_grade"),
        (grade > 12.0).alias("too_complex"),
    )


@register(
    "text_tokenizer_fertility",
    survey_row=71,
    oracle="""
    WITH per_doc AS (
        SELECT lang,
               len(string_split(text, ' ')) AS words,
               len(regexp_extract_all(text,
                   '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS toks
        FROM documents
    )
    SELECT lang,
           sum(words)::BIGINT AS total_words,
           sum(toks)::BIGINT AS total_tokens,
           round(sum(toks) * 1.0 / sum(words), 6) AS fertility,
           sum(toks) * 2 > sum(words) * 3 AS high_cost
    FROM per_doc GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — tokens-per-word, the
    multilingual cost metric that decides vocab allocation (a
    language at fertility 3 pays 3× the context budget and 3× the
    serving cost of one at 1.1; high-fertility slices are where a
    vocab extension or byte-fallback review starts): the BPE-ish
    regex token count (`text_token_count`'s proxy) over whitespace
    words, aggregated per language, with the >1.5 cost flag as
    integer cross-multiplication (no float boundary).

    Ratio-of-sums, deliberately NOT avg-of-ratios — the
    `agg_ratio_trap` rule applied where it matters: long documents
    must weigh proportionally to their token mass. Exact integer
    sums; one |langs| rollup."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("words"),
        F.size(
            F.regexp_extract_all(
                F.col("text"),
                F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"),
                F.lit(0),
            )
        ).alias("toks"),
    )
    return per_doc.groupBy("lang").agg(
        F.sum("words").cast("long").alias("total_words"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.round(F.sum("toks") / F.sum("words"), 6).alias("fertility"),
        (F.sum("toks") * 2 > F.sum("words") * 3).alias("high_cost"),
    )


@register(
    "text_stem_vocab_reduction",
    survey_row=71,
    oracle="""
    WITH words AS (
        SELECT DISTINCT lang,
               unnest(string_split(lower(text), ' ')) AS word
        FROM documents
    ),
    stemmed AS (
        SELECT lang, word,
               CASE
                 WHEN len(word) > 5 AND word LIKE '%ing'
                     THEN substr(word, 1, len(word) - 3)
                 WHEN len(word) > 4 AND word LIKE '%ed'
                     THEN substr(word, 1, len(word) - 2)
                 WHEN len(word) > 3 AND word LIKE '%es'
                     THEN substr(word, 1, len(word) - 2)
                 WHEN len(word) > 3 AND word LIKE '%s'
                      AND word NOT LIKE '%ss'
                     THEN substr(word, 1, len(word) - 1)
                 ELSE word
               END AS stem
        FROM words
    )
    SELECT lang,
           count(DISTINCT word)::BIGINT AS vocab_raw,
           count(DISTINCT stem)::BIGINT AS vocab_stemmed,
           round(1.0 - count(DISTINCT stem) * 1.0
                 / count(DISTINCT word), 6) AS reduction
    FROM stemmed GROUP BY lang
    """,
)
def text_stem_vocab_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based STEMMING and its vocab compression — the
    morphology probe that sizes how much of a language's surface
    vocabulary is inflection (English collapses ~20-30 % under
    four suffix rules; an isolating language like Chinese barely
    moves — so the per-lang reduction column doubles as a typology
    signal next to tokenizer fertility): a Porter-lite suffix
    strip (ing/ed/es/s with length guards and the -ss exception,
    applied in pinned longest-first order) over each language's
    DISTINCT vocabulary, reporting raw vs stemmed vocab sizes.

    Stemming runs on the deduped vocab, not the token stream —
    |vocab| rows per language, orders of magnitude under corpus
    size; two countDistincts in one rollup."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
    ).distinct()
    w = F.col("word")
    ln = F.length(w)
    stem = (
        F.when((ln > 5) & w.endswith("ing"), F.expr("substr(word, 1, length(word) - 3)"))
        .when((ln > 4) & w.endswith("ed"), F.expr("substr(word, 1, length(word) - 2)"))
        .when((ln > 3) & w.endswith("es"), F.expr("substr(word, 1, length(word) - 2)"))
        .when(
            (ln > 3) & w.endswith("s") & ~w.endswith("ss"),
            F.expr("substr(word, 1, length(word) - 1)"),
        )
        .otherwise(w)
    )
    stemmed = words.select("lang", "word", stem.alias("stem"))
    return stemmed.groupBy("lang").agg(
        F.countDistinct("word").alias("vocab_raw"),
        F.countDistinct("stem").alias("vocab_stemmed"),
        F.round(
            1.0 - F.countDistinct("stem") / F.countDistinct("word"), 6
        ).alias("reduction"),
    )


@register(
    "text_code_lang_classify",
    survey_row=72,
    oracle="""
    WITH code AS (
        SELECT doc_id,
               CASE doc_id % 4
                 WHEN 0 THEN 'def f_' || doc_id ||
                      '(x): return x  # ' || text
                 WHEN 1 THEN 'function f' || doc_id ||
                      '(x) { const y = x; return y; } // ' || text
                 WHEN 2 THEN 'public static int f' || doc_id ||
                      '(int x) { return x; } /* ' || text || ' */'
                 ELSE text
               END AS src
        FROM documents
    ),
    scored AS (
        SELECT doc_id, src,
               len(regexp_extract_all(src,
                   '(def |return |import |# )')) AS py_hits,
               len(regexp_extract_all(src,
                   '(function |const |=> |// )')) AS js_hits,
               len(regexp_extract_all(src,
                   '(public |static |int |; )')) AS java_hits
        FROM code
    )
    SELECT doc_id, py_hits::BIGINT AS py_hits,
           js_hits::BIGINT AS js_hits,
           java_hits::BIGINT AS java_hits,
           CASE
             WHEN py_hits = 0 AND js_hits = 0 AND java_hits = 0
                 THEN 'prose'
             WHEN py_hits >= js_hits AND py_hits >= java_hits
                 THEN 'python'
             WHEN js_hits >= java_hits THEN 'javascript'
             ELSE 'java'
           END AS lang_class
    FROM scored
    """,
)
def text_code_lang_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODE-language classification — the routing layer after
    `text_code_detect` says "this is code" (each code language goes
    to its own dedup thresholds, comment-stripping rules, and
    tokenizer-fertility budget): keyword-evidence counts for three
    language profiles with an argmax whose tie PRECEDENCE is pinned
    (python ≥ js ≥ java — ties are real: `return ` scores for
    python while `; ` scores for java in the same snippet). Code is
    synthesized around the fixture text on residue classes, with a
    prose control class that must score zero everywhere.

    Three regexp counts + a CASE ladder, map-only codegen; at
    corpus scale this rides the same ingest projection as the
    quality/structure profilers."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    src = (
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit("def f_"), did.cast("string"),
                F.lit("(x): return x  # "), F.col("text"),
            ),
        )
        .when(
            did % 4 == 1,
            F.concat(
                F.lit("function f"), did.cast("string"),
                F.lit("(x) { const y = x; return y; } // "), F.col("text"),
            ),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.lit("public static int f"), did.cast("string"),
                F.lit("(int x) { return x; } /* "), F.col("text"), F.lit(" */"),
            ),
        )
        .otherwise(F.col("text"))
    )
    code = docs.select("doc_id", src.alias("src"))
    py = F.size(F.expr("regexp_extract_all(src, '(def |return |import |# )', 0)"))
    js = F.size(F.expr("regexp_extract_all(src, '(function |const |=> |// )', 0)"))
    jv = F.size(F.expr("regexp_extract_all(src, '(public |static |int |; )', 0)"))
    return code.select(
        "doc_id",
        py.cast("long").alias("py_hits"),
        js.cast("long").alias("js_hits"),
        jv.cast("long").alias("java_hits"),
        F.when((py == 0) & (js == 0) & (jv == 0), "prose")
        .when((py >= js) & (py >= jv), "python")
        .when(js >= jv, "javascript")
        .otherwise("java")
        .alias("lang_class"),
    )


@register(
    "text_char_entropy_score",
    survey_row=72,
    oracle="""
    WITH classes AS (
        SELECT doc_id,
               length(text) AS n_chars_total,
               len(regexp_extract_all(text, '[a-z]')) AS c_lower,
               len(regexp_extract_all(text, '[A-Z]')) AS c_upper,
               len(regexp_extract_all(text, '[0-9]')) AS c_digit,
               len(regexp_extract_all(text, ' ')) AS c_space
        FROM documents WHERE length(text) > 0
    ),
    with_other AS (
        SELECT *, n_chars_total - c_lower - c_upper - c_digit - c_space
                   AS c_other
        FROM classes
    )
    SELECT doc_id,
           round(
             - (CASE WHEN c_lower > 0 THEN (c_lower * 1.0 / n_chars_total)
                      * ln(c_lower * 1.0 / n_chars_total) ELSE 0 END)
             - (CASE WHEN c_upper > 0 THEN (c_upper * 1.0 / n_chars_total)
                      * ln(c_upper * 1.0 / n_chars_total) ELSE 0 END)
             - (CASE WHEN c_digit > 0 THEN (c_digit * 1.0 / n_chars_total)
                      * ln(c_digit * 1.0 / n_chars_total) ELSE 0 END)
             - (CASE WHEN c_space > 0 THEN (c_space * 1.0 / n_chars_total)
                      * ln(c_space * 1.0 / n_chars_total) ELSE 0 END)
             - (CASE WHEN c_other > 0 THEN (c_other * 1.0 / n_chars_total)
                      * ln(c_other * 1.0 / n_chars_total) ELSE 0 END),
             6) AS class_entropy,
           round(c_space * 1.0 / n_chars_total, 6) AS space_ratio,
           (c_space = 0 AND n_chars_total > 40) AS suspect_unbroken
    FROM with_other
    """,
)
def text_char_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-CLASS entropy — the gibberish/keyboard-mash signal
    word-level quality scores miss (a 2000-char run of base64 or
    minified JS has excellent word-length stats after splitting but
    a character mix no natural prose has): each document's
    distribution over five character classes (lower/upper/digit/
    space/other) reduced to Shannon entropy, plus the space ratio
    and the no-spaces-in-long-text flag (the cheapest unbroken-blob
    detector — base64 and hashes hit it immediately).

    Five regexp counts + a fixed five-term entropy expression:
    each term is (exact-ratio)·ln(exact-ratio) with ln on
    engine-identical IEEE arguments (the established logprob
    contract), zero-count classes contributing exactly 0 by the
    guard, summed in FIXED textual order — no accumulation
    variance. Map-only."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(F.length("text") > 0)
    n = F.length("text")
    c_lower = F.size(F.expr("regexp_extract_all(text, '[a-z]', 0)"))
    c_upper = F.size(F.expr("regexp_extract_all(text, '[A-Z]', 0)"))
    c_digit = F.size(F.expr("regexp_extract_all(text, '[0-9]', 0)"))
    c_space = F.size(F.expr("regexp_extract_all(text, ' ', 0)"))
    classes = d.select(
        "doc_id",
        n.alias("n_chars_total"),
        c_lower.alias("c_lower"),
        c_upper.alias("c_upper"),
        c_digit.alias("c_digit"),
        c_space.alias("c_space"),
    ).withColumn(
        "c_other",
        F.col("n_chars_total")
        - F.col("c_lower")
        - F.col("c_upper")
        - F.col("c_digit")
        - F.col("c_space"),
    )

    def term(c):
        p = F.col(c) / F.col("n_chars_total")
        return F.when(F.col(c) > 0, p * F.log(p)).otherwise(F.lit(0.0))

    entropy = -(
        term("c_lower")
        + term("c_upper")
        + term("c_digit")
        + term("c_space")
        + term("c_other")
    )
    return classes.select(
        "doc_id",
        F.round(entropy, 6).alias("class_entropy"),
        F.round(F.col("c_space") / F.col("n_chars_total"), 6).alias(
            "space_ratio"
        ),
        ((F.col("c_space") == 0) & (F.col("n_chars_total") > 40)).alias(
            "suspect_unbroken"
        ),
    )


def _bpe_apply_oracle() -> str:
    """Chained-CTE oracle for BPE application: the same unrolled merge
    rounds as _bpe_learn_oracle but carrying the source word through
    each round, then an inverted tokenize join over the corpus."""
    syms = "regexp_extract_all(sym, '\\(([^)]+)\\)', 1)"
    sql = """
    WITH v0 AS (
        SELECT w, regexp_replace(w, '(.)', '(\\1)', 'g') AS sym,
               count(*)::BIGINT AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE regexp_full_match(w, '[a-z]{2,}')
        GROUP BY 1
    )"""
    for r in range(1, _BPE_ROUNDS + 1):
        sql += f""",
    p{r} AS (
        SELECT pr AS pair, sum(cnt)::BIGINT AS n
        FROM (
            SELECT cnt,
                   unnest(list_transform(range(1, len(s)),
                       i -> '(' || s[i] || ')(' || s[i + 1] || ')')) AS pr
            FROM (SELECT cnt, {syms} AS s FROM v{r - 1})
        ) GROUP BY pr
    ),
    m{r} AS (SELECT pair FROM p{r} ORDER BY n DESC, pair ASC LIMIT 1),
    v{r} AS (
        SELECT w, replace(sym, (SELECT pair FROM m{r}),
                          replace((SELECT pair FROM m{r}), ')(', '')) AS sym,
               cnt
        FROM v{r - 1}
    )"""
    sql += f""",
    tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), j AS (
        SELECT t.doc_id,
               len({syms.replace("sym", "v.sym")}) AS n_sym,
               length(v.w) AS n_chars
        FROM tok t JOIN v{_BPE_ROUNDS} v USING (w)
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_words,
           sum(n_chars)::BIGINT AS chars_total,
           sum(n_sym)::BIGINT AS tokens_bpe,
           round(sum(n_chars) * 1.0 / sum(n_sym), 6) AS compression
    FROM j GROUP BY doc_id"""
    return sql


@register("text_bpe_apply", survey_row=71, oracle=_bpe_apply_oracle())
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization APPLY — the other half of text_bpe_learn's
    induction (learn emits the merge table; this op runs the learned
    tokenizer over the corpus): per document, eligible word count,
    character total (= token count before any merge), post-merge BPE
    token count, and the realized compression ratio — the number a
    tokenizer owner actually tracks per corpus slice (fertility's
    cost twin: how many tokens a GB of text becomes decides the
    training budget).

    Scale shape: the merge loop runs over the collapsed (word, sym,
    cnt) vocab exactly as in text_bpe_learn (shared _bpe_loop, 4
    bounded-collect rounds over |vocab| rows); application to the
    corpus is then ONE inverted join — the exploded word stream
    joins the |vocab|-row symbol table (AQE broadcasts it) and the
    per-doc rollup is a plain map-side-combinable agg. The corpus
    never re-tokenizes per round; words outside the [a-z]{2,}
    eligibility regex take no part (docs with no eligible words are
    absent, both engines' inner join)."""
    vocab, _merges = _bpe_loop(spark, sf_dir)
    word_cost = vocab.select(
        "w",
        F.size(F.regexp_extract_all("sym", F.lit(_BPE_SYM_PAT), 1)).alias(
            "n_sym"
        ),
        F.length("w").alias("n_chars"),
    )
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    return (
        tok.join(word_cost, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_chars").alias("chars_total"),
            F.sum("n_sym").alias("tokens_bpe"),
            F.round(F.sum("n_chars") / F.sum("n_sym"), 6).alias(
                "compression"
            ),
        )
    )


@register(
    "text_gopher_quality_rules",
    survey_row=72,
    oracle="""
    WITH deco AS (
        SELECT doc_id,
               text ||
               coalesce(CASE WHEN doc_id % 5 = 0
                    THEN ' ## ### #' END, '') ||
               coalesce(CASE WHEN doc_id % 7 = 2
                    THEN ' 12345 67890 42' END, '') ||
               coalesce(CASE WHEN doc_id % 13 = 4
                    THEN ' a a a a a a a a a a' END, '') AS t
        FROM documents
    ),
    w AS (
        SELECT doc_id,
               string_split(t, ' ') AS words,
               len(string_split(t, ' '))::BIGINT AS n_words,
               list_sum(list_transform(string_split(t, ' '),
                        x -> len(x)))::BIGINT AS sum_wlen
        FROM deco
    ),
    c AS (
        SELECT doc_id, n_words, sum_wlen,
               len(list_filter(words,
                   x -> regexp_matches(x, '^[#…]+$')))::BIGINT
                   AS n_symbol,
               len(list_filter(words,
                   x -> regexp_matches(x, '[a-zA-Z]')))::BIGINT AS n_alpha,
               len(list_filter(words,
                   x -> x IN ('the','a','of','and','to','in')))::BIGINT
                   AS n_stop
        FROM w
    )
    SELECT doc_id, n_words, n_symbol, n_alpha, n_stop,
           n_words BETWEEN 30 AND 10000 AS r_word_count,
           sum_wlen BETWEEN 3 * n_words AND 10 * n_words
               AS r_mean_word_len,
           10 * n_symbol <= n_words AS r_symbol_ratio,
           5 * n_alpha >= 4 * n_words AS r_alpha_ratio,
           n_stop >= 2 AS r_stopwords,
           (n_words BETWEEN 30 AND 10000)
               AND sum_wlen BETWEEN 3 * n_words AND 10 * n_words
               AND 10 * n_symbol <= n_words
               AND 5 * n_alpha >= 4 * n_words
               AND n_stop >= 2 AS keep
    FROM c
    """,
)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-filter battery (Rae et al. 2021, App. A —
    public) as one map-only pass: word-count bounds, mean-word-length
    bounds, symbol-to-word ratio, alphabetic-word ratio, minimum
    stopword count, and the conjunctive keep verdict. Failure modes
    the fixture text lacks (symbol runs, numeric tokens, 1-char
    padding) are synthesized on doc_id residue classes, the
    text_markdown_profile pattern, so every rule has both outcomes.

    Every threshold is evaluated in INTEGER arithmetic (mean length
    in [3,10] becomes 3n <= sumlen <= 10n; ratio <= 0.1 becomes
    10*n_sym <= n; ratio >= 0.8 becomes 5*n_alpha >= 4n) — no float
    division anywhere, so the verdicts are exact at any scale and
    the op stays in whole-stage codegen. At 100 TB this is the
    cheapest possible shape: narrow scan, no shuffle, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.coalesce(F.when(did % 5 == 0, F.lit(" ## ### #")), F.lit("")),
        F.coalesce(
            F.when(did % 7 == 2, F.lit(" 12345 67890 42")), F.lit("")
        ),
        F.coalesce(
            F.when(did % 13 == 4, F.lit(" a a a a a a a a a a")), F.lit("")
        ),
    )
    words = F.split(t, " ")
    n_words = F.size(words).cast("long")
    sum_wlen = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_symbol = F.size(
        F.filter(words, lambda x: x.rlike("^[#…]+$"))
    ).cast("long")
    n_alpha = F.size(F.filter(words, lambda x: x.rlike("[a-zA-Z]"))).cast(
        "long"
    )
    n_stop = F.size(
        F.filter(words, lambda x: x.isin("the", "a", "of", "and", "to", "in"))
    ).cast("long")
    base = d.select(
        "doc_id",
        n_words.alias("n_words"),
        sum_wlen.alias("sum_wlen"),
        n_symbol.alias("n_symbol"),
        n_alpha.alias("n_alpha"),
        n_stop.alias("n_stop"),
    )
    r_wc = F.col("n_words").between(30, 10000)
    r_mwl = F.col("sum_wlen").between(
        3 * F.col("n_words"), 10 * F.col("n_words")
    )
    r_sym = 10 * F.col("n_symbol") <= F.col("n_words")
    r_alpha = 5 * F.col("n_alpha") >= 4 * F.col("n_words")
    r_stop = F.col("n_stop") >= 2
    return base.select(
        "doc_id",
        "n_words",
        "n_symbol",
        "n_alpha",
        "n_stop",
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_sym.alias("r_symbol_ratio"),
        r_alpha.alias("r_alpha_ratio"),
        r_stop.alias("r_stopwords"),
        (r_wc & r_mwl & r_sym & r_alpha & r_stop).alias("keep"),
    )


@register(
    "text_c4_cleaning_rules",
    survey_row=72,
    oracle="""
    WITH built AS (
        SELECT doc_id,
               'Reference corpora motivate this cleaning pass today.'
               || chr(10) || text ||
               coalesce(CASE WHEN doc_id % 3 = 0
                    THEN chr(10) || 'short line' END, '') ||
               coalesce(CASE WHEN doc_id % 4 = 1
                    THEN chr(10) ||
                         'This line has more than enough words.' END, '') ||
               coalesce(CASE WHEN doc_id % 6 = 2
                    THEN chr(10) || 'lorem ipsum dolor sit amet.' END, '') ||
               coalesce(CASE WHEN doc_id % 9 = 5
                    THEN chr(10) || 'function() { return 1; }' END, '')
                   AS t
        FROM documents
    ),
    split AS (
        SELECT doc_id, t, string_split(t, chr(10)) AS lines FROM built
    ),
    kept AS (
        SELECT doc_id, t, lines,
               list_filter(lines,
                   l -> regexp_matches(l, '[.!?]$')
                        AND len(string_split(l, ' ')) >= 5) AS keep_lines
        FROM split
    )
    SELECT doc_id,
           len(lines)::BIGINT AS n_lines,
           len(keep_lines)::BIGINT AS n_kept,
           round(coalesce(list_sum(list_transform(keep_lines,
                     l -> len(l))), 0)::DOUBLE / len(t), 6)
               AS retained_char_ratio,
           contains(t, 'lorem ipsum') AS has_lorem,
           contains(t, '{') AS has_brace,
           len(keep_lines) >= 2
               AND NOT contains(t, 'lorem ipsum')
               AND NOT contains(t, '{') AS doc_kept
    FROM kept
    """,
)
def text_c4_cleaning_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning pass (Raffel et al. 2020 §2.2 — public):
    line-level retention (keep only lines ending in terminal
    punctuation with >= 5 words) plus the document-level drop rules
    ('lorem ipsum' placeholder text, curly braces as a code signal)
    and a minimum-retained-lines gate. The fixture text is one
    unpunctuated line, so multi-line structure is synthesized on
    residue classes: a always-kept lead sentence, the raw soup line
    (dropped by the punctuation rule), a short line, a kept long
    sentence, a lorem-ipsum line, a brace line.

    Line filtering is an array higher-order filter — per-document,
    no explode, no shuffle, pure codegen. retained_char_ratio is the
    one float (ratio of two exact ints, rounded at the edge). The
    same pass at 100 TB is scan-bound; rules evaluate in one
    projection."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    nl = F.lit("\n")
    t = F.concat(
        F.lit("Reference corpora motivate this cleaning pass today."),
        nl,
        F.col("text"),
        F.coalesce(
            F.when(did % 3 == 0, F.concat(nl, F.lit("short line"))),
            F.lit(""),
        ),
        F.coalesce(
            F.when(
                did % 4 == 1,
                F.concat(
                    nl, F.lit("This line has more than enough words.")
                ),
            ),
            F.lit(""),
        ),
        F.coalesce(
            F.when(
                did % 6 == 2,
                F.concat(nl, F.lit("lorem ipsum dolor sit amet.")),
            ),
            F.lit(""),
        ),
        F.coalesce(
            F.when(
                did % 9 == 5,
                F.concat(nl, F.lit("function() { return 1; }")),
            ),
            F.lit(""),
        ),
    )
    built = d.select("doc_id", t.alias("t"))
    lines = F.split(F.col("t"), "\n")
    keep_lines = F.filter(
        lines,
        lambda l: l.rlike("[.!?]$") & (F.size(F.split(l, " ")) >= 5),
    )
    kept_chars = F.coalesce(
        F.aggregate(
            keep_lines, F.lit(0).cast("long"), lambda a, l: a + F.length(l)
        ),
        F.lit(0).cast("long"),
    )
    has_lorem = F.col("t").contains("lorem ipsum")
    has_brace = F.col("t").contains("{")
    return built.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(keep_lines).cast("long").alias("n_kept"),
        F.round(
            kept_chars.cast("double") / F.length("t"), 6
        ).alias("retained_char_ratio"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        (
            (F.size(keep_lines) >= 2) & ~has_lorem & ~has_brace
        ).alias("doc_kept"),
    )


@register(
    "text_dup_line_fraction",
    survey_row=72,
    oracle="""
    WITH built AS (
        SELECT doc_id,
               'alpha beta gamma' || chr(10) || text ||
               coalesce(CASE WHEN doc_id % 2 = 0
                    THEN chr(10) || 'alpha beta gamma' END, '') ||
               coalesce(CASE WHEN doc_id % 5 = 1
                    THEN chr(10) || 'delta epsilon'
                         || chr(10) || 'delta epsilon' END, '') AS t
        FROM documents
    ),
    lines AS (
        SELECT doc_id, u.line
        FROM built, unnest(string_split(t, chr(10))) AS u(line)
    ),
    counted AS (
        SELECT doc_id, line, count(*) AS cnt, len(line) AS chars
        FROM lines GROUP BY doc_id, line
    )
    SELECT doc_id,
           sum(cnt)::BIGINT AS n_lines,
           sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT AS dup_lines,
           round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::DOUBLE
                 / sum(cnt), 6) AS dup_line_fraction,
           round(sum(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END)::DOUBLE
                 / sum(cnt * chars), 6) AS dup_char_fraction
    FROM counted
    GROUP BY doc_id
    """,
)
def text_dup_line_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals (Rae et al. 2021, App. A — public)
    at line granularity: fraction of lines that are duplicates of
    another line in the SAME document, and the fraction of characters
    those lines account for — the two cheapest structural-repetition
    filters a crawl pipeline applies before any n-gram work.
    Duplicate structure is synthesized on residue classes (the
    fixture is single-line).

    Shape: explode lines → count per (doc, line) → re-aggregate per
    doc. Two keyed exchanges, but NEITHER carries raw lines: map-side
    partial aggregation collapses identical lines before the first
    shuffle, and the second shuffle moves one already-counted row per
    (doc, line). (A single doc_id-only repartition would make the
    aggregations co-located but would ship every exploded line raw —
    strictly worse at 100 TB than two partial-agg'd exchanges.)
    Counts are integers; the two ratios divide exact ints at the
    output edge."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    nl = F.lit("\n")
    t = F.concat(
        F.lit("alpha beta gamma"),
        nl,
        F.col("text"),
        F.coalesce(
            F.when(did % 2 == 0, F.concat(nl, F.lit("alpha beta gamma"))),
            F.lit(""),
        ),
        F.coalesce(
            F.when(
                did % 5 == 1,
                F.concat(
                    nl, F.lit("delta epsilon"), nl, F.lit("delta epsilon")
                ),
            ),
            F.lit(""),
        ),
    )
    lines = (
        d.select("doc_id", F.explode(F.split(t, "\n")).alias("line"))
        .groupBy("doc_id", "line")
        .agg(F.count("*").alias("cnt"), F.length("line").alias("chars"))
    )
    dup = F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0))
    dupchars = F.when(
        F.col("cnt") > 1, F.col("cnt") * F.col("chars")
    ).otherwise(F.lit(0))
    return lines.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_lines"),
        F.sum(dup).cast("long").alias("dup_lines"),
        F.round(
            F.sum(dup).cast("double") / F.sum("cnt"), 6
        ).alias("dup_line_fraction"),
        F.round(
            F.sum(dupchars).cast("double")
            / F.sum(F.col("cnt") * F.col("chars")),
            6,
        ).alias("dup_char_fraction"),
    )


@register(
    "text_rake_keywords",
    survey_row=72,
    oracle="""
    WITH marked AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                   w -> CASE WHEN w IN ('the','a','of','and','to','in')
                        THEN '|' ELSE w END) AS mk
        FROM documents
    ),
    ph AS (
        SELECT trim(p.p) AS phrase
        FROM marked,
             unnest(string_split(array_to_string(mk, ' '), '|')) AS p(p)
        WHERE trim(p.p) <> ''
    ),
    pc AS (SELECT phrase, count(*) AS cnt FROM ph GROUP BY phrase),
    pw AS (
        SELECT phrase, cnt,
               len(string_split(phrase, ' ')) AS plen, w.w AS word
        FROM pc, unnest(string_split(phrase, ' ')) AS w(w)
    ),
    ws AS (
        SELECT word, sum(cnt)::BIGINT AS freq,
               sum(cnt * plen)::BIGINT AS deg
        FROM pw GROUP BY word
    ),
    wq AS (
        SELECT word, round(1000000.0 * deg / freq)::BIGINT AS sq FROM ws
    ),
    psc AS (
        SELECT pw.phrase, pw.cnt, pw.plen, sum(wq.sq)::BIGINT AS sqsum
        FROM pw JOIN wq USING (word)
        GROUP BY pw.phrase, pw.cnt, pw.plen
    )
    SELECT phrase, cnt AS n_occurrences, plen AS n_words,
           round(sqsum / 1000000.0, 6) AS rake_score
    FROM psc
    ORDER BY rake_score DESC, phrase
    LIMIT 20
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010 — public): candidate
    phrases are maximal stopword-free word runs; each word scores
    degree/frequency (degree = total length of phrases it appears
    in); a phrase scores the sum of its member words — corpus-level
    top-20. The classic no-model keyphrase baseline a corpus profiler
    runs before any embedding work.

    Distributed shape: phrase segmentation is pure array code
    (stopwords map to a delimiter, split, trim — no explode until
    phrases exist), then occurrences collapse FIRST (groupBy phrase —
    map-side partials make the shuffle |distinct phrases|), word
    stats aggregate over the collapsed phrase table weighted by
    count, and the phrase-score join fans out only |distinct
    phrases| × words-per-phrase. Word scores are quantized to exact
    micro-units (round(1e6·deg/freq) — deg·1e6 stays < 2⁵³ far past
    sf10) so the per-phrase score sum is an INTEGER sum — order-free
    on both engines; the one float division is at the output edge.
    Top-20 compiles to TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    marked = F.transform(
        words,
        lambda w: F.when(
            w.isin("the", "a", "of", "and", "to", "in"), F.lit("|")
        ).otherwise(w),
    )
    phrase_arr = F.filter(
        F.transform(
            F.split(F.array_join(marked, " "), "\\|"),
            lambda p: F.trim(p),
        ),
        lambda p: p != "",
    )
    ph = d.select(F.explode(phrase_arr).alias("phrase"))
    # The collapsed phrase table feeds both the word-stats aggregate
    # and the phrase-score join-back; persist it so the corpus scan +
    # segmentation runs once (it is the algorithm's working set —
    # |distinct phrases| — either way).
    pc = ph.groupBy("phrase").agg(F.count(F.lit(1)).alias("cnt")).persist()
    pw = pc.select(
        "phrase",
        "cnt",
        F.size(F.split(F.col("phrase"), " ")).alias("plen"),
        F.explode(F.split(F.col("phrase"), " ")).alias("word"),
    )
    ws = pw.groupBy("word").agg(
        F.sum("cnt").cast("long").alias("freq"),
        F.sum(F.col("cnt") * F.col("plen")).cast("long").alias("deg"),
    )
    wq = ws.select(
        "word",
        F.round(F.lit(1000000.0) * F.col("deg") / F.col("freq"))
        .cast("long")
        .alias("sq"),
    )
    psc = (
        pw.join(wq, "word")
        .groupBy("phrase", "cnt", "plen")
        .agg(F.sum("sq").cast("long").alias("sqsum"))
    )
    return (
        psc.select(
            "phrase",
            F.col("cnt").alias("n_occurrences"),
            F.col("plen").alias("n_words"),
            F.round(F.col("sqsum") / 1000000.0, 6).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(20)
    )


@register(
    "text_kneser_ney_bigram",
    survey_row=72,
    oracle="""
    WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
    bg AS (
        SELECT z[1] AS w1, z[2] AS w2, count(*)::BIGINT AS c
        FROM w, unnest(list_zip(ws[1:-2], ws[2:])) AS t(z)
        GROUP BY w1, w2
    ),
    ctx AS (
        SELECT w1, sum(c)::BIGINT AS ctx_total, count(*)::BIGINT AS nfw
        FROM bg GROUP BY w1
    ),
    bwd AS (SELECT w2, count(*)::BIGINT AS nbw FROM bg GROUP BY w2),
    tot AS (SELECT count(*)::BIGINT AS btot FROM bg)
    SELECT bg.w1, bg.w2, bg.c,
           round(((CAST(bg.c AS DOUBLE) - 0.75)
                  + (0.75 * ctx.nfw)
                    * (CAST(bwd.nbw AS DOUBLE) / tot.btot))
                 / ctx.ctx_total, 6) AS p_kn
    FROM bg
    JOIN ctx USING (w1)
    JOIN bwd USING (w2)
    CROSS JOIN tot
    ORDER BY p_kn DESC, w1, w2
    LIMIT 30
    """,
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram language model (Kneser & Ney
    1995 / Chen & Goodman 1998 — public): the classic smoothed n-gram
    estimate used for perplexity filtering and domain scoring before
    neural LMs, with the CONTINUATION-count backoff that plain
    add-discount smoothing lacks. P(w2|w1) = (c(w1w2) − D)/c(w1·) +
    D·N₁₊(w1·)/c(w1·) · N₁₊(·w2)/|bigrams|, D = 0.75; top-30.

    Everything derives from ONE bigram-count aggregate: context
    totals and forward type-counts are a groupBy over the collapsed
    bigram table (not the corpus), continuation counts a second, and
    the grand type-total a 1-row broadcast. D = 0.75 is binary-exact,
    counts are integers, and both engines evaluate the identically
    parenthesized expression over identical inputs — deterministic
    without any fixed-point tricks (max(c−D,0) is vacuous: c ≥ 1 ⇒
    c−D ≥ 0.25, noted rather than computed). At 100 TB the corpus is
    touched once; all model state is |observed bigrams|."""
    ws = F.split(F.col("text"), " ")
    pairs = F.arrays_zip(
        F.slice(ws, 1, F.size(ws) - 1).alias("w1"),
        F.slice(ws, 2, F.size(ws) - 1).alias("w2"),
    )
    d = load_table(spark, sf_dir, "documents")
    bg = (
        d.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()  # feeds ctx, bwd, tot, and the final join
    )
    ctx = bg.groupBy("w1").agg(
        F.sum("c").alias("ctx_total"), F.count(F.lit(1)).alias("nfw")
    )
    bwd = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("nbw"))
    tot = bg.agg(F.count(F.lit(1)).alias("btot"))
    p_kn = (
        (F.col("c").cast("double") - F.lit(0.75))
        + (F.lit(0.75) * F.col("nfw"))
        * (F.col("nbw").cast("double") / F.col("btot"))
    ) / F.col("ctx_total")
    return (
        bg.join(ctx, "w1")
        .join(bwd, "w2")
        .join(F.broadcast(tot))
        .select(
            "w1", "w2", "c", F.round(p_kn, 6).alias("p_kn")
        )
        .orderBy(F.desc("p_kn"), "w1", "w2")
        .limit(30)
    )


@register(
    "text_pmi_cooccurrence",
    survey_row=73,
    oracle="""
    WITH wd AS (
        SELECT DISTINCT doc_id, word
        FROM (SELECT doc_id,
                     unnest(string_split(lower(text), ' ')) AS word
              FROM documents)
    ),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM wd),
    df AS (SELECT word, count(*) AS df FROM wd GROUP BY word),
    pairs AS (
        SELECT a.word AS w1, b.word AS w2, count(*) AS n12
        FROM wd a JOIN wd b
          ON a.doc_id = b.doc_id AND a.word < b.word
        GROUP BY a.word, b.word
    ),
    scored AS (
        SELECT w1, w2, n12,
               CAST(floor(ln((n12 * 1.0 * n_docs)
                             / (d1.df * 1.0 * d2.df)) * 1000000)
                    AS BIGINT) AS pmi_micro
        FROM pairs, nd
        JOIN df d1 ON pairs.w1 = d1.word
        JOIN df d2 ON pairs.w2 = d2.word
        WHERE n12 * 10 >= n_docs
    )
    SELECT w1, w2, n12,
           round(pmi_micro / 1000000.0, 6) AS pmi
    FROM scored
    ORDER BY pmi_micro DESC, w1 ASC, w2 ASC
    LIMIT 20
    """,
)
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over document-level word
    co-occurrence — the association measure behind collocation
    mining, topic-seed discovery, and embedding-quality sanity
    checks (word2vec's SGNS objective IS shifted PMI, Levy & 
    Goldberg 2014). PMI(w1,w2) = ln(P(w1,w2)/(P(w1)P(w2))) with
    document-level cooccurrence probabilities; support-floored at
    n12 ≥ n_docs/10 so rare-pair noise (PMI's classic failure mode)
    never ranks.

    Pair generation is MAP-ONLY: each doc's distinct-word ARRAY
    yields its i<j pairs via two posexplodes on the row — no
    doc-keyed self-join shuffle (the oracle's formulation); the only
    exchanges are the pair-count aggregate and two broadcast df
    joins. The ln argument is one engine-identical double ratio of
    exact int64 products, quantized to micro-units before ordering —
    ties cannot flicker. At 100 TB the distinct-word arrays are
    vocabulary-pruned first (top-V semi-join) so per-doc pair
    fan-out is V-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(F.split(F.lower(F.col("text")), " "))
        ).alias("ws"),
    )
    wd = words.select("doc_id", F.explode("ws").alias("word"))
    nd = wd.agg(F.countDistinct("doc_id").alias("n_docs"))
    df = wd.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    pairs = (
        words.select(
            "doc_id",
            F.posexplode("ws").alias("i", "w1"),
            F.col("ws").alias("ws2"),
        )
        .select("doc_id", "i", "w1", F.posexplode("ws2").alias("j", "w2"))
        .filter(F.col("i") < F.col("j"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n12"))
    )
    d1 = df.select(F.col("word").alias("w1"), F.col("df").alias("df1"))
    d2 = df.select(F.col("word").alias("w2"), F.col("df").alias("df2"))
    scored = (
        pairs.crossJoin(F.broadcast(nd))
        .join(F.broadcast(d1), "w1")
        .join(F.broadcast(d2), "w2")
        .filter(F.col("n12") * 10 >= F.col("n_docs"))
        .select(
            "w1",
            "w2",
            "n12",
            F.floor(
                F.log(
                    (F.col("n12") * 1.0 * F.col("n_docs"))
                    / (F.col("df1") * 1.0 * F.col("df2"))
                )
                * 1000000
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return (
        scored.orderBy(
            F.col("pmi_micro").desc(), F.col("w1").asc(), F.col("w2").asc()
        )
        .limit(20)
        .select(
            "w1",
            "w2",
            "n12",
            F.round(F.col("pmi_micro") / 1000000.0, 6).alias("pmi"),
        )
    )


@register(
    "text_naive_bayes_lang",
    survey_row=72,
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(string_split(lower(text), ' ')) AS word
        FROM documents
    ),
    docw AS (
        SELECT doc_id, word, max(lang) AS lang, count(*) AS m FROM toks
        GROUP BY doc_id, word
    ),
    cls AS (
        SELECT lang, word, sum(m) AS c FROM docw GROUP BY lang, word
    ),
    lnc AS (
        SELECT lang, word,
               CAST(floor(ln((c + 1) * 1.0) * 1000000) AS BIGINT) AS lnc1
        FROM cls
    ),
    vocab AS (SELECT count(DISTINCT word) AS v FROM cls),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM docw),
    langdim AS (
        SELECT t.lang,
               CAST(floor(ln(d_l * 1.0 / n_docs) * 1000000) AS BIGINT)
                   AS prior_u,
               CAST(floor(ln((n_l + v) * 1.0) * 1000000) AS BIGINT)
                   AS lnnv_u
        FROM (SELECT lang, sum(c) AS n_l FROM cls GROUP BY lang) t
        JOIN (SELECT lang, count(DISTINCT doc_id) AS d_l
              FROM docw GROUP BY lang) d ON t.lang = d.lang, vocab, nd
    ),
    words AS (SELECT DISTINCT word FROM cls),
    dense AS (
        SELECT words.word, langdim.lang,
               coalesce(lnc.lnc1, 0) AS lnc1,
               langdim.prior_u, langdim.lnnv_u
        FROM words CROSS JOIN langdim
        LEFT JOIN lnc ON lnc.word = words.word
                     AND lnc.lang = langdim.lang
    ),
    scores AS (
        SELECT docw.doc_id, max(docw.lang) AS true_lang,
               dense.lang AS cand,
               max(dense.prior_u) + sum(docw.m * dense.lnc1)
                   - sum(docw.m) * max(dense.lnnv_u) AS score
        FROM docw JOIN dense ON docw.word = dense.word
        GROUP BY docw.doc_id, dense.lang
    ),
    pred AS (
        SELECT doc_id, true_lang, cand AS pred_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand ASC) AS rk
        FROM scores
    )
    SELECT true_lang, pred_lang, count(*) AS n
    FROM pred WHERE rk = 1
    GROUP BY true_lang, pred_lang
    ORDER BY true_lang, pred_lang
    """,
)
def text_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial NAIVE BAYES language classifier — trained AND
    applied in one distributed plan, confusion matrix out. The
    classical supervised baseline for corpus routing (langid.py's
    model family), expressed entirely as aggregates and joins:
    train = per-(lang,word) counts with add-one smoothing; score =
    prior + Σ_w m_w·ln(c_wl+1) − n_tokens·ln(N_l+V). The model is
    DENSIFIED over vocab × langs (model-sized — |V|·|langs| rows,
    never docs × langs), which buys the scoring pass its shape: ONE
    broadcast join of the dense model onto per-doc word counts, one
    (doc, lang) aggregate that yields the score AND n_tokens
    (Σm within a lang group IS the doc length) AND the true label in
    the same reduction, and a min_by-struct argmax — no second
    corpus pass, no doc×lang cross join, no window sort
    (bench-measured: the sparse-model form with its ntok aggregate,
    cross join, left join and rank window cost ~2× the wall).

    Determinism: every log quantizes to integer micro-units (one
    libm call per vocab entry on an engine-identical integer
    argument — the zipf_fit discipline), so per-doc scores are
    exact int64 sums and the argmax (min_by over the (−score, lang)
    struct ≡ the oracle's score DESC, lang ASC rank) is tie-stable.
    The corpus explodes ONCE into a persisted per-(doc,word) count
    frame from which every model statistic derives. Self-application
    on the training corpus keeps the gate closed-form; a held-out
    variant is pipeline_train_eval_split composed upstream."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE token pass: the corpus explodes exactly once into per-doc
    # word counts (lang rides along — constant per doc); every model
    # statistic (class counts, doc lengths, priors, vocab size)
    # derives from this persisted frame, not from re-exploding text.
    # Tokens are xxhash64 DIGESTS end-to-end — the confusion-
    # matrix output never needs a word string, so the (doc, word)
    # collapse, the class counts, the vocab size and the scoring
    # join all key on 8 bytes (collisions merge two vocab entries
    # with ~|V|²/2⁶⁴ ≈ 1e-9 odds — hash-verified per SF like the
    # other digest ops)
    docw = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(
                F.expr("transform(split(lower(text), ' '), x -> xxhash64(x))")
            ).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.max("lang").alias("lang"), F.count(F.lit(1)).alias("m"))
        .persist()
    )
    cls = docw.groupBy("lang", "word").agg(F.sum("m").alias("c"))
    lnc = cls.select(
        F.col("lang").alias("l_lang"),
        F.col("word").alias("l_word"),
        F.floor(F.log((F.col("c") + 1) * 1.0) * 1000000)
        .cast("long")
        .alias("lnc1"),
    )
    vocab = cls.agg(F.countDistinct("word").alias("v"))
    nd = docw.agg(F.countDistinct("doc_id").alias("n_docs"))
    n_l = cls.groupBy("lang").agg(F.sum("c").alias("n_l"))
    d_l = docw.groupBy("lang").agg(F.countDistinct("doc_id").alias("d_l"))
    langdim = (
        n_l.join(d_l, "lang")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(nd))
        .select(
            "lang",
            F.floor(
                F.log(F.col("d_l") * 1.0 / F.col("n_docs")) * 1000000
            )
            .cast("long")
            .alias("prior_u"),
            F.floor(F.log((F.col("n_l") + F.col("v")) * 1.0) * 1000000)
            .cast("long")
            .alias("lnnv_u"),
        )
    )
    # dense model: vocab x langs with coalesce-0 for unseen pairs
    # (ln(0+1) = 0) — model-sized, so the scoring pass is ONE
    # broadcast join; lnc's columns carry fresh names (l_*) because
    # dense and docw share cls/docw lineage
    words = cls.select("word").distinct()
    dense = (
        words.crossJoin(F.broadcast(langdim))
        .join(
            F.broadcast(lnc),
            (F.col("l_word") == F.col("word"))
            & (F.col("l_lang") == F.col("lang")),
            "left",
        )
        .select(
            "word",
            F.col("lang").alias("cand"),
            F.coalesce(F.col("lnc1"), F.lit(0)).alias("lnc1"),
            "prior_u",
            "lnnv_u",
        )
        .persist()  # the trained model: |V|x|langs| rows, built once
    )
    scores = (
        docw.join(F.broadcast(dense), "word")
        .groupBy("doc_id", "cand")
        .agg(
            (
                F.max("prior_u")
                + F.sum(F.col("m") * F.col("lnc1"))
                - F.sum("m") * F.max("lnnv_u")
            ).alias("score"),
            F.max("lang").alias("true_lang"),
        )
    )
    pred = scores.groupBy("doc_id").agg(
        F.max("true_lang").alias("true_lang"),
        F.min_by(
            "cand", F.struct((-F.col("score")).alias("ns"), F.col("cand"))
        ).alias("pred_lang"),
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


@register(
    "pipeline_perplexity_filter",
    survey_row=72,
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(string_split(lower(text), ' ')) AS word
        FROM documents
    ),
    cw AS (SELECT word, count(*) AS c FROM toks GROUP BY word),
    tot AS (SELECT sum(c) AS total FROM cw),
    lm AS (
        SELECT word,
               CAST(floor(ln(c * 1.0 / total) * 1000000) AS BIGINT)
                   AS lnp_u
        FROM cw, tot
    ),
    per_doc AS (
        SELECT toks.doc_id, toks.source,
               count(*) AS n_tokens,
               sum(lm.lnp_u) AS sum_lnp_u
        FROM toks JOIN lm ON toks.word = lm.word
        GROUP BY toks.doc_id, toks.source
    ),
    scored AS (
        SELECT source,
               CAST(floor(-sum_lnp_u * 1.0 / n_tokens) AS BIGINT)
                   AS nll_u
        FROM per_doc
    )
    SELECT source, count(*) AS n_docs,
           sum(CASE WHEN nll_u <= 3600000 THEN 1 ELSE 0 END)::BIGINT
               AS n_keep,
           round(sum(nll_u) / 1000000.0 / count(*), 6) AS mean_nll
    FROM scored GROUP BY source ORDER BY source
    """,
)
def pipeline_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERPLEXITY-based quality filtering (CCNet, Wenzek et al.
    2020): score every document by its per-token negative
    log-likelihood under a unigram LM trained on the corpus itself,
    keep documents under a fluency threshold — the standard
    pretraining-corpus gate (CCNet buckets on KenLM perplexity;
    perplexity = e^nll is monotonic in the nll computed here, so
    thresholding nll IS thresholding perplexity without ever
    calling exp). Per-source keep rates + mean nll out — the
    report that decides which crawl sources survive.

    LM training and scoring share ONE token pass: word counts
    collapse map-side, per-word ln(c/total) quantizes to integer
    micro-units (one libm call per VOCAB word, not per token), so
    each doc's Σ lnp is an exact int64 and the per-token nll an
    engine-identical floored integer. The model join is a broadcast
    (vocab-sized); no Python, no float accumulation, corpus touched
    once. Self-trained LM keeps the gate closed-form; swapping in a
    foreign LM is the same join against a different (word, lnp)
    table."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
    )
    cw = toks.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = cw.agg(F.sum("c").alias("total"))
    lm = cw.crossJoin(F.broadcast(tot)).select(
        "word",
        F.floor(F.log(F.col("c") * 1.0 / F.col("total")) * 1000000)
        .cast("long")
        .alias("lnp_u"),
    )
    per_doc = (
        toks.join(F.broadcast(lm), "word")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lnp_u").alias("sum_lnp_u"),
        )
    )
    scored = per_doc.select(
        "source",
        F.floor(-F.col("sum_lnp_u") * 1.0 / F.col("n_tokens"))
        .cast("long")
        .alias("nll_u"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("nll_u") <= 3600000, 1).otherwise(0)
            ).alias("n_keep"),
            F.round(
                F.sum("nll_u") / 1000000.0 / F.count(F.lit(1)), 6
            ).alias("mean_nll"),
        )
        .orderBy("source")
    )


@register(
    "text_bm25_search",
    survey_row=73,
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    corpus AS (
        SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl
    ),
    q AS (SELECT unnest(['spark', 'join', 'window']) AS term),
    tf AS (
        SELECT doc_id, word AS term, count(*) AS tf
        FROM toks WHERE word IN (SELECT term FROM q)
        GROUP BY doc_id, word
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    contrib AS (
        SELECT tf.doc_id,
               CAST(floor(
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * (tf * 2.2)
                   / (tf + 1.2 * (0.25 + 0.75 * dl.dl * n_docs
                                          * 1.0 / total_len))
                   * 1000000) AS BIGINT) AS c_u
        FROM tf
        JOIN df ON tf.term = df.term
        JOIN dl ON tf.doc_id = dl.doc_id, corpus
    ),
    scored AS (
        SELECT doc_id, sum(c_u) AS score_u FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, round(score_u / 1000000.0, 6) AS bm25
    FROM scored
    ORDER BY score_u DESC, doc_id ASC
    LIMIT 10
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Sparck Jones; k1=1.2, b=0.75)
    for a fixed keyword query — the lexical search primitive every
    catalog/doc-discovery surface ships, and the hybrid-search
    partner of sim_topk_cosine. Scoring is the standard
    idf · tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)) with the +1 idf floor
    (no negative idf at df > N/2).

    Each (doc, term) contribution is ONE fixed IEEE expression over
    five exact integers (tf, df, N, dl, Σdl) floored to micro-units,
    so the per-doc score is an order-free int64 sum of ≤|query|
    terms and the ranking cannot flicker. Plan: tokens filter to
    query terms at the SCAN side (an IN over a 3-term list — the
    inverted-index probe this op would become against a real index),
    df and doc-length frames broadcast, top-10 is
    TakeOrderedAndProject. The corpus-sized work is one filtered
    aggregate; everything after runs on |matching docs|."""
    docs = load_table(spark, sf_dir, "documents")
    terms = ["spark", "join", "window"]
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
    )
    tf = (
        toks.filter(F.col("word").isin(terms))
        .groupBy("doc_id", F.col("word").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(dl.withColumnRenamed("doc_id", "dl_doc")),
              F.col("doc_id") == F.col("dl_doc"))
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2
                    * (
                        0.25
                        + 0.75
                        * F.col("dl")
                        * F.col("n_docs")
                        * 1.0
                        / F.col("total_len")
                    )
                )
                * 1000000
            )
            .cast("long")
            .alias("c_u"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.sum("c_u").alias("score_u"))
    return (
        scored.orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
        .limit(10)
        .select(
            "doc_id",
            F.round(F.col("score_u") / 1000000.0, 6).alias("bm25"),
        )
    )


@register(
    "text_dup_ngram_coverage",
    survey_row=72,
    oracle="""
    WITH d AS (
        SELECT doc_id, source, string_split(lower(text), ' ') AS w
        FROM documents
    ),
    idx AS (
        SELECT doc_id, source, w, unnest(range(len(w) - 7)) AS i FROM d
    ),
    g AS (
        SELECT doc_id, source,
               w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
               || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
               || ' ' || w[i+8] AS g
        FROM idx
    ),
    df AS (SELECT g, count(DISTINCT doc_id) AS df FROM g GROUP BY g),
    per_doc AS (
        SELECT doc_id, source, count(*) AS n_grams,
               sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS dup_grams
        FROM g JOIN df USING (g) GROUP BY doc_id, source
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(n_grams)::BIGINT AS total_grams,
           sum(dup_grams)::BIGINT AS dup_grams,
           round(sum(dup_grams) * 1.0 / sum(n_grams), 6) AS dup_coverage,
           sum(CASE WHEN 2 * dup_grams >= n_grams THEN 1 ELSE 0 END)::BIGINT
               AS n_docs_majority_dup
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def text_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-DOCUMENT duplicate-n-gram coverage — the n-gram-granular
    form of exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — public): per doc,
    the fraction of its 8-gram positions whose 8-gram also occurs in
    ANOTHER document (distinct-doc df ≥ 2), rolled up per source as
    micro-averaged coverage plus the count of majority-duplicated
    docs (2·dup ≥ total, an exact integer compare — no float
    threshold). Complements `text_repetition_score` (within-doc) and
    `text_ngram_novelty` (first-occurrence direction): this is the
    symmetric "how much of this source is boilerplate shared with
    the rest of the corpus" curation signal.

    Shape: one explode to 8-gram positions, a distinct-doc df
    aggregate (gram-keyed, map-side combined — the same inverted
    index every near-dup op builds), a gram-keyed join back, then
    doc- and source-level integer rollups. The gram index is the
    scale object: gram-keyed and bucketable; only counts cross the
    later shuffles. Micro-averaging keeps every output an exact
    integer ratio — no per-doc float ever sums."""
    docs = load_table(spark, sf_dir, "documents")
    # Two levers stack here (digests and the signature-collapse
    # recipe). (1) The gram is an xxhash64 TUPLE DIGEST,
    # never a string — the 50–80-byte 8-gram text used to be the
    # shuffle/window key; the 8-byte digest is computed map-side
    # inside the transform lambda and the gram string never even
    # materializes (collisions merge two df counts at ~n²/2⁶⁵ odds —
    # hash-verified per SF; measured alone: sf10 13.6 s → 7.9 s).
    # (2) EXACT-DUPLICATE TEXTS COLLAPSE FIRST — the standard first
    # step of any near-dup pipeline: every per-doc quantity here
    # (per-gram position counts, n_grams, dup_grams) is a pure
    # function of the text, and df(g) = Σ n_docs over the distinct
    # texts containing g, so the entire gram pipeline runs over
    # DISTINCT texts only (sf10: 4 992 of 500 000 docs) and doc-level
    # rows are recovered by one signature join at the end. Join
    # strategies are left to AQE runtime stats: on a dup-heavy
    # corpus the signature frames broadcast; on an all-unique corpus
    # the collapse degrades to one extra metadata-width shuffle.
    # Measured sf10 same-session: 8.8 s → 1.6 s, identical hashes at
    # every swept SF. Dead ends also measured: groupBy+join-back
    # instead of the window (9.6 s), broadcast join-back (9.0 s) —
    # the explode+hash-agg volume was the bottleneck, which only the
    # collapse removes.
    sig = F.xxhash64(F.lower(F.col("text")))
    mem = docs.select("doc_id", "source", sig.alias("sig"))
    reps = mem.groupBy("sig").agg(
        F.min("doc_id").alias("rep_doc"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    rep_texts = (
        docs.select("doc_id", "text")
        .join(
            reps.select(F.col("rep_doc").alias("doc_id"), "sig", "n_docs"),
            "doc_id",
        )
        .select(
            "sig",
            "n_docs",
            F.split(F.lower(F.col("text")), " ").alias("w"),
        )
    )
    g = rep_texts.select(
        "sig",
        "n_docs",
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 8 THEN"
                " transform(sequence(0, size(w) - 8),"
                " i -> xxhash64(w[i], w[i+1], w[i+2], w[i+3],"
                " w[i+4], w[i+5], w[i+6], w[i+7]))"
                " ELSE CAST(array() AS array<bigint>) END"
            )
        ).alias("g"),
    )
    # (gram, sig) collapse first (map-side combined), then the
    # distinct-doc df via a gram-partitioned window SUM of the
    # signature multiplicities — one exchange on the gram key and NO
    # join-back of the position stream (the agg+join formulation
    # re-shuffles the full gram stream twice).
    gd = g.groupBy("g", "sig", "n_docs").agg(F.count(F.lit(1)).alias("c"))
    wg = Window.partitionBy("g")
    marked = gd.select(
        "sig",
        "n_docs",
        "c",
        F.sum("n_docs").over(wg).alias("df"),
    )
    per_sig = marked.groupBy("sig").agg(
        F.sum("c").alias("n_grams"),
        F.sum(F.when(F.col("df") > 1, F.col("c")).otherwise(0)).alias(
            "dup_grams"
        ),
    )
    # docs shorter than the gram width have no per_sig row and drop
    # through the inner join, exactly as they dropped from the
    # per-doc aggregate in the uncollapsed form
    per_doc = mem.join(per_sig, "sig")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_grams").cast("long").alias("total_grams"),
            F.sum("dup_grams").cast("long").alias("dup_grams"),
            F.round(
                F.sum("dup_grams") * 1.0 / F.sum("n_grams"), 6
            ).alias("dup_coverage"),
            F.sum(
                F.when(
                    2 * F.col("dup_grams") >= F.col("n_grams"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_docs_majority_dup"),
        )
        .orderBy("source")
    )
