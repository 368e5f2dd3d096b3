"""Lineage-graph catalog operators — split from catalog/stats.py when
that file reached 7.9k lines (behavior and operator names unchanged,
registry path in registry._OP_MODULES).

Everything here treats table-to-table derivation edges as a graph and
answers reachability / rank / cycle / impact questions with
set-oriented joins: min-plus or boolean semiring closures by edge-list
DOUBLING (log-depth, each step one self-join), PageRank by bounded
power iteration over a broadcast rank frame, cycle/triangle detection
by bounded closure joins. Shuffles carry |edges| rows — metadata-sized,
never fact-sized — and iterative frames are localCheckpoint()ed per
step so lineage plans stay shallow at any iteration count.
"""



from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hive_metadata_collect_spark.registry import register
from hive_metadata_collect_spark.sources.fixtures import TABLES, load_table


@register(
    "cat_lineage_2hop",
    survey_row=66,
    # Signature-collapse oracle: a hub pair-join formulation (edges a
    # JOIN edges b ON event_type) is quadratic in users-per-hub —
    # ~1.1e11 intermediate rows at sf10, the same wall the Spark side's
    # signature collapse removes. Derived here with DuckDB's OWN list
    # machinery over per-user type signatures (≤2^|types| distinct
    # sets): row-identical to the pair form at sf0.01 (verified), linear
    # in users at any scale. Explicit BIGINT casts keep sum() off
    # DuckDB's HUGEINT rendering.
    oracle="""
    WITH edges AS (SELECT DISTINCT user_id, event_type FROM events),
    usig AS (
        SELECT user_id, list_sort(list(DISTINCT event_type)) AS sig
        FROM edges GROUP BY user_id
    ),
    sigc AS (SELECT sig, count(*) AS n FROM usig GROUP BY sig),
    reach AS (
        SELECT a.sig, sum(b.n)::BIGINT AS reach
        FROM sigc a JOIN sigc b ON len(list_intersect(a.sig, b.sig)) > 0
        GROUP BY a.sig
    )
    SELECT u.user_id,
           len(u.sig)::BIGINT AS n_types,
           (r.reach - 1)::BIGINT AS n_2hop_users
    FROM usig u JOIN reach r ON u.sig = r.sig
    """,
)
def cat_lineage_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage as an edge-list DataFrame (user→entity edges standing
    in for src-table→dst-table): 2-hop reachability + degree — with
    NO pair materialization.

    SIGNATURE COLLAPSE, because a hub-keyed self-join materializes
    Σ_hub |neighbors(hub)|² pair rows before its countDistinct —
    quadratic in users per hub. Repartitioning buys parallelism at sf1
    (~1.1e9 pairs), but at sf10 the output is ~1.1e11 pairs and no
    partitioning saves an inherently quadratic intermediate (>35 min
    at sf10). The semantics need no pairs at all: a node's 2-hop
    set is the UNION of its hubs' neighbor sets, so collapse users
    to their exact hub-SET signature (≤2^|types| distinct sets —
    bounded by the DOMAIN, not the data), count users per signature,
    and compute reach(s) = Σ over intersecting signatures t of
    count(t) on the |sigs|² (32×32) matrix. Per-user output is then
    one broadcast join onto the signature map. Every frame except
    the user list is domain-bounded metadata; the user-level passes
    are one distinct + one broadcast probe — linear at any scale.
    For hub domains too large to enumerate signatures, the fallback
    is the sketch family (HLL per hub + union), not the pair join."""
    ev = load_table(spark, sf_dir, "events")
    edges = ev.select("user_id", "event_type").distinct()
    usig = edges.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("sig_arr")
    )
    sigc = usig.groupBy("sig_arr").agg(F.count(F.lit(1)).alias("n"))
    other = sigc.select(
        F.col("sig_arr").alias("o_arr"), F.col("n").alias("o_n")
    )
    reach = (
        sigc.join(
            F.broadcast(other),
            F.arrays_overlap(F.col("sig_arr"), F.col("o_arr")),
        )
        .groupBy("sig_arr")
        .agg(F.sum("o_n").alias("reach"))
    )
    return usig.join(F.broadcast(reach), "sig_arr").select(
        "user_id",
        F.size("sig_arr").cast("long").alias("n_types"),
        (F.col("reach") - 1).cast("long").alias("n_2hop_users"),
    )


def _transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lineage graph's edges: each user's temporal type→type
    transitions in the audit stream ("read X, then wrote Y"), without
    self-loops, deduped. This is the corpus-sized work of the lineage
    family; everything after it is |V|²-bounded."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ev.select(
        F.lag("event_type").over(w).alias("src"),
        F.col("event_type").alias("dst"),
    )
    return trans.filter(
        F.col("src").isNotNull() & (F.col("src") != F.col("dst"))
    ).distinct()


@register(
    "cat_lineage_closure",
    survey_row=66,
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT DISTINCT prev_type AS src, event_type AS dst FROM (
            SELECT event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events)
        WHERE prev_type IS NOT NULL AND prev_type <> event_type
    ), reach AS (
        SELECT src, dst, 1 AS hops FROM edges
        UNION ALL
        SELECT r.src, e.dst, r.hops + 1
        FROM reach r JOIN edges e ON r.dst = e.src
        WHERE r.hops < 4
    )
    SELECT src, dst, min(hops) AS min_hops FROM reach GROUP BY src, dst
    """,
)
def cat_lineage_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded transitive closure of the lineage graph — the iterative
    algorithm a DataFrame engine expresses as driver-side plan
    construction (no data ever reaches the driver).

    Edges: temporal type→type transitions per user (lag over the
    audit stream — "read X, then wrote Y"). Closure: min-hop
    reachability within ≤4 hops, by DOUBLING instead of hop-at-a-time:
    reach≤2 = edges ∪ (edges⋈edges), reach≤4 = reach≤2 ∪
    (reach≤2⋈reach≤2), min-hop per pair after each round. Two
    broadcast joins and two shuffles replace three serial
    join+distinct barriers — the log₂(maxhop) trick matters more, not
    less, on a 1000-executor cluster where each barrier is a
    stragglers-bound stage. Min-hops stay exact: a shortest path of
    length L ≤ 4 splits at its midpoint into two shortest halves ≤ 2,
    and sums of real path lengths can never undercut the true
    distance. Both join inputs are min-hop-deduped (≤ |V|² rows,
    |V| = distinct event types), so each is broadcastable at any
    corpus size; 100 TB of events reduce to that |V|-sized edge list
    before any closure work starts. The oracle recomputes the closure
    with a hop-at-a-time recursive CTE — a genuinely different
    algorithm reaching the same fixpoint.
    """
    # Both reach frames appear on three plan branches each (union arm,
    # join probe, broadcast build); Spark has no common-subtree
    # elimination, so cache() is what makes each computed once. They
    # are |V|- and |V|²-bounded — trivially cacheable at any scale.
    edges = (
        _transition_edges(spark, sf_dir)
        .withColumn("hops", F.lit(1))
        .cache()
    )
    two = (
        edges.join(
            F.broadcast(
                edges.select(
                    F.col("src").alias("m"), F.col("dst").alias("dst2")
                )
            ),
            F.col("dst") == F.col("m"),
        )
        .select("src", F.col("dst2").alias("dst"), (F.col("hops") + 1).alias("hops"))
    )
    reach2 = (
        edges.unionAll(two)
        .groupBy("src", "dst")
        .agg(F.min("hops").alias("hops"))
        .cache()
    )
    four = (
        reach2.join(
            F.broadcast(
                reach2.select(
                    F.col("src").alias("m"),
                    F.col("dst").alias("dst2"),
                    F.col("hops").alias("hops2"),
                )
            ),
            F.col("dst") == F.col("m"),
        )
        .select(
            "src",
            F.col("dst2").alias("dst"),
            (F.col("hops") + F.col("hops2")).alias("hops"),
        )
    )
    return (
        reach2.unionAll(four)
        .groupBy("src", "dst")
        .agg(F.min("hops").alias("min_hops"))
    )

_PR_ITERS = 5
_PR_DAMP = 0.85
# Teleport mass as a LITERAL, never computed as (1.0 - _PR_DAMP):
# Python/Spark IEEE gives 1.0-0.85 = 0.15000000000000002 while
# DuckDB's DECIMAL literals subtract exactly to 0.15 before promoting
# to DOUBLE — a 1-ulp teleport drift that propagates through every
# iteration and flips round-boundary ranks (found by hypothesis).
_PR_TELEPORT = 0.15


def _pagerank_oracle() -> str:
    """Chained-CTE power iteration (the iteration count is a fixed
    engine parameter, so the oracle unrolls it instead of fighting
    recursive-CTE aggregation limits)."""
    parts = [
        """
    edges AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
            SELECT event_type AS src,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS dst
            FROM events
        ) WHERE dst IS NOT NULL AND dst <> src
    ),
    nodes AS MATERIALIZED (
        SELECT src AS node FROM edges
        UNION SELECT dst FROM edges
    ),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    outdeg AS MATERIALIZED (
        SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY src
    ),
    r0 AS (SELECT node, 1.0 / n AS rank FROM nodes, nn)"""
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(f""",
    r{i} AS (
        SELECT nodes.node,
               {_PR_TELEPORT} / nn.n +
               {_PR_DAMP} * coalesce(sum(r{i - 1}.rank / outdeg.deg), 0.0)
                   AS rank
        FROM nodes CROSS JOIN nn
        LEFT JOIN edges ON edges.dst = nodes.node
        LEFT JOIN outdeg ON outdeg.src = edges.src
        LEFT JOIN r{i - 1} ON r{i - 1}.node = edges.src
        GROUP BY nodes.node, nn.n
    )""")
    parts.append(f"""
    SELECT node AS entity,
           floor(rank * 1e8 + 0.5) / 1e8 AS pagerank
    FROM r{_PR_ITERS}""")
    return "WITH " + "".join(parts)


@register("cat_lineage_pagerank", survey_row=66, oracle=_pagerank_oracle())
def cat_lineage_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the entity-transition lineage graph — the
    "table importance" score a catalog ranks search results and
    deprecation candidates by. Edges are consecutive-event
    transitions per user (event_type → next event_type), the same
    query-flow signal a metastore's audit log yields.

    Power iteration as a fixed driver loop of distributed joins (the
    loop builds plans, never moves rows — same idiom as
    cat_lineage_closure): each of the 5 iterations is one
    edges⋈ranks join + a per-dst partial-agg sum. The rank and
    degree frames are |V|-bounded — broadcast-size at any corpus
    scale, since V is the table/entity population, not the event
    volume; only the one-time edge derivation scans the 100 TB event
    stream (window over (user, ts), then DISTINCT collapses it to
    |V|² max). No dangling-mass redistribution on either side (sinks
    leak rank identically in engine and oracle, so scores still
    match).

    Cross-engine exactness (a hypothesis-found falsifying graph is
    pinned in tests/test_property_parity.py): two cross-engine drift sources on
    a rank sitting 1 ulp under the round(,8) boundary (0.0991368749…).
    (1) The teleport constant: Python's 1.0-0.85 is IEEE
    0.15000000000000002 while DuckDB's DECIMAL literals subtract
    exactly to 0.15 — a 1-ulp teleport drift that compounds through
    every iteration; both sides now use the literal 0.15
    (_PR_TELEPORT). (2) Presentation rounding: Spark's Round
    (BigDecimal half-up on the shortest decimal repr) and DuckDB's
    round (half-away on the exact binary value) can still disagree by
    1e-8 on the SAME double, so both engines now run the identical
    IEEE sequence floor(rank*1e8 + 0.5)/1e8 (half-up on the
    non-negative rank domain; floor is exact and the int-valued
    quotient ≤1e8 < 2^53 — same class as the sim_covariance_top_pairs
    fix)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    edges = (
        trans.filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
        .distinct()
    )
    edges = edges.localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
    )
    n_nodes = nodes.count()  # |V| scalar: bounds the loop's frames, O(1) result
    if n_nodes == 0:
        # Degenerate graph (no transitions, e.g. a single event type):
        # no nodes, no ranks — mirror the oracle's empty result.
        return nodes.select(
            F.col("node").alias("entity"), F.lit(0.0).alias("pagerank")
        )
    outdeg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("deg")
    )
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outdeg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(_PR_TELEPORT / n_nodes)
                    + F.lit(_PR_DAMP) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select(
        F.col("node").alias("entity"),
        (F.floor(F.col("rank") * F.lit(1e8) + F.lit(0.5)) / F.lit(1e8)).alias(
            "pagerank"
        ),
    )

@register(
    "cat_lineage_sql",
    survey_row=66,
    oracle="""
    WITH q AS (
        SELECT event_id,
               CASE WHEN event_id % 4 = 1
                    THEN 'WITH tmp_' || (user_id % 3) ||
                         ' AS (SELECT * FROM staging_' || (event_id % 6) ||
                         ') '
                    ELSE '' END ||
               CASE WHEN event_id % 4 = 0
                    THEN 'INSERT OVERWRITE TABLE mart_'
                    ELSE 'INSERT INTO mart_' END || event_type ||
               CASE WHEN event_id % 4 = 1
                    THEN ' SELECT * FROM tmp_' || (user_id % 3)
                    WHEN event_id % 4 = 2
                    THEN ' SELECT * FROM (SELECT * FROM inner_' ||
                         (user_id % 5) || ') s'
                    WHEN event_id % 4 = 3 AND user_id % 2 = 0
                    THEN ' SELECT * FROM "raw_' || (user_id % 7) || '"'
                    WHEN event_id % 4 = 3
                    THEN ' SELECT * FROM `raw_' || (user_id % 7) || '`'
                    WHEN event_id % 8 = 0
                    THEN ' SELECT * FROM dwh_' || (event_id % 3) ||
                         '.raw_' || (user_id % 7)
                    ELSE ' SELECT * FROM raw_' || (user_id % 7) END ||
               CASE WHEN event_id % 3 >= 1
                    THEN ' JOIN dim_' || (event_id % 5) || ' ON a.k = b.k'
                    ELSE '' END ||
               CASE WHEN event_id % 3 = 2
                    THEN ' JOIN ' ||
                         CASE WHEN event_id % 2 = 0
                              THEN 'analytics_db.ref_' || (user_id % 3)
                              ELSE 'raw_' || (user_id % 7) END ||
                         ' ON b.k = c.k'
                    ELSE '' END AS sql_text
        FROM events
    ),
    e AS (
        SELECT event_id,
               regexp_extract(sql_text,
                   'INSERT (?:INTO|OVERWRITE TABLE) `?([a-z0-9_]+)`?', 1)
                   AS dst_table,
               regexp_extract_all(sql_text,
                   '(?:WITH|,) ([a-z0-9_]+) AS \\(', 1) AS cte_aliases,
               unnest(regexp_extract_all(sql_text,
                   '(?:FROM|JOIN) ([a-z0-9_."`]+)', 1)) AS tok
        FROM q
    ),
    s AS (
        SELECT event_id, dst_table, cte_aliases,
               CASE WHEN contains(translate(tok, '`"', ''), '.')
                    THEN string_split(translate(tok, '`"', ''), '.')[1]
                    ELSE 'default' END AS src_db,
               CASE WHEN contains(translate(tok, '`"', ''), '.')
                    THEN string_split(translate(tok, '`"', ''), '.')[2]
                    ELSE translate(tok, '`"', '') END AS src_table
        FROM e
    )
    SELECT dst_table, src_db, src_table,
           count(DISTINCT event_id)::BIGINT AS n_queries,
           count(*)::BIGINT AS n_refs
    FROM s
    WHERE NOT (list_contains(cte_aliases, src_table)
               AND src_db = 'default')
    GROUP BY dst_table, src_db, src_table
    """,
)
def cat_lineage_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-level lineage parsed FROM SQL TEXT — the collector-class
    derived artifact: a query log of `INSERT INTO dst SELECT ... FROM
    src [JOIN src2 ...]` statements is parsed into (dst_table,
    src_table) edges with per-edge query/reference counts, the edge list
    the closure/pagerank lineage ops consume. The fixture stream carries
    no SQL, so a deterministic statement is synthesized per event in
    BOTH engines (the text_pii_redact pattern). The grammar covers what
    real collector query logs actually contain: `WITH x AS (...)` CTEs
    (the alias must NOT be emitted as a source — but the table inside
    the CTE body must), `INSERT OVERWRITE TABLE`, backtick-quoted AND
    ANSI double-quoted identifiers, DB-QUALIFIED names (`dwh_N.raw_K` in
    FROM, `analytics_db.ref_K` in JOIN — normalized by splitting the db
    prefix into its own src_db column, 'default' when unqualified, so
    `db.t` and `t` resolve to DISTINCT sources), derived tables `FROM
    (SELECT ...) s` (the subquery alias never matches the
    FROM/JOIN-anchored pattern, the inner table does), plus the original
    0/1/2-join and self-referencing-JOIN shapes. The parser:
    regexp_extract for the INSERT target, regexp_extract_all group-1
    over FROM/JOIN tokens, translate() to strip both quote styles,
    split() for the db prefix, a per-statement CTE-alias array, and an
    `array_contains` anti-filter removing only UNQUALIFIED alias refs (a
    CTE alias cannot be db-qualified) — all Java∩RE2-dialect, all
    row-local. Synthesis, parse, explode and the alias filter are narrow
    whole-stage-codegen stages that inherit the scan's partitioning; the
    single shuffle is the final groupBy on the edge key, carrying
    |edges| rows, not |queries| — at 100 TB of query log the reduce side
    is bounded by the catalog's table-pair count. Plan-asserted: no
    Exchange before the edge agg, no Python."""
    ev = load_table(spark, sf_dir, "events")
    u = F.col("user_id")
    eid = F.col("event_id")
    join2_table = F.when(
        eid % 2 == 0,
        F.concat(F.lit("analytics_db.ref_"), (u % 3).cast("string")),
    ).otherwise(F.concat(F.lit("raw_"), (u % 7).cast("string")))
    sql_text = F.concat(
        F.when(
            eid % 4 == 1,
            F.concat(
                F.lit("WITH tmp_"),
                (u % 3).cast("string"),
                F.lit(" AS (SELECT * FROM staging_"),
                (eid % 6).cast("string"),
                F.lit(") "),
            ),
        ).otherwise(""),
        F.when(eid % 4 == 0, F.lit("INSERT OVERWRITE TABLE mart_")).otherwise(
            F.lit("INSERT INTO mart_")
        ),
        F.col("event_type"),
        F.when(
            eid % 4 == 1,
            F.concat(F.lit(" SELECT * FROM tmp_"), (u % 3).cast("string")),
        )
        .when(
            eid % 4 == 2,
            F.concat(
                F.lit(" SELECT * FROM (SELECT * FROM inner_"),
                (u % 5).cast("string"),
                F.lit(") s"),
            ),
        )
        .when(
            (eid % 4 == 3) & (u % 2 == 0),
            F.concat(
                F.lit(' SELECT * FROM "raw_'),
                (u % 7).cast("string"),
                F.lit('"'),
            ),
        )
        .when(
            eid % 4 == 3,
            F.concat(
                F.lit(" SELECT * FROM `raw_"),
                (u % 7).cast("string"),
                F.lit("`"),
            ),
        )
        .when(
            eid % 8 == 0,
            F.concat(
                F.lit(" SELECT * FROM dwh_"),
                (eid % 3).cast("string"),
                F.lit(".raw_"),
                (u % 7).cast("string"),
            ),
        )
        .otherwise(
            F.concat(F.lit(" SELECT * FROM raw_"), (u % 7).cast("string"))
        ),
        F.when(
            eid % 3 >= 1,
            F.concat(
                F.lit(" JOIN dim_"),
                (eid % 5).cast("string"),
                F.lit(" ON a.k = b.k"),
            ),
        ).otherwise(""),
        F.when(
            eid % 3 == 2,
            F.concat(F.lit(" JOIN "), join2_table, F.lit(" ON b.k = c.k")),
        ).otherwise(""),
    )
    q = ev.select("event_id", sql_text.alias("sql_text"))
    toks = q.select(
        "event_id",
        F.regexp_extract(
            "sql_text", r"INSERT (?:INTO|OVERWRITE TABLE) `?([a-z0-9_]+)`?", 1
        ).alias("dst_table"),
        F.regexp_extract_all(
            "sql_text", F.lit(r"(?:WITH|,) ([a-z0-9_]+) AS \("), 1
        ).alias("cte_aliases"),
        F.explode(
            F.regexp_extract_all(
                "sql_text", F.lit(r'(?:FROM|JOIN) ([a-z0-9_."`]+)'), 1
            )
        ).alias("tok"),
    )
    # normalize: strip both quote styles, split an optional db prefix
    # into its own column ('default' when unqualified) — db.t and t
    # are DISTINCT sources
    clean = F.translate(F.col("tok"), '`"', "")
    parts = F.split(clean, r"\.")
    edges = toks.select(
        "event_id",
        "dst_table",
        "cte_aliases",
        F.when(F.size(parts) == 2, parts[0])
        .otherwise(F.lit("default"))
        .alias("src_db"),
        F.element_at(parts, -1).alias("src_table"),
    ).filter(
        ~(
            F.array_contains(F.col("cte_aliases"), F.col("src_table"))
            & (F.col("src_db") == "default")
        )
    )
    return edges.groupBy("dst_table", "src_db", "src_table").agg(
        F.countDistinct("event_id").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_refs"),
    )

@register(
    "cat_lineage_sql_columns",
    survey_row=66,
    oracle="""
    WITH q AS (
        SELECT event_id,
               CASE WHEN event_id % 4 = 1
                    THEN 'WITH cte_' || (user_id % 3) ||
                         ' AS (SELECT * FROM base_' || (event_id % 6) ||
                         ') '
                    ELSE '' END ||
               CASE WHEN event_id % 4 = 0
                    THEN 'INSERT OVERWRITE TABLE mart_'
                    ELSE 'INSERT INTO mart_' END || event_type ||
               ' SELECT ' ||
               CASE WHEN event_id % 4 = 1 THEN 't' ELSE 'r' END ||
               '.col_' || (user_id % 4) ||
               CASE WHEN event_id % 3 >= 1
                    THEN ', d.col_' || (4 + event_id % 3)
                    ELSE '' END ||
               ' FROM ' ||
               CASE WHEN event_id % 4 = 1
                    THEN 'cte_' || (user_id % 3) || ' t'
                    WHEN event_id % 4 = 3 AND user_id % 2 = 0
                    THEN '"raw_' || (user_id % 7) || '" r'
                    WHEN event_id % 4 = 3
                    THEN '`raw_' || (user_id % 7) || '` r'
                    WHEN event_id % 8 = 0
                    THEN 'dwh_' || (event_id % 3) || '.raw_' ||
                         (user_id % 7) || ' r'
                    ELSE 'raw_' || (user_id % 7) || ' r' END ||
               CASE WHEN event_id % 3 >= 1
                    THEN ' JOIN dim_' || (event_id % 5) ||
                         ' d ON r.k = d.k'
                    ELSE '' END AS sql_text
        FROM events
    ),
    al0 AS (
        SELECT event_id,
               unnest(regexp_extract_all(sql_text,
                   '(?:FROM|JOIN) ([a-z0-9_."`]+) ([a-z])', 1)) AS tok,
               unnest(regexp_extract_all(sql_text,
                   '(?:FROM|JOIN) ([a-z0-9_."`]+) ([a-z])', 2)) AS al
        FROM q
    ),
    al AS (
        SELECT event_id, al,
               CASE WHEN contains(translate(tok, '`"', ''), '.')
                    THEN string_split(translate(tok, '`"', ''), '.')[1]
                    ELSE 'default' END AS src_db,
               CASE WHEN contains(translate(tok, '`"', ''), '.')
                    THEN string_split(translate(tok, '`"', ''), '.')[2]
                    ELSE translate(tok, '`"', '') END AS src_table
        FROM al0
    ),
    ct AS (
        SELECT event_id,
               regexp_extract(sql_text,
                   'WITH ([a-z0-9_]+) AS \\(SELECT [*] FROM ([a-z0-9_]+)\\)',
                   1) AS cte_alias,
               regexp_extract(sql_text,
                   'WITH ([a-z0-9_]+) AS \\(SELECT [*] FROM ([a-z0-9_]+)\\)',
                   2) AS cte_src
        FROM q
    ),
    cr AS (
        SELECT event_id,
               regexp_extract(sql_text,
                   'INSERT (?:INTO|OVERWRITE TABLE) ([a-z0-9_]+)', 1)
                   AS dst_table,
               unnest(regexp_extract_all(sql_text,
                   '([a-z])[.](col_[0-9]+)', 1)) AS al,
               unnest(regexp_extract_all(sql_text,
                   '([a-z])[.](col_[0-9]+)', 2)) AS column_name
        FROM q
    )
    SELECT cr.dst_table,
           al.src_db,
           coalesce(ct.cte_src, al.src_table) AS src_table,
           cr.column_name,
           count(DISTINCT cr.event_id)::BIGINT AS n_queries
    FROM cr
    JOIN al ON cr.event_id = al.event_id AND cr.al = al.al
    LEFT JOIN ct ON al.event_id = ct.event_id
                AND al.src_table = ct.cte_alias
                AND al.src_db = 'default'
    GROUP BY cr.dst_table, al.src_db,
             coalesce(ct.cte_src, al.src_table), cr.column_name
    """,
)
def cat_lineage_sql_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-level lineage parsed from SQL text — one resolution
    level deeper than cat_lineage_sql's table edges: qualified column
    references (`r.col_3`) in the SELECT list are matched to their
    source tables through the statement's own alias map (`FROM raw_N r
    JOIN dim_M d`), yielding (dst_table, src_table, column) edges. The
    resolver is fully relational: two regexp_extract_all passes (group 1
    / group 2 of the same pattern) zipped into (alias, table) and
    (alias, column) pair streams, exploded, then one equi-join on
    (query_id, alias) — no per-row Python, no SQL parser library; the
    Java∩RE2 dialect keeps both engines tokenizing identically. The
    grammar covers `INSERT OVERWRITE TABLE`, backtick-quoted AND ANSI
    double-quoted table names, DB-QUALIFIED names (`dwh_N.raw_K r` — the
    db prefix is normalized into its own src_db column, 'default' when
    unqualified, so `db.t` and `t` are distinct sources), and a CTE
    shape — a column ref whose alias binds to a `WITH x AS (SELECT *
    FROM base)` CTE resolves THROUGH the CTE to the underlying table
    (one extra left join against the per-statement CTE map, guarded on
    src_db='default' since a CTE alias cannot be db-qualified; the CTE
    alias itself never appears as a source). Scale: the alias map, CTE
    map and column-ref streams are all ~O(refs per query); the resolver
    joins partition on query_id (synthetic statements here, the
    audit-log query text in a live deployment), and the final edge agg
    carries |dst × src × column|, catalog-bounded."""
    ev = load_table(spark, sf_dir, "events")
    u = F.col("user_id")
    eid = F.col("event_id")
    sql_text = F.concat(
        F.when(
            eid % 4 == 1,
            F.concat(
                F.lit("WITH cte_"),
                (u % 3).cast("string"),
                F.lit(" AS (SELECT * FROM base_"),
                (eid % 6).cast("string"),
                F.lit(") "),
            ),
        ).otherwise(""),
        F.when(eid % 4 == 0, F.lit("INSERT OVERWRITE TABLE mart_")).otherwise(
            F.lit("INSERT INTO mart_")
        ),
        F.col("event_type"),
        F.lit(" SELECT "),
        F.when(eid % 4 == 1, F.lit("t")).otherwise(F.lit("r")),
        F.lit(".col_"),
        (u % 4).cast("string"),
        F.when(
            eid % 3 >= 1,
            F.concat(F.lit(", d.col_"), (4 + eid % 3).cast("string")),
        ).otherwise(""),
        F.lit(" FROM "),
        F.when(
            eid % 4 == 1,
            F.concat(F.lit("cte_"), (u % 3).cast("string"), F.lit(" t")),
        )
        .when(
            (eid % 4 == 3) & (u % 2 == 0),
            F.concat(F.lit('"raw_'), (u % 7).cast("string"), F.lit('" r')),
        )
        .when(
            eid % 4 == 3,
            F.concat(F.lit("`raw_"), (u % 7).cast("string"), F.lit("` r")),
        )
        .when(
            eid % 8 == 0,
            F.concat(
                F.lit("dwh_"),
                (eid % 3).cast("string"),
                F.lit(".raw_"),
                (u % 7).cast("string"),
                F.lit(" r"),
            ),
        )
        .otherwise(
            F.concat(F.lit("raw_"), (u % 7).cast("string"), F.lit(" r"))
        ),
        F.when(
            eid % 3 >= 1,
            F.concat(
                F.lit(" JOIN dim_"),
                (eid % 5).cast("string"),
                F.lit(" d ON r.k = d.k"),
            ),
        ).otherwise(""),
    )
    q = ev.select("event_id", sql_text.alias("sql_text"))
    alias_pat = r'(?:FROM|JOIN) ([a-z0-9_."`]+) ([a-z])'
    cte_pat = r"WITH ([a-z0-9_]+) AS \(SELECT [*] FROM ([a-z0-9_]+)\)"
    col_pat = r"([a-z])[.](col_[0-9]+)"
    tok_clean = F.translate(F.col("z.tok"), '`"', "")
    tok_parts = F.split(tok_clean, r"\.")
    aliases = q.select(
        "event_id",
        F.explode(
            F.arrays_zip(
                F.regexp_extract_all("sql_text", F.lit(alias_pat), 1).alias(
                    "tok"
                ),
                F.regexp_extract_all("sql_text", F.lit(alias_pat), 2).alias(
                    "al"
                ),
            )
        ).alias("z"),
    ).select(
        "event_id",
        F.when(F.size(tok_parts) == 2, tok_parts[0])
        .otherwise(F.lit("default"))
        .alias("src_db"),
        F.element_at(tok_parts, -1).alias("src_table"),
        F.col("z.al"),
    )
    ctes = q.select(
        "event_id",
        F.regexp_extract("sql_text", cte_pat, 1).alias("cte_alias"),
        F.regexp_extract("sql_text", cte_pat, 2).alias("cte_src"),
    )
    colrefs = q.select(
        "event_id",
        F.regexp_extract(
            "sql_text", r"INSERT (?:INTO|OVERWRITE TABLE) ([a-z0-9_]+)", 1
        ).alias("dst_table"),
        F.explode(
            F.arrays_zip(
                F.regexp_extract_all("sql_text", F.lit(col_pat), 1).alias(
                    "al"
                ),
                F.regexp_extract_all("sql_text", F.lit(col_pat), 2).alias(
                    "column_name"
                ),
            )
        ).alias("z"),
    ).select("event_id", "dst_table", F.col("z.al"), F.col("z.column_name"))
    resolved = colrefs.join(aliases, ["event_id", "al"]).join(
        ctes.withColumnRenamed("event_id", "cte_event_id"),
        (F.col("event_id") == F.col("cte_event_id"))
        & (F.col("src_table") == F.col("cte_alias"))
        & (F.col("src_db") == "default"),
        "left",
    )
    return (
        resolved.select(
            "event_id",
            "dst_table",
            "src_db",
            F.coalesce("cte_src", "src_table").alias("src_table_resolved"),
            "column_name",
        )
        .groupBy(
            "dst_table",
            "src_db",
            F.col("src_table_resolved").alias("src_table"),
            "column_name",
        )
        .agg(F.countDistinct("event_id").alias("n_queries"))
    )

@register(
    "cat_lineage_cycles",
    survey_row=66,
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT DISTINCT prev_type AS src, event_type AS dst FROM (
            SELECT event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events)
        WHERE prev_type IS NOT NULL AND prev_type <> event_type
    ), walk AS (
        SELECT src, dst, 1 AS hops FROM edges
        UNION ALL
        SELECT w.src, e.dst, w.hops + 1
        FROM walk w JOIN edges e ON w.dst = e.src
        WHERE w.hops < 8
    )
    SELECT src AS node, min(hops) AS min_cycle_len
    FROM walk WHERE src = dst GROUP BY src
    """,
)
def cat_lineage_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cycle detection over the lineage graph — the validity check a
    collector runs before trusting lineage for impact analysis (a
    cycle means a table is upstream of itself: a mis-parsed edge or a
    genuine self-refreshing pipeline). Emits each node on a cycle
    with its girth (shortest closed-walk length — any closed walk
    through v contains a cycle through v of no greater length, so
    min-walk IS min-cycle).

    Same min-plus DOUBLING as cat_lineage_closure: walks ≤ 2, ≤ 4,
    ≤ 8 hops in log₂ rounds of broadcast self-joins over the min-hop-
    deduped pair set (≤ |V|² rows regardless of corpus size); 8 ≥ |V|
    covers every simple cycle. The oracle recomputes by hop-at-a-time
    recursive CTE — different algorithm, same fixpoint."""
    reach = (
        _transition_edges(spark, sf_dir)
        .withColumn("hops", F.lit(1))
        .cache()
    )
    for _ in range(3):  # 1 → 2 → 4 → 8 hops
        squared = (
            reach.join(
                F.broadcast(
                    reach.select(
                        F.col("src").alias("m"),
                        F.col("dst").alias("dst2"),
                        F.col("hops").alias("hops2"),
                    )
                ),
                F.col("dst") == F.col("m"),
            )
            .select(
                "src",
                F.col("dst2").alias("dst"),
                (F.col("hops") + F.col("hops2")).alias("hops"),
            )
        )
        reach = (
            reach.unionAll(squared)
            .groupBy("src", "dst")
            .agg(F.min("hops").alias("hops"))
            .cache()
        )
    return (
        reach.filter(F.col("src") == F.col("dst"))
        .groupBy(F.col("src").alias("node"))
        .agg(F.min("hops").alias("min_cycle_len"))
    )

@register(
    "cat_lineage_topo_levels",
    survey_row=66,
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT DISTINCT 't' || (event_id % 13) AS src,
               't' || ((event_id % 13) * 2 + 1 + user_id % 2) AS dst
        FROM events
    ),
    nodes AS (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    walk AS (
        SELECT n.node, 0 AS lvl
        FROM nodes n
        WHERE n.node NOT IN (SELECT dst FROM edges)
        UNION ALL
        SELECT e.dst, w.lvl + 1
        FROM walk w JOIN edges e ON e.src = w.node
    )
    SELECT node AS table_name, max(lvl)::BIGINT AS refresh_wave
    FROM walk GROUP BY node
    """,
)
def cat_lineage_topo_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological REFRESH WAVES over the lineage DAG — the scheduling
    artifact a collector derives from lineage: tables in wave 0 have
    no upstream dependencies and can refresh immediately; wave k must
    wait for wave k-1. Wave = LONGEST upstream path (not shortest —
    a table refreshes only after its slowest dependency chain), i.e.
    the critical-path level used by every DAG scheduler.

    Edges are synthesized acyclic by construction (src node id →
    2·id+1+δ, a strictly increasing binary-tree shape, depth ≤ 5 on
    the 13-node src domain), so the longest-path fixpoint exists.
    The engine iterates max-propagation from the root frontier —
    5 driver-side rounds of broadcast joins over the DISTINCT edge
    set, which is |tables|²-bounded metadata (≤ a few hundred rows at
    any corpus scale; the only corpus-sized step is the initial
    DISTINCT, one shuffle of pre-deduped map output). The oracle
    recomputes by recursive CTE walk-from-roots — different
    algorithm, same fixpoint."""
    ev = load_table(spark, sf_dir, "events")
    nid = F.col("event_id") % 13
    edges = (
        ev.select(
            F.concat(F.lit("t"), nid.cast("string")).alias("src"),
            F.concat(
                F.lit("t"), (nid * 2 + 1 + F.col("user_id") % 2).cast("string")
            ).alias("dst"),
        )
        .distinct()
        .cache()
    )
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select("dst")
    ).distinct()
    roots = nodes.join(
        edges.select(F.col("dst").alias("node")).distinct(), "node", "left_anti"
    )
    levels = roots.withColumn("lvl", F.lit(0))
    for _ in range(5):  # depth bound of the synthesized DAG
        stepped = (
            levels.join(F.broadcast(edges), levels["node"] == edges["src"])
            .select(F.col("dst").alias("node"), (F.col("lvl") + 1).alias("lvl"))
        )
        levels = (
            levels.unionAll(stepped)
            .groupBy("node")
            .agg(F.max("lvl").alias("lvl"))
            .localCheckpoint(eager=False)
        )
    return levels.select(
        F.col("node").alias("table_name"),
        F.col("lvl").cast("long").alias("refresh_wave"),
    )

@register(
    "cat_tag_propagation",
    survey_row=66,
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT DISTINCT prev_type AS src, event_type AS dst FROM (
            SELECT event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events)
        WHERE prev_type IS NOT NULL AND prev_type <> event_type
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    seeds AS (SELECT node FROM nodes WHERE node LIKE '%r%'),
    walk AS (
        SELECT node, 0 AS hops FROM seeds
        UNION ALL
        SELECT e.dst, w.hops + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.hops < 4
    )
    SELECT n.node AS table_name,
           w.node IS NOT NULL AS pii_tagged,
           min(w.hops)::BIGINT AS min_hops_from_seed
    FROM nodes n LEFT JOIN walk w ON w.node = n.node
    GROUP BY n.node, w.node IS NOT NULL
    """,
)
def cat_tag_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-tag PROPAGATION through lineage — the governance closure
    that makes `cat_pii_column_scan`'s findings actionable: a table
    derived (transitively) from a PII-tagged source inherits the
    tag, because a SELECT...INSERT moves the data even if the column
    names change. Seeds are the tagged source tables (deterministic
    name rule in both engines); the result is every table's tag
    status plus its distance from the nearest tagged source (hops=0
    for seeds) — the triage order for a remediation sweep.

    Reuses the lineage-closure machinery: the ≤4-hop min-plus
    DOUBLING over the deduped edge set (log₂ rounds of broadcast
    self-joins; |V|²-bounded pairs regardless of corpus size), then
    one semi-style min-hop join from the seed set. The oracle walks
    hop-at-a-time by recursive CTE — different algorithm, same
    fixpoint, the closure-family discipline."""
    edges = _transition_edges(spark, sf_dir).cache()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
    )
    seeds = nodes.filter(F.col("node").contains("r"))
    # min-plus doubling: reach(seed -> v) in <= 4 hops
    reach = seeds.select("node").withColumn("hops", F.lit(0))
    paths = edges.withColumn("hops", F.lit(1))
    for _ in range(2):  # 1 -> 2 -> 4 hop paths
        squared = (
            paths.join(
                F.broadcast(
                    paths.select(
                        F.col("src").alias("m"),
                        F.col("dst").alias("dst2"),
                        F.col("hops").alias("hops2"),
                    )
                ),
                F.col("dst") == F.col("m"),
            )
            .select(
                "src",
                F.col("dst2").alias("dst"),
                (F.col("hops") + F.col("hops2")).alias("hops"),
            )
        )
        paths = (
            paths.unionAll(squared)
            .groupBy("src", "dst")
            .agg(F.min("hops").alias("hops"))
            .localCheckpoint(eager=False)
        )
    walked = (
        seeds.join(F.broadcast(paths), seeds["node"] == paths["src"])
        .select(F.col("dst").alias("node"), "hops")
        .unionAll(reach)
        .groupBy("node")
        .agg(F.min("hops").alias("min_hops_from_seed"))
    )
    return nodes.join(F.broadcast(walked), "node", "left_outer").select(
        F.col("node").alias("table_name"),
        F.col("min_hops_from_seed").isNotNull().alias("pii_tagged"),
        F.col("min_hops_from_seed").cast("long").alias("min_hops_from_seed"),
    )

@register(
    "cat_lineage_triangles",
    survey_row=66,
    oracle="""
    WITH edges AS (
        SELECT DISTINCT prev_type AS src, event_type AS dst FROM (
            SELECT event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events)
        WHERE prev_type IS NOT NULL AND prev_type <> event_type
    ),
    und AS (
        SELECT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges GROUP BY 1, 2
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        WHERE e1.a < e1.b AND e2.a < e2.b
    )
    SELECT count(*)::BIGINT AS n_triangles,
           (SELECT count(*) FROM und)::BIGINT AS n_edges,
           (SELECT count(*) FROM (
                SELECT a AS n FROM und UNION SELECT b FROM und))::BIGINT
               AS n_nodes
    FROM tri
    """,
)
def cat_lineage_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE count over the (undirected) lineage graph — the
    clustering-coefficient numerator, and the graph-health signal
    the cycle/closure/pagerank family lacks: a lineage graph with
    many triangles has redundant derivation paths (the same data
    reachable two ways — a dedup/consolidation candidate list),
    while a tree-like graph has none. Canonical algorithm: orient
    every undirected edge low→high, then count ordered wedges
    closed by a third edge — each triangle counted exactly once, no
    double counting, no direction ambiguity.

    Two self-joins over the canonicalized |E|-row edge set
    (metadata-sized here; at real scale this is the classic
    node-degree-ordered triangle join, and the orientation trick is
    exactly what bounds the wedge explosion: high-degree nodes only
    expand toward higher ids). The corpus-sized work remains the
    one DISTINCT edge extraction shared by the whole lineage
    family."""
    edges = _transition_edges(spark, sf_dir)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .cache()
    )
    e2 = und.select(F.col("a").alias("m"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        und.join(F.broadcast(e2), und["b"] == e2["m"])
        .join(
            F.broadcast(e3),
            (F.col("a") == F.col("x3")) & (F.col("z") == F.col("z3")),
        )
    )
    n_edges = und.count()
    n_nodes = (
        und.select(F.col("a").alias("n")).union(und.select("b")).distinct().count()
    )
    return tri.agg(F.count(F.lit(1)).alias("n_triangles")).select(
        "n_triangles",
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.lit(n_nodes).cast("long").alias("n_nodes"),
    )

@register(
    "cat_mv_staleness",
    survey_row=66,
    oracle="""
    WITH edges AS (
        SELECT DISTINCT prev_type AS src, event_type AS dst FROM (
            SELECT event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events)
        WHERE prev_type IS NOT NULL AND prev_type <> event_type
    ),
    freshness AS (
        SELECT event_type AS node, max(ts) AS last_touch
        FROM events GROUP BY event_type
    )
    SELECT e.dst AS mv_name,
           f_mv.last_touch AS mv_refreshed_at,
           max(f_src.last_touch) AS newest_upstream_change,
           max(f_src.last_touch) > f_mv.last_touch AS is_stale,
           count(*)::BIGINT AS n_upstreams
    FROM edges e
    JOIN freshness f_mv ON f_mv.node = e.dst
    JOIN freshness f_src ON f_src.node = e.src
    GROUP BY e.dst, f_mv.last_touch
    """,
)
def cat_mv_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED-VIEW staleness — the freshness×lineage join that
    answers the question either artifact alone cannot: a derived
    table is STALE when any upstream changed after its own last
    refresh. Lineage edges say who feeds whom; the freshness sweep
    says when each side last moved; one join + per-MV max gives the
    stale set with its newest-upstream timestamp (the refresh
    scheduler's priority key) and upstream fan-in.

    Both inputs are |tables|-sized reductions of the audit stream
    (the corpus-sized work is shared with the whole lineage/
    freshness family); the staleness join broadcasts. At 100 TB
    this runs entirely on collector metadata — no data scan."""
    ev = load_table(spark, sf_dir, "events")
    edges = _transition_edges(spark, sf_dir)
    freshness = ev.groupBy(F.col("event_type").alias("node")).agg(
        F.max("ts").alias("last_touch")
    )
    f_mv = freshness.select(
        F.col("node").alias("mv_node"), F.col("last_touch").alias("mv_refreshed_at")
    )
    f_src = freshness.select(
        F.col("node").alias("src_node"),
        F.col("last_touch").alias("src_touch"),
    )
    return (
        edges.join(F.broadcast(f_mv), edges["dst"] == f_mv["mv_node"])
        .join(F.broadcast(f_src), edges["src"] == f_src["src_node"])
        .groupBy(F.col("dst").alias("mv_name"), "mv_refreshed_at")
        .agg(
            F.max("src_touch").alias("newest_upstream_change"),
            (F.max("src_touch") > F.first("mv_refreshed_at")).alias(
                "is_stale"
            ),
            F.count(F.lit(1)).alias("n_upstreams"),
        )
    )

@register(
    "cat_impact_scoring",
    survey_row=66,
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT DISTINCT prev_type AS src, event_type AS dst FROM (
            SELECT event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events)
        WHERE prev_type IS NOT NULL AND prev_type <> event_type
    ),
    sizes AS (
        SELECT event_type AS node,
               count(*) * 1000 AS tbl_bytes
        FROM events GROUP BY event_type
    ),
    reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst
        FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT r.src AS node,
           count(DISTINCT r.dst)::BIGINT AS n_downstream,
           sum(s.tbl_bytes)::BIGINT AS downstream_bytes
    FROM (SELECT DISTINCT src, dst FROM reach) r
    JOIN sizes s ON s.node = r.dst
    GROUP BY r.src
    """,
)
def cat_impact_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED impact scoring — the blast-radius number an incident
    commander actually wants (`cat_lineage_closure` says WHICH
    tables are downstream; this says HOW MUCH data is at stake):
    per source table, the count of transitively-reachable
    downstream tables and their summed bytes (sizes derived from
    the audit volume as the deterministic stand-in for
    cat_storage_size). "Table X is corrupt" → this row is the
    paging decision.

    Closure by the established min-plus doubling (the cycle-safe
    bounded form — DISTINCT pairs, not hop-counts, so a cyclic
    graph converges); the size dim broadcasts onto the reachability
    pairs; everything after the shared edge-extraction is
    |V|²-bounded metadata. Oracle recomputes by recursive-CTE
    union-distinct reachability — same fixpoint, different
    algorithm, per the closure-family rule."""
    ev = load_table(spark, sf_dir, "events")
    edges = _transition_edges(spark, sf_dir)
    sizes = ev.groupBy(F.col("event_type").alias("node")).agg(
        (F.count(F.lit(1)) * 1000).alias("tbl_bytes")
    )
    reach = edges
    for _ in range(3):  # 1 -> 2 -> 4 -> 8 hops, >= |V| here
        stepped = (
            reach.join(
                F.broadcast(
                    reach.select(
                        F.col("src").alias("m"), F.col("dst").alias("dst2")
                    )
                ),
                F.col("dst") == F.col("m"),
            )
            .select("src", F.col("dst2").alias("dst"))
        )
        reach = reach.union(stepped).distinct().localCheckpoint(eager=False)
    return (
        reach.join(F.broadcast(sizes), reach["dst"] == sizes["node"])
        .groupBy(F.col("src").alias("node"))
        .agg(
            F.countDistinct("dst").alias("n_downstream"),
            F.sum("tbl_bytes").alias("downstream_bytes"),
        )
    )

@register(
    "cat_lineage_weighted_paths",
    survey_row=66,
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT src, dst, 5 + len(src) + 2 * len(dst) AS minutes
        FROM (
            SELECT DISTINCT prev_type AS src, event_type AS dst FROM (
                SELECT event_type,
                       lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                           AS prev_type
                FROM events)
            WHERE prev_type IS NOT NULL AND prev_type <> event_type
        )
    ),
    walk AS (
        SELECT src, dst, minutes AS total_min, 1 AS hops FROM edges
        UNION ALL
        SELECT w.src, e.dst, w.total_min + e.minutes, w.hops + 1
        FROM walk w JOIN edges e ON e.src = w.dst
        WHERE w.hops < 8
    )
    SELECT src, dst,
           min(total_min)::BIGINT AS fastest_min,
           min_by(hops, total_min * 100 + hops)::BIGINT AS hops_on_fastest
    FROM walk GROUP BY src, dst
    """,
)
def cat_lineage_weighted_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED shortest paths over the lineage graph — the
    end-to-end REFRESH LATENCY question the unweighted closure
    cannot answer ("how long until a change in raw lands in the
    mart?" needs edge costs, not hop counts): each edge carries a
    synthesized refresh duration, and the min-PLUS doubling that
    computes hop-closure computes cost-closure unchanged — the
    semiring swap (min/+ over costs instead of min/+ over hop
    counts) is the entire diff, which is the point: one algebraic
    family covers reachability, girth, AND latency. Fastest total
    minutes per (src, dst) with the hop count of the fastest route
    (ties to fewer hops via the scalar composite).

    Same log₂-rounds broadcast self-joins over the |V|²-bounded
    pair frame, min-cost deduped per round; oracle walks
    hop-at-a-time by recursive CTE — the closure-family rule, with
    WEIGHTS this time."""
    edges = (
        _transition_edges(spark, sf_dir)
        .select(
            "src",
            "dst",
            (5 + F.length("src") + 2 * F.length("dst")).alias("minutes"),
        )
        .cache()
    )
    paths = edges.select(
        "src", "dst", F.col("minutes").alias("total_min"), F.lit(1).alias("hops")
    )
    for _ in range(3):  # 1 -> 2 -> 4 -> 8 hop paths
        squared = (
            paths.join(
                F.broadcast(
                    paths.select(
                        F.col("src").alias("m"),
                        F.col("dst").alias("dst2"),
                        F.col("total_min").alias("min2"),
                        F.col("hops").alias("hops2"),
                    )
                ),
                F.col("dst") == F.col("m"),
            )
            .select(
                "src",
                F.col("dst2").alias("dst"),
                (F.col("total_min") + F.col("min2")).alias("total_min"),
                (F.col("hops") + F.col("hops2")).alias("hops"),
            )
        )
        paths = (
            paths.unionAll(squared)
            .groupBy("src", "dst", "hops")
            .agg(F.min("total_min").alias("total_min"))
            .select("src", "dst", "total_min", "hops")
            .localCheckpoint(eager=False)
        )
    return paths.groupBy("src", "dst").agg(
        F.min("total_min").cast("long").alias("fastest_min"),
        F.min_by("hops", F.col("total_min") * 100 + F.col("hops"))
        .cast("long")
        .alias("hops_on_fastest"),
    )
