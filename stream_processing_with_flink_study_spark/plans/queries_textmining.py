"""Text-mining / preference-learning queries (seventh wave, part 3):
skip-gram PMI collocations, TextRank keyword extraction (PageRank over
the word co-occurrence graph), and Bradley–Terry preference-strength
fitting — the statistical mills behind tokenizer phrase tables,
unsupervised keyword extraction, and RLHF-style pairwise-preference
aggregation.

Scale shapes: skip-gram pairs come from per-row array zips at three
offsets (NO posexplode + window, NO self-join — fan-out is exactly
3·tokens); the word graph and the Bradley–Terry design are both
VOCABULARY-BOUNDED (words / brands), so their iterations run on
dimension-sized frames while the corpus/fact table is touched once.
The Bradley–Terry pair explode generates per-order 2-combinations
inside a codegen'd expression, bounded by C(brands-in-order, 2).

Cross-engine determinism: counts are exact BIGINTs; PMI is one log of
an exact-count ratio; Bradley–Terry re-rounds strengths every MM round
(with the −1e-9 half-boundary guard) so float drift cannot compound;
orderings carry lexicographic tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens as text_tokens
from ..sources import load_table
from .queries_graph import PR_DAMPING, PR_ITERS
from .registry import query

SG_WINDOW = 3  # skip-gram max distance
SG_MIN_PAIR = 5
SG_TOP = 50
TR_MIN_W = 20  # min co-occurrence weight for a TextRank edge
TR_TOP = 20
BT_ROUNDS = 4


def _sg_pairs_sql() -> str:
    """Skip-gram (distance ≤ {SG_WINDOW}) ordered token pairs as a
    DuckDB CTE body over ``documents``."""
    zips = "\n      UNION ALL ".join(
        f"SELECT unnest(list_zip(l, list_slice(l, {d + 1}, length(l)))) AS bg"
        f" FROM w"
        for d in range(1, SG_WINDOW + 1)
    )
    return f"""
    w AS (SELECT string_split(text, ' ') AS l FROM documents),
    sg AS (
      SELECT z.bg[1] AS w1, z.bg[2] AS w2
      FROM ({zips}) z
      WHERE z.bg[2] IS NOT NULL
    )"""


@query(
    "skipgram_pmi_pairs",
    f"""
    WITH {_sg_pairs_sql()},
    uni AS MATERIALIZED (
      SELECT u.t AS w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(l) AS t FROM w) u GROUP BY 1
    ),
    allp AS MATERIALIZED (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
      FROM sg GROUP BY w1, w2
    ),
    pairs AS (
      SELECT * FROM allp WHERE c_xy >= {SG_MIN_PAIR}
    ),
    n AS (SELECT CAST(sum(c_xy) AS DOUBLE) AS total FROM allp),
    scored AS (
      SELECT w1, w2, c_xy,
             round(ln(c_xy * n.total / (u1.c * CAST(u2.c AS DOUBLE))), 4)
               AS pmi
      FROM pairs, n
      JOIN uni u1 ON pairs.w1 = u1.w
      JOIN uni u2 ON pairs.w2 = u2.w
    )
    SELECT * FROM scored
    ORDER BY pmi DESC, w1, w2
    LIMIT {SG_TOP}
    """,
)
def skipgram_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram collocations: top-{SG_TOP} ordered word pairs within
    distance ≤{SG_WINDOW} by PMI — the word2vec-context co-occurrence
    statistic, generalizing the adjacent-only ``bigram_pmi_topk``.

    Scale shape: the three offset pairings are per-row ``arrays_zip``
    of the token array against its own shifted tail (fan-out exactly
    {SG_WINDOW}·tokens, all inside whole-stage codegen — no
    posexplode + window sort, no self-join); one big groupBy on the
    pair, one vocabulary-sized unigram aggregate broadcast back, and a
    takeOrdered top-{SG_TOP}.

    Determinism: counts exact; PMI = one IEEE log/division chain on
    exact counts; ordering tiebreaks lexicographically on the ROUNDED
    pmi."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(F.split("text", " ").alias("l")).persist()
    parts = []
    for d in range(1, SG_WINDOW + 1):
        parts.append(
            w.select(
                F.explode(
                    F.arrays_zip(
                        F.slice("l", 1, F.size("l") - d).alias("w1"),
                        F.slice("l", 1 + d, F.size("l") - d).alias("w2"),
                    )
                ).alias("bg")
            ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        )
    sg = parts[0].unionAll(parts[1]).unionAll(parts[2])
    all_pairs = (
        sg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy")).persist()
    )
    uni = (
        w.select(F.explode("l").alias("t"))
        .groupBy(F.col("t").alias("wd"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = all_pairs.agg(F.sum("c_xy").cast("double").alias("total"))
    pairs = all_pairs.filter(F.col("c_xy") >= SG_MIN_PAIR)
    scored = (
        pairs.crossJoin(F.broadcast(n))
        .join(
            F.broadcast(uni.withColumnRenamed("c", "c1")),
            F.col("w1") == F.col("wd"),
        )
        .drop("wd")
        .join(
            F.broadcast(uni.withColumnRenamed("c", "c2")),
            F.col("w2") == F.col("wd"),
        )
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("long").alias("c_xy"),
            F.round(
                F.log(
                    F.col("c_xy")
                    * F.col("total")
                    / (F.col("c1") * F.col("c2").cast("double"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(SG_TOP)


def _textrank_oracle() -> str:
    """Unrolled {PR_ITERS}-round weighted PageRank over the word
    co-occurrence graph (mirrors queries_graph._pagerank_oracle —
    recursive aggregation is not portable SQL)."""
    steps = []
    for k in range(1, PR_ITERS + 1):
        steps.append(f"""
    pr{k} AS (
      SELECT n.id,
             (1 - {PR_DAMPING}) / (SELECT nn FROM nct)
               + {PR_DAMPING} * coalesce(s.acc, 0) AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS id, sum(p.rank * e.frac) AS acc
        FROM pr{k - 1} p JOIN fedges e ON e.src = p.id
        GROUP BY e.dst
      ) s ON s.id = n.id
    )""")
    chain = ",".join(steps)
    return f"""
    WITH {_sg_pairs_sql()},
    cpairs AS MATERIALIZED (
      SELECT least(w1, w2) AS a, greatest(w1, w2) AS b,
             CAST(count(*) AS BIGINT) AS cw
      FROM sg GROUP BY 1, 2
      HAVING count(*) >= {TR_MIN_W}
    ),
    edges AS (
      SELECT a AS src, b AS dst, cw AS w FROM cpairs
      UNION ALL
      SELECT b AS src, a AS dst, cw AS w FROM cpairs
    ),
    outdeg AS (SELECT src, sum(w) AS wout FROM edges GROUP BY src),
    fedges AS (
      SELECT e.src, e.dst, e.w * 1.0 / o.wout AS frac
      FROM edges e JOIN outdeg o ON o.src = e.src
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    nct AS (SELECT count(*) AS nn FROM nodes),
    pr0 AS (SELECT id, 1.0 / (SELECT nn FROM nct) AS rank FROM nodes),
    {chain}
    SELECT id AS word,
           round(rank * (SELECT nn FROM nct), 5) AS rank_rel
    FROM pr{PR_ITERS}
    ORDER BY rank_rel DESC, word
    LIMIT {TR_TOP}
    """


@query("textrank_keywords", _textrank_oracle())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau): weighted
    PageRank over the word co-occurrence graph (words linked when they
    appear within {SG_WINDOW} tokens; weight = co-occurrence count,
    floor {TR_MIN_W}), top-{TR_TOP} words by rank — unsupervised
    keyword extraction as a COMPOSITION of the skip-gram pair mill and
    the generic :func:`..operators.graph.pagerank` operator.

    Scale shape: the corpus is touched once (the same 3-offset zip
    explode as ``skipgram_pmi_pairs``); the graph itself is
    VOCABULARY-bounded, so the PageRank iteration — whichever of the
    operator's three regimes the graph size selects — runs on a
    dimension-sized frame.  Rank is reported relative to uniform
    (rank · N), matching ``pagerank_cosupplier``."""
    from ..operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(F.split("text", " ").alias("l"))
    parts = []
    for d in range(1, SG_WINDOW + 1):
        parts.append(
            w.select(
                F.explode(
                    F.arrays_zip(
                        F.slice("l", 1, F.size("l") - d).alias("w1"),
                        F.slice("l", 1 + d, F.size("l") - d).alias("w2"),
                    )
                ).alias("bg")
            ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        )
    sg = parts[0].unionAll(parts[1]).unionAll(parts[2])
    cpairs = (
        sg.select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cw"))
        .filter(F.col("cw") >= TR_MIN_W)
    )
    edges = cpairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), F.col("cw").alias("w")
    ).unionAll(
        cpairs.select(
            F.col("b").alias("src"),
            F.col("a").alias("dst"),
            F.col("cw").alias("w"),
        )
    )
    ranks = pagerank(edges, iters=PR_ITERS, damping=PR_DAMPING)
    # the edge list is symmetric, so every word sends and receives and
    # ranks holds one row per word: counting it does not re-derive the
    # graph from the corpus
    n_nodes = ranks.count()
    return (
        ranks.select(
            F.col("id").alias("word"),
            F.round(F.col("rank") * n_nodes, 5).alias("rank_rel"),
        )
        .orderBy(F.col("rank_rel").desc(), "word")
        .limit(TR_TOP)
    )


def _bt_round_sql(prev: str, out: str) -> str:
    """One Bradley–Terry MM round in SQL: ``p_i' = W_i / Σ_j
    g_ij/(p_i+p_j)``, normalized to Σp = 1 and re-rounded."""
    return f"""
    {out}_raw AS MATERIALIZED (
      SELECT s.bk, s.wins * 1.0 / sum(
               g.games / (p1.p + p2.p)
             ) AS praw
      FROM stats s
      JOIN games g ON g.bi = s.bk
      JOIN {prev} p1 ON p1.bk = g.bi
      JOIN {prev} p2 ON p2.bk = g.bj
      GROUP BY s.bk, s.wins
    ),
    {out} AS MATERIALIZED (
      SELECT bk,
             round(praw / (SELECT sum(praw) FROM {out}_raw) - 1e-9, 6) AS p
      FROM {out}_raw
    )"""


def _bt_oracle() -> str:
    rounds = ",".join(
        _bt_round_sql(f"p{k - 1}", f"p{k}") for k in range(1, BT_ROUNDS + 1)
    )
    return f"""
    WITH ob AS MATERIALIZED (
      SELECT l_orderkey AS okey,
             CAST(replace(p_brand, 'Brand#', '') AS INTEGER) AS bk,
             CAST(sum(l_quantity) AS BIGINT) AS q
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY 1, 2
    ),
    duels AS (
      SELECT CASE WHEN a.q > b.q THEN a.bk ELSE b.bk END AS wi,
             CASE WHEN a.q > b.q THEN b.bk ELSE a.bk END AS li
      FROM ob a JOIN ob b ON a.okey = b.okey AND a.bk < b.bk
      WHERE a.q <> b.q
    ),
    n AS MATERIALIZED (
      SELECT wi, li, CAST(count(*) AS BIGINT) AS c FROM duels GROUP BY 1, 2
    ),
    games AS MATERIALIZED (
      SELECT bi, bj, CAST(sum(c) AS BIGINT) AS games FROM (
        SELECT wi AS bi, li AS bj, c FROM n
        UNION ALL
        SELECT li AS bi, wi AS bj, c FROM n
      ) GROUP BY bi, bj
    ),
    stats AS MATERIALIZED (
      SELECT g.bi AS bk,
             CAST(coalesce(w.wins, 0) AS BIGINT) AS wins,
             CAST(sum(g.games) AS BIGINT) AS games
      FROM games g
      LEFT JOIN (SELECT wi, sum(c) AS wins FROM n GROUP BY wi) w
        ON w.wi = g.bi
      GROUP BY g.bi, w.wins
    ),
    nb AS (SELECT count(*) AS k FROM stats),
    p0 AS (SELECT bk, 1.0 / (SELECT k FROM nb) AS p FROM stats),
    {rounds}
    SELECT s.bk AS brand_key, s.wins, s.games,
           round(f.p * (SELECT k FROM nb) - 1e-9, 4) AS strength_rel
    FROM stats s JOIN p{BT_ROUNDS} f ON f.bk = s.bk
    ORDER BY strength_rel DESC, brand_key
    """


@query("bradley_terry_brands", _bt_oracle())
def bradley_terry_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry preference strengths over pairwise "duels": within
    every order, each brand pair is a comparison won by the larger
    shipped quantity; {BT_ROUNDS} minorize-maximize rounds of
    ``p_i ← W_i / Σ_j g_ij/(p_i+p_j)`` (Hunter 2004) fit the latent
    strengths — the aggregation model under RLHF preference data,
    chess ratings, and A/B preference panels, as pure DataFrame
    join-aggregate rounds.

    Scale shape: lineitem joins the part dimension (broadcast) ONCE
    and reduces to per-(order, brand) quantities; duels explode as
    per-order 2-combinations of a collected struct array (bounded by
    C(brands-in-order, 2), inside codegen — no fact self-join, unlike
    the oracle); everything iterative runs on the K=25-brand frame
    with broadcast joins.  Strengths are reported relative to uniform
    (p · K).

    Determinism: wins/games are exact BIGINTs; each MM round
    re-normalizes and re-rounds to 6 decimals with the −1e-9 guard on
    both engines, so summation-order ulps cannot compound."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.replace(F.col("p_brand"), F.lit("Brand#"), F.lit(""))
        .cast("int")
        .alias("bk"),
    )
    ob = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("l_orderkey").alias("okey"), "bk")
        .agg(F.sum("l_quantity").cast("long").alias("q"))
    )
    arr = ob.groupBy("okey").agg(
        F.collect_list(F.struct("bk", "q")).alias("arr")
    )
    combos = F.flatten(
        F.transform(
            F.col("arr"),
            lambda x, i: F.transform(
                F.slice(F.col("arr"), i + 2, F.size(F.col("arr"))),
                lambda y: F.struct(x.alias("x"), y.alias("y")),
            ),
        )
    )
    duel = (
        arr.select(F.explode(combos).alias("d"))
        .filter(F.col("d.x.q") != F.col("d.y.q"))
        .select(
            F.when(
                F.col("d.x.q") > F.col("d.y.q"), F.col("d.x.bk")
            ).otherwise(F.col("d.y.bk")).alias("wi"),
            F.when(
                F.col("d.x.q") > F.col("d.y.q"), F.col("d.y.bk")
            ).otherwise(F.col("d.x.bk")).alias("li"),
        )
    )
    import math

    # the duel matrix is ALPHABET-bounded (25 brands → ≤600 (wi, li)
    # rows), so the ENTIRE iterative half lives on the driver: ONE job
    # collects the duel counts, and games/wins totals plus all
    # {BT_ROUNDS} MM rounds are exact-int / double scalar arithmetic
    # over that dict (round-12 rework: the previous per-round
    # Spark job over the cached games frame cost 2 driver round trips
    # and a fresh 600-row plan per round — ~2 s of pure scheduling at
    # bench scale, and nothing the cluster could parallelize anyway).
    # Fractions are summed in sorted-key order, so the per-round praw
    # values are run-stable; the per-round 6-decimal re-round with the
    # −1e-9 guard (identical on the SQL side) keeps the two engines'
    # ulp-level summation differences from ever reaching a boundary.
    n_rows = (
        duel.groupBy("wi", "li").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    games: dict[tuple[int, int], int] = {}
    wins: dict[int, int] = {}
    for r in n_rows:
        games[(r.wi, r.li)] = games.get((r.wi, r.li), 0) + r.c
        games[(r.li, r.wi)] = games.get((r.li, r.wi), 0) + r.c
        wins[r.wi] = wins.get(r.wi, 0) + r.c
    stats = {
        bk: (
            wins.get(bk, 0),
            sum(c for (bi, _), c in games.items() if bi == bk),
        )
        for bk in {b for pair in games for b in pair}
    }
    schema = (
        "brand_key int, wins long, games long, strength_rel double"
    )
    if not stats:
        # degenerate universe: no games -> the oracle emits 0 rows
        return spark.createDataFrame([], schema)
    k = len(stats)
    strengths = {bk: 1.0 / k for bk in stats}
    for _ in range(BT_ROUNDS):
        praw = {}
        for bk in sorted(stats):
            den = sum(
                c / (strengths[bi] + strengths[bj])
                for (bi, bj), c in sorted(games.items())
                if bi == bk
            )
            praw[bk] = stats[bk][0] * 1.0 / den
        tot = sum(praw[bk] for bk in sorted(praw))
        strengths = {
            # floor(x*1e6+0.5)/1e6 == SQL round-half-up on positives
            # (pure-Python round() is half-even and would fork from
            # the oracle); the -1e-9 guard matches the SQL side
            bk: math.floor((praw[bk] / tot - 1e-9) * 1e6 + 0.5) / 1e6
            for bk in praw
        }
    rows = [
        (
            bk,
            stats[bk][0],
            stats[bk][1],
            math.floor((strengths[bk] * k - 1e-9) * 1e4 + 0.5) / 1e4,
        )
        for bk in sorted(stats)
    ]
    return spark.createDataFrame(rows, schema).orderBy(
        F.col("strength_rel").desc(), "brand_key"
    )


# --------------------------------------------------------------------------
# Burrows' Delta: stylometric distance between sources on function words
# --------------------------------------------------------------------------
BURROWS_K = 30

_BURROWS_SQL = f"""
WITH tf AS {{MAT}}(
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM ({{EXPLODE}}) GROUP BY source, tok
),
totals AS {{MAT}}(
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM tf GROUP BY source
),
fw AS {{MAT}}(
  -- the K corpus-wide most-frequent tokens = the "function words"
  SELECT tok FROM (
    SELECT tok, row_number() OVER (
      ORDER BY sum(c) DESC, tok
    ) AS rk
    FROM tf GROUP BY tok
  ) WHERE rk <= {BURROWS_K}
),
freq AS {{MAT}}(
  -- per-source relative frequency in exact 1e-9 integer units; the
  -- source x word spine keeps absent combinations at exactly 0
  SELECT t.source, w.tok,
         CAST(floor(CAST(coalesce(x.c, 0) AS DOUBLE) * 1000000000.0
                    / t.n + 0.5) AS BIGINT) AS fq
  FROM totals t CROSS JOIN fw w
  LEFT JOIN tf x ON x.source = t.source AND x.tok = w.tok
),
stats AS {{MAT}}(
  SELECT tok, CAST(count(*) AS BIGINT) AS s,
         CAST(sum(fq) AS BIGINT) AS sf,
         CAST(sum(fq * fq) AS BIGINT) AS sff
  FROM freq GROUP BY tok
),
z AS {{MAT}}(
  SELECT f.source, f.tok,
         CAST(floor((f.fq - CAST(st.sf AS DOUBLE) / st.s)
                    / sqrt((st.sff - CAST(st.sf AS DOUBLE) * st.sf / st.s)
                           / (st.s - 1)) * 1000000 + 0.5) AS BIGINT)
           AS zq
  FROM freq f JOIN stats st ON st.tok = f.tok
  WHERE st.sff * st.s > st.sf * st.sf
),
pairs AS {{MAT}}(
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS k_words,
         CAST(sum(abs(a.zq - b.zq)) AS BIGINT) AS sdq
  FROM z a JOIN z b ON b.tok = a.tok AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b, k_words,
       round(CAST(sdq AS DOUBLE) / k_words / 1000000.0 - 1e-9, 6) + 0.0
         AS burrows_delta
FROM pairs
ORDER BY src_a, src_b
"""


@query(
    "burrows_delta_sources",
    _BURROWS_SQL.replace("{MAT}", "MATERIALIZED ").replace(
        "{EXPLODE}",
        "SELECT source, unnest(regexp_split_to_array(lower(trim(text)),"
        " '\\s+')) AS tok FROM documents",
    ),
)
def burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between every pair of sources — the standard
    stylometric authorship distance: z-score each source's relative
    frequency of the 30 corpus-wide most-common tokens ("function
    words", whose usage rates fingerprint a writer/generator rather
    than a topic), then average absolute z differences per pair.  Low
    delta = same stylistic fingerprint (e.g. two crawls of the same
    template farm); the dedup/provenance signal that topic-level
    similarity misses.

    Determinism: relative frequencies are exact 1e-9 integers on a
    source × word spine (absent combinations exactly 0), means and
    variances are exact BIGINT sums over them, z-scores quantize to
    1e-6 integers BEFORE the pairwise |Δz| sums — so every pair's
    delta is a ratio of exact integers.  Words with zero cross-source
    variance drop out (strict integer predicate).

    Scale shape: one token explode → (source, token) count; the z
    frame is |S|·K rows and the pair join (|S|²/2)·K — both tiny;
    the corpus is touched once.  tests/test_wave14.py plants two
    same-template sources vs a divergent one and pins the ordering."""
    docs = load_table(spark, sf_dir, "documents")
    # the corpus-sized explode feeds 3 downstream CTEs: checkpoint the
    # vocab-sized (source, tok, c) counts so documents is read ONCE
    docs.select(
        "source", F.explode(text_tokens("text")).alias("tok")
    ).groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint().createOrReplaceTempView("burrows_tf_mat")
    sql = _BURROWS_SQL.replace("{MAT}", "")
    head = sql.index("totals AS")
    return spark.sql(
        "WITH "
        + sql[head:]
        .replace("FROM tf", "FROM burrows_tf_mat")
        .replace("JOIN tf x", "JOIN burrows_tf_mat x")
    )
