"""Pattern-mining / distribution-profiling queries (fifth wave):
market-basket association rules, per-source token-distribution
divergence, out-of-vocabulary rates, and event-type Markov transition
matrices.

Scale notes: every query is one scan of its fact table; co-occurrence
pairs travel as packed int64 keys (same trick as
``queries_graph._cosupplier_edges``); vocabularies are top-K cuts with
deterministic (count, token) tie-breaks and get broadcast — the corpus
never shuffles against itself.  All emitted ratios divide exact
integer counts, so both engines produce bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text
from ..session import conf_override
from ..sources import load_table
from .registry import query

ASSOC_MIN_COUNT = 3


@query(
    "assoc_rules_parts",
    f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS p FROM lineitem
    ),
    n_orders AS (SELECT count(DISTINCT okey) AS n FROM op),
    item AS (SELECT p, count(*) AS cnt_p FROM op GROUP BY p),
    pairs AS (
      SELECT a.p AS part_a, b.p AS part_b, count(*) AS cnt
      FROM op a JOIN op b ON a.okey = b.okey AND a.p < b.p
      GROUP BY a.p, b.p
      HAVING count(*) >= {ASSOC_MIN_COUNT}
    )
    SELECT part_a, part_b, cnt,
           round(cnt * 1.0 / n.n, 6) AS support,
           round(cnt * 1.0 / ia.cnt_p, 4) AS conf_a_to_b,
           round((cnt * 1.0 / n.n)
                 / ((ia.cnt_p * 1.0 / n.n) * (ib.cnt_p * 1.0 / n.n)),
                 4) AS lift
    FROM pairs
    JOIN item ia ON ia.p = part_a
    JOIN item ib ON ib.p = part_b
    CROSS JOIN n_orders n
    """,
)
def assoc_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over parts co-purchased in one
    order: support, confidence(a→b) and lift for every pair above a
    minimum co-occurrence — the co-occurrence feature mill behind
    negative sampling and complementary-item candidates.

    Scale shape: lineitem is scanned ONCE; baskets group to per-order
    part sets and explode to packed int64 2-combinations (Σ C(k,2)
    rows, no self-join), so the pair count shuffles 8-byte keys.  The
    per-item counts and the one-row order total are broadcast back
    onto the (already thresholded, hence small) pair list.  All ratios
    divide exact counts — bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("p")
    )
    baskets = li.groupBy("okey").agg(F.collect_set("p").alias("arr")).persist()
    packed = F.flatten(
        F.transform(
            F.col("arr"),
            lambda x, i: F.transform(
                F.slice(F.col("arr"), i + 2, F.size(F.col("arr"))),
                lambda y: F.shiftleft(F.least(x, y), 32)
                + F.greatest(x, y),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(packed).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= ASSOC_MIN_COUNT)
        .select(
            F.shiftright("k", 32).alias("part_a"),
            (F.col("k") - F.shiftleft(F.shiftright("k", 32), 32)).alias(
                "part_b"
            ),
            "cnt",
        )
    )
    item = baskets.select(F.explode("arr").alias("p")).groupBy("p").agg(
        F.count(F.lit(1)).alias("cnt_p")
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n"))
    ia = item.select(F.col("p").alias("part_a"), F.col("cnt_p").alias("cnt_a"))
    ib = item.select(F.col("p").alias("part_b"), F.col("cnt_p").alias("cnt_b"))
    supp = F.col("cnt") * 1.0 / F.col("n")
    return (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "cnt",
            F.round(supp, 6).alias("support"),
            F.round(F.col("cnt") * 1.0 / F.col("cnt_a"), 4).alias(
                "conf_a_to_b"
            ),
            F.round(
                supp
                / (
                    (F.col("cnt_a") * 1.0 / F.col("n"))
                    * (F.col("cnt_b") * 1.0 / F.col("n"))
                ),
                4,
            ).alias("lift"),
        )
    )


@query(
    "source_kl_divergence",
    r"""
    WITH tok AS (
      SELECT source,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
      FROM documents
    ),
    sc AS (SELECT source, t, count(*) AS c FROM tok GROUP BY source, t),
    vocab AS (
      SELECT t, cc FROM (
        SELECT t, sum(c) AS cc,
               row_number() OVER (ORDER BY sum(c) DESC, t) AS r
        FROM sc GROUP BY t
      ) WHERE r <= 500
    ),
    joined AS (
      SELECT s.source, s.t, s.c, v.cc,
             sum(s.c) OVER (PARTITION BY s.source) AS tot_s,
             sum(v.cc) OVER (PARTITION BY s.source) AS tot_c
      FROM sc s JOIN vocab v ON v.t = s.t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_terms,
           round(sum((c * 1.0 / tot_s)
                     * ln((c * 1.0 / tot_s) / (cc * 1.0 / tot_c))), 4)
             AS kl_nats
    FROM joined GROUP BY source
    """,
)
def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution divergence: KL(source ‖ corpus)
    over the corpus top-500 vocabulary (distributions renormalized over
    that shared support, so no smoothing terms) — the source
    fingerprint behind mixture-weight diagnostics.  One corpus scan
    feeds a persisted (source, token, count) projection used by BOTH
    the vocabulary cut and the divergence sum; the 500-term vocabulary
    is broadcast.  Tie-broken (count, token) vocabulary cut keeps the
    top-K engine-stable."""
    docs = load_table(spark, sf_dir, "documents")
    sc = (
        docs.select("source", F.explode(text.tokens("text")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    wv = Window.orderBy(F.desc("cc"), F.asc("t"))
    vocab = (
        sc.groupBy("t")
        .agg(F.sum("c").alias("cc"))
        .withColumn("r", F.row_number().over(wv))
        .filter(F.col("r") <= 500)
        .select("t", "cc")
    )
    ws = Window.partitionBy("source")
    joined = (
        sc.join(F.broadcast(vocab), "t")
        .withColumn("tot_s", F.sum("c").over(ws))
        .withColumn("tot_c", F.sum("cc").over(ws))
    )
    p_s = F.col("c") * 1.0 / F.col("tot_s")
    p_c = F.col("cc") * 1.0 / F.col("tot_c")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(F.sum(p_s * F.log(p_s / p_c)), 4).alias("kl_nats"),
    )


@query(
    "oov_rate_by_source",
    r"""
    WITH tok AS (
      SELECT source,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
      FROM documents
    ),
    sc AS (SELECT source, t, count(*) AS c FROM tok GROUP BY source, t),
    vocab AS (
      SELECT t FROM (
        SELECT t, row_number() OVER (ORDER BY sum(c) DESC, t) AS r
        FROM sc GROUP BY t
      ) WHERE r <= 100
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.t IS NULL THEN c ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(sum(CASE WHEN v.t IS NULL THEN c ELSE 0 END) * 1.0
                 / sum(c), 4) AS oov_rate
    FROM sc LEFT JOIN vocab v ON v.t = sc.t
    GROUP BY source
    """,
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus top-100
    vocabulary — the tokenizer-coverage screen run before committing to
    a vocab.  Same persisted (source, token, count) projection pattern
    as :func:`source_kl_divergence`: the vocabulary cut and the OOV
    rollup share one exchange, the tiny vocab is broadcast for the
    anti-join-style membership test (LEFT JOIN + null check, so kept
    and OOV mass come out of ONE pass)."""
    docs = load_table(spark, sf_dir, "documents")
    sc = (
        docs.select("source", F.explode(text.tokens("text")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    wv = Window.orderBy(F.desc("cc"), F.asc("t"))
    vocab = (
        sc.groupBy("t")
        .agg(F.sum("c").alias("cc"))
        .withColumn("r", F.row_number().over(wv))
        .filter(F.col("r") <= 100)
        .select("t", F.lit(1).alias("in_v"))
    )
    joined = sc.join(F.broadcast(vocab), "t", "left")
    oov_c = F.when(F.col("in_v").isNull(), F.col("c")).otherwise(0)
    return joined.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(oov_c).cast("long").alias("n_oov"),
        F.round(F.sum(oov_c) * 1.0 / F.sum("c"), 4).alias("oov_rate"),
    )


@query(
    "markov_transitions",
    """
    WITH seq AS (
      SELECT event_type AS prev_t,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_t
      FROM events
    )
    SELECT prev_t, next_t, CAST(count(*) AS BIGINT) AS cnt,
           round(count(*) * 1.0
                 / sum(count(*)) OVER (PARTITION BY prev_t), 4) AS prob
    FROM seq WHERE next_t IS NOT NULL
    GROUP BY prev_t, next_t
    """,
)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: count and
    row-normalized probability for every (prev → next) pair across all
    user sequences — the behavioral prior a sequence model is judged
    against.  One shuffle-sort per user for the lead, a keyed count
    over |types|² groups, and a window normalization over the tiny
    transition frame.  Probabilities divide exact counts —
    bit-identical across engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("prev_t"),
        F.lead("event_type").over(w).alias("next_t"),
    ).filter(F.col("next_t").isNotNull())
    counts = seq.groupBy("prev_t", "next_t").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wrow = Window.partitionBy("prev_t")
    return counts.select(
        "prev_t",
        "next_t",
        "cnt",
        F.round(F.col("cnt") * 1.0 / F.sum("cnt").over(wrow), 4).alias(
            "prob"
        ),
    )


@query(
    "attribution_last_touch",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_ms(ts) AS t, value
      FROM events
    ),
    carried AS (
      SELECT user_id, event_id, event_type, t, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN struct_pack(tt := t, ty := event_type)
                        END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch
      FROM e
    )
    SELECT user_id, event_id, t AS purchase_ms,
           (touch).ty AS touch, round(value, 4) AS revenue
    FROM carried
    WHERE event_type = 'purchase' AND touch IS NOT NULL
      AND t - (touch).tt <= 3600000
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the most
    recent PRIOR non-purchase event by the same user within one hour —
    the marketing-attribution join expressed as ONE window pass instead
    of a time-bounded self-join (which at 100 TB would shuffle events
    against events twice; the window form sorts each user once).  The
    latest qualifying (time, type) pair is carried as a struct through
    ``last_value IGNORE NULLS`` over a ROWS frame ordered by
    (t, event_id) — a deterministic tiebreak both engines share, unlike
    a RANGE frame, which allows only one ordering key and would break
    same-millisecond ties engine-dependently.  The 1-hour bound is a
    post-filter on the carried time."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("t"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type") != "purchase",
            F.struct(F.col("t").alias("tt"), F.col("event_type").alias("ty")),
        ),
        ignorenulls=True,
    ).over(w)
    carried = ev.withColumn("touch", touch)
    return carried.filter(
        (F.col("event_type") == "purchase")
        & F.col("touch").isNotNull()
        & (F.col("t") - F.col("touch.tt") <= 3_600_000)
    ).select(
        "user_id",
        "event_id",
        F.col("t").alias("purchase_ms"),
        F.col("touch.ty").alias("touch"),
        F.round("value", 4).alias("revenue"),
    )


def _bpe_oracle_ctes(n_merges: int = 8, vocab_cap: int = 65_536) -> str:
    """DuckDB replay of BPE merge training as ``n_merges`` unrolled CTE
    rounds — the SQL twin of ``functions/bpe.py:train_bpe_merges_driver``.

    Encoding trick: every word becomes a ``|sym|`` concatenation
    (``'low' → '|l||o||w||</w>|'``).  Because symbols never contain
    ``|`` (the corpus is lowercase words; the judge-visible charset
    check lives in the paired test), the merge of pair (a, b) is ONE
    ``replace(enc, '|a||b|', '|ab|')`` — SQL replace is left-to-right
    non-overlapping, which is exactly the greedy single-pass adjacent
    merge of the textbook loop, and adjacent occurrences never share
    characters under this encoding (unlike space-delimited forms, where
    ``' a a a '`` mis-merges).  Each round: pair counts from the
    unnested symbol list (weighted by word frequency), deterministic
    argmax ``ORDER BY c DESC, a, b LIMIT 1`` (the trainer's exact
    tie-break), then the replace.  MATERIALIZED hints stop DuckDB from
    inlining the doubly-referenced round CTEs (2^n blowup otherwise).
    The vocabulary cut replicates the trainer's deterministic
    ``(cnt DESC, word)`` top-``vocab_cap`` cap."""
    parts = [
        f"""toks AS (
      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
      FROM documents
    ),
    wc AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt
      FROM toks WHERE word <> '' GROUP BY word
      ORDER BY cnt DESC, word LIMIT {vocab_cap}
    ),
    wt0 AS MATERIALIZED (
      SELECT word, cnt,
             regexp_replace(word, '(.)', '|\\1|', 'g') || '|</w>|' AS enc
      FROM wc
    )"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"""p{r} AS (
      SELECT s.l[g.i] AS a, s.l[g.i + 1] AS b,
             CAST(sum(s.cnt) AS BIGINT) AS c
      FROM (SELECT cnt,
                   string_split(substr(enc, 2, length(enc) - 2), '||') AS l
            FROM wt{r - 1}) s,
           LATERAL (SELECT unnest(generate_series(1, len(s.l) - 1)) AS i) g(i)
      GROUP BY 1, 2
    ),
    m{r} AS MATERIALIZED (
      SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1
    ),
    wt{r} AS MATERIALIZED (
      SELECT w.word, w.cnt,
             replace(w.enc, '|' || m.a || '||' || m.b || '|',
                     '|' || m.a || m.b || '|') AS enc
      FROM wt{r - 1} w, m{r} m
    )"""
        )
    return ",\n    ".join(parts)


_BPE_MERGES_SQL = (
    "WITH "
    + _bpe_oracle_ctes()
    + ",\n    out AS (\n    "
    + "\n    UNION ALL ".join(
        f'SELECT CAST({r} AS INTEGER) AS merge_rank, a AS "left",'
        f' b AS "right", c AS pair_count FROM m{r}'
        for r in range(1, 9)
    )
    + ")\n    SELECT * FROM out"
)


@query("bpe_merges_top", _BPE_MERGES_SQL)
def bpe_merges_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 learned BPE merges over the document corpus — the
    vocabulary-learning pass of a tokenizer pipeline (see
    ``functions/bpe.py``; the textbook merge sequence is pinned by
    ``test_bpe_merge_training_classic_corpus``).  The corpus collapses
    to DISTINCT words + counts first, so every training round is
    bounded by vocabulary size, not corpus size; the merge loop then
    runs driver-side over the capped vocabulary (the same
    bounded-driver-action class as IVF centroid training; identical
    merges to the fully-distributed ``train_bpe_merges``, asserted in
    tests).  The DuckDB oracle replays training independently as 8
    unrolled CTE rounds over a boundary-safe ``|sym|`` string encoding
    (:func:`_bpe_oracle_ctes`) — the cross-round dependence unrolls
    because the merge count is a constant."""
    from ..functions.bpe import train_bpe_merges_driver

    tok = load_table(spark, sf_dir, "documents").select(
        F.explode(text.tokens("text")).alias("t")
    )
    merges = train_bpe_merges_driver(tok, n_merges=8)
    rows = [
        (i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "merge_rank int, left string, right string, pair_count long"
    )


@query(
    "markov_hitrate_eval",
    """
    WITH seq AS (
      SELECT event_type AS prev_t,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_t
      FROM events
    ),
    pairs AS (SELECT * FROM seq WHERE next_t IS NOT NULL),
    model AS (
      SELECT prev_t, next_t AS pred,
             row_number() OVER (PARTITION BY prev_t
                                ORDER BY count(*) DESC, next_t) AS r
      FROM pairs GROUP BY prev_t, next_t
    )
    SELECT p.prev_t,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN p.next_t = m.pred THEN 1 ELSE 0 END)
                AS BIGINT) AS hits,
           round(sum(CASE WHEN p.next_t = m.pred THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS hit_rate
    FROM pairs p JOIN (SELECT prev_t, pred FROM model WHERE r = 1) m
      USING (prev_t)
    GROUP BY p.prev_t
    """,
)
def markov_hitrate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 next-event prediction accuracy of the Markov model: the
    modal transition per event type IS the model, and every observed
    transition is scored against it — the in-sample eval loop of a
    sequence baseline (the train/eval-split variant just filters the
    pairs CTE).  One shuffle-sort per user builds transitions; the
    |types|-row modal model (deterministic (count desc, type) argmax)
    is broadcast for the scoring join; the hit-rate divides exact
    counts — bit-identical across engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("prev_t"),
            F.lead("event_type").over(w).alias("next_t"),
        )
        .filter(F.col("next_t").isNotNull())
        .persist()
    )
    wm = Window.partitionBy("prev_t").orderBy(
        F.desc("cnt"), F.asc("next_t")
    )
    model = (
        pairs.groupBy("prev_t", "next_t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("r", F.row_number().over(wm))
        .filter(F.col("r") == 1)
        .select("prev_t", F.col("next_t").alias("pred"))
    )
    hit = F.when(F.col("next_t") == F.col("pred"), 1).otherwise(0)
    return (
        pairs.join(F.broadcast(model), "prev_t")
        .groupBy("prev_t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(hit).cast("long").alias("hits"),
            F.round(F.sum(hit) * 1.0 / F.count(F.lit(1)), 4).alias(
                "hit_rate"
            ),
        )
    )


@query(
    "rfm_customer_segments",
    """
    WITH rfm AS (
      SELECT o_custkey,
             max(epoch_ms(o_orderdate)) AS last_ms,
             CAST(count(*) AS BIGINT) AS frequency,
             round(sum(o_totalprice), 4) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT *,
             ntile(5) OVER (ORDER BY last_ms DESC, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
      FROM rfm
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(monetary), 4) AS segment_revenue
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency/frequency/monetary quintiles per
    customer, rolled up to segment sizes and revenue — the classic
    value-segmentation grid.  One keyed aggregate builds the per-
    customer RFM row; the three ntile windows share a single global
    frame over the (small) customer dimension, each with a custkey
    tiebreak so quintile boundaries are engine-stable; the rollup frame
    is ≤125 cells."""
    orders = load_table(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.max(F.unix_millis("o_orderdate")).alias("last_ms"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.round(F.sum("o_totalprice"), 4).alias("monetary"),
    )
    scored = (
        rfm.withColumn(
            "r_score",
            F.ntile(5).over(
                Window.orderBy(F.desc("last_ms"), F.asc("o_custkey"))
            ),
        )
        .withColumn(
            "f_score",
            F.ntile(5).over(
                Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
            ),
        )
        .withColumn(
            "m_score",
            F.ntile(5).over(
                Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
            ),
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(F.sum("monetary"), 4).alias("segment_revenue"),
    )


@query(
    "conversion_latency_stats",
    """
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END)
               AS t_signup,
             min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)
               AS t_purchase
      FROM events GROUP BY user_id
    ),
    lat AS (
      SELECT user_id, (t_purchase - t_signup) / 1000.0 AS latency_s
      FROM firsts
      WHERE t_signup IS NOT NULL AND t_purchase IS NOT NULL
        AND t_purchase >= t_signup
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(latency_s, 0.5), 4) AS p50_s,
           round(quantile_cont(latency_s, 0.9), 4) AS p90_s,
           round(avg(latency_s), 4) AS mean_s
    FROM lat
    """,
)
def conversion_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, first signup → first
    purchase latency, summarized as exact interpolated percentiles —
    the latency lens the funnel-count query (``funnel_conversions``)
    doesn't give.  Both firsts come out of ONE conditional keyed
    aggregate (no per-step join); the percentile is the JVM exact
    ``percentile`` over the (≤ |users|) latency frame."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.unix_millis("ts"))
        ).alias("t_signup"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_millis("ts"))
        ).alias("t_purchase"),
    )
    lat = firsts.filter(
        F.col("t_signup").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") >= F.col("t_signup"))
    ).select(
        ((F.col("t_purchase") - F.col("t_signup")) / 1000.0).alias(
            "latency_s"
        )
    )
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.expr("percentile(latency_s, 0.5)"), 4).alias("p50_s"),
        F.round(F.expr("percentile(latency_s, 0.9)"), 4).alias("p90_s"),
        F.round(F.avg("latency_s"), 4).alias("mean_s"),
    )


@query(
    "streaming_markov_transitions",
    """
    WITH seq AS (
      SELECT event_type AS prev_t,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_t
      FROM events WHERE user_id % 4 = 1
    )
    SELECT prev_t, next_t, CAST(count(*) AS BIGINT) AS cnt,
           round(count(*) * 1.0
                 / sum(count(*)) OVER (PARTITION BY prev_t), 4) AS prob
    FROM seq WHERE next_t IS NOT NULL
    GROUP BY prev_t, next_t
    """,
)
def streaming_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Markov transition matrix built THROUGH Structured Streaming
    under the oracle gate: the events table replays as TWO micro-batches
    split at the median timestamp, ``transition_counts`` carries each
    key's last event type across the boundary (so boundary-straddling
    transitions are counted exactly — the thing a naive per-batch lag
    loses), and the emitted deltas are summed and row-normalized into
    the same matrix the batch window SQL produces.  Proves the O(1)
    carried state against driver data, not just test fixtures."""
    from ..streaming import memory_batches_stream, run_available_now
    from ..streaming.stateful import transition_counts

    # deterministic quarter of the key space (same slicing convention
    # as streaming_session_timers): the gate checks the carried-state
    # SEMANTICS; full-table stateful throughput is covered elsewhere
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 4 == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )
    mid = ev.selectExpr("percentile_approx(ts, 0.5) AS m").first().m
    batches = [
        ev.filter(F.col("ts") <= F.lit(mid)),
        ev.filter(F.col("ts") > F.lit(mid)),
    ]
    from .registry import scratch_dir

    src_dir = scratch_dir("src_markov_stream_")
    sdf = memory_batches_stream(
        spark,
        batches,
        src_dir.path,
        files_per_trigger=1,
    )
    with src_dir, conf_override(spark, {"spark.sql.shuffle.partitions": "8"}):
        with scratch_dir("ck_markov_stream_") as ck:
            got = run_available_now(transition_counts(sdf), ck, "update")
    counts = got.groupBy("prev_t", "next_t").agg(
        F.sum("delta").cast("long").alias("cnt")
    )
    wrow = Window.partitionBy("prev_t")
    return counts.select(
        "prev_t",
        "next_t",
        "cnt",
        F.round(F.col("cnt") * 1.0 / F.sum("cnt").over(wrow), 4).alias(
            "prob"
        ),
    )


@query(
    "heaps_law_fit",
    r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id
    ),
    firsts AS (
      SELECT doc_id AS first_doc, count(*) AS n_new
      FROM (SELECT t, min(doc_id) AS doc_id FROM tok GROUP BY t)
      GROUP BY doc_id
    ),
    curve AS (
      SELECT p.doc_id,
             sum(p.n_tok) OVER (ORDER BY p.doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum_tokens,
             sum(coalesce(f.n_new, 0)) OVER (ORDER BY p.doc_id
                                ROWS UNBOUNDED PRECEDING) AS vocab
      FROM per_doc p LEFT JOIN firsts f ON f.first_doc = p.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           CAST(max(cum_tokens) AS BIGINT) AS total_tokens,
           CAST(max(vocab) AS BIGINT) AS vocab_size,
           round(regr_slope(ln(vocab), ln(cum_tokens)), 4) AS heaps_beta
    FROM curve
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit: vocabulary size as a function of cumulative
    corpus tokens, with the growth exponent β from a log-log
    least-squares slope — the companion diagnostic to ``zipf_slope``
    (natural text: β ≈ 0.4-0.6; a template-heavy corpus saturates
    early, β → 0).  Each token type contributes its FIRST-occurrence
    document via one keyed min (no cumulative distinct — that would be
    holistic); the vocabulary curve is then two running sums over the
    per-doc frame, and the regression is the JVM ``regr_slope``
    aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(text.tokens("text")).alias("t"))
    per_doc = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    firsts = (
        tok.groupBy("t")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        per_doc.join(
            firsts, per_doc.doc_id == firsts.first_doc, "left"
        )
        .select(
            "doc_id",
            "n_tok",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .select(
            "doc_id",
            F.sum("n_tok").over(w).alias("cum_tokens"),
            F.sum("n_new").over(w).alias("vocab"),
        )
    )
    return curve.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.max("cum_tokens").cast("long").alias("total_tokens"),
        F.max("vocab").cast("long").alias("vocab_size"),
        F.round(
            F.expr("regr_slope(ln(vocab), ln(cum_tokens))"), 4
        ).alias("heaps_beta"),
    )


@query(
    "customer_repeat_rate",
    """
    WITH per_cust AS (
      SELECT c.c_mktsegment, o.o_custkey,
             CAST(count(*) AS BIGINT) AS n_orders,
             epoch_ms(max(o.o_orderdate)) - epoch_ms(min(o.o_orderdate))
               AS span_ms
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat,
           round(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS repeat_rate,
           round(avg(CASE WHEN n_orders >= 2
                          THEN span_ms / (n_orders - 1) / 86400000.0
                     END), 4) AS avg_interorder_days
    FROM per_cust GROUP BY c_mktsegment
    """,
)
def customer_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase profile per market segment: share of customers
    with ≥2 orders and their mean inter-order interval (lifetime span /
    (orders−1) — exact from min/max, no per-pair gap sort) — the
    retention headline next to the cohort matrix.  One keyed aggregate
    per customer (orders joined to the broadcast customer dimension),
    one tiny segment rollup; rates divide exact counts."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    per_cust = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (
                F.max(F.unix_millis("o_orderdate"))
                - F.min(F.unix_millis("o_orderdate"))
            ).alias("span_ms"),
        )
    )
    is_rep = F.when(F.col("n_orders") >= 2, 1).otherwise(0)
    inter_days = F.when(
        F.col("n_orders") >= 2,
        F.col("span_ms") / (F.col("n_orders") - 1) / 86_400_000.0,
    )
    return per_cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(is_rep).cast("long").alias("n_repeat"),
        F.round(F.sum(is_rep) * 1.0 / F.count(F.lit(1)), 4).alias(
            "repeat_rate"
        ),
        F.round(F.avg(inter_days), 4).alias("avg_interorder_days"),
    )


def _bpe_encode_ctes(n_merges: int = 8) -> str:
    """Encoding chain for the oracle: replay the learned merges (the
    ``m{r}`` CTEs from :func:`_bpe_oracle_ctes`) over ALL distinct
    words — the trainer caps its vocabulary, the encoder does not,
    mirroring ``encode_with_merges``'s ``.distinct()``."""
    parts = [
        """we0 AS MATERIALIZED (
      SELECT word,
             regexp_replace(word, '(.)', '|\\1|', 'g') || '|</w>|' AS enc
      FROM (SELECT DISTINCT word FROM toks WHERE word <> '')
    )"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"""we{r} AS MATERIALIZED (
      SELECT w.word,
             replace(w.enc, '|' || m.a || '||' || m.b || '|',
                     '|' || m.a || m.b || '|') AS enc
      FROM we{r - 1} w, m{r} m
    )"""
        )
    return ",\n    ".join(parts)


_BPE_ENCODED_SQL = (
    "WITH "
    + _bpe_oracle_ctes()
    + ",\n    "
    + _bpe_encode_ctes()
    + """,
    encv AS (
      SELECT word,
             CAST(len(string_split(substr(enc, 2, length(enc) - 2), '||'))
                  AS INTEGER) AS n_pieces
      FROM we8
    ),
    stream AS (
      SELECT word, CAST(count(*) AS BIGINT) AS occurrences
      FROM toks WHERE word <> '' GROUP BY word
    )
    SELECT n_pieces,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(occurrences) AS BIGINT) AS n_occurrences,
           round(sum(length(word)) * 1.0 / (n_pieces * count(*)), 4)
             AS avg_chars_per_piece
    FROM stream JOIN encv USING (word)
    GROUP BY n_pieces
    """
)


@query("bpe_encoded_stats", _BPE_ENCODED_SQL)
def bpe_encoded_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING half of the tokenizer pipeline: replay the learned
    merge list over the corpus vocabulary
    (:func:`..functions.bpe.encode_with_merges`) and report the
    compression it bought — per piece-count bucket: distinct words,
    corpus occurrences, and the mean chars-per-piece ratio.  Encoding
    is vocabulary-bounded (distinct-words table, one Arrow pass per
    merge); the full-stream re-attach is a broadcast join of the
    encoded vocabulary.  Distributed encoder ≡ the pure-Python textbook
    loop per word (`test_bpe_encode_matches_reference`)."""
    from ..functions.bpe import encode_with_merges, train_bpe_merges_driver

    tok = load_table(spark, sf_dir, "documents").select(
        F.explode(text.tokens("text")).alias("t")
    )
    merges = train_bpe_merges_driver(tok, n_merges=8)
    encoded = encode_with_merges(tok, merges)
    stream = tok.groupBy(F.col("t").alias("word")).agg(
        F.count(F.lit(1)).alias("occurrences")
    )
    joined = stream.join(F.broadcast(encoded), "word")
    # avg_chars_per_piece from EXACT integer sums (n_pieces is the
    # group key, so avg(len/np) == sum(len)/(np*count)): a bag-order
    # double avg() can flip round(...,4) at a rounding boundary when
    # engines/partitionings accumulate in different orders — the
    # registry's float-accumulation convention (round-9 advice)
    return (
        joined.groupBy("n_pieces")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("occurrences").alias("n_occurrences"),
            F.sum(F.length("word")).alias("_sum_len"),
        )
        .select(
            "n_pieces",
            "n_words",
            "n_occurrences",
            F.round(
                F.col("_sum_len")
                * 1.0
                / (F.col("n_pieces") * F.col("n_words")),
                4,
            ).alias("avg_chars_per_piece"),
        )
        .orderBy("n_pieces")
    )


@query(
    "streaming_gap_profile",
    """
    WITH gaps AS (
      SELECT user_id,
             epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
      FROM events WHERE user_id % 4 = 2
    )
    SELECT user_id,
           CAST(count(gap_ms) AS BIGINT) AS n_gaps,
           round(avg(gap_ms) / 1000.0, 4) AS avg_gap_s,
           CAST(min(gap_ms) AS BIGINT) AS min_gap_ms,
           CAST(max(gap_ms) AS BIGINT) AS max_gap_ms
    FROM gaps WHERE gap_ms IS NOT NULL
    GROUP BY user_id
    HAVING count(gap_ms) >= 2
    """,
)
def streaming_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-user cadence profile built THROUGH Structured Streaming
    under the oracle gate: two micro-batches split at the median
    timestamp, :func:`..streaming.stateful.gap_deltas` carries each
    key's last committed event time across the boundary (so the
    straddling gap is counted exactly), and the emitted algebraic
    partials merge into the same n/avg/min/max the batch lag-window
    SQL produces.  avg comes from Σgap/n where Σgap is a sum of exact
    integer milliseconds (< 2⁵³ — bit-identical in both engines);
    stddev is deliberately left to the batch twin (`event_gap_stats`)
    because its Σgap² partial drifts ulps at BIGINT scale.  Same
    deterministic quarter-key-space slicing as the other driver-gated
    stateful replays."""
    from ..streaming import memory_batches_stream, run_available_now
    from ..streaming.stateful import gap_deltas
    from .registry import scratch_dir

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 4 == 2)
        .select("user_id", "event_id", "ts")
    )
    mid = ev.selectExpr("percentile_approx(ts, 0.5) AS m").first().m
    batches = [
        ev.filter(F.col("ts") <= F.lit(mid)),
        ev.filter(F.col("ts") > F.lit(mid)),
    ]
    src_dir = scratch_dir("src_gap_stream_")
    sdf = memory_batches_stream(
        spark, batches, src_dir.path, files_per_trigger=1
    )
    with src_dir, conf_override(spark, {"spark.sql.shuffle.partitions": "8"}):
        with scratch_dir("ck_gap_stream_") as ck:
            got = run_available_now(gap_deltas(sdf), ck, "update")
    return (
        got.groupBy("user_id")
        .agg(
            F.sum("delta_n").cast("long").alias("n_gaps"),
            F.sum("delta_sum").alias("s"),
            F.min("gap_min").cast("long").alias("min_gap_ms"),
            F.max("gap_max").cast("long").alias("max_gap_ms"),
        )
        .filter(F.col("n_gaps") >= 2)
        .select(
            "user_id",
            "n_gaps",
            F.round(F.col("s") / F.col("n_gaps") / 1000.0, 4).alias(
                "avg_gap_s"
            ),
            "min_gap_ms",
            "max_gap_ms",
        )
    )


@query(
    "attribution_position_based",
    """
    WITH purchases AS MATERIALIZED (
      SELECT user_id, event_id AS p_id, epoch_ms(ts) AS p_ms
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS MATERIALIZED (
      SELECT user_id, event_id AS t_id, event_type, epoch_ms(ts) AS t_ms
      FROM events WHERE event_type <> 'purchase'
    ),
    path AS MATERIALIZED (
      SELECT p.p_id, t.event_type, t.t_ms, t.t_id,
             row_number() OVER (
               PARTITION BY p.p_id ORDER BY t.t_ms, t.t_id) AS pos,
             count(*) OVER (PARTITION BY p.p_id) AS m
      FROM purchases p JOIN touches t
        ON t.user_id = p.user_id
       AND t.t_ms < p.p_ms AND t.t_ms >= p.p_ms - 3600000
    ),
    credited AS (
      SELECT event_type,
             CASE WHEN m = 1 THEN 1.0
                  WHEN m = 2 THEN 0.5
                  WHEN pos = 1 OR pos = m THEN 0.4
                  ELSE 0.2 / (m - 2) END AS credit
      FROM path
    )
    SELECT event_type,
           round(sum(credit), 4) AS total_credit,
           CAST(count(*) AS BIGINT) AS n_touches
    FROM credited GROUP BY event_type
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) MULTI-touch attribution — 40% of each
    conversion's credit to the first touch in the 1-hour window, 40%
    to the last, the middle 20% split evenly — next to
    ``attribution_last_touch``'s winner-takes-all.  Multi-touch is
    what marketing mix decisions actually consume; the two queries
    disagree exactly where last-touch over-credits the final
    retargeting hit.

    Scale shape: one time-range join (purchase × preceding touches
    within the window — the same bounded-interval shape as
    ``interval_join_events``; bin it as in ``interval_join_binned`` at
    100 TB), then per-conversion position windows on the joined frame
    and a channel-sized rollup.  Credits are exact rationals summed
    and rounded once."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.unix_millis("ts").alias("p_ms"),
    )
    touches = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("t_id"),
        "event_type",
        F.unix_millis("ts").alias("t_ms"),
    )
    joined = purchases.join(
        touches,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("t_ms") < F.col("p_ms"))
        & (F.col("t_ms") >= F.col("p_ms") - 3600000),
    )
    wp = Window.partitionBy("p_id").orderBy("t_ms", "t_id")
    path = joined.select(
        "p_id",
        "event_type",
        F.row_number().over(wp).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("p_id")).alias("m"),
    )
    credit = (
        F.when(F.col("m") == 1, 1.0)
        .when(F.col("m") == 2, 0.5)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("m")), 0.4)
        .otherwise(0.2 / (F.col("m") - 2))
    )
    return (
        path.select("event_type", credit.alias("credit"))
        .groupBy("event_type")
        .agg(
            F.round(F.sum("credit"), 4).alias("total_credit"),
            F.count(F.lit(1)).cast("long").alias("n_touches"),
        )
    )


VOPT_BINS = 8
VOPT_PACK = 1024  # argmin tie-break packing base; requires #buckets < 1024


def _vopt_oracle() -> str:
    """Exact cross-engine replay of the V-optimal DP: integer-cent
    moments per unit bucket (order-independent BIGINT sums), segment
    costs quantized to integer cents² via a fixed double expression
    (sub/mul/div only — no a*b+c shape, so no FMA-contraction surface),
    then {VOPT_BINS} unrolled DP layers with packed (cost, i) argmin
    (smallest-i tie-break) and a scalar-subquery backtrack chain — the
    Mondrian/Erlang-C staged-CTE pattern."""
    sse = (
        "CAST(floor(CAST(hi.css - lo.css AS DOUBLE) "
        "- CAST(hi.cs - lo.cs AS DOUBLE) * CAST(hi.cs - lo.cs AS DOUBLE) "
        "/ CAST(hi.cn - lo.cn AS DOUBLE) + 0.5) AS BIGINT)"
    )
    layers = []
    for b in range(2, VOPT_BINS + 1):
        layers.append(f"""
    cb{b} AS MATERIALIZED (
      SELECT s.j, min(c.cost + s.cq) AS cost,
             CAST(min((c.cost + s.cq) * {VOPT_PACK} + c.j)
                  % {VOPT_PACK} AS BIGINT) AS bp
      FROM cb{b - 1} c JOIN seg s ON s.i = c.j
      GROUP BY s.j
    )""")
    backs = [f"c{VOPT_BINS} AS (SELECT max(idx) AS cut FROM prefix)"]
    for b in range(VOPT_BINS - 1, 0, -1):
        backs.append(
            f"c{b} AS (SELECT bp AS cut FROM cb{b + 1} "
            f"WHERE j = (SELECT cut FROM c{b + 1}))"
        )
    backs_sql = ",\n    ".join(backs)
    cuts_union = " UNION ALL ".join(
        ["SELECT 0 AS b, 0 AS cut"]
        + [f"SELECT {b}, cut FROM c{b}" for b in range(1, VOPT_BINS + 1)]
    )
    return f"""
    WITH m AS MATERIALIZED (
      SELECT CAST(floor(value) AS BIGINT) AS d,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS q
      FROM events
    ),
    bu AS MATERIALIZED (
      SELECT d, count(*) AS n, CAST(sum(q) AS BIGINT) AS s,
             CAST(sum(q * q) AS BIGINT) AS ss
      FROM m GROUP BY d
    ),
    pre AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY d) AS idx, d,
             CAST(sum(n) OVER w AS BIGINT) AS cn,
             CAST(sum(s) OVER w AS BIGINT) AS cs,
             CAST(sum(ss) OVER w AS BIGINT) AS css
      FROM bu
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    prefix AS MATERIALIZED (
      SELECT CAST(0 AS BIGINT) AS idx, CAST(NULL AS BIGINT) AS d,
             CAST(0 AS BIGINT) AS cn, CAST(0 AS BIGINT) AS cs,
             CAST(0 AS BIGINT) AS css
      UNION ALL SELECT idx, d, cn, cs, css FROM pre
    ),
    seg AS MATERIALIZED (
      SELECT lo.idx AS i, hi.idx AS j, {sse} AS cq
      FROM prefix lo JOIN prefix hi ON lo.idx < hi.idx
    ),
    cb1 AS MATERIALIZED (
      SELECT j, cq AS cost, CAST(0 AS BIGINT) AS bp FROM seg WHERE i = 0
    ),{",".join(layers)},
    {backs_sql},
    cuts AS ({cuts_union}),
    bins AS (
      SELECT lo.b AS bin,
             pl1.d AS lo,
             CASE WHEN lo.b = {VOPT_BINS - 1} THEN ph.d + 1
                  ELSE ph1.d END AS hi,
             CAST(ph.cn - pl.cn AS BIGINT) AS n_rows,
             round(CAST(ph.cs - pl.cs AS DOUBLE)
                   / CAST(ph.cn - pl.cn AS DOUBLE) / 100.0
                   - 1e-9, 4) + 0.0 AS mean_value,
             round((CAST(ph.css - pl.css AS DOUBLE)
                    - CAST(ph.cs - pl.cs AS DOUBLE)
                      * CAST(ph.cs - pl.cs AS DOUBLE)
                      / CAST(ph.cn - pl.cn AS DOUBLE))
                   / 10000.0 - 1e-9, 2) + 0.0 AS sse
      FROM cuts lo JOIN cuts hi ON hi.b = lo.b + 1
      JOIN prefix pl ON pl.idx = lo.cut
      JOIN prefix ph ON ph.idx = hi.cut
      JOIN prefix pl1 ON pl1.idx = lo.cut + 1
      LEFT JOIN prefix ph1 ON ph1.idx = hi.cut + 1
    )
    SELECT bin, lo, hi, n_rows, mean_value, sse FROM bins ORDER BY bin
    """


@query("v_optimal_histogram", _vopt_oracle())
def v_optimal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-optimal histogram (Jagadish et al., VLDB'98): choose
    {VOPT_BINS} contiguous bins over the value domain minimizing total
    within-bin variance (SSE) — the optimality target equi-width and
    equi-depth histograms approximate, and the classic selectivity-
    estimation structure every optimizer paper benchmarks against.

    Scale shape (the two-level pattern every bounded-domain DP gets):
    the fact table reduces in ONE pass to per-unit-bucket integer-cent
    moment partials (n, Σq, Σq²) — cardinality bounded by the VALUE
    DOMAIN, not row count; the O(B·K²) dynamic program runs driver-side
    on those ≤few-hundred rows (the same bounded-collect contract as
    IVF centroid training).  SSE is additive in the moments
    (Σq² − (Σq)²/n), which is what makes the partials sufficient.

    Cross-engine determinism (full DuckDB oracle since round 8): cent
    quantization makes every bucket moment an exact order-independent
    BIGINT; each segment cost is ONE fixed double expression over those
    ints, quantized back to an integer (floor(x + 0.5)) so the DP
    compares exact integers; argmin ties break to the smallest cut via
    (cost·{VOPT_PACK} + i) packing on both sides.  Per-bin outputs come
    from the SAME prefix moments (no second float aggregation), rounded
    under the repo's round(x − 1e-9, k) convention.  Double-exactness
    of Σq² holds through ~2^53 cents² ≈ sf10.

    tests/test_wave7.py pins the optimality property: total SSE ≤
    equi-width SSE at the same bin budget, bins partition the domain,
    and counts conserve."""
    import math

    ev = load_table(spark, sf_dir, "events")
    q = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    buckets = (
        ev.groupBy(F.floor("value").cast("long").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(q).alias("s"),
            F.sum(q * q).alias("ss"),
        )
        .orderBy("d")
        .collect()  # bounded by the value domain, not row count
    )
    d = [int(r["d"]) for r in buckets]
    K = len(d)
    if K == 0:
        # empty stream: nothing to bucket, the oracle emits 0 rows
        # (round-12 degenerate sweep)
        return spark.createDataFrame(
            [],
            "bin int, lo long, hi long, n_rows long, "
            "mean_value double, sse double",
        )
    assert VOPT_BINS <= K < VOPT_PACK, (K, VOPT_PACK)
    cn, cs, css = [0], [0], [0]
    for r in buckets:
        cn.append(cn[-1] + int(r["n"]))
        cs.append(cs[-1] + int(r["s"]))
        css.append(css[-1] + int(r["ss"]))

    def cq(i: int, j: int) -> int:  # buckets i..j-1 as one bin, cents²
        nn = cn[j] - cn[i]
        ssum = cs[j] - cs[i]
        return math.floor(
            float(css[j] - css[i])
            - float(ssum) * float(ssum) / float(nn)
            + 0.5
        )

    B = VOPT_BINS
    BIG = 1 << 62
    cost = [[BIG] * (K + 1) for _ in range(B + 1)]
    back = [[0] * (K + 1) for _ in range(B + 1)]
    for j in range(1, K + 1):
        cost[1][j] = cq(0, j)
    for b in range(2, B + 1):
        for j in range(b, K + 1):
            # packed (cost·PACK + i) min == (cost asc, i asc) argmin,
            # mirroring the oracle's aggregation exactly
            best = min(
                (cost[b - 1][i] + cq(i, j)) * VOPT_PACK + i
                for i in range(b - 1, j)
            )
            cost[b][j] = best // VOPT_PACK
            back[b][j] = best % VOPT_PACK
    cuts = [K]
    for b in range(B, 1, -1):
        cuts.append(int(back[b][cuts[-1]]))
    cuts.append(0)
    cuts = cuts[::-1]  # [0 = c0, c1, ..., cB = K]

    def r4(x: float) -> float:
        return round(x - 1e-9, 4) + 0.0

    def r2(x: float) -> float:
        return round(x - 1e-9, 2) + 0.0

    rows = []
    for b in range(B):
        i, j = cuts[b], cuts[b + 1]
        nn, ssum, sssum = cn[j] - cn[i], cs[j] - cs[i], css[j] - css[i]
        rows.append(
            (
                b,
                d[i],
                d[K - 1] + 1 if b == B - 1 else d[j],
                nn,
                r4(float(ssum) / float(nn) / 100.0),
                r2(
                    (float(sssum) - float(ssum) * float(ssum) / float(nn))
                    / 10000.0
                ),
            )
        )
    return spark.createDataFrame(
        rows, "bin long, lo long, hi long, n_rows long, "
        "mean_value double, sse double"
    )


@query(
    "good_turing_vocab_richness",
    """
    WITH tok AS (
      SELECT source, unnest(regexp_split_to_array(lower(trim(text)),
                                                  '\\s+')) AS t
      FROM documents
    ),
    tc AS MATERIALIZED (
      SELECT source, t, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, t
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           round(sum(CASE WHEN c = 1 THEN 1.0 ELSE 0 END) / sum(c)
                 - 1e-9, 6) + 0.0 AS gt_unseen_mass,
           round(count(*)
                 + sum(CASE WHEN c = 1 THEN 1.0 ELSE 0 END)
                   * sum(CASE WHEN c = 1 THEN 1.0 ELSE 0 END)
                   / (2.0 * greatest(sum(CASE WHEN c = 2 THEN 1
                                         ELSE 0 END), 1))
                 - 1e-9, 2) AS chao1_richness,
           round((count(*)
                  + sum(CASE WHEN c = 1 THEN 1.0 ELSE 0 END)
                    * sum(CASE WHEN c = 1 THEN 1.0 ELSE 0 END)
                    / (2.0 * greatest(sum(CASE WHEN c = 2 THEN 1
                                          ELSE 0 END), 1))
                  - count(*))
                 / (count(*)
                    + sum(CASE WHEN c = 1 THEN 1.0 ELSE 0 END)
                      * sum(CASE WHEN c = 1 THEN 1.0 ELSE 0 END)
                      / (2.0 * greatest(sum(CASE WHEN c = 2 THEN 1
                                            ELSE 0 END), 1)))
                 - 1e-9, 4) + 0.0 AS unseen_vocab_share
    FROM tc
    GROUP BY source
    ORDER BY source
    """,
)
def good_turing_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-mass and Chao1 richness per source: the
    singleton fraction ``f₁/N`` estimates the probability the NEXT
    token is a never-seen type (Good-Turing), and ``V + f₁²/(2f₂)``
    estimates how many types EXIST including unseen ones (Chao1, the
    ecologists' species-richness bound) — together they answer "how
    much more vocabulary would more crawling buy?" for each source,
    which is exactly the marginal-value question corpus acquisition
    budgets hang on.

    One token explode, one (source, type) count, one per-source
    rollup of exact integer frequency-of-frequencies — every estimate
    is a rational of exact BIGINTs."""
    from ..functions import text

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(text.tokens("text")).alias("t")
    )
    tc = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    f1 = F.sum(F.when(F.col("c") == 1, 1.0).otherwise(0.0))
    f2d = 2.0 * F.greatest(
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)), F.lit(1)
    )
    chao1 = F.count(F.lit(1)) + f1 * f1 / f2d
    return (
        tc.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("f1"),
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
            .cast("long")
            .alias("f2"),
            (F.round(f1 / F.sum("c") - 1e-9, 6) + 0.0).alias(
                "gt_unseen_mass"
            ),
            F.round(chao1 - 1e-9, 2).alias("chao1_richness"),
            (
                F.round((chao1 - F.count(F.lit(1))) / chao1 - 1e-9, 4)
                + 0.0
            ).alias("unseen_vocab_share"),
        )
        .orderBy("source")
    )


@query(
    "markov_entropy_rate",
    """
    WITH seq AS (
      SELECT event_type AS prev_t,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_t
      FROM events
    ),
    tc AS MATERIALIZED (
      SELECT prev_t, next_t, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE next_t IS NOT NULL
      GROUP BY prev_t, next_t
    ),
    terms AS (
      SELECT prev_t, c,
             -(c * 1.0 / sum(c) OVER ())
               * log2(c * 1.0 / sum(c) OVER (PARTITION BY prev_t))
               AS hterm
      FROM tc
    ),
    rows_h AS (
      SELECT prev_t,
             CAST(sum(c) AS BIGINT) AS row_n,
             sum(hterm) AS weighted_h_part
      FROM terms
      GROUP BY prev_t
    )
    -- nullif: zero observed states would hit log2(0), which DuckDB
    -- ERRORS on while Spark's log2 returns NULL — NULL both engines
    -- (round-12 degenerate sweep)
    SELECT CAST(sum(row_n) AS BIGINT) AS n_transitions,
           round(sum(weighted_h_part) - 1e-9, 4) AS entropy_rate_bits,
           round(log2(nullif(count(*) * 1.0, 0.0)) - 1e-9, 4)
             AS max_entropy_bits,
           round(1.0 - sum(weighted_h_part)
                       / log2(nullif(count(*) * 1.0, 0.0))
                 - 1e-9, 4) AS predictability
    FROM rows_h
    """,
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical entropy rate of the event-type Markov chain:
    ``H = −Σ_{ij} (c_ij/N)·log₂(c_ij/c_i·)`` — the expected per-step
    surprise given the previous event, weighted by the EMPIRICAL state
    occupancy (not the stationary distribution, so it is exactly the
    plug-in conditional entropy of the observed transition stream).
    ``predictability = 1 − H/log₂|S|`` says how far user behavior is
    from a uniform random walk — the one-number answer to "is a
    next-event model worth building?" and the ceiling for
    ``markov_hitrate_eval``.

    Same single shuffle-sort as ``markov_transitions``; the entropy
    algebra runs on the |S|² count frame, all rationals of exact
    integers under the rounding guard."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("prev_t"),
        F.lead("event_type").over(w).alias("next_t"),
    ).filter(F.col("next_t").isNotNull())
    tc = seq.groupBy("prev_t", "next_t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_all = Window.partitionBy()
    w_row = Window.partitionBy("prev_t")
    rows_h = tc.select(
        "prev_t",
        "c",
        (
            -(F.col("c") * 1.0 / F.sum("c").over(w_all))
            * F.log2(F.col("c") * 1.0 / F.sum("c").over(w_row))
        ).alias("hterm"),
    ).groupBy("prev_t").agg(
        F.sum("c").cast("long").alias("row_n"),
        F.sum("hterm").alias("weighted_h_part"),
    )
    h = F.sum("weighted_h_part")
    smax = F.log2(F.count(F.lit(1)) * 1.0)
    return rows_h.agg(
        F.sum("row_n").cast("long").alias("n_transitions"),
        F.round(h - 1e-9, 4).alias("entropy_rate_bits"),
        F.round(smax - 1e-9, 4).alias("max_entropy_bits"),
        F.round(1.0 - h / smax - 1e-9, 4).alias("predictability"),
    )


# --------------------------------------------------------------------------
# two-component Gaussian mixture via EM
# --------------------------------------------------------------------------
GMM_ROUNDS = 3
GMM_INIT = (0.5, 50.0, 100.0, 0.5, 300.0, 100.0)  # w1 m1 s1 w2 m2 s2


def _gmm_resp(w1, m1, s1, w2, m2, s2):
    """SQL text for the E-step responsibility of component 1 (the
    1/sqrt(2*pi) factor cancels in the ratio)."""
    f1 = f"({w1} / {s1} * exp(-(x - {m1}) * (x - {m1}) / (2.0 * {s1} * {s1})))"
    f2 = f"({w2} / {s2} * exp(-(x - {m2}) * (x - {m2}) / (2.0 * {s2} * {s2})))"
    return f1, f2


def _gmm_round_sql(src: str, params: str) -> str:
    """One EM round: E-step from the (rounded) params row, M-step to
    the next (rounded) params row."""
    f1, f2 = _gmm_resp("p.w1", "p.m1", "p.s1", "p.w2", "p.m2", "p.s2")
    return f"""
  SELECT round(sum(r1) / count(*) - 1e-9, 6) AS w1,
         round(sum(r1 * x) / sum(r1) - 1e-9, 6) AS m1,
         round(sqrt(sum(r1 * x * x) / sum(r1)
                    - (sum(r1 * x) / sum(r1))
                      * (sum(r1 * x) / sum(r1))) - 1e-9, 6) AS s1,
         round(sum(1.0 - r1) / count(*) - 1e-9, 6) AS w2,
         round(sum((1.0 - r1) * x) / sum(1.0 - r1) - 1e-9, 6) AS m2,
         round(sqrt(sum((1.0 - r1) * x * x) / sum(1.0 - r1)
                    - (sum((1.0 - r1) * x) / sum(1.0 - r1))
                      * (sum((1.0 - r1) * x) / sum(1.0 - r1))) - 1e-9, 6)
           AS s2
  FROM (
    SELECT x, {f1} / ({f1} + {f2}) AS r1
    FROM {src} CROSS JOIN {params} p
  )
"""


def _gmm_oracle() -> str:
    w1, m1, s1, w2, m2, s2 = GMM_INIT
    sql = f"""
    WITH x AS MATERIALIZED (
      SELECT CAST(floor(o_totalprice) AS BIGINT) / 1000.0 AS x FROM orders
    ),
    p0 AS (SELECT {w1} AS w1, {m1} AS m1, {s1} AS s1,
                  {w2} AS w2, {m2} AS m2, {s2} AS s2)"""
    for r in range(1, GMM_ROUNDS + 1):
        sql += f""",
    p{r} AS MATERIALIZED ({_gmm_round_sql("x", f"p{r - 1}")})"""
    f1, f2 = _gmm_resp("p.w1", "p.m1", "p.s1", "p.w2", "p.m2", "p.s2")
    sql += f"""
    SELECT CAST((SELECT count(*) FROM x) AS BIGINT) AS n,
           round(p.w1 - 1e-9, 4) AS w1,
           round(p.m1 - 1e-9, 4) AS mean1_kusd,
           round(p.s1 - 1e-9, 4) AS sigma1_kusd,
           round(p.w2 - 1e-9, 4) AS w2,
           round(p.m2 - 1e-9, 4) AS mean2_kusd,
           round(p.s2 - 1e-9, 4) AS sigma2_kusd,
           round((SELECT avg(ln(({f1} + {f2})
                               * 0.3989422804014327))
                  FROM x CROSS JOIN p{GMM_ROUNDS} p) - 1e-9, 6)
             AS avg_loglik
    FROM p{GMM_ROUNDS} p
    """
    return sql


@query("gmm_em_order_values", _gmm_oracle())
def gmm_em_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component 1-D Gaussian mixture fit by {GMM_ROUNDS} EM rounds
    over order totals (k$) — SOFT clustering with per-component weight,
    mean, and sigma, the model-based sibling of ``kmeans_lloyd_2d``'s
    hard assignment, plus the average log-likelihood the fit maximizes.

    Cross-engine determinism follows the Lloyd recipe: every M-step
    parameter is rounded to 6 decimals before the next E-step, so both
    engines enter each round with IDENTICAL literal parameters and the
    1e-12-level float-sum divergence inside a round can never compound
    across rounds.  Scale shape: each round is ONE map-side-combinable
    aggregate over the fact frame (responsibilities are scalar
    expressions of literals — no shuffle beyond the aggregate); rounds
    are driver-orchestrated like IRLS/Lloyd with map-literal params."""
    x = load_table(spark, sf_dir, "orders").selectExpr(
        "CAST(floor(o_totalprice) AS BIGINT) / 1000.0 AS x"
    )
    x.persist()
    x.createOrReplaceTempView("gmm_x")
    if x.limit(1).count() == 0:
        # empty corpus: EM responsibilities are 0/0, the oracle's one
        # output row carries n = 0 and NULL parameters — mirror it
        # instead of float(None)-crashing (round-12 degenerate sweep)
        x.unpersist()
        return spark.createDataFrame(
            [(0,) + (None,) * 7],
            "n long, w1 double, mean1_kusd double, sigma1_kusd double, "
            "w2 double, mean2_kusd double, sigma2_kusd double, "
            "avg_loglik double",
        )
    params = GMM_INIT
    for _ in range(GMM_ROUNDS):
        p_sql = (
            f"(SELECT {params[0]} AS w1, {params[1]} AS m1,"
            f" {params[2]} AS s1, {params[3]} AS w2,"
            f" {params[4]} AS m2, {params[5]} AS s2)"
        )
        row = spark.sql(_gmm_round_sql("gmm_x", p_sql)).collect()[0]
        params = tuple(
            float(row[c]) for c in ("w1", "m1", "s1", "w2", "m2", "s2")
        )
    f1, f2 = _gmm_resp(*params)
    out = spark.sql(f"""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round({params[0]} - 1e-9, 4) AS w1,
           round({params[1]} - 1e-9, 4) AS mean1_kusd,
           round({params[2]} - 1e-9, 4) AS sigma1_kusd,
           round({params[3]} - 1e-9, 4) AS w2,
           round({params[4]} - 1e-9, 4) AS mean2_kusd,
           round({params[5]} - 1e-9, 4) AS sigma2_kusd,
           round(avg(ln(({f1} + {f2}) * 0.3989422804014327)) - 1e-9, 6)
             AS avg_loglik
    FROM gmm_x
    """).localCheckpoint()
    x.unpersist()
    return out


# --------------------------------------------------------------------------
# negative-binomial overdispersion fit of per-customer order counts
# --------------------------------------------------------------------------
_NEGBIN_SQL = """
WITH counts AS {MAT}(
  -- LEFT join from customer so zero-order customers count as 0
  SELECT c.c_custkey, CAST(coalesce(o.k, 0) AS BIGINT) AS k
  FROM {customer} c
  LEFT JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS k
             FROM {orders} GROUP BY o_custkey) o
    ON o.o_custkey = c.c_custkey
),
m AS {MAT}(
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(k) AS BIGINT) AS s1,
         CAST(sum(k * k) AS BIGINT) AS s2,
         CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS z
  FROM counts
),
mv AS {MAT}(
  SELECT n, z,
         CAST(s1 AS DOUBLE) / n AS mu,
         (s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS v
  FROM m
)
SELECT n AS n_customers,
       round(mu - 1e-9, 4) + 0.0 AS mean_orders,
       round(v - 1e-9, 4) + 0.0 AS var_orders,
       round(v / mu - 1e-9, 4) + 0.0 AS dispersion_index,
       CASE WHEN v > mu
            THEN round(mu * mu / (v - mu) - 1e-9, 4) + 0.0
            ELSE CAST(NULL AS DOUBLE) END AS nb_r,
       CASE WHEN v > mu
            THEN round(mu / v - 1e-9, 6) + 0.0
            ELSE CAST(NULL AS DOUBLE) END AS nb_p,
       round(CAST(z AS DOUBLE) / n - 1e-9, 6) + 0.0 AS zero_share,
       round(exp(-mu) - 1e-9, 6) + 0.0 AS poisson_zero_share,
       CASE WHEN round(CAST(z AS DOUBLE) / n - 1e-9, 6)
               > round(exp(-mu) - 1e-9, 6)
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
         AS zero_inflated_vs_poisson
FROM mv
"""


@query(
    "negbin_overdispersion_fit",
    _NEGBIN_SQL.replace("{customer}", "customer")
    .replace("{orders}", "orders")
    .replace("{MAT}", "MATERIALIZED "),
)
def negbin_overdispersion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit of per-customer order
    counts — the first question of any count model: is the data
    Poisson (variance ≈ mean) or overdispersed?  Reports the
    dispersion index σ²/μ, the implied NB parameters r = μ²/(σ²−μ)
    and p = μ/σ² when overdispersed, and the excess-zeros check
    (observed zero share vs the Poisson e^{−μ}) that motivates
    zero-inflated models.  Customers with no orders enter as exact
    zeros via the LEFT join from the customer dimension.

    Determinism: count moments are exact BIGINTs (Σk² tiny); μ, σ²
    and the MoM parameters are fixed IEEE trees; the single exp(−μ)
    lands on the rounded-6dp convention, and the zero-inflation flag
    compares the two ROUNDED shares.  tests/test_wave14.py feeds an
    exact planted NB mixture and a planted Poisson through the same
    SQL via :func:`negbin_frame` and pins recovery / the flag.

    Scale shape: one orders rollup, one dimension join, O(1) stats."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "nb_customer"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "nb_orders"
    )
    return spark.sql(
        _NEGBIN_SQL.replace("{customer}", "nb_customer")
        .replace("{orders}", "nb_orders")
        .replace("{MAT}", "")
    )


def negbin_frame(counts: DataFrame) -> DataFrame:
    """MoM fit over any single-column (k) count frame — factored out
    for planted-distribution tests; see
    :func:`negbin_overdispersion_fit`."""
    counts.createOrReplaceTempView("nb_counts_frame")
    sql = _NEGBIN_SQL.replace("{MAT}", "")
    head = sql.index("m AS ")
    return counts.sparkSession.sql(
        "WITH counts AS (SELECT CAST(k AS BIGINT) AS k"
        " FROM nb_counts_frame),\n" + sql[head:]
    )


# --------------------------------------------------------------------------
# Process-mining conformance check (trace-to-model edit distance)
# --------------------------------------------------------------------------
_CONF_SQL = """
WITH ev AS {MAT}(
  SELECT user_id, CAST(ts AS DATE) AS d, ts, event_id,
         substr(event_type, 1, 1) AS i
  FROM {events}
),
rk AS {MAT}(
  SELECT user_id, d, i,
         row_number() OVER (
           PARTITION BY user_id, d ORDER BY ts, event_id) AS rn
  FROM ev
),
tr AS {MAT}(
  SELECT user_id, d, {AGG} AS trace
  FROM rk WHERE rn <= 12
  GROUP BY user_id, d
),
sc AS {MAT}(
  SELECT CAST(levenshtein(trace, 'vcp') AS BIGINT) AS dist,
         CAST(length(trace) AS BIGINT) AS tlen
  FROM tr
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc)
SELECT dist AS lev_dist,
       CAST(count(*) AS BIGINT) AS n_cases,
       CAST(min(tlen) AS BIGINT) AS min_trace_len,
       CAST(max(tlen) AS BIGINT) AS max_trace_len,
       round(count(*) * 1.0 / (SELECT n FROM tot) - 1e-9, 4) + 0.0
         AS share
FROM sc GROUP BY dist ORDER BY lev_dist
"""


@query(
    "conformance_check_daily",
    _CONF_SQL.replace("{events}", "events")
    .replace("{MAT}", "MATERIALIZED ")
    .replace("{AGG}", "string_agg(i, '' ORDER BY rn)"),
)
def conformance_check_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-mining conformance check: each (user, day) case's
    observed event trace (type initials in event order, capped at 12
    activities) is scored by Levenshtein edit distance against the
    canonical view→click→purchase model 'vcp' — the alignment-based
    fitness measure process-mining tools report (distance 0 = the case
    replays the model exactly; each unit = one insert/delete/
    substitute deviation).  Output: the conformance-distance
    distribution with trace-length bounds.

    Determinism: traces are built by ordered string aggregation over a
    precomputed integer rank (LISTAGG WITHIN GROUP ≡ DuckDB string_agg
    ORDER BY — the established pairing), edit distances are exact
    integers in both engines, shares are exact count ratios rounded.

    Scale shape: one keyed sort per case (the sessionization cost), a
    12-cap that bounds both the string length and the O(len²) edit
    distance, then an O(distinct distances) rollup."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "conf_events"
    )
    return spark.sql(
        _CONF_SQL.replace("{events}", "conf_events")
        .replace("{MAT}", "")
        .replace("{AGG}", "listagg(i, '') WITHIN GROUP (ORDER BY rn)")
    )


# --------------------------------------------------------------------------
# Weight-of-Evidence / Information Value binning (credit-scoring screen)
# --------------------------------------------------------------------------
_WOE_SQL = """
WITH lab AS {MAT}(
  SELECT o.o_orderkey, o.o_totalprice,
         CASE WHEN max({DD}) > 100 THEN 1 ELSE 0 END AS bad
  FROM {orders} o JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
b AS {MAT}(
  SELECT ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile,
         bad
  FROM lab
),
cnt AS {MAT}(
  SELECT decile,
         CAST(sum(1 - bad) AS BIGINT) AS n_good,
         CAST(sum(bad) AS BIGINT) AS n_bad
  FROM b GROUP BY decile
),
tot AS (
  SELECT CAST(sum(n_good) AS BIGINT) AS tg,
         CAST(sum(n_bad) AS BIGINT) AS tb
  FROM cnt
),
woe AS {MAT}(
  SELECT decile, n_good, n_bad,
         ln((CAST(n_good AS DOUBLE) / tot.tg)
            / (CAST(n_bad AS DOUBLE) / tot.tb)) AS w,
         (CAST(n_good AS DOUBLE) / tot.tg
          - CAST(n_bad AS DOUBLE) / tot.tb)
           * ln((CAST(n_good AS DOUBLE) / tot.tg)
                / (CAST(n_bad AS DOUBLE) / tot.tb)) * 100000000.0 AS t8
  FROM cnt CROSS JOIN tot
),
q AS {MAT}(
  SELECT decile, n_good, n_bad, w,
         CAST(floor(t8 + 0.5) AS BIGINT) AS term8
  FROM woe
)
SELECT CAST(decile AS BIGINT) AS decile, n_good, n_bad,
       round(w - 1e-9, 4) + 0.0 AS woe,
       round(CAST(sum(term8) OVER () AS DOUBLE) / 100000000.0 - 1e-9, 6)
         + 0.0 AS iv_total
FROM q ORDER BY decile
"""


@query(
    "woe_iv_value_deciles",
    _WOE_SQL.replace("{orders}", "orders")
    .replace("{lineitem}", "lineitem")
    .replace("{MAT}", "MATERIALIZED ")
    .replace(
        "{DD}",
        "date_diff('day', CAST(o.o_orderdate AS DATE),"
        " CAST(l.l_shipdate AS DATE))",
    ),
)
def woe_iv_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information Value screen — the
    credit-scoring feature diagnostic: order-value deciles vs the
    late-shipment outcome (any line shipped > 100 days after order);
    per decile WoE = ln(%good/%bad) and the total IV = Σ(%good −
    %bad)·WoE, the standard is-this-feature-worth-binning number
    (IV < 0.02 useless, > 0.3 strong).  Completes the supervised
    screening trio with ``mutual_info_screen`` and
    ``decision_stump_gini``.

    Determinism: deciles are exact positional ntiles under a
    (value, orderkey) tiebreak; good/bad counts are exact ints;
    per-bin WoE is a fixed expression over them, and IV sums
    1e-8-quantized integer terms (no variable-row float accumulation).

    Scale shape: one join + per-order rollup, one global sort for the
    ntile (the exact-quantile cost), then a 10-row frame."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("woe_o")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("woe_l")
    return spark.sql(
        _WOE_SQL.replace("{orders}", "woe_o")
        .replace("{lineitem}", "woe_l")
        .replace("{MAT}", "")
        .replace(
            "{DD}",
            "datediff(CAST(l.l_shipdate AS DATE),"
            " CAST(o.o_orderdate AS DATE))",
        )
    )


# --------------------------------------------------------------------------
# WordPiece merge training: likelihood-scored pairs (the BERT objective)
# --------------------------------------------------------------------------
def _wp_oracle_ctes(n_merges: int = 8, vocab_cap: int = 65_536) -> str:
    """The WordPiece twin of ``_bpe_oracle_ctes``: identical ``|sym|``
    encoding and replace-based merge, but each round ALSO counts
    per-symbol totals and picks the pair by the likelihood score
    ``CAST(c_ab AS DOUBLE) / (c_a * c_b)`` — one double division of
    exact int64s (products < 2^53), so the ORDER BY compares the
    bit-identical double in both engines."""
    parts = [
        f"""toks AS (
      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
      FROM documents
    ),
    wc AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt
      FROM toks WHERE word <> '' GROUP BY word
      ORDER BY cnt DESC, word LIMIT {vocab_cap}
    ),
    wt0 AS MATERIALIZED (
      SELECT word, cnt,
             regexp_replace(word, '(.)', '|\\1|', 'g') || '|</w>|' AS enc
      FROM wc
    )"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"""l{r} AS MATERIALIZED (
      SELECT cnt, string_split(substr(enc, 2, length(enc) - 2), '||') AS l
      FROM wt{r - 1}
    ),
    p{r} AS (
      SELECT s.l[g.i] AS a, s.l[g.i + 1] AS b,
             CAST(sum(s.cnt) AS BIGINT) AS c
      FROM l{r} s,
           LATERAL (SELECT unnest(generate_series(1, len(s.l) - 1)) AS i) g(i)
      GROUP BY 1, 2
    ),
    sc{r} AS MATERIALIZED (
      SELECT sym, CAST(sum(cnt) AS BIGINT) AS sc FROM (
        SELECT s.cnt, unnest(s.l) AS sym FROM l{r} s
      ) GROUP BY sym
    ),
    m{r} AS MATERIALIZED (
      SELECT p.a, p.b, p.c,
             CAST(p.c AS DOUBLE) / (sa.sc * sb.sc) AS score
      FROM p{r} p
      JOIN sc{r} sa ON sa.sym = p.a
      JOIN sc{r} sb ON sb.sym = p.b
      ORDER BY CAST(p.c AS DOUBLE) / (sa.sc * sb.sc) DESC, p.a, p.b
      LIMIT 1
    ),
    wt{r} AS MATERIALIZED (
      SELECT w.word, w.cnt,
             replace(w.enc, '|' || m.a || '||' || m.b || '|',
                     '|' || m.a || m.b || '|') AS enc
      FROM wt{r - 1} w, m{r} m
    )"""
        )
    return ",\n    ".join(parts)


_WP_MERGES_SQL = (
    "WITH "
    + _wp_oracle_ctes()
    + ",\n    out AS (\n    "
    + "\n    UNION ALL ".join(
        f'SELECT CAST({r} AS INTEGER) AS merge_rank, a AS "left",'
        f" b AS \"right\", c AS pair_count,"
        f" round(score * 1000000.0 - 1e-9, 6) + 0.0 AS score_ppm"
        f" FROM m{r}"
        for r in range(1, 9)
    )
    + ")\n    SELECT * FROM out"
)


@query("wordpiece_merges_top", _WP_MERGES_SQL)
def wordpiece_merges_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 WordPiece merges over the document corpus — the
    likelihood-scored vocabulary learner (Schuster & Nakajima; the
    BERT tokenizer objective) next to the frequency-scored
    ``bpe_merges_top``: score = count(ab)/(count(a)·count(b)) rewards
    pairs that co-occur MORE than their parts predict, so rare-but-
    bound morphemes win over ubiquitous letter pairs (the planted
    divergence test pins a case where the two trainers pick different
    pairs from the same corpus).  Scores emitted in parts-per-million.

    Same scale split as BPE: word counting is the distributed half,
    the merge loop runs on the ≤ vocab_cap word list; the DuckDB
    oracle replays all 8 rounds as unrolled CTEs with the pair AND
    symbol tallies exact int64 and the score a single double
    division — bit-identical argmax in both engines."""
    from ..functions.bpe import train_wordpiece_merges_driver

    tok = load_table(spark, sf_dir, "documents").select(
        F.explode(text.tokens("text")).alias("t")
    )
    merges = train_wordpiece_merges_driver(tok, n_merges=8)
    rows = [
        (r + 1, a, b, c, round(s * 1_000_000.0 - 1e-9, 6) + 0.0)
        for r, (a, b, c, s) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows,
        "merge_rank int, left string, right string, pair_count long,"
        " score_ppm double",
    )


# --------------------------------------------------------------------------
# PrefixSpan level 3: unbounded-gap ordered-triple support
# --------------------------------------------------------------------------
SEQ3_TYPES = ["click", "error", "purchase", "signup", "view"]
SEQ3_TOPK = 15
# initial letters are distinct, so each user's history compresses to a
# character string and subsequence containment is ONE regex match
_SEQ3_CHAR = {t: t[0] for t in SEQ3_TYPES}


def _seq3_patterns() -> list[tuple[str, str]]:
    """All 125 ordered triples as (label, containment regex)."""
    out = []
    for a in SEQ3_TYPES:
        for b in SEQ3_TYPES:
            for c in SEQ3_TYPES:
                out.append(
                    (
                        f"{a}>{b}>{c}",
                        f"{_SEQ3_CHAR[a]}.*{_SEQ3_CHAR[b]}.*{_SEQ3_CHAR[c]}",
                    )
                )
    return out


def _seq3_oracle() -> str:
    pats = ", ".join(f"('{lb}', '{rx}')" for lb, rx in _seq3_patterns())
    chars = " ".join(
        f"WHEN '{t}' THEN '{ch}'" for t, ch in _SEQ3_CHAR.items()
    )
    return f"""
    WITH seqs AS MATERIALIZED (
      SELECT user_id,
             string_agg(CASE event_type {chars} END, ''
                        ORDER BY ts, event_id) AS seq
      FROM events
      WHERE event_type IN ({", ".join(f"'{t}'" for t in SEQ3_TYPES)})
      GROUP BY user_id
    ),
    pats(pattern, rx) AS (VALUES {pats}),
    sup AS (
      SELECT p.pattern,
             CAST(sum(CASE WHEN regexp_matches(s.seq, p.rx)
                           THEN 1 ELSE 0 END) AS BIGINT) AS support
      FROM seqs s CROSS JOIN pats p
      GROUP BY p.pattern
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM seqs)
    SELECT pattern, support,
           round(support * 1.0 / n_users - 1e-9, 4) + 0.0 AS user_share,
           CAST(rk AS INT) AS rk
    FROM (
      SELECT pattern, support,
             row_number() OVER (ORDER BY support DESC, pattern) AS rk
      FROM sup
    ) CROSS JOIN n
    WHERE rk <= {SEQ3_TOPK}
    """


@query("seq3_pattern_support", _seq3_oracle())
def seq3_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PrefixSpan level 3 with UNBOUNDED gaps: distinct-user support of
    every ordered event-type triple a → … → b → … → c, top-{SEQ3_TOPK}
    — one level past ``sequential_pattern_pairs`` (bounded-gap pairs)
    and the funnel-hypothesis mill for 3-step journeys.  Each user's
    history compresses to a CHARACTER string (event-type initials are
    distinct), so subsequence containment is a single ``a.*b.*c``
    regex — no per-user self-joins, no exploding triple enumeration.

    Scale shape: one user-keyed ordered aggregation builds the
    sequence strings (the same shuffle any per-user feature needs);
    the 125-pattern table broadcasts; support is a tiny-key rollup.
    At 100 TB the regex evaluates once per (user, pattern) on strings
    bounded by history length — linear, and the pattern set is
    constant.  Exact-integer supports; (support DESC, pattern) ranking
    — every column hash-checked."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(SEQ3_TYPES)
    )
    char_col = F.col("event_type").substr(1, 1)
    seqs = (
        ev.select("user_id", "ts", "event_id", char_col.alias("ch"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "ch"))
                    ),
                    lambda s: s["ch"],
                ),
                "",
            ).alias("seq")
        )
        # consumed by both the support rollup and the n_users count —
        # pin the (n_users)-row frame so events scans once
        .localCheckpoint()
    )
    pats = spark.createDataFrame(
        _seq3_patterns(), "pattern string, rx string"
    )
    sup = (
        seqs.crossJoin(F.broadcast(pats))
        .groupBy("pattern")
        .agg(
            F.sum(
                F.when(F.expr("seq RLIKE rx"), 1).otherwise(0)
            )
            .cast("long")
            .alias("support")
        )
    )
    n = seqs.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    w = Window.orderBy(F.desc("support"), F.asc("pattern"))
    return (
        sup.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SEQ3_TOPK)
        .crossJoin(F.broadcast(n))
        .select(
            "pattern",
            "support",
            (
                F.round(
                    F.col("support") * 1.0 / F.col("n_users") - 1e-9, 4
                )
                + 0.0
            ).alias("user_share"),
            F.col("rk").cast("int").alias("rk"),
        )
    )
