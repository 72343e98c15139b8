"""Corpus-analytics and pipeline-maintenance queries (north-star
extensions, SURVEY §7.2 step 9, second wave): near-dup *clustering*
(connected components over the pair stage), TF-IDF / vocabulary
statistics, repetition-based quality signals, keep-latest dedup and
SCD-2 interval builds over the events stream, and the statistical /
date scalar-function batteries.

Everything here is shuffle-frugal by construction: token explodes feed
map-side-combined hash aggregates; per-document signals are pure
projections; the only iterative operator (connected components)
shuffles |E| label messages per round, never pairwise reachability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import dedup, similarity, text
from ..operators.graph import connected_components
from ..session import conf_override
from ..sources import load_table
from .registry import query


# --------------------------------------------------------------------------
# near-dup clustering: pairs → transitive closure → canonical survivor
# --------------------------------------------------------------------------
def _chain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 20th doc + two perturbed copies (drop 1 / drop 2 leading
    tokens, ids +1M / +2M) — pairwise-similar chains whose transitive
    closure is a 3-doc cluster."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id", F.lower(F.trim("text")).alias("text"))
    )
    toks = F.split(F.col("text"), r"\s+")
    drop1 = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))), " "
        ).alias("text"),
    )
    drop2 = docs.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(
            F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(0))), " "
        ).alias("text"),
    )
    return docs.unionByName(drop1).unionByName(drop2)


_CHAIN_CORPUS_SQL = """
  base AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tokens
    FROM documents WHERE doc_id % 20 = 0
  ),
  corpus AS (
    SELECT doc_id, array_to_string(tokens, ' ') AS text FROM base
    UNION ALL
    SELECT doc_id + 1000000, array_to_string(tokens[2:], ' ') FROM base
    UNION ALL
    SELECT doc_id + 2000000, array_to_string(tokens[3:], ' ') FROM base
  ),
  shingles AS (
    SELECT DISTINCT doc_id,
      unnest(list_transform(
        generate_series(1, greatest(len(tokens) - 2, 0)),
        i -> array_to_string(tokens[i:i+2], ' '))) AS shingle
    FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tokens
          FROM corpus)
  ),
  common AS (
    SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, count(*) AS n_common
    FROM shingles sa
    JOIN shingles sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
    GROUP BY 1, 2
  ),
  sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
  pairs AS (
    SELECT c.id_a, c.id_b
    FROM common c
    JOIN sizes a ON c.id_a = a.doc_id
    JOIN sizes b ON c.id_b = b.doc_id
    WHERE round(c.n_common / (a.n_sh + b.n_sh - c.n_common), 4) >= 0.5
  ),
  edges AS (
    SELECT id_a AS s, id_b AS t FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
  ),
  reach AS (
    SELECT doc_id AS id, doc_id AS r FROM corpus
    UNION
    SELECT re.id, e.t FROM reach re JOIN edges e ON re.r = e.s
  )
"""


@query(
    "near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_CHAIN_CORPUS_SQL.strip()}
    SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS keep
    FROM reach
    GROUP BY id
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: the pair stage (exact 3-gram Jaccard ≥ 0.5)
    only says A~B and B~C; deciding which docs to keep needs the
    transitive closure.  Connected components via iterative min-label
    propagation (operators/graph.py) collapses each chain to one
    cluster; the canonical survivor is the min doc_id (keep=true).

    The planted corpus is 3-doc chains (doc, drop-1-token, drop-2), so
    the closure genuinely exercises multi-hop propagation — A~C is
    implied, not emitted.  The DuckDB oracle computes the same closure
    with a recursive CTE; Spark runs the dataflow union-find, shuffling
    one label message per edge per round (SURVEY §2 extension)."""
    corpus = _chain_corpus(spark, sf_dir)
    sh = dedup.doc_shingles(corpus, "text", "doc_id")
    pairs = dedup.jaccard_pairs(sh, "doc_id", 0.5)
    comps = connected_components(
        pairs, "id_a", "id_b", vertices=corpus.select("doc_id"), vertex_col="doc_id"
    )
    return comps.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("id") == F.col("comp")).alias("keep"),
    )


def _embedding_dedup_oracle() -> str:
    from ..functions import similarity as _sim
    from .queries_text import _lsh_bucket_cte

    planes = _sim.lsh_planes_values_sql(64, 12, 16)
    return f"""
    WITH RECURSIVE corpus AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, emb[1:63] || [emb[64] * 2.0]
      FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
      WHERE vec_id % 10 = 0
      UNION ALL
      SELECT vec_id + 2000000, emb[1:63] || [emb[64] * 4.0]
      FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
      WHERE vec_id % 10 = 0
    ),
    {_lsh_bucket_cte(planes, "corpus").strip()},
    pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM sb a JOIN sb b
          ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      ) c
      JOIN corpus va ON va.vec_id = c.id_a
      JOIN corpus vb ON vb.vec_id = c.id_b
      WHERE round(list_cosine_similarity(va.emb, vb.emb), 4) >= 0.9
    ),
    edges AS (
      SELECT id_a AS s, id_b AS t FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT vec_id AS id, vec_id AS r FROM corpus
      UNION
      SELECT re.id, e.t FROM reach re JOIN edges e ON re.r = e.s
    )
    SELECT id AS vec_id, min(r) AS cluster_id, (id = min(r)) AS keep
    FROM reach
    GROUP BY id
    """


@query("embedding_dedup_clusters", oracle=_embedding_dedup_oracle())
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end embedding dedup: LSH sign-bucket candidate pairs
    (cosine ≥ 0.9) → connected components → one surviving vector per
    cluster (keep = min vec_id).  The same pairs→closure→survivor
    composition as near_dup_clusters but over the vector modality —
    the two operators share operators/graph.py by construction.
    Planted truth: every 10th vector re-appears at +1M and +2M with a
    progressively doubled tail element, so clusters are 3-vector chains;
    recall is asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 10 == 0)

    def _perturb(src: DataFrame, offset: int, factor: float) -> DataFrame:
        return src.select(
            (F.col("vec_id") + offset).alias("vec_id"),
            F.concat(
                F.slice("embedding", 1, 63),
                F.array(F.element_at("embedding", 64) * factor),
            ).cast("array<float>").alias("embedding"),
        )

    corpus = (
        emb.unionByName(_perturb(base, 1_000_000, 2.0))
        .unionByName(_perturb(base, 2_000_000, 4.0))
    )
    pairs = similarity.near_dup_pairs_lsh(corpus, 0.9, dim=64)
    comps = connected_components(
        pairs, "id_a", "id_b", vertices=corpus.select("vec_id"), vertex_col="vec_id"
    )
    return comps.select(
        F.col("id").alias("vec_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("id") == F.col("comp")).alias("keep"),
    )


# --------------------------------------------------------------------------
# TF-IDF and vocabulary statistics
# --------------------------------------------------------------------------
@query(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df_docs,
             tf.tf * ln(n.n_docs * 1.0 / df.df_docs) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df_docs, round(score, 4) AS tfidf,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the classic corpus-analytics
    pipeline: explode tokens → (doc, term) counts → doc-frequency join →
    score → per-doc rank.  Both aggregates are map-side combined; the
    doc-frequency side is tiny after aggregation so AQE broadcasts it
    into the score join; the corpus total arrives via a 1-row cross
    join (no driver collect).  Ties broken by term for determinism.
    The (doc, term, tf) index feeds BOTH the doc-frequency aggregate
    and the score join, so it persists eagerly (the bm25_scores
    pattern) — one tokenize+explode instead of two."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(text.tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")).persist()
    tf.count()
    df_docs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_docs, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * F.log(F.col("n_docs") / F.col("df_docs")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id", "term", "tf", "df_docs",
            F.round("score", 4).alias("tfidf"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@query(
    "vocab_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
      FROM documents
    )
    SELECT term, count(*) AS freq, count(DISTINCT doc_id) AS df_docs
    FROM toks
    GROUP BY term
    ORDER BY freq DESC, term
    LIMIT 100
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 terms by frequency with document
    frequency — the Zipf-head pass every tokenizer build starts from.
    One exploded aggregate (map-side partials shrink the shuffle to the
    per-partition vocabulary) + a global top-K, which Spark executes as
    per-partition TakeOrdered — no full sort of the vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(text.tokens("text")).alias("term"))
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.countDistinct("doc_id").alias("df_docs"),
        )
        .orderBy(F.col("freq").desc(), "term")
        .limit(100)
    )


# --------------------------------------------------------------------------
# repetition / length quality signals
# --------------------------------------------------------------------------
@query(
    "repetition_ratio",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS tokens
      FROM documents
    ), g AS (
      SELECT doc_id, tokens,
             list_transform(
               generate_series(1, greatest(len(tokens) - 1, 0)),
               i -> array_to_string(tokens[i:i+1], ' ')) AS grams2
      FROM t
    )
    SELECT doc_id,
      len(tokens) AS n_tokens,
      len(list_distinct(tokens)) AS n_distinct,
      round(1.0 - len(list_distinct(tokens)) * 1.0
            / greatest(len(tokens), 1), 4) AS dup_token_ratio,
      CASE WHEN len(grams2) > 0
           THEN round(1.0 - len(list_distinct(grams2)) * 1.0 / len(grams2), 4)
           ELSE 0.0 END AS dup_2gram_ratio
    FROM g
    """,
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher-rule family):
    duplicate-token fraction and duplicate-2-gram fraction per document.
    High values flag boilerplate / degenerate text for corpus filtering.
    Pure per-row array expressions — zero shuffle, scan speed."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", text.tokens("text").alias("_toks"))
    g = t.withColumn("_g2", text.word_shingles(F.col("_toks"), 2))
    n_tok = F.size("_toks")
    n_dis = F.size(F.array_distinct("_toks"))
    n_g2 = F.size("_g2")
    return g.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        n_dis.cast("long").alias("n_distinct"),
        F.round(
            1.0 - n_dis / F.greatest(n_tok, F.lit(1)), 4
        ).alias("dup_token_ratio"),
        F.when(
            n_g2 > 0,
            F.round(1.0 - F.size(F.array_distinct("_g2")) / n_g2, 4),
        ).otherwise(0.0).alias("dup_2gram_ratio"),
    )


@query(
    "doc_length_deciles",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tokens
      FROM documents
    ), d AS (
      SELECT n_tokens,
             ntile(10) OVER (ORDER BY n_tokens, doc_id) AS decile
      FROM t
    )
    SELECT CAST(decile AS INT) AS decile, count(*) AS n_docs,
           min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
           round(avg(n_tokens), 4) AS avg_tokens
    FROM d
    GROUP BY decile
    """,
)
def doc_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution by decile (ntile over a
    deterministic total order) — the corpus-profiling pass behind
    truncation/packing budget decisions.  NB: ntile needs a global sort;
    at 100 TB the same histogram comes from approx percentile bounds +
    a bucket join — this exact form is the small/medium-corpus tool."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", text.token_count("text").cast("long").alias("n_tokens")
    )
    d = t.withColumn(
        "decile", F.ntile(10).over(Window.orderBy("n_tokens", "doc_id"))
    )
    return d.groupBy(F.col("decile").cast("int").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )


# --------------------------------------------------------------------------
# events-stream maintenance: keep-latest dedup, SCD-2 intervals
# --------------------------------------------------------------------------
@query(
    "dedup_keep_latest",
    oracle="""
    SELECT user_id, event_type, event_id,
           epoch_ms(ts) AS ts_ms, value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type
        ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest dedup (compaction): one surviving row per
    (user_id, event_type), latest by event time with id tie-break —
    the CDC/upsert-compaction primitive (Flink's rolling `maxBy` by
    time, reference `정리/3주차.md:64`, materialized as a table).
    Single hash-partitioned window; Spark plans it as
    WindowGroupLimit → only the per-key top row survives the sort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_type", "event_id",
            F.unix_millis("ts").alias("ts_ms"), "value",
        )
    )


@query(
    "scd2_intervals",
    oracle="""
    SELECT user_id, event_id,
           CAST(row_number() OVER w AS INT) AS version,
           epoch_ms(ts) AS valid_from_ms,
           epoch_ms(lead(ts) OVER w) AS valid_to_ms,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 interval build: each event becomes a version row with
    [valid_from, valid_to) bounds from lead() over event time — the
    standard history-table materialization of a change stream (the
    batch twin of per-key ValueState, reference `정리/5주차.md:24-54`).
    One shuffle on user_id; both window functions share one sort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("int").alias("version"),
        F.unix_millis("ts").alias("valid_from_ms"),
        F.unix_millis(F.lead("ts").over(w)).alias("valid_to_ms"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@query(
    "event_sessions_batch",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('millisecond', lag(ts) OVER w, ts) > 43200000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
        sum(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id, CAST(session_seq AS INT) AS session_seq,
           count(*) AS n_events,
           epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms,
           epoch_ms(max(ts)) - epoch_ms(min(ts)) AS duration_ms
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def event_sessions_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in batch (12 h inactivity gap): the
    lag-flag + running-sum formulation — the batch twin of the
    session_window operator (SURVEY W4) that also yields session
    SEQUENCE NUMBERS per user (session_window gives only bounds).
    One shuffle on user_id; the lag, the cumulative sum and the final
    per-session aggregate all reuse that single sort order."""
    gap_ms = 12 * 3600 * 1000
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))
                > gap_ms
            ),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy(
        "user_id", F.col("session_seq").cast("int").alias("session_seq")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_millis(F.min("ts")).alias("start_ms"),
        F.unix_millis(F.max("ts")).alias("end_ms"),
        (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts"))).alias(
            "duration_ms"
        ),
    )


@query(
    "value_zscore_outliers",
    oracle="""
    WITH stats AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.mu) / s.sd, 4) AS zscore
    FROM events e JOIN stats s USING (event_type)
    WHERE s.sd > 0 AND abs((e.value - s.mu) / s.sd) > 2.5
    """,
)
def value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical outlier detection: per-event-type z-scores, flag
    |z| > 2.5 — the data-quality gate shape (anomalous numeric columns).
    Aggregate-then-broadcast-join-back rather than a window over the
    whole partition: the per-type stats frame is |types| rows, so the
    detail side never shuffles at any scale."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter((F.col("sd") > 0) & (F.abs(z) > 2.5))
        .select(
            "event_id", "event_type", "value", F.round(z, 4).alias("zscore")
        )
    )


# --------------------------------------------------------------------------
# scalar-function batteries: statistics, dates
# --------------------------------------------------------------------------
@query(
    "stats_moments",
    oracle="""
    WITH g AS (
      SELECT l_returnflag,
        count(*) AS n_rows,
        avg(l_quantity) AS mu,
        avg(l_quantity * l_quantity) AS m2r,
        avg(l_quantity * l_quantity * l_quantity) AS m3r,
        stddev_samp(l_quantity) AS sd,
        var_pop(l_quantity) AS vp,
        corr(l_quantity, l_extendedprice) AS cr,
        covar_samp(l_quantity, l_extendedprice) AS cv
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, n_rows,
      round(mu, 4) AS avg_qty,
      round(sd, 4) AS stddev_qty,
      round(vp, 4) AS var_pop_qty,
      round(cr, 4) AS corr_qty_price,
      round(cv, 4) AS covar_qty_price,
      round((m3r - 3 * mu * m2r + 2 * mu * mu * mu)
            / pow(m2r - mu * mu, 1.5), 4) + 0.0 AS skew_qty
    FROM g
    """,
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-aggregate battery: stddev/variance/correlation/
    covariance plus skewness derived from raw power moments.  Skewness
    is computed from avg(x), avg(x²), avg(x³) with the population
    formula on BOTH sides — Spark's built-in `skewness` and DuckDB's
    use different bias corrections, so the moment form is the
    engine-portable contract.  One map-side-combined hash aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.avg(q).alias("mu"),
        F.avg(q * q).alias("m2r"),
        F.avg(q * q * q).alias("m3r"),
        F.stddev_samp(q).alias("sd"),
        F.var_pop(q).alias("vp"),
        F.corr(q, F.col("l_extendedprice")).alias("cr"),
        F.covar_samp(q, F.col("l_extendedprice")).alias("cv"),
    )
    mu, m2r, m3r = F.col("mu"), F.col("m2r"), F.col("m3r")
    return g.select(
        "l_returnflag",
        "n_rows",
        F.round(mu, 4).alias("avg_qty"),
        F.round("sd", 4).alias("stddev_qty"),
        F.round("vp", 4).alias("var_pop_qty"),
        F.round("cr", 4).alias("corr_qty_price"),
        F.round("cv", 4).alias("covar_qty_price"),
        (
            F.round(
                (m3r - 3 * mu * m2r + 2 * mu * mu * mu)
                / F.pow(m2r - mu * mu, F.lit(1.5)),
                4,
            )
            + 0.0  # -0.0 → +0.0 (driver hashes raw bits; see registry header)
        ).alias("skew_qty"),
    )


@query(
    "date_functions_battery",
    oracle="""
    SELECT o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      CAST(extract(year FROM o_orderdate) AS INT) AS yr,
      CAST(extract(quarter FROM o_orderdate) AS INT) AS qtr,
      CAST(extract(month FROM o_orderdate) AS INT) AS mon,
      CAST(extract(day FROM o_orderdate) AS INT) AS dom,
      CAST(date_diff('day', DATE '2024-01-01',
                     CAST(o_orderdate AS DATE)) AS INT) AS days_since,
      epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms,
      strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end
    FROM orders
    WHERE o_orderkey % 7 = 0
    """,
)
def date_functions_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar-function battery (SURVEY §2.9 families beyond
    the reference's thin surface): extraction, formatting, day
    arithmetic, month truncation and month-end — each checked
    value-for-value against DuckDB under the UTC session contract.
    Pure projection with the modulo filter pushed to the parquet scan."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("order_date"),
        F.year(d).cast("int").alias("yr"),
        F.quarter(d).cast("int").alias("qtr"),
        F.month(d).cast("int").alias("mon"),
        F.dayofmonth(d).cast("int").alias("dom"),
        F.datediff(F.to_date(d), F.lit("2024-01-01").cast("date"))
        .cast("int")
        .alias("days_since"),
        F.unix_millis(F.date_trunc("month", d)).alias("month_start_ms"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
    )


# --------------------------------------------------------------------------
# Zipf rank-frequency fit + normalized-text dedup (round 2 wave)
# --------------------------------------------------------------------------
@query(
    "zipf_slope",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term,
             lang
      FROM documents
    ), freqs AS (
      SELECT lang, term, count(*) AS freq FROM toks GROUP BY lang, term
    ), ranked AS (
      SELECT lang, freq,
             row_number() OVER (PARTITION BY lang
                                ORDER BY freq DESC, term) AS rnk
      FROM freqs
    )
    SELECT lang,
           round(regr_slope(ln(freq), ln(rnk)), 4) AS zipf_slope,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM ranked WHERE rnk <= 200
    GROUP BY lang
    """,
)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: OLS slope of log(freq) on log(rank)
    over the top-200 vocabulary — the standard corpus-health check (a
    natural-language corpus sits near −1; boilerplate/spam skews flat).
    One exploded aggregate (map-side combined), a per-lang top-200 via
    window rank (5 langs × 200 rows leave the shuffle), then Spark's
    built-in ``regr_slope`` — all JVM-side, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    freqs = (
        docs.select("lang", F.explode(text.tokens("text")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), "term")
    ranked = freqs.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 200
    )
    return ranked.groupBy("lang").agg(
        F.round(F.regr_slope(F.log("freq"), F.log("rnk")), 4).alias(
            "zipf_slope"
        ),
        F.count(F.lit(1)).alias("n_terms"),
    )


@query(
    "dedup_normalized_text",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash
      FROM documents
    )
    SELECT norm_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS keep_doc_id
    FROM norm GROUP BY norm_hash
    """,
)
def dedup_normalized_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-hash dedup — the exact-dedup upgrade every
    web-corpus pipeline runs first (case folding, punctuation strip,
    whitespace collapse catch trivial reformattings MinHash shouldn't
    have to spend candidate budget on).  Deterministic keeper =
    min(doc_id).  The shuffle carries 16-byte digests, not documents;
    at 100 TB the map side reduces each partition to (hash → min_id,
    count) partials before the exchange."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return (
        docs.select("doc_id", F.md5(norm).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


# --------------------------------------------------------------------------
# unigram-LM cross-entropy quality filter (the KenLM-style screen)
# --------------------------------------------------------------------------
@query(
    "unigram_xent_filter",
    """
    WITH toks AS MATERIALIZED (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      FROM documents
    ),
    v AS MATERIALIZED (SELECT t, count(*) AS c FROM toks GROUP BY t),
    lp AS (
      SELECT t, log2(c / (SELECT sum(c) FROM v)) AS logp FROM v
    )
    SELECT toks.doc_id,
           count(*) AS n_tokens,
           round(avg(-lp.logp), 4) AS xent_bits,
           round(avg(-lp.logp), 4) <= 5.0 AS keep
    FROM toks JOIN lp ON toks.t = lp.t
    GROUP BY toks.doc_id
    """,
)
def unigram_xent_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram cross-entropy against the corpus's own
    unigram LM — the perplexity-style quality screen every pretraining
    pipeline runs (KenLM in production; the unigram tier is the
    oracle-replicable core).  A document of common tokens scores low;
    rare-token soup scores high; ``keep`` applies the threshold to the
    ROUNDED score so both engines make the same boundary call.

    Scale shape: ONE token explode feeds two aggregates — the
    vocabulary count (map-side combined, vocab-sized result) and the
    per-document score.  Per-token log-probs are attached by
    BROADCASTING the vocabulary with its log-prob precomputed
    vocab-side (corpus-sized stream never shuffles for the join; the
    per-doc groupBy is the only full shuffle).  No smoothing term is
    needed: every scored token is by construction in the corpus it was
    counted from."""
    docs = load_table(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id", F.explode(text.tokens("text")).alias("t")
    )
    vocab = ex.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    # the corpus total rides an empty-frame window over the (tiny,
    # vocab-sized) count table — one aggregate subtree instead of a
    # second vocab derivation (and so one fewer corpus scan)
    lp = vocab.select(
        "t",
        F.log2(F.col("c") / F.sum("c").over(Window.partitionBy())).alias(
            "logp"
        ),
    )
    xent = F.round(F.avg(-F.col("logp")), 4)
    return (
        ex.join(F.broadcast(lp), "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            xent.alias("xent_bits"),
            (xent <= 5.0).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# label-centroid margin: embedding label-noise screen
# --------------------------------------------------------------------------
@query(
    "label_centroid_margin",
    """
    WITH dims AS MATERIALIZED (
      SELECT label, i, avg(embedding[i]) AS m
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
      GROUP BY label, i
    ),
    cents AS MATERIALIZED (
      SELECT label, list(m ORDER BY i) AS cent FROM dims GROUP BY label
    ),
    cos AS MATERIALIZED (
      SELECT e.vec_id, e.label AS own_label, c.label AS c_label,
             list_cosine_similarity(e.embedding, c.cent) AS cs
      FROM embeddings e CROSS JOIN cents c
    ),
    own AS (SELECT vec_id, own_label, cs AS own_cs FROM cos
            WHERE own_label = c_label),
    best_other AS (SELECT vec_id, max(cs) AS other_cs FROM cos
                   WHERE own_label <> c_label GROUP BY vec_id)
    SELECT o.own_label AS label,
           count(*) AS n_vecs,
           round(avg(o.own_cs), 4) AS avg_own_cos,
           round(avg(o.own_cs - b.other_cs), 4) AS avg_margin,
           CAST(sum(CASE WHEN o.own_cs < b.other_cs THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mislabeled
    FROM own o JOIN best_other b ON o.vec_id = b.vec_id
    GROUP BY o.own_label
    """,
)
def label_centroid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen over the embedding table: per label, how
    tightly members hug their own centroid and how far the nearest
    FOREIGN centroid sits — vectors closer to another label's centroid
    than their own (``n_mislabeled``) are the relabel/review queue a
    training-data pipeline feeds back upstream.

    Scale shape: centroids come from ONE posexplode + two map-side
    hash aggregates (labels × dims rows — tiny), then the full table
    joins the BROADCAST centroid set (labels-per-vector fan-out, no
    corpus shuffle) with the cosine as a zip_with/aggregate column
    expression — JVM codegen, no UDF; the per-label rollup is the only
    shuffle of vector-count rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = (
        emb.select("label", F.posexplode("embedding").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("m"))
    )
    cents = dims.groupBy("label").agg(
        F.array_sort(
            F.collect_list(F.struct("i", "m"))
        ).alias("_im")
    ).select(
        F.col("label").alias("c_label"),
        F.transform("_im", lambda s: s["m"]).alias("cent"),
    )
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda a: F.sqrt(dot(a, a))
    scored = (
        emb.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "label",
            "c_label",
            (
                dot(F.col("embedding"), F.col("cent"))
                / (norm(F.col("embedding")) * norm(F.col("cent")))
            ).alias("cs"),
        )
    )
    # own-centroid score and best-foreign score fold out of ONE pass
    # over the fan-out (conditional aggregation), not a self-join of
    # two filtered copies of the scored subtree
    per_vec = scored.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("label") == F.col("c_label"), F.col("cs"))
        ).alias("own_cs"),
        F.max(
            F.when(F.col("label") != F.col("c_label"), F.col("cs"))
        ).alias("other_cs"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("own_cs"), 4).alias("avg_own_cos"),
            F.round(F.avg(F.col("own_cs") - F.col("other_cs")), 4).alias(
                "avg_margin"
            ),
            F.sum(
                F.when(F.col("own_cs") < F.col("other_cs"), 1).otherwise(0)
            ).cast("long").alias("n_mislabeled"),
        )
    )


# --------------------------------------------------------------------------
# bag-of-words dedup: order-insensitive duplicate detection
# --------------------------------------------------------------------------
@query(
    "bow_dedup_groups",
    """
    WITH src AS (
      SELECT doc_id, lower(trim(text)) AS text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             array_to_string(list_reverse(
               regexp_split_to_array(lower(trim(text)), '\\s+')), ' ')
      FROM documents WHERE doc_id % 10 = 0
    ),
    b AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(
               regexp_split_to_array(text, '\\s+')), ' ')) AS bow_hash
      FROM src
    )
    SELECT bow_hash,
           count(*) AS n_docs,
           min(doc_id) AS keep_doc,
           count(*) - 1 AS n_dropped
    FROM b GROUP BY bow_hash HAVING count(*) > 1
    """,
)
def bow_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-INSENSITIVE duplicate groups: documents whose sorted token
    multiset is identical collapse to one survivor.  Catches the
    shuffled/reordered copies (templated text with permuted clauses,
    scraped pages that reorder list items) that exact-hash dedup
    misses and MinHash only scores probabilistically — a standard tier
    between exact and near-dup in a pretraining pipeline.  Planted
    TOKEN-REVERSED copies (every 10th doc, id +1M) are invisible to the
    exact-hash tier by construction and must all land here.

    Scale shape: identical to exact dedup — the bag fingerprint
    (sort + join + md5) is a pure per-row projection, then ONE shuffle
    on the 32-byte hash; min-id survivor choice is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    shuffled = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.reverse(text.tokens("text")), " ").alias("text"),
    )
    corpus = docs.select(
        "doc_id", F.lower(F.trim("text")).alias("text")
    ).unionByName(shuffled)
    bow = corpus.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(text.tokens("text")), " ")
        ).alias("bow_hash"),
    )
    return (
        bow.groupBy("bow_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
        )
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# cross-source n-gram overlap matrix (inter-source contamination)
# --------------------------------------------------------------------------
@query(
    "source_overlap_matrix",
    """
    WITH g AS MATERIALIZED (
      SELECT DISTINCT source, unnest(sh) AS gram
      FROM (
        SELECT source,
               list_transform(
                 range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
               ) AS sh
        FROM (SELECT source,
                     regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
              FROM documents)
      )
    ),
    sz AS MATERIALIZED (
      SELECT source, count(*) AS n FROM g GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS shared_grams,
           round(count(*) / least(any_value(sa.n), any_value(sb.n)), 4)
             AS containment
    FROM g a
    JOIN g b ON a.gram = b.gram AND a.source < b.source
    JOIN sz sa ON sa.source = a.source
    JOIN sz sb ON sb.source = b.source
    GROUP BY a.source, b.source
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE-level contamination matrix: for every pair of
    sources, how many distinct word 3-grams they share and the
    containment coefficient (shared / smaller source's gram count) —
    the dataset-curation report that decides whether two crawls are
    near-copies before any doc-level dedup runs.

    Scale shape: grams are DISTINCT-ed per source first (source-count ×
    vocab rows, not corpus rows), so the gram-equi-join fans out only
    on truly shared grams; source sizes are a tiny broadcast side.
    Sources are a bounded dimension — output is |S|² rows at most."""
    # single-row-group input (guide §2.5): spread docs before the
    # shingle explode + distinct, otherwise ONE scan task does it
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    g = (
        docs.select("source", text.tokens("text").alias("_t"))
        .select("source", F.explode(text.word_shingles(F.col("_t"), 3)).alias("gram"))
        .distinct()
    )
    sz = g.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = g.select(F.col("source").alias("source_a"), "gram")
    b = g.select(F.col("source").alias("source_b"), "gram")
    pairs = a.join(b, "gram").filter(F.col("source_a") < F.col("source_b"))
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .join(
            F.broadcast(sz.withColumnRenamed("source", "source_a")
                        .withColumnRenamed("n", "na")), "source_a"
        )
        .join(
            F.broadcast(sz.withColumnRenamed("source", "source_b")
                        .withColumnRenamed("n", "nb")), "source_b"
        )
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            F.round(
                F.col("shared_grams") / F.least("na", "nb"), 4
            ).alias("containment"),
        )
    )


# --------------------------------------------------------------------------
# two-pass heavy hitters: MG candidate sketch -> exact recount
# --------------------------------------------------------------------------
@query(
    "token_heavy_hitters",
    """
    WITH c AS (
      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS item
      FROM documents
    ),
    n AS (SELECT item, count(*) AS n FROM c GROUP BY item)
    SELECT item, n,
           CAST(row_number() OVER (ORDER BY n DESC, item) AS INT) AS rank
    FROM n
    QUALIFY rank <= 20
    """,
)
def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 corpus tokens through the two-pass
    sketch-then-recount pipeline (:func:`..functions.sketch.
    heavy_hitters_two_pass`): pass 1's per-partition Misra-Gries
    summaries (≤512 counters each) yield a guaranteed candidate
    superset of every token with count > N/513; pass 2 recounts only
    the candidates behind a broadcast semi-join.  The DuckDB oracle is
    the NAIVE full-vocabulary groupBy — proving the sketched plan
    EXACT, not approximate, while shuffling a candidate set instead of
    the vocabulary.  On a Zipfian token stream the rank-20 count
    exceeds the MG threshold by orders of magnitude (the docstring
    contract; violated only by near-uniform streams, where no top-k is
    meaningful anyway)."""
    from ..functions import sketch

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens("text")).alias("item"))
    return sketch.heavy_hitters_two_pass(toks, "item", k=20, capacity=512)


@query(
    "near_dup_clusters_star",
    oracle=f"""
    WITH RECURSIVE {_CHAIN_CORPUS_SQL.strip()}
    SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS keep
    FROM reach
    GROUP BY id
    """,
)
def near_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME clustering contract as :func:`near_dup_clusters`, run
    through the alternating large-star/small-star operator
    (:func:`..operators.graph.connected_components_star`) instead of
    min-propagation — O(log²)-round convergence for DEEP graphs where
    propagation needs diameter-many rounds.  Sharing the oracle with
    the propagation query pins BOTH iterative engines to the identical
    labeling on driver data, not just on test fixtures.  Isolated docs
    (no near-dup pair) come back as their own singleton cluster via a
    left join onto the vertex set."""
    corpus = _chain_corpus(spark, sf_dir)
    sh = dedup.doc_shingles(corpus, "text", "doc_id")
    pairs = dedup.jaccard_pairs(sh, "doc_id", 0.5)
    from ..operators.graph import connected_components_star

    comps = connected_components_star(pairs, "id_a", "id_b")
    verts = corpus.select(F.col("doc_id").cast("long").alias("doc_id"))
    return verts.join(
        comps.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("comp"), F.col("doc_id")).alias("cluster_id"),
        (F.col("doc_id") == F.coalesce(F.col("comp"), F.col("doc_id"))).alias(
            "keep"
        ),
    )


# --------------------------------------------------------------------------
# dataset card: the one-row release summary
# --------------------------------------------------------------------------
@query(
    "dataset_card_summary",
    """
    WITH base AS MATERIALIZED (
      SELECT doc_id, lang, source, n_chars,
             len(regexp_split_to_array(lower(trim(text)), '\\s+'))
               AS n_tokens,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
               AS fp
      FROM documents
    ),
    srcp AS (
      SELECT source, count(*) * 1.0 / (SELECT count(*) FROM base) AS p
      FROM base GROUP BY source
    )
    SELECT (SELECT count(*) FROM base) AS n_docs,
           (SELECT CAST(sum(n_tokens) AS BIGINT) FROM base) AS n_tokens,
           (SELECT count(DISTINCT lang) FROM base) AS n_langs,
           (SELECT count(DISTINCT source) FROM base) AS n_sources,
           (SELECT round(avg(n_chars), 4) FROM base) AS avg_chars,
           (SELECT round(1.0 - count(DISTINCT fp) * 1.0 / count(*), 4)
            FROM base) AS exact_dup_rate,
           (SELECT round(-sum(p * log2(p)), 4) FROM srcp)
             AS source_entropy_bits
    """,
)
def dataset_card_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row DATASET CARD a corpus release ships with: volume
    (docs/tokens), breadth (languages, sources), length profile, exact
    duplicate rate (1 − distinct normalized fingerprints / docs), and
    the source-mix entropy in bits (log₂|S| = perfectly balanced; near
    0 = one crawl dominates).  Composes the fingerprint, token and
    mixing machinery already oracle-checked piecewise into the summary
    artifact downstream consumers actually read.

    Scale shape: ONE corpus scan computes every per-doc quantity; the
    rollup needs two aggregates (global + per-source for the entropy
    term) joined as 1×k broadcast frames — no wide shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(text.tokens("text")).alias("n_tokens"),
        text.fingerprint("text").alias("fp"),
    )
    srcp = (
        base.groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            (F.col("c") / F.sum("c").over(Window.partitionBy())).alias("p")
        )
    )
    ent = srcp.agg(
        F.round(-F.sum(F.col("p") * F.log2("p")), 4).alias(
            "source_entropy_bits"
        )
    )
    card = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        # nullif: 0/0 on an empty corpus NULLs in both engines instead
        # of ANSI-erroring in Spark (round-12 degenerate sweep)
        F.round(
            1.0
            - F.countDistinct("fp")
            / F.nullif(F.count(F.lit(1)), F.lit(0)),
            4,
        ).alias("exact_dup_rate"),
    )
    return card.crossJoin(F.broadcast(ent))


# --------------------------------------------------------------------------
# chi-square independence: source x language contingency
# --------------------------------------------------------------------------
@query(
    "chi2_source_lang",
    """
    WITH obs AS MATERIALIZED (
      SELECT source, lang, count(*) AS o FROM documents GROUP BY source, lang
    ),
    margins AS (
      SELECT o.source, o.lang, o.o,
             rs.n * cs.n * 1.0 / (SELECT sum(o) FROM obs) AS e
      FROM obs o
      JOIN (SELECT source, sum(o) AS n FROM obs GROUP BY source) rs
        ON rs.source = o.source
      JOIN (SELECT lang, sum(o) AS n FROM obs GROUP BY lang) cs
        ON cs.lang = o.lang
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST((count(DISTINCT source) - 1)
                * (count(DISTINCT lang) - 1) AS BIGINT) AS dof,
           round(sum((o - e) * (o - e) / e), 4) AS chi2,
           round(sqrt(sum((o - e) * (o - e) / e)
                 / ((SELECT sum(o) FROM obs)
                    * least(count(DISTINCT source) - 1,
                            count(DISTINCT lang) - 1))), 4) AS cramers_v
    FROM margins
    """,
)
def chi2_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between ``source`` and ``lang``
    plus Cramér's V effect size — the dataset-composition diagnostic
    that tells a curation pipeline whether language mix is uniform
    across crawls (V≈0) or some source is a language silo (V→1), which
    changes how per-language caps must be applied.

    Scale shape: the contingency table is ONE map-side-combined count
    over (source, lang) — cells are |S|×|L|, tiny regardless of corpus
    size; margins and the statistic are arithmetic over that cell
    table.  The corpus is touched exactly once."""
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("o"))
    rs = obs.groupBy("source").agg(F.sum("o").alias("rn"))
    cs = obs.groupBy("lang").agg(F.sum("o").alias("cn"))
    tot = obs.agg(F.sum("o").alias("tn"))
    m = (
        obs.join(F.broadcast(rs), "source")
        .join(F.broadcast(cs), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "o",
            (F.col("rn") * F.col("cn") / F.col("tn")).alias("e"),
            "tn",
        )
    )
    chi2 = F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e"))
    return m.agg(
        F.count(F.lit(1)).alias("n_cells"),
        (
            (F.countDistinct("source") - 1) * (F.countDistinct("lang") - 1)
        ).alias("dof"),
        F.round(chi2, 4).alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / (
                    F.first("tn")
                    * F.least(
                        F.countDistinct("source") - 1,
                        F.countDistinct("lang") - 1,
                    )
                )
            ),
            4,
        ).alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# bigram-LM cross-entropy quality filter (the KenLM screen, order 2)
# --------------------------------------------------------------------------
@query(
    "bigram_xent_filter",
    """
    WITH arrs AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
      FROM documents
    ),
    bg AS MATERIALIZED (
      SELECT doc_id, arr[i] || ' ' || arr[i + 1] AS bg, arr[i] AS t1
      FROM arrs, unnest(range(1, len(arr))) AS x(i)
    ),
    v AS MATERIALIZED (
      SELECT bg, min(t1) AS t1, count(*) AS c FROM bg GROUP BY bg
    ),
    lp AS (
      SELECT bg, log2(c / sum(c) OVER (PARTITION BY t1)) AS logp FROM v
    )
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           round(avg(-lp.logp), 4) AS xent_bits,
           round(avg(-lp.logp), 4) <= 3.5 AS keep
    FROM bg b JOIN lp ON lp.bg = b.bg
    GROUP BY b.doc_id
    """,
)
def bigram_xent_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BIGRAM cross-entropy against the corpus's own
    bigram LM — the order-2 upgrade of ``unigram_xent_filter``:
    log₂ p(t₂|t₁) = log₂ c(t₁t₂)/c(t₁·), so formulaic boilerplate
    (predictable continuations) scores LOW and incoherent token soup
    scores HIGH even when every individual token is common — the
    screen that actually separates generated spam from prose.  No
    smoothing needed: every scored bigram is in the corpus it was
    counted from.  ``keep`` thresholds the ROUNDED score so both
    engines make the same boundary call.

    Scale shape: ONE bigram explode (adjacent-pair zip inside the row,
    no positional self-join and no per-doc window shuffle) feeds both
    the bigram vocabulary count and the per-doc score; the conditional
    denominator c(t₁·) rides a prefix-partitioned window over the
    (vocab-sized) count table, and per-bigram log-probs attach back by
    BROADCAST, so the corpus-sized stream shuffles exactly once (the
    per-doc groupBy).

    Reference scope: same quality-screen family as the unigram filter
    (정리/4주차.md aggregate discussion)."""
    docs = load_table(spark, sf_dir, "documents")
    arr = text.tokens("text")
    zipped = F.zip_with(
        arr,
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        lambda x, y: F.concat(x, F.lit(" "), y),  # NULL past the end
    )
    ex = docs.select(
        "doc_id",
        F.explode(
            F.filter(zipped, lambda v: v.isNotNull())
        ).alias("bg"),
    )
    v = ex.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    t1 = F.substring_index("bg", " ", 1)
    lp = v.select(
        "bg",
        F.log2(
            F.col("c") / F.sum("c").over(Window.partitionBy(t1))
        ).alias("logp"),
    )
    xent = F.round(F.avg(-F.col("logp")), 4)
    return (
        ex.join(F.broadcast(lp), "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            xent.alias("xent_bits"),
            (xent <= 3.5).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# n-gram novelty by first occurrence: the dedup-gain / contribution curve
# --------------------------------------------------------------------------
@query(
    "ngram_novelty_by_source",
    """
    WITH toks AS (
      SELECT doc_id, source,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
      FROM documents
    ),
    grams AS MATERIALIZED (
      SELECT DISTINCT doc_id, source,
             array_to_string(arr[i:i + 4], ' ') AS g
      FROM toks, unnest(range(1, len(arr) - 3)) AS x(i)
    ),
    own AS MATERIALIZED (
      SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
    ),
    novel AS (
      SELECT first_doc AS doc_id, count(*) AS novel
      FROM own GROUP BY first_doc
    ),
    tot AS (
      SELECT doc_id, min(source) AS source, count(*) AS total
      FROM grams GROUP BY doc_id
    ),
    perdoc AS (
      SELECT t.doc_id, t.source, t.total,
             coalesce(n.novel, 0) AS novel
      FROM tot t LEFT JOIN novel n ON n.doc_id = t.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(total) AS BIGINT) AS total_grams,
           CAST(sum(novel) AS BIGINT) AS novel_grams,
           round(avg(novel * 1.0 / total), 4) AS avg_novelty,
           CAST(sum(CASE WHEN novel = total THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fully_novel
    FROM perdoc GROUP BY source
    """,
)
def ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 5-gram NOVELTY profile — for each document, the share
    of its distinct 5-grams whose corpus-wide FIRST occurrence (min
    doc_id) is that document.  This is the marginal-contribution /
    dedup-gain curve curation teams read before buying a source: a
    source whose docs average 0.2 novelty is 80% restatement of
    content the corpus already has, whatever exact-dedup says.

    Scale shape: the gram stream is shuffled ONCE (the min(doc_id)
    ownership groupBy); novelty then folds back DOC-keyed — each owned
    gram credits its first_doc, so the novel/total attach is a join of
    two doc-sized aggregates, never a gram-keyed join of corpus-sized
    tables.  Per-doc distinct grams come from array_distinct INSIDE
    the row before the explode (map-side dedup).

    Reference scope: same corpus-profile family as
    ``source_overlap_matrix`` (정리/4주차.md)."""
    # single-row-group input (guide §2.5): spread docs before the
    # shingle explode, otherwise ONE scan task does it
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        "doc_id", "source", text.tokens("text").alias("_t")
    )
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(text.word_shingles(F.col("_t"), 5))
        ).alias("g"),
    )
    own = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = own.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("novel")
    )
    tot = grams.groupBy("doc_id").agg(
        F.min("source").alias("source"),
        F.count(F.lit(1)).alias("total"),
    )
    perdoc = tot.join(novel, "doc_id", "left").select(
        "source",
        "total",
        F.coalesce(F.col("novel"), F.lit(0)).alias("novel"),
    )
    return perdoc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("total").cast("long").alias("total_grams"),
        F.sum("novel").cast("long").alias("novel_grams"),
        F.round(F.avg(F.col("novel") / F.col("total")), 4).alias(
            "avg_novelty"
        ),
        F.sum(
            F.when(F.col("novel") == F.col("total"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_fully_novel"),
    )


# --------------------------------------------------------------------------
# top session-opening event paths (clickstream path mining)
# --------------------------------------------------------------------------
@query(
    "top_session_paths",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('millisecond', lag(ts) OVER w, ts) > 43200000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS MATERIALIZED (
      SELECT user_id, ts, event_id, event_type,
        sum(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    ),
    first3 AS (
      SELECT * FROM (
        SELECT user_id, session_seq, ts, event_id, event_type,
               row_number() OVER (
                 PARTITION BY user_id, session_seq
                 ORDER BY ts, event_id) AS rn
        FROM sess
      ) WHERE rn <= 3
    ),
    paths AS (
      SELECT user_id, session_seq,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM first3 GROUP BY user_id, session_seq
    ),
    pc AS (SELECT path, count(*) AS n_sessions FROM paths GROUP BY path)
    SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions
    FROM (SELECT *, row_number() OVER (
            ORDER BY n_sessions DESC, path) AS r FROM pc)
    WHERE r <= 20
    """,
)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session-OPENING paths — the first three event types of
    every 12 h-gap session, joined as ``a>b>c`` and ranked by session
    count: the entry-path mining behind onboarding-funnel and landing-
    flow analysis (which openings dominate, which never convert —
    pair with ``funnel_conversions``).

    Scale shape: the lag-flag, the running session number and the
    within-session rank all reuse ONE user-keyed sort (Spark satisfies
    the (user, session)-clustered requirement from the existing
    user-hash partitioning, so no second fact shuffle); the path
    string is assembled per session by an in-row ``array_sort`` of
    (ts, event_id, type) structs — collect order never matters — and
    only path-count-sized data reaches the final top-20 cut (ties
    broken by path text, so the cut is engine-stable)."""
    gap_ms = 12 * 3600 * 1000
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))
                > gap_ms
            ),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    ws = Window.partitionBy("user_id", "session_seq").orderBy(
        "ts", "event_id"
    )
    first3 = sess.withColumn("rn", F.row_number().over(ws)).filter(
        F.col("rn") <= 3
    )
    paths = first3.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", "event_type")
                    )
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    pc = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    wr = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return (
        pc.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") <= 20)
        .select("path", F.col("n_sessions").cast("long").alias("n_sessions"))
    )


# --------------------------------------------------------------------------
# exact Jaccard-threshold similarity join (PPJoin-style prefix filtering)
# --------------------------------------------------------------------------
@query(
    "prefix_jaccard_join",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
      FROM documents
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, array_to_string(arr[i:i + 4], ' ') AS s
      FROM toks, unnest(range(1, len(arr) - 3)) AS x(i)
    ),
    sizes AS MATERIALIZED (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(i AS BIGINT) AS inter,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.7
    """,
)
def prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 5-gram Jaccard ≥ 0.7 similarity self-join over documents
    by PPJoin-style prefix filtering
    (:func:`..functions.dedup.prefix_filter_jaccard_pairs`) — the
    guaranteed-complete tier of the dedup ladder: MinHash-LSH
    (``minhash_lsh_near_dup``) trades recall for speed; this returns
    EVERY qualifying pair with its exact score, while still never
    doing all-pairs work (candidates only form in rarest-shingle
    prefix buckets).  The oracle is plain ground truth — all-pairs
    exact Jaccard — precisely BECAUSE the algorithm is lossless; any
    missing or spurious pair fails the gate.  The threshold compare
    runs on the UNROUNDED integer-ratio double, identical in both
    engines.

    Reference scope: same dedup family as ``ngram_jaccard_pairs``
    (정리/4주차.md)."""
    from ..functions.dedup import prefix_filter_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.7
    )


# --------------------------------------------------------------------------
# Cavnar-Trenkle char-trigram language ID with accuracy eval
# --------------------------------------------------------------------------
@query(
    "char_ngram_lang_id",
    """
    WITH tri AS MATERIALIZED (
      SELECT doc_id, lang, substr(lower(text), i, 3) AS g
      FROM documents, unnest(range(1, len(text) - 1)) AS x(i)
    ),
    lang_prof AS MATERIALIZED (
      SELECT lang, g, row_number() OVER (
        PARTITION BY lang ORDER BY count(*) DESC, g) AS r
      FROM tri GROUP BY lang, g QUALIFY r <= 20
    ),
    doc_prof AS MATERIALIZED (
      SELECT doc_id, min(lang) AS true_lang, g, row_number() OVER (
        PARTITION BY doc_id ORDER BY count(*) DESC, g) AS dr
      FROM tri GROUP BY doc_id, g QUALIFY dr <= 20
    ),
    langs AS (SELECT DISTINCT lang FROM documents),
    dist AS (
      SELECT d.doc_id, min(d.true_lang) AS true_lang, l.lang,
             sum(coalesce(abs(d.dr - p.r), 20)) AS oop
      FROM doc_prof d
      CROSS JOIN langs l
      LEFT JOIN lang_prof p ON p.lang = l.lang AND p.g = d.g
      GROUP BY d.doc_id, l.lang
    ),
    pred AS (
      SELECT doc_id, true_lang, lang AS pred_lang FROM (
        SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY oop ASC, lang) AS rn
        FROM dist
      ) WHERE rn = 1
    )
    SELECT true_lang AS lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(sum(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS accuracy
    FROM pred GROUP BY true_lang
    """,
)
def char_ngram_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar-Trenkle character-trigram language identification,
    EVALUATED against the ground-truth ``lang`` column: per-language
    top-20 trigram rank profiles, per-doc profiles, out-of-place
    distance (|rank difference|, missing → max penalty 20), argmin
    language, accuracy per true language.  The classic n-gram-profile
    classifier — a real upgrade over the stopword-list heuristic
    (``lang_id_pred``) because it needs no hand lists, and the eval
    makes it a measured model, not a feature.

    Scale shape: ONE trigram explode, aggregated ONCE to per-(doc, g)
    exact counts — the explode stream flows straight into a map-side
    combinable groupBy and is never materialized (round-11 rework: the
    previous plan PERSISTED the raw corpus×~600 explode, and the
    persist itself — not any join — was the superlinear term at the
    10x universe: 13x wall from cache memory pressure; persisting the
    ~30x-smaller aggregated frame brought 10x back to ~linear).  The
    language profile derives from the SAME per-doc counts (Σ over docs
    of exact ints ≡ counting raw trigrams, so the oracle is unchanged);
    profiles are lang×20 and doc×20 sized; the scoring join runs
    doc-profile rows × |langs| with the tiny language profile
    BROADCAST, so the corpus-sized stream shuffles only for the per-doc
    count.  Every distance is an exact integer sum; prediction and
    accuracy are engine-stable by construction ((dist, lang) and
    (count, trigram) total orders)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.lower(F.col("text")).alias("_t")
    )
    # single-row-group input (guide §2.5): spread the docs BEFORE the
    # ~600x trigram explode + partial agg, which otherwise runs in one
    # scan task (6.7 s -> <1 s at sf0.1; the tiny doc shuffle is noise
    # against the explode amplification at any scale)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # bind _t as an attribute BEFORE the lambda (word_shingles perf
    # note: outer non-attribute expressions re-evaluate per element)
    tri = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("_t") - 2),
                lambda i: F.col("_t").substr(i, F.lit(3)),
            )
        ).alias("g"),
    )
    # one shuffle aggregates the explode to (doc, g) exact counts; both
    # profile builds read THIS frame (doc-count-sized, not explode-sized)
    dg = (
        tri.groupBy("doc_id", "g")
        .agg(
            F.min("lang").alias("true_lang"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .persist()
    )
    dg.count()
    wl = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("g"))
    lang_prof = (
        dg.groupBy(F.col("true_lang").alias("lang"), "g")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn("r", F.row_number().over(wl))
        .filter(F.col("r") <= 20)
        .select(F.col("lang").alias("p_lang"), "g", "r")
    )
    wd = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("g"))
    doc_prof = (
        dg.withColumn("dr", F.row_number().over(wd))
        .filter(F.col("dr") <= 20)
        .select("doc_id", "true_lang", "g", "dr")
    )
    langs = docs.select(F.col("lang").alias("c_lang")).distinct()
    dist = (
        doc_prof.crossJoin(F.broadcast(langs))
        .join(
            F.broadcast(lang_prof),
            (F.col("p_lang") == F.col("c_lang"))
            & (lang_prof["g"] == doc_prof["g"]),
            "left",
        )
        .groupBy("doc_id", "c_lang")
        .agg(
            F.min("true_lang").alias("true_lang"),
            F.sum(
                F.coalesce(
                    F.abs(F.col("dr") - F.col("r")), F.lit(20)
                )
            ).alias("oop"),
        )
    )
    wp = Window.partitionBy("doc_id").orderBy(
        F.asc("oop"), F.asc("c_lang")
    )
    pred = (
        dist.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("c_lang").alias("pred_lang"))
    )
    correct = F.sum(
        F.when(F.col("pred_lang") == F.col("true_lang"), 1).otherwise(0)
    )
    return pred.groupBy(F.col("true_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        correct.cast("long").alias("n_correct"),
        F.round(correct * 1.0 / F.count(F.lit(1)), 4).alias("accuracy"),
    )


@query(
    "term_burstiness",
    """
    WITH toks AS MATERIALIZED (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      FROM documents
    ),
    stats AS MATERIALIZED (
      SELECT t, count(*) AS cf, count(DISTINCT doc_id) AS df
      FROM toks GROUP BY t
    )
    SELECT t AS term,
           CAST(cf AS BIGINT) AS collection_freq,
           CAST(df AS BIGINT) AS doc_freq,
           round(cf * 1.0 / df, 4) AS burstiness
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY cf * 1.0 / df DESC, t) AS rn
      FROM stats WHERE cf >= 50
    ) WHERE rn <= 30
    """,
)
def term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term BURSTINESS — collection frequency over document frequency:
    a term that appears 400 times across 20 docs (burstiness 20) is
    boilerplate/template text; one spread across 400 docs is ordinary
    vocabulary.  The screen that finds repeated navigation chrome and
    license headers BEFORE they poison n-gram stats — upstream of the
    dedup tier, not a duplicate of it.

    Scale shape: one token explode into one combined (cf, df)
    aggregate (count-distinct per term rides the same shuffle), then
    a vocab-sized top-30 cut on (ratio, term) — engine-stable because
    the ratio is an exact integer division."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(text.tokens("text")).alias("t")
    )
    stats = toks.groupBy("t").agg(
        F.count(F.lit(1)).alias("cf"),
        F.count_distinct("doc_id").alias("df"),
    )
    w = Window.orderBy(
        (F.col("cf") * 1.0 / F.col("df")).desc(), F.asc("t")
    )
    return (
        stats.filter(F.col("cf") >= 50)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 30)
        .select(
            F.col("t").alias("term"),
            F.col("cf").cast("long").alias("collection_freq"),
            F.col("df").cast("long").alias("doc_freq"),
            F.round(F.col("cf") * 1.0 / F.col("df"), 4).alias(
                "burstiness"
            ),
        )
    )


@query(
    "incremental_dedup_new_docs",
    oracle="""
    WITH norm AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h
      FROM documents
    ),
    corpus AS (SELECT DISTINCT h FROM norm WHERE doc_id % 2 = 0),
    incoming AS (SELECT * FROM norm WHERE doc_id % 2 = 1),
    tagged AS (
      SELECT i.source,
             CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END AS dup_corpus,
             CASE WHEN c.h IS NULL AND count(*) OVER (PARTITION BY i.h) > 1
                    AND i.doc_id > min(i.doc_id) OVER (PARTITION BY i.h)
                  THEN 1 ELSE 0 END AS dup_batch
      FROM incoming i LEFT JOIN corpus c ON i.h = c.h
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_incoming,
           CAST(sum(dup_corpus) AS BIGINT) AS n_dup_vs_corpus,
           CAST(sum(dup_batch) AS BIGINT) AS n_dup_in_batch,
           CAST(count(*) - sum(dup_corpus) - sum(dup_batch) AS BIGINT)
             AS n_new,
           round((count(*) - sum(dup_corpus) - sum(dup_batch)) * 1.0
                 / count(*), 4) AS keep_rate
    FROM tagged GROUP BY source
    """,
)
def incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ingest dedup — the daily-crawl shape: an incoming
    batch (odd doc ids) deduplicates against the already-ingested
    corpus index (even ids) AND within itself, reporting per source
    how much of the batch survives.  Corpus-side state is only the
    normalized-hash index (16-byte digests — the thing a production
    pipeline keeps partitioned on disk), never the historical text;
    within-batch dups keep the min-id doc, matching
    ``dedup_normalized_text``'s keeper rule.

    Scale: the anti-join is hash-on-digest (broadcast-able while the
    index fits, shuffle-on-digest beyond); both sides reduce to
    digests before any exchange.  All outputs are exact counts plus
    one ratio of counts."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    hashed = docs.select("doc_id", "source", F.md5(norm).alias("h"))
    corpus = hashed.filter(F.col("doc_id") % 2 == 0).select("h").distinct()
    incoming = hashed.filter(F.col("doc_id") % 2 == 1)
    tagged = incoming.join(
        corpus.withColumn("in_corpus", F.lit(1)), "h", "left"
    ).select(
        "source",
        "h",
        "doc_id",
        F.when(F.col("in_corpus").isNotNull(), 1).otherwise(0).alias(
            "dup_corpus"
        ),
    )
    wh = Window.partitionBy("h")
    tagged = tagged.withColumn(
        "dup_batch",
        F.when(
            (F.col("dup_corpus") == 0)
            & (F.count("*").over(wh) > 1)
            & (F.col("doc_id") > F.min("doc_id").over(wh)),
            1,
        ).otherwise(0),
    )
    keep = F.count("*") - F.sum("dup_corpus") - F.sum("dup_batch")
    return tagged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_incoming"),
        F.sum("dup_corpus").cast("long").alias("n_dup_vs_corpus"),
        F.sum("dup_batch").cast("long").alias("n_dup_in_batch"),
        keep.cast("long").alias("n_new"),
        F.round(keep * 1.0 / F.count("*"), 4).alias("keep_rate"),
    )


@query(
    "scd2_asof_fact_resolve",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END AS kind
      FROM events WHERE event_type IN ('signup', 'purchase')
    ),
    versioned AS (
      SELECT *,
             CASE WHEN kind = 0 THEN CAST(row_number() OVER (
               PARTITION BY user_id, kind ORDER BY ts, event_id) AS INT)
             END AS v
      FROM tagged
    ),
    resolved AS (
      SELECT user_id, kind, value,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, kind, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS version
      FROM versioned
    )
    SELECT coalesce(version, 0) AS profile_version,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value), 4) AS total_value
    FROM resolved WHERE kind = 1
    GROUP BY 1 ORDER BY profile_version
    """,
)
def scd2_asof_fact_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-versioned-dimension resolution: every purchase resolves
    to the SCD-2 profile version (signup ordinal) valid AT ITS EVENT
    TIME — the join every warehouse does between an immutable fact
    stream and a slowly-changing dimension, rolled up as "purchases by
    profile age" (version 0 = purchases before any signup).

    Scale shape — the point: NOT a range join (fact ⋈ dim ON
    valid_from ≤ ts < valid_to is a per-user interval cross product).
    Both streams UNION into one frame and a single forward-fill window
    (``last(version) IGNORE NULLS`` over user-time order, signup
    sorting before fact at equal timestamps) resolves every fact in
    one sort — the as-of union trick, one shuffle on the user key,
    linear in |facts| + |versions|.

    Determinism: version ordinals are exact ints keyed by
    (ts, event_id); per-version value sums round at 4."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "signup", 0).otherwise(1).alias("kind"),
    )
    vw = Window.partitionBy("user_id", "kind").orderBy("ts", "event_id")
    versioned = tagged.withColumn(
        "v",
        F.when(F.col("kind") == 0, F.row_number().over(vw).cast("int")),
    )
    fw = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    resolved = versioned.select(
        "user_id",
        "kind",
        "value",
        F.last("v", ignorenulls=True).over(fw).alias("version"),
    )
    return (
        resolved.filter(F.col("kind") == 1)
        .groupBy(
            F.coalesce("version", F.lit(0)).alias("profile_version")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("profile_version")
    )


@query(
    "snapshot_diff_audit",
    oracle="""
    WITH snap1 AS (
      SELECT doc_id, md5(text) AS digest, n_chars FROM documents
    ),
    snap2 AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END)
               AS digest,
             CASE WHEN doc_id % 17 = 0 THEN n_chars + 3 ELSE n_chars END
               AS n_chars
      FROM documents WHERE doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + 1000000000, md5(text), n_chars
      FROM documents WHERE doc_id % 11 = 0
    ),
    diff AS (
      SELECT CASE
               WHEN a.doc_id IS NULL THEN 'added'
               WHEN b.doc_id IS NULL THEN 'removed'
               WHEN a.digest <> b.digest THEN 'changed'
               ELSE 'unchanged'
             END AS status,
             coalesce(a.n_chars, 0) AS c1, coalesce(b.n_chars, 0) AS c2
      FROM snap1 a FULL OUTER JOIN snap2 b ON a.doc_id = b.doc_id
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(c1) AS BIGINT) AS chars_before,
           CAST(sum(c2) AS BIGINT) AS chars_after
    FROM diff GROUP BY status ORDER BY status
    """,
)
def snapshot_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff: classify every document across two
    releases as added / removed / changed / unchanged by content
    digest, with char-volume movement per class — the release audit
    every dataset version bump ships with (the second snapshot is
    derived deterministically in-plan: drop every 13th doc, edit every
    17th, add a copy of every 11th under a new id — both engines build
    the identical pair of snapshots).

    Scale shape: each snapshot reduces to (id, digest) — 16-byte md5,
    not text — before the FULL OUTER equi-join on the id, so the diff
    shuffles digests, never documents; in production the digests are
    precomputed per release and this is a join of two manifest tables.
    All outputs are exact counts/sums."""
    docs = load_table(spark, sf_dir, "documents")
    snap1 = docs.select("doc_id", F.md5("text").alias("digest"), "n_chars")
    changed = F.col("doc_id") % 17 == 0
    snap2 = (
        docs.filter(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            F.md5(
                F.when(changed, F.concat(F.col("text"), F.lit(" v2")))
                .otherwise(F.col("text"))
            ).alias("digest"),
            F.when(changed, F.col("n_chars") + 3)
            .otherwise(F.col("n_chars"))
            .alias("n_chars"),
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 1000000000).alias("doc_id"),
                F.md5("text").alias("digest"),
                "n_chars",
            )
        )
    )
    a = snap1.alias("a")
    b = snap2.alias("b")
    diff = a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer").select(
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.digest") != F.col("b.digest"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce(F.col("a.n_chars"), F.lit(0)).alias("c1"),
        F.coalesce(F.col("b.n_chars"), F.lit(0)).alias("c2"),
    )
    return (
        diff.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("c1").cast("long").alias("chars_before"),
            F.sum("c2").cast("long").alias("chars_after"),
        )
        .orderBy("status")
    )


@query(
    "streaming_scd2_resolve",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END AS kind
      FROM events WHERE event_type IN ('signup', 'purchase')
        AND user_id % 4 = 3
    ),
    versioned AS (
      SELECT *,
             CASE WHEN kind = 0 THEN CAST(row_number() OVER (
               PARTITION BY user_id, kind ORDER BY ts, event_id) AS INT)
             END AS v
      FROM tagged
    ),
    resolved AS (
      SELECT user_id, kind, value,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, kind, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS version
      FROM versioned
    )
    SELECT coalesce(version, 0) AS profile_version,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value), 4) AS total_value
    FROM resolved WHERE kind = 1
    GROUP BY 1 ORDER BY profile_version
    """,
)
def streaming_scd2_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 fact resolution run THROUGH Structured Streaming under
    the oracle gate: two event-time-ordered micro-batches, a keyed
    ValueState version counter (:func:`..streaming.stateful.
    scd2_version_resolve`) carrying each user's committed version count
    across the batch boundary, and the emitted stamped facts roll up to
    the same per-version totals the batch forward-fill window produces.
    Same quarter-key-space slicing as the other driver-gated stateful
    replays."""
    from ..streaming import memory_batches_stream, run_available_now
    from ..streaming.stateful import scd2_version_resolve
    from .registry import scratch_dir

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("signup", "purchase")
            & (F.col("user_id") % 4 == 3)
        )
        .select(
            "user_id",
            "ts",
            "event_id",
            "value",
            F.when(F.col("event_type") == "signup", 0)
            .otherwise(1)
            .alias("kind"),
        )
    )
    mid = ev.selectExpr("percentile_approx(ts, 0.5) AS m").first().m
    batches = [
        ev.filter(F.col("ts") <= F.lit(mid)),
        ev.filter(F.col("ts") > F.lit(mid)),
    ]
    src_dir = scratch_dir("src_scd2_stream_")
    sdf = memory_batches_stream(
        spark, batches, src_dir.path, files_per_trigger=1
    )
    with src_dir, conf_override(spark, {"spark.sql.shuffle.partitions": "8"}):
        with scratch_dir("ck_scd2_stream_") as ck:
            got = run_available_now(scd2_version_resolve(sdf), ck, "update")
    return (
        got.groupBy(F.col("version").alias("profile_version"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("profile_version")
    )


# --------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM: held-out cross-entropy per source
# --------------------------------------------------------------------------
KN_D = 0.75  # absolute discount (exact binary fraction)

@query(
    "kneser_ney_heldout_xent",
    f"""
    WITH toks AS (
      SELECT doc_id, source, doc_id % 10 = 0 AS held,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
      FROM documents
    ),
    ex AS MATERIALIZED (
      SELECT doc_id, source, held, arr[i] AS w1, arr[i + 1] AS w2
      FROM toks, unnest(range(1, len(arr))) AS x(i)
    ),
    bc AS MATERIALIZED (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM ex WHERE NOT held GROUP BY w1, w2
    ),
    c1 AS MATERIALIZED (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS n1r
      FROM bc GROUP BY w1
    ),
    nl AS MATERIALIZED (
      SELECT w2, CAST(count(*) AS BIGINT) AS n1l FROM bc GROUP BY w2
    ),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bc),
    scored AS MATERIALIZED (
      SELECT e.doc_id, e.source,
             CAST(floor(-log2(
               CASE WHEN c.c1 IS NULL
                    THEN coalesce(n.n1l, 0.5) / tt.t
                    ELSE (greatest(CAST(coalesce(b.c12, 0) AS DOUBLE)
                                     - {KN_D}, 0.0)
                          + {KN_D} * c.n1r
                            * (coalesce(n.n1l, 0.5) / tt.t)) / c.c1
               END) * 1000000 + 0.5) AS BIGINT) AS q,
             CASE WHEN c.c1 IS NULL THEN 1 ELSE 0 END AS oovc
      FROM ex e
      LEFT JOIN bc b ON b.w1 = e.w1 AND b.w2 = e.w2
      LEFT JOIN c1 c ON c.w1 = e.w1
      LEFT JOIN nl n ON n.w2 = e.w2
      CROSS JOIN tt
      WHERE e.held
    )
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(q) AS DOUBLE) / 1000000 / count(*) - 1e-9, 4)
             + 0.0 AS xent_bits,
           round(CAST(sum(oovc) AS DOUBLE) / count(*) - 1e-9, 4) + 0.0
             AS oov_context_share
    FROM scored GROUP BY source ORDER BY source
    """,
)
def kneser_ney_heldout_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM — the smoothing that made
    KenLM the standard corpus-quality screen — trained on 90% of the
    corpus (doc_id % 10 ≠ 0) and evaluated as held-out cross-entropy
    on the other 10%, grouped by source.  Unlike the in-corpus
    ``bigram_xent_filter`` (no smoothing, scores its own training
    data), this is a REAL generalization measure: unseen bigrams fall
    back to the continuation probability N₁₊(·w₂)/|bigram types| —
    "how many contexts does w₂ complete?" — with absolute discount
    d = 0.75 re-distributing mass via λ(w₁) = d·N₁₊(w₁·)/c(w₁);
    unseen continuations get the conventional 0.5 pseudo-type and an
    unseen CONTEXT backs off fully (share reported as
    ``oov_context_share``).

    Cross-engine determinism (the unigram-LM micro-nat pattern): d and
    the 0.5 pseudo-count are exact binary fractions, every count is
    BIGINT, each bigram's −log₂ p quantizes to integer micro-bits
    BEFORE the per-source sum — so the mean is a ratio of exact
    integers, immune to summation order.

    Scale shape: ONE bigram explode feeds train counts and held-out
    scoring; bc/c1/nl are vocab-sized (sublinear in corpus) and attach
    by broadcast; the only corpus-sized shuffle is the per-source
    aggregate.  tests/test_wl_kn_weibull.py pins the probability-law
    invariant (Σ_w2 p(w₂|w₁) = 1 on a closed toy corpus) and that
    formulaic text scores lower xent than shuffled text."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (F.col("doc_id") % 10 == 0).alias("held"),
        text.tokens("text").alias("arr"),
    )
    arr = F.col("arr")
    pairs = F.filter(
        F.zip_with(
            arr,
            F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
            lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
        ),
        lambda s: s["w2"].isNotNull(),
    )
    ex = docs.select(
        "doc_id", "source", "held", F.explode(pairs).alias("p")
    ).select(
        "doc_id", "source", "held",
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"),
    )
    train = ex.filter(~F.col("held"))
    bc = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bc.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1r")
    )
    nl = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n1l"))
    tt = bc.agg(F.count(F.lit(1)).alias("t"))
    pcont = F.coalesce(F.col("n1l"), F.lit(0.5)) / F.col("t")
    p = F.when(F.col("c1").isNull(), pcont).otherwise(
        (
            F.greatest(
                F.coalesce(F.col("c12"), F.lit(0)).cast("double")
                - F.lit(KN_D),
                F.lit(0.0),
            )
            + F.lit(KN_D) * F.col("n1r") * pcont
        )
        / F.col("c1")
    )
    scored = (
        ex.filter(F.col("held"))
        .join(F.broadcast(bc), ["w1", "w2"], "left")
        .join(F.broadcast(c1), "w1", "left")
        .join(F.broadcast(nl), "w2", "left")
        .crossJoin(F.broadcast(tt))
        .select(
            "doc_id",
            "source",
            F.floor(-F.log2(p) * 1000000 + 0.5).cast("long").alias("q"),
            F.when(F.col("c1").isNull(), 1).otherwise(0).alias("oovc"),
        )
    )
    cnt = F.count(F.lit(1))
    return (
        scored.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            cnt.alias("n_bigrams"),
            (
                F.round(
                    F.sum("q").cast("double") / 1000000 / cnt - 1e-9, 4
                )
                + 0.0
            ).alias("xent_bits"),
            (
                F.round(F.sum("oovc").cast("double") / cnt - 1e-9, 4) + 0.0
            ).alias("oov_context_share"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# lexical diversity battery: Yule's K, Simpson's D, Herdan's C, TTR, hapax
# --------------------------------------------------------------------------
_LEXDIV_SQL = """
WITH tf AS {MAT}(
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM ({EXPLODE}) GROUP BY source, tok
),
spec AS {MAT}(
  SELECT source, c AS m, CAST(count(*) AS BIGINT) AS vm
  FROM tf GROUP BY source, c
),
agg AS {MAT}(
  SELECT source,
         CAST(sum(m * vm) AS BIGINT) AS n,
         CAST(sum(vm) AS BIGINT) AS v,
         CAST(sum(m * m * vm) AS BIGINT) AS m2,
         CAST(sum(CASE WHEN m = 1 THEN vm ELSE 0 END) AS BIGINT) AS v1
  FROM spec GROUP BY source
)
SELECT source, n AS n_tokens, v AS vocab,
       round(10000.0 * (m2 - n) / (CAST(n AS DOUBLE) * n) - 1e-9, 6)
         + 0.0 AS yules_k,
       round((CAST(m2 AS DOUBLE) - n)
             / (CAST(n AS DOUBLE) * (n - 1)) - 1e-9, 8) + 0.0
         AS simpson_d,
       -- 1e-6-quantized logs: the ratio divides identical integers
       round(CAST(CAST(floor(ln(CAST(v AS DOUBLE)) * 1000000 + 0.5)
                       AS BIGINT) AS DOUBLE)
             / CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) - 1e-9, 6) + 0.0 AS herdan_c,
       round(CAST(v AS DOUBLE) / n - 1e-9, 6) + 0.0 AS ttr,
       round(CAST(v1 AS DOUBLE) / v - 1e-9, 6) + 0.0 AS hapax_share
FROM agg ORDER BY source
"""


@query(
    "lexical_diversity_battery",
    _LEXDIV_SQL.replace("{MAT}", "MATERIALIZED ").replace(
        "{EXPLODE}",
        "SELECT source, unnest(regexp_split_to_array(lower(trim(text)),"
        " '\\s+')) AS tok FROM documents",
    ),
)
def lexical_diversity_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity battery per source: Yule's K and Simpson's D
    (repeat-rate measures, length-robust — high K = formulaic
    vocabulary reuse, the spam smell), Herdan's C (log-log type/token
    slope), raw TTR and the hapax share (V₁/V — how much of the
    vocabulary occurs once; collapses when a corpus is template
    spam).  Complements ``token_entropy`` / ``good_turing_vocab
    _richness`` with the classical stylometry set.

    Determinism: everything derives from the integer frequency
    spectrum (m, V_m) — N, V, Σm²V_m, V₁ are exact BIGINTs (Σm²V_m ≤
    N² ≈ 4e18 at sf10, inside int64); Yule/Simpson/TTR are single
    divisions of exact integers; Herdan's C quantizes both logs to
    1e-6 integers before the one division.

    Scale shape: one token explode → (source, token) count (map-side
    combinable) → spectrum rollup; everything after is O(distinct
    frequencies), which is O(√N) by Zipf."""
    docs = load_table(spark, sf_dir, "documents")
    docs.select(
        "source", F.explode(text.tokens("text")).alias("tok")
    ).createOrReplaceTempView("lexdiv_toks")
    return spark.sql(
        _LEXDIV_SQL.replace("{MAT}", "").replace(
            "{EXPLODE}", "SELECT source, tok FROM lexdiv_toks"
        )
    )


# --------------------------------------------------------------------------
# AMS F2 sketch: second frequency moment of the token stream
# --------------------------------------------------------------------------
AMS_K = 32

_AMS_SQL = f"""
WITH tf AS {{MAT}}(
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM ({{EXPLODE}}) GROUP BY tok
),
exact AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(c * c) AS BIGINT) AS f2
  FROM tf
),
reps AS ({{SPINE}}),
z AS {{MAT}}(
  -- one +/-1 four-wise-ish hash per replica: the top bit of the first
  -- md5 hex digit of (token | replica)
  SELECT r.j,
         CAST(sum(CASE WHEN substring(md5(concat(t.tok, '|', r.j)), 1, 1)
                         IN ('0', '1', '2', '3', '4', '5', '6', '7')
                  THEN t.c ELSE -t.c END) AS BIGINT) AS zj
  FROM tf t CROSS JOIN reps r
  GROUP BY r.j
),
est AS {{MAT}}(
  SELECT zj * zj AS e,
         row_number() OVER (ORDER BY zj * zj, zj) AS rk,
         count(*) OVER () AS k
  FROM z
)
SELECT e2.n_types, e2.n_tokens, e2.f2 AS exact_f2,
       (SELECT CAST(avg(CAST(e AS DOUBLE)) AS BIGINT) FROM est
        WHERE rk IN ((k + 1) / 2, (k + 2) / 2)) AS ams_f2_median,
       CAST({AMS_K} AS BIGINT) AS k_replicas,
       round(abs((SELECT CAST(avg(CAST(e AS DOUBLE)) AS BIGINT) FROM est
                  WHERE rk IN ((k + 1) / 2, (k + 2) / 2))
                 - CAST(e2.f2 AS DOUBLE)) / e2.f2 - 1e-9, 4) + 0.0
         AS rel_error
FROM exact e2
"""


@query(
    "ams_f2_sketch",
    _AMS_SQL.replace("{MAT}", "MATERIALIZED ")
    .replace(
        "{EXPLODE}",
        "SELECT unnest(regexp_split_to_array(lower(trim(text)),"
        " '\\s+')) AS tok FROM documents",
    )
    .replace("{SPINE}", f"SELECT unnest(range(1, {AMS_K + 1})) AS j"),
)
def ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alon-Matias-Szegedy F₂ sketch of the token stream: the second
    frequency moment Σc² (self-join size / repeat rate) estimated by
    the median of 32 squared ±1-signed sums — THE founding streaming
    sketch, needing O(k) memory where the exact answer needs the whole
    vocabulary.  Reported against the exact F₂ with the realized
    relative error; each replica's Z_j = Σ±c is an exact BIGINT (signs
    from md5, reproducible in any engine), and the median is an exact
    positional order statistic (avg of the two middle for even k).

    Scale shape: one token explode → vocab-sized counts; the sketch
    stage is vocab × 32 (sublinear in corpus), and in a true streaming
    deployment folds into one pass of k signed counters.
    tests/test_wave15.py pins the estimator's unbiasedness shape on a
    planted uniform vocabulary (median within 3/√k of truth) and the
    E[Z]=0 sanity."""
    docs = load_table(spark, sf_dir, "documents")
    docs.select(
        F.explode(text.tokens("text")).alias("tok")
    ).createOrReplaceTempView("ams_toks")
    return spark.sql(
        _AMS_SQL.replace("{MAT}", "")
        .replace("{EXPLODE}", "SELECT tok FROM ams_toks")
        .replace(
            "{SPINE}", f"SELECT explode(sequence(1, {AMS_K})) AS j"
        )
    )


# --------------------------------------------------------------------------
# Count-based readability battery (ARI / Coleman-Liau / LIX / RIX)
# --------------------------------------------------------------------------
_READ_SQL = """
WITH d AS {MAT}(
  SELECT lang,
         CAST(length({LETTERS}) AS BIGINT) AS letters,
         CAST(length(text) AS BIGINT) AS chars,
         CAST({WORDS} AS BIGINT) AS words,
         CAST({SENTS} + 1 AS BIGINT) AS sents,
         CAST({LONGW} AS BIGINT) AS longw
  FROM {documents}
),
g AS {MAT}(
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(letters) AS BIGINT) AS l,
         CAST(sum(chars) AS BIGINT) AS c,
         CAST(sum(words) AS BIGINT) AS w,
         CAST(sum(sents) AS BIGINT) AS s,
         CAST(sum(longw) AS BIGINT) AS lw
  FROM d GROUP BY lang
)
SELECT lang, n_docs,
       round(4.71 * (CAST(l AS DOUBLE) / w)
             + 0.5 * (CAST(w AS DOUBLE) / s) - 21.43 - 1e-9, 4) + 0.0
         AS ari,
       round(0.0588 * (CAST(l AS DOUBLE) / w * 100.0)
             - 0.296 * (CAST(s AS DOUBLE) / w * 100.0) - 15.8 - 1e-9, 4)
         + 0.0 AS coleman_liau,
       round(CAST(w AS DOUBLE) / s
             + 100.0 * (CAST(lw AS DOUBLE) / w) - 1e-9, 4) + 0.0 AS lix,
       round(CAST(lw AS DOUBLE) / s - 1e-9, 4) + 0.0 AS rix
FROM g ORDER BY lang
"""


@query(
    "readability_battery",
    _READ_SQL.replace("{documents}", "documents")
    .replace("{MAT}", "MATERIALIZED ")
    .replace("{LETTERS}", "regexp_replace(text, '[^a-zA-Z]', '', 'g')")
    .replace(
        "{WORDS}", r"len(regexp_split_to_array(lower(trim(text)), '\s+'))"
    )
    .replace("{SENTS}", "len(regexp_extract_all(text, '[.!?]'))")
    .replace("{LONGW}", r"len(regexp_extract_all(text, '\S{7,}'))"),
)
def readability_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based readability battery per language: ARI (Automated
    Readability Index), Coleman-Liau, LIX and RIX — the
    syllable-free readability formulas (unlike Flesch they need only
    letter/word/sentence/long-word counts, so they are EXACT — no
    syllable heuristic to diverge) that corpus-quality pipelines use
    to flag too-simple (boilerplate lists) and too-dense (OCR noise,
    legalese) strata.  Complements ``flesch_reading_ease``.

    Determinism: all five per-doc counts are exact integers (dialect
    slots pair Spark's flagless regexp_replace with DuckDB's 'g' flag,
    and regexp_count with len(regexp_extract_all)); per-lang sums are
    exact BIGINTs; each index is one fixed IEEE tree.  One corpus
    scan, rollup to |langs| rows."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "read_docs"
    )
    return spark.sql(
        _READ_SQL.replace("{documents}", "read_docs")
        .replace("{MAT}", "")
        .replace("{LETTERS}", "regexp_replace(text, '[^a-zA-Z]', '')")
        .replace("{WORDS}", r"size(split(lower(trim(text)), '\\s+'))")
        .replace("{SENTS}", "regexp_count(text, '[.!?]')")
        .replace("{LONGW}", r"regexp_count(text, '\\S{7,}')")
    )


# --------------------------------------------------------------------------
# Tokenizer fertility per language (sub-word pieces per whitespace word)
# --------------------------------------------------------------------------
_FERT_SQL = r"""
WITH d AS {MAT}(
  SELECT lang,
         CAST({WORDS} AS BIGINT) AS words,
         CAST({PIECES} AS BIGINT) AS pieces
  FROM {documents}
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(words) AS BIGINT) AS total_words,
       CAST(sum(pieces) AS BIGINT) AS total_pieces,
       round(CAST(sum(pieces) AS DOUBLE) / sum(words) - 1e-9, 4) + 0.0
         AS fertility
FROM d GROUP BY lang ORDER BY lang
"""


@query(
    "tokenizer_fertility_by_lang",
    _FERT_SQL.replace("{documents}", "documents")
    .replace("{MAT}", "MATERIALIZED ")
    .replace(
        "{WORDS}", r"len(regexp_split_to_array(lower(trim(text)), '\s+'))"
    )
    .replace(
        "{PIECES}",
        r"len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))",
    ),
)
def tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility per language: sub-word pieces (the BPE-ish
    regex segmentation from ``functions.text.bpe_ish_count``) per
    whitespace word — THE tokenizer-evaluation number multilingual
    pipelines track (fertility ≫ 1 for a language means the tokenizer
    fragments it, inflating sequence lengths and training cost for
    that language; the fairness argument behind vocabulary-size
    decisions).

    Determinism: both counts are exact per-row integers (Spark
    regexp_count paired with DuckDB len(regexp_extract_all) — the
    readability-battery convention), per-lang sums exact BIGINTs, the
    ratio one fixed expression.  One corpus scan → |langs| rows."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "fert_docs"
    )
    return spark.sql(
        _FERT_SQL.replace("{documents}", "fert_docs")
        .replace("{MAT}", "")
        .replace("{WORDS}", r"size(split(lower(trim(text)), '\\s+'))")
        .replace(
            "{PIECES}",
            r"regexp_count(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')",
        )
    )
