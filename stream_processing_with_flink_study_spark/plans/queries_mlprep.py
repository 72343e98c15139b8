"""Training-data preparation queries, third wave (SURVEY §7.2 step 9):
eval-set decontamination, BM25 relevance scoring, token-entropy quality
signals, PII/URL scanning, and time-series gap-fill with linear
interpolation.

Scale shapes:

- decontamination joins the (tiny) eval-set n-gram side broadcast
  against the train shingle explode — the train corpus never shuffles
  on shingle strings;
- BM25 needs one tf explode + two small aggregates (document
  frequencies, corpus stats) that broadcast back onto the tf rows;
- entropy / PII are single-pass map-side-combined aggregates;
- gap-fill generates the dense grid distributed (explode over
  ``sequence``) — never on the driver — and interpolates with two
  ignore-nulls window passes per direction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text
from ..sources import load_table
from .registry import query


# --------------------------------------------------------------------------
# eval-set decontamination (n-gram overlap)
# --------------------------------------------------------------------------
_DECON_SQL = """
  WITH evalset AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tokens
    FROM documents WHERE doc_id % 23 = 0
  ),
  train AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tokens
    FROM documents WHERE doc_id % 23 <> 0
    UNION ALL
    SELECT doc_id + 3000000, tokens[2:] FROM evalset
  ),
  eval_grams AS (
    SELECT DISTINCT doc_id,
      unnest(list_transform(
        generate_series(1, greatest(len(tokens) - 4, 0)),
        i -> array_to_string(tokens[i:i+4], ' '))) AS gram
    FROM evalset
  ),
  train_grams AS (
    SELECT DISTINCT doc_id,
      unnest(list_transform(
        generate_series(1, greatest(len(tokens) - 4, 0)),
        i -> array_to_string(tokens[i:i+4], ' '))) AS gram
    FROM train
  )
  SELECT t.doc_id AS train_id,
         count(DISTINCT t.gram) AS n_shared,
         count(DISTINCT e.doc_id) AS n_eval_docs
  FROM train_grams t JOIN eval_grams e ON t.gram = e.gram
  GROUP BY t.doc_id
"""


@query("decontaminate_ngrams", oracle=_DECON_SQL)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag training documents sharing any
    5-gram with a held-out eval split (doc_id % 23).  Planted ground
    truth: each eval doc re-enters the train side perturbed (first token
    dropped, id + 3M) and must be flagged.

    Scale shape: the eval side is a fixed, small fraction of the corpus
    (an eval benchmark is KBs against TBs of training data), so its
    distinct n-gram set is broadcast; the train-side shingle explode is
    filtered by the broadcast hash join map-side — no shuffle of train
    shingle strings ever happens, and the only exchange is the final
    per-train-doc count aggregate."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", text.tokens("text").alias("toks")
    )
    evalset = docs.filter(F.col("doc_id") % 23 == 0)
    train = docs.filter(F.col("doc_id") % 23 != 0).unionByName(
        evalset.select(
            (F.col("doc_id") + 3_000_000).alias("doc_id"),
            F.slice("toks", 2, F.greatest(F.size("toks") - 1, F.lit(0))).alias(
                "toks"
            ),
        )
    )

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        # per-doc uniqueness via array_distinct (narrow, inside the row)
        # — a global .distinct() here would shuffle every train shingle
        # string corpus-wide, the exact exchange this query must avoid
        return df.select(
            F.col("doc_id").alias(out_id),
            F.explode(
                F.array_distinct(text.word_shingles(F.col("toks"), n=5))
            ).alias("gram"),
        )

    eval_grams = grams(evalset, "eval_id")
    train_grams = grams(train, "train_id")
    return (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(F.col("train_id"))
        .agg(
            F.countDistinct("gram").alias("n_shared"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


# --------------------------------------------------------------------------
# BM25 relevance scoring against the corpus' own top-df terms
# --------------------------------------------------------------------------
_BM25_SQL = """
  WITH toks AS (
    SELECT doc_id,
      unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
    FROM documents
  ),
  tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks
    WHERE term <> '' GROUP BY doc_id, term
  ),
  dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
  stats AS (
    SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
  ),
  df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
  qterms AS (
    SELECT term, df FROM df ORDER BY df DESC, term ASC LIMIT 3
  )
  SELECT tf.doc_id,
         round(sum(
           ln(1 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
           * tf.tf * 2.2
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
         ), 4) AS bm25,
         count(*) AS n_hit_terms
  FROM tf
  JOIN qterms q ON tf.term = q.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY tf.doc_id
"""


@query("bm25_scores", oracle=_BM25_SQL)
def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) of every document against the query
    = the corpus' own top-3 document-frequency terms (deterministic
    tie-break by term), self-contained on synthetic data.

    Scale shape: one shuffle builds the (doc, term, tf) index; document
    frequencies reuse it with a map-side-combined agg; the 3 query
    terms and the 1-row corpus stats broadcast back onto tf, so scoring
    itself is shuffle-free up to the final per-doc sum."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(text.tokens("text")).alias("term")
    )
    # tf feeds four consumers (dl, corpus stats, document frequencies,
    # final scoring join) — persist so the token explode + first shuffle
    # run once instead of four times
    tf = (
        toks.filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    qterms = dfreq.orderBy(F.col("df").desc(), F.col("term").asc()).limit(3)
    idf = F.log(
        F.lit(1)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib), 4).alias("bm25"),
            F.count("*").alias("n_hit_terms"),
        )
    )


# --------------------------------------------------------------------------
# token-entropy quality signal
# --------------------------------------------------------------------------
_ENTROPY_SQL = """
  WITH toks AS (
    SELECT doc_id,
      unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
    FROM documents
  ),
  counts AS (
    SELECT doc_id, term, count(*) AS c FROM toks
    WHERE term <> '' GROUP BY doc_id, term
  )
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy,
         round(CASE WHEN sum(c) > 1
               THEN (ln(sum(c)) - sum(c * ln(c)) / sum(c)) / ln(sum(c))
               ELSE 0 END, 4) AS norm_entropy
  FROM counts GROUP BY doc_id
"""


@query("token_entropy", oracle=_ENTROPY_SQL)
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon token entropy (nats) + entropy normalized by
    ln(n_tokens) — low values mark repetitive, low-information documents
    (the distribution-level sibling of `repetition_ratio`).

    ``H = ln(n) - Σ c·ln(c) / n`` needs only per-(doc, token) counts, so
    the whole signal is two map-side-combined hash aggregates; nothing
    holistic, no window sort."""
    counts = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(text.tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c")
    ent = F.log(n) - F.sum(F.col("c") * F.log("c")) / n
    return counts.groupBy("doc_id").agg(
        n.alias("n_tokens"),
        F.round(ent, 4).alias("entropy"),
        F.round(
            F.when(n > 1, ent / F.log(n)).otherwise(F.lit(0.0)), 4
        ).alias("norm_entropy"),
    )


# --------------------------------------------------------------------------
# PII / URL scan (planted patterns; per-language aggregate report)
# --------------------------------------------------------------------------
_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_URL_RE = "https?://[a-z0-9./-]+"
_PHONE_RE = "555-[0-9]{3}"

_PII_SQL = f"""
  WITH corpus AS (
    SELECT doc_id, lang,
      lower(trim(text))
      || CASE WHEN doc_id % 7 = 0
              THEN ' contact user' || doc_id || '@example.com' ELSE '' END
      || CASE WHEN doc_id % 11 = 0
              THEN ' see https://site' || doc_id || '.example.org/a' ELSE '' END
      || CASE WHEN doc_id % 13 = 0
              THEN ' call 555-' || (100 + doc_id % 900) ELSE '' END
      AS text
    FROM documents
  ),
  hits AS (
    SELECT lang,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_email,
           len(regexp_extract_all(text, '{_URL_RE}')) AS n_url,
           len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phone
    FROM corpus
  )
  SELECT lang,
         count(*) AS n_docs,
         CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_email,
         CAST(sum(n_email) AS BIGINT) AS total_email,
         CAST(sum(CASE WHEN n_url > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_url,
         CAST(sum(n_url) AS BIGINT) AS total_url,
         CAST(sum(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_phone,
         CAST(sum(n_phone) AS BIGINT) AS total_phone
  FROM hits GROUP BY lang
"""


@query("pii_scan", oracle=_PII_SQL)
def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / URL scanning: count email, URL, and phone-shaped matches
    per language over a corpus with deterministically planted PII
    (every 7th doc gains an email, 11th a URL, 13th a phone).  The
    patterns are RE2-safe so the DuckDB oracle runs them verbatim.

    Pure projection + one tiny (5-row) hash aggregate — the scan
    parallelizes per input split with zero data movement beyond the
    5-row partials."""
    d = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.lower(F.trim("text")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" see https://site"),
                F.col("doc_id"),
                F.lit(".example.org/a"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.lit(" call 555-"), (100 + F.col("doc_id") % 900)),
        ).otherwise(F.lit("")),
    )
    hits = d.select(
        "lang",
        F.size(F.regexp_extract_all(planted, F.lit(_EMAIL_RE), 0)).alias(
            "n_email"
        ),
        F.size(F.regexp_extract_all(planted, F.lit(_URL_RE), 0)).alias("n_url"),
        F.size(F.regexp_extract_all(planted, F.lit(_PHONE_RE), 0)).alias(
            "n_phone"
        ),
    )
    return hits.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("n_email") > 0).cast("long")).alias("docs_email"),
        F.sum("n_email").alias("total_email"),
        F.sum((F.col("n_url") > 0).cast("long")).alias("docs_url"),
        F.sum("n_url").alias("total_url"),
        F.sum((F.col("n_phone") > 0).cast("long")).alias("docs_phone"),
        F.sum("n_phone").alias("total_phone"),
    )


# --------------------------------------------------------------------------
# time-series gap-fill + linear interpolation
# --------------------------------------------------------------------------
_GAP_FILL_SQL = """
  WITH hourly AS (
    SELECT user_id, date_trunc('hour', ts) AS h, avg(value) AS v
    FROM events WHERE user_id < 40 GROUP BY 1, 2
  ),
  bounds AS (
    SELECT user_id, min(h) AS h_min, max(h) AS h_max
    FROM hourly GROUP BY user_id
  ),
  grid AS (
    SELECT user_id,
      unnest(generate_series(h_min, h_max, INTERVAL 1 HOUR)) AS h
    FROM bounds
  ),
  joined AS (
    SELECT g.user_id, g.h, hr.v FROM grid g
    LEFT JOIN hourly hr ON g.user_id = hr.user_id AND g.h = hr.h
  ),
  ctx AS (
    SELECT user_id, h, v,
      last_value(v IGNORE NULLS) OVER w_prev AS prev_v,
      last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
        OVER w_prev AS prev_h,
      first_value(v IGNORE NULLS) OVER w_next AS next_v,
      first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
        OVER w_next AS next_h
    FROM joined
    WINDOW
      w_prev AS (PARTITION BY user_id ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      w_next AS (PARTITION BY user_id ORDER BY h
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
  )
  -- floor(x*1e4) instead of round(x, 4): interpolation lands on
  -- terminating-in-5 decimals where Spark (decimal-string HALF_UP) and
  -- DuckDB (binary) round differently; floor of the identical IEEE
  -- double is bit-stable across engines
  SELECT user_id, epoch_ms(h) AS hour_ms,
         CAST(floor(10000 * CASE
           WHEN v IS NOT NULL THEN v
           WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
             prev_v + (next_v - prev_v)
             * (epoch_ms(h) - epoch_ms(prev_h))
             / (epoch_ms(next_h) - epoch_ms(prev_h))
           ELSE coalesce(prev_v, next_v) END) AS BIGINT) AS interp_e4,
         CASE WHEN v IS NULL THEN 1 ELSE 0 END AS is_gap
  FROM ctx
"""


@query("gap_fill_interpolate", oracle=_GAP_FILL_SQL)
def gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: per-user hourly averages on a dense hour
    grid from each user's first to last event, gaps linearly
    interpolated between the nearest present neighbors (edges clamp to
    the nearest value).

    Scale shape: the dense grid is generated DISTRIBUTED — an
    ``explode(sequence(min, max, 1h))`` per user, never a driver-side
    range — and interpolation is two ignore-nulls window passes over
    data already hash-partitioned by user, so the whole query is one
    shuffle (the per-user sort reuses the groupBy partitioning)."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .groupBy(
            "user_id", F.date_trunc("hour", "ts").alias("h")
        )
        .agg(F.avg("value").alias("v"))
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("h_min"), F.max("h").alias("h_max"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h_min", "h_max", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    joined = grid.join(hourly, ["user_id", "h"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    present_h = F.when(F.col("v").isNotNull(), F.col("h"))
    ctx = joined.select(
        "user_id",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(present_h, ignorenulls=True).over(w_prev).alias("prev_h"),
        F.first("v", ignorenulls=True).over(w_next).alias("next_v"),
        F.first(present_h, ignorenulls=True).over(w_next).alias("next_h"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(),
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (F.unix_millis("h") - F.unix_millis("prev_h"))
            / (F.unix_millis("next_h") - F.unix_millis("prev_h")),
        )
        .otherwise(F.coalesce("prev_v", "next_v"))
    )
    return ctx.select(
        "user_id",
        F.unix_millis("h").alias("hour_ms"),
        # floor(x*1e4), not round(x,4): bit-stable across engines (see
        # the oracle SQL comment)
        F.floor(interp * 10000).cast("long").alias("interp_e4"),
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("is_gap"),
    )


# --------------------------------------------------------------------------
# deterministic weighted sampling (Efraimidis-Spirakis A-ES)
# --------------------------------------------------------------------------
_WEIGHTED_SAMPLE_SQL = """
  WITH scored AS (
    SELECT doc_id, n_chars,
      ln((CAST(concat('0x', substr(md5(concat('w0|',
            CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) + 1.0)
         / 4294967297.0) / n_chars AS es_score
    FROM documents WHERE n_chars > 0
  )
  SELECT doc_id, n_chars, round(es_score, 8) AS es_score
  FROM scored ORDER BY es_score DESC, doc_id LIMIT 50
"""


@query("sample_weighted_chars", oracle=_WEIGHTED_SAMPLE_SQL)
def sample_weighted_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement: 50 documents
    drawn with probability proportional to length (A-ES: top-k by
    ``ln(hash-uniform)/weight``).  See
    :func:`..functions.sampling.weighted_sample` for the scale shape
    (pure per-row score + TakeOrderedAndProject — no global sort)."""
    from ..functions import sampling

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    picked = sampling.weighted_sample(docs, "doc_id", "n_chars", 50, salt="w0")
    return picked.select(
        "doc_id", "n_chars", F.round("es_score", 8).alias("es_score")
    )


# --------------------------------------------------------------------------
# mergeable-sketch battery (HLL + approx percentile)
# --------------------------------------------------------------------------
@query("sketch_battery")  # estimates are sketch-layout-dependent → rows-only
def sketch_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-query battery on mergeable sketches — the shape that
    survives 100 TB where exact holistic aggregation can't: per-language
    Datasketches HLL sketches of user term space (mergeable partials →
    one binary blob per group), a corpus-wide estimate from
    ``hll_union_agg`` over those SAME per-group sketches (no second
    scan), and t-digest-style ``approx_percentile`` of document length.
    Exact counterparts ride along; `tests/test_training_ops.py` bounds
    the relative error.

    Every aggregate here is algebraic (fixed-size partials, map-side
    combined) — no sketch ever exceeds ~KBs regardless of input size,
    and the union step merges 5 blobs, not 5 languages' worth of rows.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    per_lang = d.groupBy("lang").agg(
        F.hll_sketch_agg("doc_id").alias("sk"),
        F.count_distinct("doc_id").alias("exact_distinct"),
        F.approx_percentile("n_chars", 0.5, 1000).alias("approx_p50_chars"),
        F.expr("percentile(n_chars, 0.5)").alias("exact_p50_chars"),
    )
    total = per_lang.agg(
        F.lit("__all__").alias("lang"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_distinct"),
        F.sum("exact_distinct").alias("exact_distinct"),
        F.lit(None).cast("double").alias("approx_p50_chars"),
        F.lit(None).cast("double").alias("exact_p50_chars"),
    )
    return (
        per_lang.select(
            "lang",
            F.hll_sketch_estimate("sk").alias("approx_distinct"),
            "exact_distinct",
            F.col("approx_p50_chars").cast("double"),
            F.col("exact_p50_chars").cast("double"),
        )
        .unionByName(total)
    )


# --------------------------------------------------------------------------
# Python UDTF surface (Spark 4): table function + lateral join
# --------------------------------------------------------------------------
_UDTF_TOKENS_SQL = """
  WITH toks AS (
    SELECT doc_id,
      unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
    FROM documents WHERE doc_id % 10 = 0
  )
  SELECT doc_id, term, CAST(count(*) AS INT) AS cnt
  FROM toks GROUP BY doc_id, term HAVING count(*) >= 2
"""


@query("udtf_token_counts", oracle=_UDTF_TOKENS_SQL)
def udtf_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (§2.10's missing tier: a true table function — one
    input row, N typed output rows with per-row Python state) applied
    via lateral join: repeated-token counts per document.

    UDTFs are the row-path escape hatch — right for genuinely
    iterator-shaped expansions that don't fit explode/mapInPandas, and
    deliberately benchmarked here on a 10% slice: the equivalent
    explode+groupBy (see `bm25_scores`) is the scale path, this is the
    API-surface demonstration."""
    from collections import Counter
    import re

    from pyspark.sql.functions import udtf

    # Arrow-batch the UDTF exchange (plans ArrowEvalPythonUDTF, not the
    # row-serialized BatchEvalPythonUDTF) per UDTF, so it holds under any
    # session without touching session conf
    @udtf(returnType="term: string, cnt: int", useArrow=True)
    class TokenCounts:
        def eval(self, text: str):
            toks = re.split(r"\s+", text.strip().lower())
            for term, cnt in Counter(toks).items():
                if cnt >= 2:
                    yield term, cnt

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )
    return docs.lateralJoin(TokenCounts(F.col("text").outer())).select(
        "doc_id", "term", "cnt"
    )


# --------------------------------------------------------------------------
# time-series subsequence similarity search (z-normalized, UCR-style)
# --------------------------------------------------------------------------
# z-normalized 8-step rising ramp (0..7): (i - 3.5) / sqrt(5.25)
_ZQ = [
    -1.5275252316519468, -1.091089451179962, -0.6546536707079772,
    -0.2182178902359924, 0.2182178902359924, 0.6546536707079772,
    1.091089451179962, 1.5275252316519468,
]
_TS_SIM_SQL = f"""
  WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS h, avg(value) AS v
    FROM events GROUP BY 1, 2
  ),
  ctx AS (
    SELECT event_type, h, v,
      list(v) OVER w AS seq,
      last_value(h) OVER w AS h_last,
      count(*) OVER w AS n
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
  ),
  subs AS (
    SELECT event_type, epoch_ms(h) AS hour_ms, seq,
      list_sum(seq) / 8 AS mu,
      sqrt(list_sum(list_transform(seq, x -> x * x)) / 8
           - pow(list_sum(seq) / 8, 2)) AS sigma
    FROM ctx
    WHERE n = 8 AND epoch_ms(h_last) - epoch_ms(h) = 7 * 3600000
  )
  SELECT event_type, hour_ms,
    round(list_sum(list_transform(generate_series(1, 8),
      i -> pow((seq[i] - mu) / sigma
               - (ARRAY{_ZQ})[i], 2))), 4) AS zdist
  FROM subs WHERE sigma > 0
  ORDER BY zdist, event_type, hour_ms LIMIT 20
"""


@query("ts_subsequence_search", oracle=_TS_SIM_SQL)
def ts_subsequence_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search (UCR-style): the 20
    hourly 8-step subsequences (per event type) whose z-normalized shape
    is closest, in squared Euclidean distance, to a rising-ramp query
    pattern — trend detection over the metric stream.

    Scale shape: subsequence extraction is ONE window pass over data
    already partitioned by series key (collect_list over an 8-row
    frame — state is bounded by m, never the series length); the
    z-normalization + distance is a per-row array expression (no
    explode), and top-k compiles to TakeOrderedAndProject.  At 100 TB
    the same plan holds with series-key partitioning; only m-row frames
    ever sit in memory per task."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.avg("value").alias("v"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, 7)
    )
    ctx = hourly.select(
        "event_type",
        "h",
        F.collect_list("v").over(w).alias("seq"),
        F.last("h").over(w).alias("h_last"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).filter(
        (F.col("n") == 8)
        & (F.unix_millis("h_last") - F.unix_millis("h") == 7 * 3600000)
    )
    s = F.col("seq")
    mu = F.aggregate(s, F.lit(0.0), lambda a, x: a + x) / 8
    sq = F.aggregate(s, F.lit(0.0), lambda a, x: a + x * x) / 8
    subs = ctx.select(
        "event_type",
        F.unix_millis("h").alias("hour_ms"),
        "seq",
        mu.alias("mu"),
        F.sqrt(sq - mu * mu).alias("sigma"),
    ).filter(F.col("sigma") > 0)
    zq = F.array(*[F.lit(q) for q in _ZQ])
    zdist = F.aggregate(
        F.zip_with(
            s,
            zq,
            lambda x, q: F.pow((x - F.col("mu")) / F.col("sigma") - q, F.lit(2.0)),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return (
        subs.select(
            "event_type", "hour_ms", F.round(zdist, 4).alias("zdist")
        )
        .orderBy("zdist", "event_type", "hour_ms")
        .limit(20)
    )


# --------------------------------------------------------------------------
# cohort retention matrix
# --------------------------------------------------------------------------
_COHORT_SQL = """
  WITH firsts AS (
    SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
    FROM events GROUP BY user_id
  ),
  activity AS (
    SELECT DISTINCT e.user_id, f.cohort_week,
      CAST(floor(date_diff('day', f.cohort_week,
                           date_trunc('week', e.ts)) / 7) AS BIGINT)
        AS week_offset
    FROM events e JOIN firsts f ON e.user_id = f.user_id
  )
  SELECT epoch_ms(cohort_week) AS cohort_week_ms, week_offset,
         count(*) AS n_active
  FROM activity GROUP BY 1, 2
"""


@query("cohort_retention", oracle=_COHORT_SQL)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted distinct per week offset they remain active — the standard
    longitudinal engagement rollup.

    Scale shape: one shuffle builds per-user first-activity (map-side
    combined min), joined back on the SAME user_id partitioning (no new
    exchange under AQE-planned SMJ reuse), then a distinct + count pair
    on (user, cohort, offset) — all hash aggregates, no window sort."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            ).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy(
        F.unix_millis("cohort_week").alias("cohort_week_ms"), "week_offset"
    ).agg(F.count("*").alias("n_active"))


# --------------------------------------------------------------------------
# robust outliers: median / MAD
# --------------------------------------------------------------------------
_MAD_SQL = """
  WITH med AS (
    SELECT event_type, median(value) AS med
    FROM events GROUP BY event_type
  ),
  mad AS (
    SELECT e.event_type, m.med, median(abs(e.value - m.med)) AS mad
    FROM events e JOIN med m ON e.event_type = m.event_type
    GROUP BY e.event_type, m.med
  )
  SELECT e.event_type,
         count(*) AS n,
         round(any_value(m.med), 4) AS med,
         round(any_value(m.mad), 4) AS mad,
         CAST(sum(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * m.mad
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM events e JOIN mad m ON e.event_type = m.event_type
  GROUP BY e.event_type
"""


@query("mad_outliers", oracle=_MAD_SQL)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per series: |x − median| > 3·1.4826·MAD
    (the σ-consistent median-absolute-deviation rule) — unlike the
    z-score variant (`value_zscore_outliers`), immune to the outliers
    it hunts.

    Two holistic median passes (exact interpolated `percentile`, same
    as DuckDB's `median`) over a 5-group stream, each a single
    exchange; the thresholds broadcast back onto the scan for the
    final counting pass."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    return (
        e.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.any_value("med"), 4).alias("med"),
            F.round(F.any_value("mad"), 4).alias("mad"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# exponentially weighted moving average (sequential per-key recursion)
# --------------------------------------------------------------------------
# the oracle replays the IDENTICAL recursion (0.8*y + 0.2*x in doubles,
# via recursive CTE), so both engines produce bit-equal values; output
# as floor(x*1000) because even identical doubles round differently
# across engines at terminating-in-5 decimal reprs
_EWMA_SQL = """
  WITH RECURSIVE hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS h, avg(value) AS v
    FROM events GROUP BY 1, 2
  ),
  series AS (
    SELECT event_type,
           list(v ORDER BY h) AS vs,
           list(epoch_ms(h) ORDER BY h) AS hs
    FROM hourly GROUP BY event_type
  ),
  walk AS (
    SELECT event_type, vs, hs, 1 AS i, vs[1] AS y FROM series
    UNION ALL
    SELECT event_type, vs, hs, i + 1, 0.8 * y + 0.2 * vs[i + 1]
    FROM walk WHERE i < len(vs)
  )
  SELECT event_type, hs[i] AS hour_ms,
         CAST(floor(y * 1000) AS BIGINT) AS ewma_e3
  FROM walk
"""


@query("ewma_smoothing", oracle=_EWMA_SQL)
def ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing (α=0.2, adjust=False: y₁=x₁, yᵢ=0.8·yᵢ₋₁+0.2·xᵢ)
    of each event type's hourly series — the genuinely SEQUENTIAL
    per-key recursion Spark's built-in window frames cannot express
    (every prefix would re-sum), so it rides ``applyInPandas``: each
    series arrives as one Arrow batch, numpy runs the O(n) recursion.

    Scale shape: one shuffle groups by series key; per-task memory is
    one series (bounded: hours × keys is the rollup cardinality, not
    the event count — the raw stream is pre-aggregated map-side before
    the group ever forms).  The oracle replays the identical
    recursion as a recursive CTE (bit-identical doubles);
    output as floor(x*1000) — see the gap-fill note on cross-engine
    rounding of terminating-in-5 decimals."""
    import numpy as np
    import pandas as pd

    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.avg("value").alias("v"))
        .select("event_type", F.unix_millis("h").alias("hour_ms"), "v")
    )

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("hour_ms")
        x = pdf["v"].to_numpy()
        y = np.empty_like(x)
        if len(x):
            y[0] = x[0]
            for i in range(1, len(x)):
                y[i] = 0.8 * y[i - 1] + 0.2 * x[i]
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "hour_ms": pdf["hour_ms"],
                "ewma_e3": np.floor(y * 1000).astype("int64"),
            }
        )

    return hourly.groupBy("event_type").applyInPandas(
        ewma, "event_type string, hour_ms long, ewma_e3 long"
    )


# --------------------------------------------------------------------------
# blocked fuzzy matching (record linkage)
# --------------------------------------------------------------------------
_FUZZY_SQL = """
  WITH names AS (
    SELECT DISTINCT p_name,
      regexp_extract(p_name, '([a-z]+)$', 1) AS block
    FROM part
  )
  SELECT a.p_name AS name_a, b.p_name AS name_b,
         CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
  FROM names a JOIN names b
    ON a.block = b.block AND a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


@query("fuzzy_name_match", oracle=_FUZZY_SQL)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (record linkage): near-identical part
    names within an edit distance of 3, candidate pairs generated ONLY
    inside blocking-key buckets (the name's final token) — the standard
    guard that keeps fuzzy linkage from going O(n²) at corpus scale.

    Scale shape: dedupe to distinct names first (map-side-combined hash
    agg — the linkage universe is vocabulary-sized, not row-count-
    sized), then a self-join keyed on the block token; Levenshtein runs
    JVM-side only on within-block candidates."""
    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("block", F.regexp_extract("p_name", r"([a-z]+)$", 1))
    )
    a = names.alias("a")
    b = names.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 3)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
            .cast("int")
            .alias("dist"),
        )
    )


# --------------------------------------------------------------------------
# the flagship query run THROUGH Structured Streaming (registry-visible)
# --------------------------------------------------------------------------
_STREAM_FLAGSHIP_SQL = """
  SELECT epoch_ms(date_trunc('hour', ts)) AS w_start,
         epoch_ms(date_trunc('hour', ts)) + 3600000 AS w_end,
         user_id,
         round(avg(value), 4) AS avg_value,
         count(*) AS n
  FROM events GROUP BY 1, 2, 3
"""


@query("streaming_flagship_avg", oracle=_STREAM_FLAGSHIP_SQL)
def streaming_flagship_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship windowed average executed as an actual Structured
    Streaming run: file-source the events parquet, watermark, keyed
    1-hour tumbling windows, Trigger.AvailableNow to completion into a
    memory sink — the §5.3 streaming–batch equivalence contract held up
    to the driver's oracle gate itself (the batch SQL is the oracle).

    The per-(key, window) state lives in the state store and evicts as
    the watermark passes; complete mode re-emits the final table, which
    must equal the one-shot batch aggregation bit-for-bit."""
    from ..streaming import run_available_now, windowed_avg_stream
    from ..streaming.sources import events_stream
    from .registry import scratch_dir

    # encoding-aware: probes the parquet footer (nanos-long vs micros
    # timestamp) instead of hardcoding one round's physical encoding
    sdf = events_stream(spark, sf_dir)
    piped = windowed_avg_stream(
        sdf, ts="ts", key="user_id", value="value",
        size="1 hour", watermark="1 minute",
    )
    with scratch_dir("ck_flagship_stream_") as ck:
        return run_available_now(piped, ck, "complete")


# --------------------------------------------------------------------------
# T5-style span corruption: deterministic denoising training pairs
# --------------------------------------------------------------------------
@query(
    "span_corruption_pairs",
    """
    WITH t AS MATERIALIZED (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE doc_id % 5 = 0
    ),
    f AS (
      SELECT doc_id, toks,
             list_transform(range(1, len(toks) + 1),
               i -> substr(md5(concat(doc_id, ':', i)), 1, 1) <= '3')
               AS flags
      FROM t
    ),
    k AS (
      SELECT doc_id, toks, flags,
             list_transform(range(1, len(toks) + 1),
               i -> len(list_filter(flags[1:i], x -> x))) AS kk
      FROM f
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           CAST(len(list_filter(flags, x -> x)) AS BIGINT) AS n_masked,
           array_to_string(list_transform(range(1, len(toks) + 1),
             i -> CASE WHEN flags[i]
                       THEN '<extra_id_' || (kk[i] - 1) || '>'
                       ELSE toks[i] END), ' ') AS input_text,
           coalesce(array_to_string(list_transform(
             list_filter(range(1, len(toks) + 1), i -> flags[i]),
             i -> '<extra_id_' || (kk[i] - 1) || '>' || ' ' || toks[i]),
             ' '), '') AS target_text
    FROM k
    """,
)
def span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denoising (span-corruption) training pairs, the T5/UL2 data
    transform: ~25% of tokens are masked by a DETERMINISTIC hash coin
    (md5 of ``doc_id:position`` — reproducible across engines, runs,
    and partitionings, which is what makes the pair set auditable),
    masked positions are replaced by ``<extra_id_k>`` sentinels in the
    input, and the target lists each sentinel with its original token.

    Scale shape: pure per-row column expressions — tokenize once, one
    boolean flag array, one prefix-count array (O(n²) HOF on ~50-token
    docs — the n² is per row and tiny, not a corpus blow-up), two
    array_join projections.  No shuffle at all except the parquet scan;
    at 100 TB this is the ideal embarrassingly-parallel map stage.
    Every 5th doc keeps the pair table ~20% of the corpus, mirroring
    the usual corruption-sampling rate."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    base = docs.select("doc_id", text.tokens("text").alias("toks"))
    idx = F.sequence(F.lit(1), F.size("toks"))
    flagged = base.select(
        "doc_id",
        "toks",
        F.transform(
            idx,
            lambda i: F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id"), i)), 1, 1
            )
            <= "3",
        ).alias("flags"),
    )
    kk = F.transform(
        idx,
        lambda i: F.size(F.filter(F.slice("flags", 1, i), lambda x: x)),
    )
    prepped = flagged.select("doc_id", "toks", "flags", kk.alias("kk"))
    sentinel = lambda i: F.concat(
        F.lit("<extra_id_"),
        (F.element_at("kk", i) - 1).cast("string"),
        F.lit(">"),
    )
    return prepped.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.filter("flags", lambda x: x)).cast("long").alias("n_masked"),
        F.array_join(
            F.transform(
                idx,
                lambda i: F.when(
                    F.element_at("flags", i), sentinel(i)
                ).otherwise(F.element_at("toks", i)),
            ),
            " ",
        ).alias("input_text"),
        F.array_join(
            F.transform(
                F.filter(idx, lambda i: F.element_at("flags", i)),
                lambda i: F.concat(
                    sentinel(i), F.lit(" "), F.element_at("toks", i)
                ),
            ),
            " ",
        ).alias("target_text"),
    )


# --------------------------------------------------------------------------
# DP-prep: per-user contribution bounding before aggregation
# --------------------------------------------------------------------------
@query(
    "contribution_capped_stats",
    """
    WITH ranked AS (
      SELECT event_type, user_id, value,
             row_number() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) AS r
      FROM events
    ),
    capped AS (SELECT * FROM ranked WHERE r <= 5)
    SELECT event_type,
           count(*) AS n_capped_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(least(value, 500.0)), 4) AS sum_clamped_value,
           round(count(*) * 1.0
                 / count(DISTINCT user_id), 4) AS avg_events_per_user
    FROM capped
    GROUP BY event_type
    """,
)
def contribution_capped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The differential-privacy PREPROCESSING contract (contribution
    bounding): before any DP mechanism can add calibrated noise, each
    user's influence on every aggregate must be capped — here at most
    5 events per (user, event_type), first-5 by event time
    (deterministic tiebreak), and per-row values clamped to 500 so the
    L1 sensitivity of the sum is 5·500 per user.  The noise draw itself
    needs true randomness and so lives OUTSIDE the deterministic
    oracle-checked plan (same honesty rule as the media-codec stub);
    everything up to it — the part that determines sensitivity — is
    the query.

    Scale shape: one window rank per (user, type) partition (the same
    shuffle the final groupBy needs anyway at this key grain), then a
    map-side-combinable aggregate; the cap bounds per-key fan-in, so
    the plan is skew-IMMUNE by construction — a user with a million
    events contributes exactly 5 rows downstream of the rank."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    capped = ev.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 5)
    return capped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_capped_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(F.least("value", F.lit(500.0))), 4).alias(
            "sum_clamped_value"
        ),
        F.round(
            F.count(F.lit(1)) / F.countDistinct("user_id"), 4
        ).alias("avg_events_per_user"),
    )


# --------------------------------------------------------------------------
# ZCA whitening of the embedding table (rows-only: eigensolve is not SQL)
# --------------------------------------------------------------------------
@query("pca_whiten_embeddings")  # eigen-decomposition → rows-only check
def pca_whiten_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA-whitened embeddings — the decorrelation pass embedding
    pipelines run before cosine dedup / ANN so dominant directions
    stop swamping the metric (whitened covariance ≈ I; verified in
    tests/test_similarity.py).  Two passes over the table: (1) exact
    moments via mergeable per-partition numpy partials
    (:func:`..functions.similarity.embedding_moments` — only
    n_partitions × d² numbers reach the driver), (2) a broadcast
    (μ, W) projection (:func:`..functions.similarity.whiten`).  The
    d×d eigensolve runs driver-side on the tiny covariance — the one
    step that is not data-parallel, and the reason this query is
    PERMANENTLY rows-only (no SQL oracle can eigendecompose, and the
    eigensolve input is the real data's covariance, so literals can't
    be baked); ZCA's symmetric W cancels eigenvector sign ambiguity,
    so output is deterministic, and the covariance≈I law in
    tests/test_similarity.py is the semantic check a hash can't give.
    The SERVING-time shape — a frozen (μ, W) applied to the corpus —
    is fully hash-checked as ``zca_whiten_frozen`` below.

    Reference scope: same vector-pipeline family as
    ``embedding_quantize_int8`` (정리/4주차.md UDF discussion)."""
    from ..functions.similarity import (
        embedding_moments,
        whiten,
        zca_whitening_matrix,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n, s, ss = embedding_moments(emb)
    if n == 0:
        # empty corpus: no covariance to eigensolve — 0 rows, schema
        # preserved (round-12 degenerate sweep)
        return spark.createDataFrame(
            [],
            "vec_id long, label int, w0 double, w1 double, w2 double, "
            "w3 double, wnorm double",
        )
    mu, w = zca_whitening_matrix(n, s, ss)
    z = whiten(emb, mu, w, id_cols=["vec_id", "label"])
    return z.select(
        "vec_id",
        "label",
        F.round(F.element_at("whitened", 1), 4).alias("w0"),
        F.round(F.element_at("whitened", 2), 4).alias("w1"),
        F.round(F.element_at("whitened", 3), 4).alias("w2"),
        F.round(F.element_at("whitened", 4), 4).alias("w3"),
        F.round(
            F.sqrt(
                F.aggregate(
                    "whitened",
                    F.lit(0.0),
                    lambda acc, x: acc + x * x,
                )
            ),
            4,
        ).alias("wnorm"),
    )


# --------------------------------------------------------------------------
# frozen-W ZCA projection: the serving-time whitening pass, full oracle
# --------------------------------------------------------------------------
def _zca_frozen_constants():
    """(W, b): a ZCA whitening matrix trained ONCE on the seeded
    synthetic unit sample (the IVF-codebook idiom — data-independent,
    so the 64×64 doubles bake identically into both engines at every
    scale factor) plus the folded bias b = W·μ_train.  Exercises the
    REAL trainer (:func:`..functions.similarity.zca_whitening_matrix`,
    symmetric-W sign convention included); production freezes exactly
    such a (μ, W) at training time and applies it to serving data."""
    import numpy as np

    from ..functions.similarity import (
        seeded_unit_sample,
        zca_whitening_matrix,
    )

    x = seeded_unit_sample(512, 64, seed=11)
    mu, w = zca_whitening_matrix(512, x.sum(axis=0), x.T @ x)
    return w, w @ mu


def _zca_frozen_oracle() -> str:
    w, b = _zca_frozen_constants()
    vals = ", ".join(
        f"({j}, [{', '.join(repr(float(v)) for v in w[j])}],"
        f" {float(b[j])!r})"
        for j in range(w.shape[0])
    )
    return f"""
    WITH wm(j, wrow, bj) AS (VALUES {vals}),
    proj AS MATERIALIZED (
      SELECT e.vec_id, e.label, w.j,
             list_dot_product(e.embedding::DOUBLE[], w.wrow) - w.bj AS wj
      FROM embeddings e CROSS JOIN wm w
    ),
    per AS (
      SELECT vec_id, label, list(wj ORDER BY j) AS wl
      FROM proj GROUP BY vec_id, label
    )
    SELECT vec_id, label,
           round(wl[1], 4) AS w0, round(wl[2], 4) AS w1,
           round(wl[3], 4) AS w2, round(wl[4], 4) AS w3,
           round(sqrt(list_dot_product(wl, wl)), 4) AS wnorm
    FROM per
    """


@query("zca_whiten_frozen", _zca_frozen_oracle())
def zca_whiten_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA whitening at SERVING time: apply a FROZEN (μ, W) — trained
    once, here on the seeded synthetic sample so the 64×64 doubles are
    literal-bakeable — to every corpus vector, z = Wx − Wμ.  This is
    the half of the whitening pipeline a 100 TB run executes billions
    of times (training the matrix happens once, on a bounded sample:
    ``pca_whiten_embeddings``); freezing it makes the projection a
    pure cross-engine-checkable expression, closing the oracle gap the
    data-trained eigensolve can't.

    Determinism: each component is ONE sequential fold
    (``zip_with``/``aggregate`` ≡ DuckDB ``list_dot_product``, the
    proven bit-equal pair) minus a literal bias; the norm accumulates
    over the j-ORDERED component list on both sides (never a bag sum).
    Scale shape: the 64-row (j, wrow, bj) frame broadcasts; the fold
    runs JVM-side per (row, j); the only shuffle is the vec_id regroup
    of 64·N skinny rows — swap in a single mapInPandas matmul per
    batch when hash-parity is not required (the numpy fast path of
    ``whiten``)."""
    import numpy as np

    w, b = _zca_frozen_constants()
    emb = load_table(spark, sf_dir, "embeddings")
    wm = spark.createDataFrame(
        [(j, [float(v) for v in w[j]], float(b[j])) for j in range(64)],
        "j int, wrow array<double>, bj double",
    )
    proj = emb.crossJoin(F.broadcast(wm)).select(
        "vec_id",
        "label",
        "j",
        (
            F.aggregate(
                F.zip_with(
                    "embedding",
                    "wrow",
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            - F.col("bj")
        ).alias("wj"),
    )
    per = proj.groupBy("vec_id", "label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("j", "wj"))),
            lambda s: s["wj"],
        ).alias("wl")
    )
    return per.select(
        "vec_id",
        "label",
        F.round(F.element_at("wl", 1), 4).alias("w0"),
        F.round(F.element_at("wl", 2), 4).alias("w1"),
        F.round(F.element_at("wl", 3), 4).alias("w2"),
        F.round(F.element_at("wl", 4), 4).alias("w3"),
        F.round(
            F.sqrt(
                F.aggregate(
                    "wl", F.lit(0.0), lambda acc, x: acc + x * x
                )
            ),
            4,
        ).alias("wnorm"),
    )


# --------------------------------------------------------------------------
# Neyman-allocation stratified sampling (variance-optimal budget split)
# --------------------------------------------------------------------------
@query(
    "neyman_allocation_sample",
    """
    WITH s AS MATERIALIZED (
      SELECT event_type, count(*) AS nh, stddev_samp(value) AS sh
      FROM events GROUP BY 1
    ),
    wsum AS (SELECT sum(nh * sh) AS w FROM s),
    alloc AS MATERIALIZED (
      SELECT event_type, nh, sh,
             CAST(floor(round(500.0 * nh * sh / (SELECT w FROM wsum),
                              6)) AS BIGINT) AS n_alloc
      FROM s
    ),
    ranked AS (
      SELECT event_type, value, row_number() OVER (
        PARTITION BY event_type
        ORDER BY md5('ney0|' || event_id), event_id) AS r
      FROM events
    ),
    samp AS (
      SELECT r.event_type, r.value FROM ranked r
      JOIN alloc a ON a.event_type = r.event_type
      WHERE r.r <= a.n_alloc
    )
    SELECT a.event_type,
           CAST(a.nh AS BIGINT) AS stratum_n,
           round(a.sh, 4) AS stratum_std,
           a.n_alloc,
           round(avg(s.value), 4) AS sampled_mean
    FROM alloc a LEFT JOIN samp s ON s.event_type = a.event_type
    GROUP BY a.event_type, a.nh, a.sh, a.n_alloc
    """,
)
def neyman_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with NEYMAN allocation — the
    variance-optimal way to spend a fixed labeling/review budget: each
    stratum (event type) gets n_h ∝ N_h·S_h, so noisy-and-large
    strata are sampled hardest (proportional allocation wastes budget
    on homogeneous strata).  Selection inside a stratum is the
    deterministic md5-rank convention (``sample_deterministic``), so
    the draw is reproducible and oracle-checkable.

    Scale shape: one pass for the stratum moments (map-side combined),
    one per-stratum hash-rank window for the draw (the only fact-sized
    shuffle), allocation math on the stratum-count-sized frame.  The
    floor() boundary rides round(·, 6) on BOTH sides so stddev
    summation jitter can never flip an allocation."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nh"),
        F.stddev_samp("value").alias("sh"),
    ).persist()
    w = s.agg(F.sum(F.col("nh") * F.col("sh"))).first()[0]
    alloc = s.select(
        "event_type",
        "nh",
        "sh",
        F.floor(
            F.round(500.0 * F.col("nh") * F.col("sh") / F.lit(w), 6)
        )
        .cast("long")
        .alias("n_alloc"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.md5(F.concat(F.lit("ney0|"), F.col("event_id"))), "event_id"
    )
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(wr).alias("r"),
    )
    samp = ranked.join(F.broadcast(alloc), "event_type").filter(
        F.col("r") <= F.col("n_alloc")
    )
    agg = samp.groupBy("event_type").agg(
        F.avg("value").alias("mean_v")
    )
    return (
        alloc.join(agg, "event_type", "left")
        .select(
            "event_type",
            F.col("nh").cast("long").alias("stratum_n"),
            F.round("sh", 4).alias("stratum_std"),
            "n_alloc",
            F.round("mean_v", 4).alias("sampled_mean"),
        )
    )


MMR_K = 10
MMR_POOL = 30
MMR_QMOD = 167
# Absolute query-set cap (the MATRYOSHKA_QCAP pattern,
# plans/queries_eval.py): without it |Q| is a corpus FRACTION and
# total candidate work grows quadratically with the corpus — the
# round-9 verdict's scale-killer.  2000 > max vec_id at both oracle
# SFs (499 / 1999), so the cap is a no-op at test scale and the
# hash-checked oracle is unchanged; at 100 TB it bounds the query
# side of brute_force_topk's broadcast to a constant.
MMR_QCAP = 2000
_MMR_LAM = "CAST(0.7 AS DOUBLE)"


def _mmr_oracle() -> str:
    """The MMR greedy unrolled as MMR_K staged CTEs (the Mondrian
    staged pattern — DuckDB inlines plain CTEs, so every stage is AS
    MATERIALIZED).  Stage t scores every not-yet-picked candidate as
    λ·rel − (1−λ)·max(sim to picks so far) and takes the per-query
    argmax with (score desc, id) tie-break.  Works as an exact hash
    twin because every input double is bit-equal to the Spark side's:
    rel is the 4-decimal candidate cosine, and the redundancy sims are
    ``list_cosine_similarity`` ≡ the sequential fold mmr_rerank uses
    (see its docstring)."""
    stages = []
    for t in range(1, MMR_K + 1):
        if t == 1:
            red, joinred, excl = "0.0", "", ""
        else:
            prev = " UNION ALL ".join(
                f"SELECT q_id, n_id FROM p{i}" for i in range(1, t)
            )
            stages.append(f"pk{t} AS MATERIALIZED ({prev})")
            joinred = f"""
      LEFT JOIN (
        SELECT s.q_id, s.i AS n_id, max(s.s) AS red
        FROM sims s JOIN pk{t} p ON p.q_id = s.q_id AND p.n_id = s.j
        GROUP BY 1, 2
      ) r ON r.q_id = c.q_id AND r.n_id = c.n_id"""
            red = "coalesce(r.red, 0.0)"
            excl = f"""
      WHERE NOT EXISTS (SELECT 1 FROM pk{t} p2
                        WHERE p2.q_id = c.q_id AND p2.n_id = c.n_id)"""
        stages.append(f"""p{t} AS MATERIALIZED (
      SELECT q_id, n_id, rel, score, {t} AS rank FROM (
        SELECT c.q_id, c.n_id, c.rel,
               {_MMR_LAM} * c.rel - (1 - {_MMR_LAM}) * {red} AS score,
               row_number() OVER (PARTITION BY c.q_id ORDER BY
                 {_MMR_LAM} * c.rel - (1 - {_MMR_LAM}) * {red} DESC,
                 c.n_id) AS rn
        FROM cand c{joinred}{excl}
      ) WHERE rn = 1
    )""")
    allp = " UNION ALL ".join(
        f"SELECT * FROM p{t}" for t in range(1, MMR_K + 1)
    )
    stages_sql = ",\n    ".join(stages)
    return f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
      FROM embeddings
      WHERE vec_id % {MMR_QMOD} = 1 AND vec_id < {MMR_QCAP}
    ),
    cand AS MATERIALIZED (
      SELECT q_id, n_id, rel + 0.0 AS rel, n_vec FROM (
        SELECT q.q_id, e.vec_id AS n_id,
               round(list_cosine_similarity(
                 q.q_vec, e.embedding::DOUBLE[]), 4) AS rel,
               e.embedding::DOUBLE[] AS n_vec,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 list_cosine_similarity(q.q_vec, e.embedding::DOUBLE[])
                   DESC, e.vec_id) AS rk
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != q.q_id
      ) WHERE rk <= {MMR_POOL}
    ),
    sims AS MATERIALIZED (
      SELECT a.q_id, a.n_id AS i, b.n_id AS j,
             list_cosine_similarity(a.n_vec, b.n_vec) AS s
      FROM cand a JOIN cand b
        ON a.q_id = b.q_id AND a.n_id != b.n_id
    ),
    {stages_sql}
    SELECT q_id, CAST(rank AS INT) AS rank, n_id,
           rel AS relevance,
           round(score - 1e-9, 4) + 0.0 AS mmr_score
    FROM ({allp})
    ORDER BY q_id, rank
    """


@query("mmr_diverse_topk", _mmr_oracle())
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-10 per query vector
    (:func:`..functions.similarity.mmr_rerank`, λ = 0.7 over the
    cosine top-30 pool) — the redundancy-killer between ANN retrieval
    and the consumer.  Hash-checked against a DuckDB oracle that
    unrolls the SAME greedy as staged CTEs (see ``_mmr_oracle``);
    the diversity property (pairwise similarity of the MMR set ≤ that
    of the plain top-k) stays pinned in tests/test_similarity.py."""
    from ..functions.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") % MMR_QMOD == 1) & (F.col("vec_id") < MMR_QCAP)
    )
    out = mmr_rerank(emb, queries, k=MMR_K, pool=MMR_POOL)
    return out.select(
        "q_id",
        "rank",
        "n_id",
        "relevance",
        (F.round(F.col("mmr_score") - 1e-9, 4) + 0.0).alias("mmr_score"),
    )


# --------------------------------------------------------------------------
# nearest-centroid classifier eval: per-label precision / recall / F1
# --------------------------------------------------------------------------
@query(
    "centroid_classifier_eval",
    """
    WITH dims AS MATERIALIZED (
      SELECT label, i, avg(embedding[i]) AS m
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
      GROUP BY label, i
    ),
    cents AS MATERIALIZED (
      SELECT label, list(m ORDER BY i) AS cent FROM dims GROUP BY label
    ),
    scored AS MATERIALIZED (
      SELECT e.vec_id, e.label AS true_label, c.label AS c_label,
             list_cosine_similarity(e.embedding, c.cent) AS cs
      FROM embeddings e CROSS JOIN cents c
    ),
    pred AS MATERIALIZED (
      SELECT vec_id, true_label, c_label AS pred_label FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id
          ORDER BY round(cs, 6) DESC, c_label) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    per AS (
      SELECT l.label,
             (SELECT count(*) FROM pred
              WHERE true_label = l.label AND pred_label = l.label) AS tp,
             (SELECT count(*) FROM pred
              WHERE true_label = l.label) AS n_true,
             (SELECT count(*) FROM pred
              WHERE pred_label = l.label) AS n_pred
      FROM (SELECT DISTINCT label FROM embeddings) l
    )
    SELECT label,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_pred AS BIGINT) AS n_pred,
           CAST(tp AS BIGINT) AS tp,
           round(tp * 1.0 / n_pred, 4) AS precision,
           round(tp * 1.0 / n_true, 4) AS recall,
           round(2.0 * tp / (n_pred + n_true), 4) AS f1
    FROM per
    """,
)
def centroid_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier over the embedding table, EVALUATED:
    per-label precision / recall / F1 of predicting each vector's
    label from its closest label centroid — the measured-model
    companion to ``label_centroid_margin``'s noise screen (margin says
    which vectors look mislabeled; this says how separable the label
    space actually is).

    Scale shape: centroids are one dimension-keyed aggregate
    (label×dim-sized); scoring crosses the corpus with the BROADCAST
    centroid table; the argmax window partitions per vector.  The
    argmax orders by cs ROUNDED to 6 (both engines' dot products
    differ in the last ulps — the tie-break must see identical keys)
    with the label as tie-break."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("i0", "x")
    ).groupBy("label", "i0").agg(F.avg("x").alias("m"))
    cents = (
        dims.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("i0", "m"))
            ).alias("arr")
        )
        .select(
            F.col("label").alias("c_label"),
            F.transform("arr", lambda s: s["m"]).alias("cent"),
        )
    )
    dot = F.aggregate(
        F.zip_with("embedding", "cent", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.col("label").alias("true_label"),
        "c_label",
        (dot / (norm(F.col("embedding")) * norm(F.col("cent")))).alias(
            "cs"
        ),
    )
    wv = Window.partitionBy("vec_id").orderBy(
        F.round(F.col("cs"), 6).desc(), F.asc("c_label")
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("true_label", F.col("c_label").alias("pred_label"))
        .persist()
    )
    n_true = pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_true")
    )
    n_pred = pred.groupBy(F.col("pred_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    tp = (
        pred.filter(F.col("true_label") == F.col("pred_label"))
        .groupBy(F.col("true_label").alias("label"))
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    return (
        n_true.join(n_pred, "label", "full_outer")
        .join(tp, "label", "left")
        .select(
            "label",
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            F.round(
                F.coalesce("tp", F.lit(0)) * 1.0 / F.col("n_pred"), 4
            ).alias("precision"),
            F.round(
                F.coalesce("tp", F.lit(0)) * 1.0 / F.col("n_true"), 4
            ).alias("recall"),
            F.round(
                2.0
                * F.coalesce("tp", F.lit(0))
                / (F.col("n_pred") + F.col("n_true")),
                4,
            ).alias("f1"),
        )
    )


JL_K = 16  # projection target dimension
JL_DIM = 64
JL_SAMPLE_MOD = 7
# Absolute cap on the sampled vector set (the MATRYOSHKA_QCAP / MMR_QCAP
# pattern): the JL concentration estimate needs a few thousand pairs, not
# corpus-proportional pairs — without this the %MOD fraction feeds a
# self-join and total work grows quadratically with the corpus (measured
# 51x wall at the 10x universe).  2000 covers every vec_id at both test
# SFs (sf0.1 max = 1999), so oracle hashes are unchanged.
JL_QCAP = 2000


@query(
    "jl_projection_distortion",
    f"""
    WITH rmat AS MATERIALIZED (
      SELECT i.i, j.j,
             CASE WHEN substr(md5(i.i || '_' || j.j), 1, 1)
                       BETWEEN '0' AND '7'
                  THEN 1.0 ELSE -1.0 END AS s
      FROM (SELECT unnest(range(1, {JL_DIM} + 1)) AS i) i
      CROSS JOIN (SELECT unnest(range(1, {JL_K} + 1)) AS j) j
    ),
    smp AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id % {JL_SAMPLE_MOD} = 0 AND vec_id < {JL_QCAP}
    ),
    diffs AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, x.i,
             a.v[x.i] - b.v[x.i] AS d
      FROM smp a
      JOIN smp b ON a.vec_id < b.vec_id,
      unnest(range(1, {JL_DIM} + 1)) AS x(i)
    ),
    orig AS (
      SELECT id_a, id_b, sum(d * d) AS d_orig2
      FROM diffs GROUP BY id_a, id_b
    ),
    projected AS (
      SELECT f.id_a, f.id_b, r.j, sum(f.d * r.s) AS pj
      FROM diffs f JOIN rmat r ON r.i = f.i
      GROUP BY f.id_a, f.id_b, r.j
    ),
    dproj AS (
      SELECT id_a, id_b, sum(pj * pj) / {JL_K} AS d_proj2
      FROM projected GROUP BY id_a, id_b
    ),
    ratios AS (
      SELECT round(p.d_proj2 / o.d_orig2 - 1e-9, 4) AS ratio
      FROM dproj p JOIN orig o
        ON p.id_a = o.id_a AND p.id_b = o.id_b
      WHERE o.d_orig2 > 0
    )
    SELECT CAST((SELECT count(*) FROM smp) AS BIGINT) AS n_vectors,
           CAST({JL_K} AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(ratio) - 1e-9, 4) AS mean_ratio,
           round(min(ratio) - 1e-9, 4) AS min_ratio,
           round(max(ratio) - 1e-9, 4) AS max_ratio,
           round(sum(CASE WHEN ratio >= 0.5 AND ratio <= 1.5
                          THEN 1.0 ELSE 0 END) / count(*) - 1e-9, 4)
             AS frac_within_50pct
    FROM ratios
    """,
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (64 → 16 dims with a
    deterministic md5-seeded ±1 Achlioptas matrix) and its distortion
    audit: for every sampled vector pair, the ratio of projected to
    original squared distance — the JL lemma says E[ratio] = 1 with
    concentration ~exp(−kε²/8), and the emitted min/max/frac-within-50%
    columns SHOW the guarantee instead of assuming it.  This is the
    dimensionality-reduction primitive for cheap first-pass ANN and
    dedup at 100 TB (project once, filter coarsely, verify exactly).

    The projection is LINEAR, so distortion is measured on difference
    vectors directly — no projected-vector storage.  Scale shape: the
    ±1 matrix is a 1024-row broadcast table; the sampled vector set is
    ABSOLUTELY capped at ``JL_QCAP`` (not a corpus fraction), so the
    pair stage is O(cap²) regardless of corpus size — the JL estimate
    needs a few thousand pairs, never corpus-proportional pairs; the
    sign entries are md5-derived on both engines, so every term is
    bit-identical before the rounded ratio."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % JL_SAMPLE_MOD == 0)
        & (F.col("vec_id") < JL_QCAP)
    )
    # tiny sampled frame, referenced by both join sides and the count —
    # checkpoint once so embeddings parquet is scanned exactly once
    smp = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).localCheckpoint()
    rmat = (
        spark.range(1, JL_DIM + 1)
        .select(F.col("id").alias("i"))
        .crossJoin(
            spark.range(1, JL_K + 1).select(F.col("id").alias("j"))
        )
        .select(
            "i",
            "j",
            F.when(
                F.substring(
                    F.md5(F.concat_ws("_", F.col("i"), F.col("j"))), 1, 1
                ).between("0", "7"),
                1.0,
            )
            .otherwise(-1.0)
            .alias("s"),
        )
    )
    # project each VECTOR once (linearity: P(a-b) = P(a) - P(b)), then
    # measure pair distortion with per-row array expressions — the
    # previous pair-then-explode shape shuffled |pairs|*k groups
    # (measured 12.3 s at sf0.1); this one shuffles |vectors|*k
    # (23 k groups) and the 1 M-pair stage is shuffle-free.
    pv = (
        smp.select("vec_id", F.posexplode("v").alias("pos", "x"))
        .select("vec_id", (F.col("pos") + 1).alias("i"), "x")
        .join(F.broadcast(rmat), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("x") * F.col("s")).alias("pj"))
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "pj"))),
                lambda st: st["pj"],
            ).alias("pvec")
        )
    )
    both = smp.join(pv, "vec_id")
    a, b = both.alias("a"), both.alias("b")
    sq_sum = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    ratios = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            sq_sum(F.col("a.v"), F.col("b.v")).alias("d_orig2"),
            (sq_sum(F.col("a.pvec"), F.col("b.pvec")) / JL_K).alias(
                "d_proj2"
            ),
        )
        .filter(F.col("d_orig2") > 0)
        .select(
            F.round(
                F.col("d_proj2") / F.col("d_orig2") - 1e-9, 4
            ).alias("ratio")
        )
    )
    n_vectors = smp.count()
    return ratios.agg(
        F.lit(n_vectors).cast("long").alias("n_vectors"),
        F.lit(JL_K).cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.avg("ratio") - 1e-9, 4).alias("mean_ratio"),
        F.round(F.min("ratio") - 1e-9, 4).alias("min_ratio"),
        F.round(F.max("ratio") - 1e-9, 4).alias("max_ratio"),
        F.round(
            F.sum(
                F.when(
                    (F.col("ratio") >= 0.5) & (F.col("ratio") <= 1.5), 1.0
                ).otherwise(0.0)
            )
            / F.count(F.lit(1))
            - 1e-9,
            4,
        ).alias("frac_within_50pct"),
    )


# --------------------------------------------------------------------------
# semantic decontamination
# --------------------------------------------------------------------------
SEMDECON_EVAL_MOD = 101
# Absolute cap on the eval slice: real eval sets are FIXED-size, not a
# corpus fraction — without the cap the broadcast side grows with N and
# the cross-score is N²/101 (measured 69x wall at the 10x universe).
# 2000 covers every vec_id at both test SFs, so oracle hashes are
# unchanged.
SEMDECON_EVAL_CAP = 2000
SEMDECON_THRESHOLD = 0.35  # sized to the synthetic corpus (max cos 0.44
# vs the eval slice); a production eval-leak sweep runs at ~0.95+


@query(
    "semantic_decontaminate",
    f"""
    WITH ev AS MATERIALIZED (
      SELECT vec_id AS eval_id, embedding FROM embeddings
      WHERE vec_id % {SEMDECON_EVAL_MOD} = 0
        AND vec_id < {SEMDECON_EVAL_CAP}
    ),
    tr AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE NOT (vec_id % {SEMDECON_EVAL_MOD} = 0
                 AND vec_id < {SEMDECON_EVAL_CAP})
    ),
    scored AS (
      SELECT t.vec_id, e.eval_id,
             round(list_cosine_similarity(t.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]), 4)
               AS cosine_sim
      FROM tr t CROSS JOIN ev e
    ),
    best AS (
      SELECT vec_id,
             max_by(eval_id, CAST(floor(cosine_sim * 10000 + 0.5) AS BIGINT)
                             * 100000000 - eval_id) AS eval_id,
             max(cosine_sim) AS cosine_sim
      FROM scored GROUP BY vec_id
    )
    SELECT vec_id, eval_id, cosine_sim
    FROM best WHERE cosine_sim >= {SEMDECON_THRESHOLD}
    ORDER BY vec_id
    """,
)
def semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) decontamination — the fuzzy sibling
    of ``decontaminate_ngrams``: flag every training vector whose best
    cosine against the held-out EVAL slice crosses a similarity
    threshold, catching paraphrased or lightly-edited eval leakage that
    exact n-gram overlap misses (the Llama/GPT-4 report methodology).
    Emits (train id, nearest eval id, rounded similarity) for the
    flagged set — the audit trail a removal pass consumes.

    Determinism: similarities are rounded to 4 BEFORE both the argmax
    tiebreak (larger eval_id wins exact ties, pinned on both engines)
    and the threshold call.  Scale shape: the eval side is an
    ABSOLUTELY-capped fixed set (``SEMDECON_EVAL_CAP`` — real eval sets
    are fixed-size, not a corpus fraction) and broadcast, so total work
    is train×|eval| = O(N), never train²; at retrieval scale the
    cross-score swaps for the IVF candidate path — registered as the
    hash-checked twin ``semantic_decontaminate_ivf`` — with this exact
    scorer as the verify stage."""
    from ..functions.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.filter(
        (F.col("vec_id") % SEMDECON_EVAL_MOD == 0)
        & (F.col("vec_id") < SEMDECON_EVAL_CAP)
    ).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").cast("array<double>").alias("ve"),
    )
    tr = emb.filter(
        ~(
            (F.col("vec_id") % SEMDECON_EVAL_MOD == 0)
            & (F.col("vec_id") < SEMDECON_EVAL_CAP)
        )
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vt")
    )
    scored = tr.crossJoin(F.broadcast(ev)).select(
        "vec_id",
        "eval_id",
        F.round(cosine(F.col("vt"), F.col("ve")), 4).alias("cosine_sim"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                "eval_id",
                F.floor(F.col("cosine_sim") * 10000 + 0.5).cast("long")
                * 100000000
                - F.col("eval_id"),
            ).alias("eval_id"),
            F.max("cosine_sim").alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= SEMDECON_THRESHOLD)
        .orderBy("vec_id")
    )


def _semdecon_ivf_oracle() -> str:
    from ..functions import similarity

    cents = similarity.ivf_centroids_values_sql(16, 64)
    qv = similarity.QUANT_VEC_SQL.format(col="embedding")
    is_eval = (
        f"vec_id % {SEMDECON_EVAL_MOD} = 0"
        f" AND vec_id < {SEMDECON_EVAL_CAP}"
    )
    return f"""
    WITH ei AS MATERIALIZED (
      SELECT vec_id, {qv} AS v FROM embeddings
    ),
    cent(cell, w) AS (VALUES {cents}),
    ranked AS MATERIALIZED (
      SELECT vec_id, cell, row_number() OVER (
        PARTITION BY vec_id
        ORDER BY list_dot_product(ei.v, c.w) DESC, cell) AS r
      FROM ei CROSS JOIN cent c
    ),
    evp AS (
      SELECT vec_id AS eval_id, cell FROM ranked
      WHERE {is_eval} AND r <= 4
    ),
    trh AS (
      SELECT vec_id, cell FROM ranked
      WHERE NOT ({is_eval}) AND r = 1
    ),
    scored AS (
      SELECT t.vec_id, e.eval_id,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 4)
               AS cosine_sim
      FROM trh t JOIN evp e USING (cell)
      JOIN embeddings a ON a.vec_id = t.vec_id
      JOIN embeddings b ON b.vec_id = e.eval_id
    ),
    best AS (
      SELECT vec_id,
             max_by(eval_id,
                    CAST(floor(cosine_sim * 10000 + 0.5) AS BIGINT)
                    * 100000000 - eval_id) AS eval_id,
             max(cosine_sim) AS cosine_sim
      FROM scored GROUP BY vec_id
    )
    SELECT vec_id, eval_id, cosine_sim
    FROM best WHERE cosine_sim >= {SEMDECON_THRESHOLD}
    ORDER BY vec_id
    """


@query("semantic_decontaminate_ivf", _semdecon_ivf_oracle())
def semantic_decontaminate_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination on the SCALE tier — the fourth
    registered index-tier twin (after ``knn_label_noise_ivf``,
    ``knn_hubness_stats_ivf``, ``smote_oversample_plan_ivf``) and the
    one the exact form's docstring has promised since round 8:
    identical best-eval-match / threshold / tie-break semantics to
    ``semantic_decontaminate``, but candidate pairs come from the IVF
    index — each eval vector probes its nprobe=4 nearest centroid
    cells, each training vector sits in exactly ONE home cell, and only
    (train, eval) pairs that share a cell get scored.  A train vector
    has one home cell and an eval vector's probe list is distinct, so
    every candidate pair arises at most once — no dedup stage.

    Scale shape: candidate work is |eval| × (cells probed × cell size)
    instead of |eval| × N, and the probe side (the exploded capped eval
    slice) is the broadcast side, so training vectors never shuffle.
    Exact-integer cell assignment (int64 fixed-point vectors vs
    literal-baked centroids, ties to the lowest cell id) keeps the
    candidate SET itself — not just the scores — bit-identical across
    engines, so the twin is fully hash-checked like the exact form."""
    from ..functions import similarity
    from ..functions.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    is_eval = (F.col("vec_id") % SEMDECON_EVAL_MOD == 0) & (
        F.col("vec_id") < SEMDECON_EVAL_CAP
    )
    centroids = similarity.quantized_centroids(16, 64)
    evc = similarity.ivf_cells(
        emb.filter(is_eval), centroids, "embedding", nprobe=4
    ).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").cast("array<double>").alias("ve"),
        F.explode("cells").alias("cell"),
    )
    trc = similarity.ivf_cells(
        emb.filter(~is_eval), centroids, "embedding", nprobe=1
    ).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("vt"),
        F.element_at("cells", 1).alias("cell"),
    )
    scored = trc.join(F.broadcast(evc), "cell").select(
        "vec_id",
        "eval_id",
        F.round(cosine(F.col("vt"), F.col("ve")), 4).alias("cosine_sim"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                "eval_id",
                F.floor(F.col("cosine_sim") * 10000 + 0.5).cast("long")
                * 100000000
                - F.col("eval_id"),
            ).alias("eval_id"),
            F.max("cosine_sim").alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= SEMDECON_THRESHOLD)
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# decision-stump screen: best single Gini split for late-shipment risk
# --------------------------------------------------------------------------
_STUMP_SQL = """
WITH base AS {MAT}(
  SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
         THEN 1 ELSE 0 END AS f_urgent,
         CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
           AS f_building,
         CASE WHEN o.o_totalprice >= 150000 THEN 1 ELSE 0 END
           AS f_bigticket,
         CASE WHEN c.c_acctbal < 0 THEN 1 ELSE 0 END AS f_debtor,
         CASE WHEN {DD} > 60 THEN 1 ELSE 0 END AS y
  FROM {orders} o
  JOIN {customer} c ON c.c_custkey = o.o_custkey
  JOIN (SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS first_ship
        FROM {lineitem} GROUP BY l_orderkey) li
    ON li.l_orderkey = o.o_orderkey
),
feat AS {MAT}(
  SELECT f.name, CASE f.name
           WHEN 'urgent' THEN b.f_urgent
           WHEN 'building' THEN b.f_building
           WHEN 'bigticket' THEN b.f_bigticket
           ELSE b.f_debtor END AS v,
         b.y
  FROM base b
  CROSS JOIN (SELECT 'urgent' AS name UNION ALL SELECT 'building'
              UNION ALL SELECT 'bigticket'
              UNION ALL SELECT 'debtor') f
),
cells AS {MAT}(
  SELECT name, v,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS pos
  FROM feat GROUP BY name, v
),
split AS {MAT}(
  -- weighted Gini after the split, from exact integer counts:
  -- sum over sides of n_s/n * 2 p_s (1 - p_s)
  SELECT name,
         CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS pos,
         sum(2.0 * pos * (CAST(n - pos AS DOUBLE) / n))
           / sum(CAST(n AS BIGINT)) AS gini_after
  FROM cells GROUP BY name
),
scored AS {MAT}(
  SELECT name, n,
         round(2.0 * pos * (CAST(n - pos AS DOUBLE) / n) / n
               - gini_after - 1e-9, 6) + 0.0 AS gini_reduction,
         round(2.0 * pos * (CAST(n - pos AS DOUBLE) / n) / n
               - 1e-9, 6) + 0.0 AS gini_root
  FROM split
),
best AS (
  SELECT name FROM scored
  ORDER BY gini_reduction DESC, name LIMIT 1
)
SELECT s.name AS feature, s.n AS n_orders, s.gini_root,
       s.gini_reduction,
       CASE WHEN s.name = b.name THEN CAST(1 AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS is_best_split
FROM scored s CROSS JOIN best b
ORDER BY s.gini_reduction DESC, s.name
"""


@query(
    "decision_stump_gini",
    _STUMP_SQL.replace("{orders}", "orders")
    .replace("{customer}", "customer")
    .replace("{lineitem}", "lineitem")
    .replace(
        "{DD}",
        "date_diff('day', CAST(o.o_orderdate AS DATE), li.first_ship)",
    )
    .replace("{MAT}", "MATERIALIZED "),
)
def decision_stump_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump feature screen: which single binary feature
    (urgent priority / BUILDING segment / big-ticket / debtor
    customer) best splits late-first-shipment risk by Gini impurity
    reduction — the CART root-node decision, and the 30-second answer
    to "is any of these segmentations predictive AT ALL" before anyone
    trains a tree.  Reports the root Gini, each feature's reduction,
    and the argmax (rounded before the cut, name tiebreak).

    Determinism: every cell is an exact integer count; per-side Gini
    2p(1−p) is computed as 2·pos·(n−pos)/n/n — two divisions of exact
    integers; the 2-side weighted sum is absorbed by the standing
    rounding convention.  tests/test_wave19.py plants a perfectly
    separating feature against coins and pins it with reduction =
    root Gini.

    Scale shape: one fact join fans out ×4 features into a 8-cell
    count table (map-side combinable); everything after is O(1)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "stump_orders"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "stump_customer"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "stump_lineitem"
    )
    return spark.sql(
        _STUMP_SQL.replace("{orders}", "stump_orders")
        .replace("{customer}", "stump_customer")
        .replace("{lineitem}", "stump_lineitem")
        .replace(
            "{DD}",
            "datediff(li.first_ship, CAST(o.o_orderdate AS DATE))",
        )
        .replace("{MAT}", "")
    )


def stump_frame(feat: DataFrame) -> DataFrame:
    """Stump screen over any (name, v, y) frame; see
    :func:`decision_stump_gini`."""
    feat.createOrReplaceTempView("stump_feat_frame")
    sql = _STUMP_SQL.replace("{MAT}", "")
    head = sql.index("cells AS ")
    return feat.sparkSession.sql(
        "WITH feat AS (SELECT name, CAST(v AS BIGINT) AS v,"
        " CAST(y AS BIGINT) AS y FROM stump_feat_frame),\n" + sql[head:]
    )


@query(
    "hard_negative_mining",
    oracle="""
    WITH lab AS (SELECT doc_id, lang FROM documents),
    q AS (
      SELECT e.vec_id AS q_id, e.embedding AS q_vec, l.lang AS q_lang
      FROM embeddings e JOIN lab l ON l.doc_id = e.vec_id
      WHERE e.vec_id < 10
    ),
    scored AS MATERIALIZED (
      SELECT q.q_id, e.vec_id AS n_id, l.lang AS neg_label,
             list_cosine_similarity(q.q_vec::DOUBLE[],
                                    e.embedding::DOUBLE[]) AS sim
      FROM embeddings e JOIN lab l ON l.doc_id = e.vec_id CROSS JOIN q
      WHERE e.vec_id != q.q_id AND l.lang != q.q_lang
        AND round(list_cosine_similarity(q.q_vec::DOUBLE[],
                                         e.embedding::DOUBLE[]), 4) < 0.95
    )
    SELECT q_id, n_id, neg_label, round(sim, 4) AS cosine_sim,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: per
    query vector, the top-5 most-similar corpus items that carry a
    DIFFERENT language label and sit below the 0.95 near-duplicate
    ceiling — the "confusable but wrong" pairs that sharpen retrieval
    models (random negatives are trivially separable; near-dups would
    be false negatives).  Labels ride the broadcast sides; the corpus
    is scored once (brute-force tier — the IVF/LSH ladder is the
    retrieval-scale candidate path); the ceiling compares the ROUNDED
    similarity so the cut is engine-stable."""
    from ..functions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    labels = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return similarity.hard_negatives(
        emb, emb.filter(F.col("vec_id") < 10), labels, k=5
    )


# --------------------------------------------------------------------------
# DSIR-style importance weights (hashed n-gram LM ratio, Xie et al. '23)
# --------------------------------------------------------------------------
_DSIR_B = 64
_DSIR_SQL = """
WITH tok AS {MAT}(
  SELECT doc_id, lang, CAST({HASH} % 64 AS INT) AS b
  FROM (SELECT doc_id, lang, {TOK} AS t FROM {documents})
),
db AS {MAT}(
  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS cnt
  FROM tok GROUP BY 1, 2
),
br AS {MAT}(
  SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tok GROUP BY 1
),
bt AS {MAT}(
  SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tok
  WHERE {TARGET_COND} GROUP BY 1
),
tot AS {MAT}(
  SELECT CAST(sum(cr) AS BIGINT) AS tr,
         CAST((SELECT sum(ct) FROM bt) AS BIGINT) AS tt
  FROM br
),
lr AS {MAT}(
  SELECT br.b,
         (ln((CAST(coalesce(bt.ct, 0) AS DOUBLE) + 1.0)
             / (CAST(tot.tt AS DOUBLE) + 64.0))
          - ln((CAST(br.cr AS DOUBLE) + 1.0)
               / (CAST(tot.tr AS DOUBLE) + 64.0))) * 1000000.0 AS q
  FROM br LEFT JOIN bt ON bt.b = br.b CROSS JOIN tot
),
lr6 AS {MAT}(
  SELECT b, CAST(floor(q + 0.5) AS BIGINT) AS lr6 FROM lr
),
sc AS {MAT}(
  SELECT d.doc_id, CAST(sum(d.cnt * l.lr6) AS BIGINT) AS w6,
         CAST(sum(d.cnt) AS BIGINT) AS n_tokens
  FROM db d JOIN lr6 l ON l.b = d.b
  GROUP BY 1
)
SELECT doc_id, n_tokens,
       round(CAST(w6 AS DOUBLE) / 1000000.0 - 1e-9, 4) + 0.0
         AS log_importance,
       CAST(rk AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (ORDER BY w6 DESC, doc_id) AS rk FROM sc
) WHERE rk <= 50
ORDER BY rk
"""

_DSIR_DUCK = {
    "{TOK}": r"unnest(regexp_split_to_array(lower(trim(text)), '\s+'))",
    "{HASH}": "CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)",
    "{MAT}": "MATERIALIZED ",
}
_DSIR_SPARK = {
    "{TOK}": r"explode(split(lower(trim(text)), '\\s+'))",
    "{HASH}": "CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT)",
    "{MAT}": "",
}


def _dsir_render(slots: dict, documents: str, target_cond: str) -> str:
    sql = _DSIR_SQL
    for k, v in slots.items():
        sql = sql.replace(k, v)
    return sql.replace("{documents}", documents).replace(
        "{TARGET_COND}", target_cond
    )


@query(
    "dsir_importance_weights",
    _dsir_render(_DSIR_DUCK, "documents", "lang = 'en'"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): score every raw
    document by the hashed-unigram log-likelihood ratio between a
    TARGET distribution (here: the English subcorpus) and the raw
    pool — Σ_tokens ln(p_target(h(t)) / p_raw(h(t))) with add-1
    smoothing over 64 md5 buckets — then keep the top-50 by importance
    (deterministic tiebreak).  The importance-resampling front door of
    modern pretraining curation: cheap hashed features stand in for a
    target LM.

    Determinism: per-bucket log-ratios are computed ONCE over exact
    global BIGINT counts and quantized to 1e-6 integers, so each
    document's score is an exact integer dot product (cnt · lr6) —
    no per-doc float sums to diverge.  Identity law (target ≡ raw ⇒
    all scores exactly 0) and the en-over-zh ordering are pinned in
    tests/test_anova_periodogram.py.

    Scale shape: one token explode → (doc, bucket) counts (map-side
    combined); bucket stats are 64 rows broadcast back; scoring is one
    join keyed on the 64-value bucket id."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "dsir_docs"
    )
    return spark.sql(
        _dsir_render(_DSIR_SPARK, "dsir_docs", "lang = 'en'")
    )


def dsir_frame(spark: SparkSession, docs: DataFrame, target_cond: str):
    """DSIR scoring over any (doc_id, lang, text) frame — factored for
    the identity/ordering law tests."""
    docs.createOrReplaceTempView("dsir_frame_docs")
    return spark.sql(
        _dsir_render(_DSIR_SPARK, "dsir_frame_docs", target_cond)
    )


# --------------------------------------------------------------------------
# Group-aware k-fold assignment + nested learning-curve subsets
# --------------------------------------------------------------------------
_KFOLD_SQL = """
WITH f AS {MAT}(
  SELECT doc_id, source, lang,
         CAST({HASH} % 5 AS INT) AS fold
  FROM {documents}
)
SELECT CAST(fold AS BIGINT) AS fold,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
       CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
       CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
       CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh
FROM f GROUP BY fold ORDER BY fold
"""


@query(
    "group_kfold_assignment",
    _KFOLD_SQL.replace("{documents}", "documents")
    .replace("{MAT}", "MATERIALIZED ")
    .replace(
        "{HASH}",
        "CAST(concat('0x', substr(md5(source), 1, 8)) AS BIGINT)",
    ),
)
def group_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware 5-fold cross-validation assignment: the fold is a
    pure function of md5(source), so every document of a source lands
    in ONE fold by construction — the leakage-proof split (plain
    per-row folds would put near-duplicate docs from one crawl on both
    sides of the validation boundary).  Output: per-fold doc/source
    counts and the language composition (the balance check reviewers
    ask for).

    Determinism: md5 is the engine-neutral hash convention; every
    output is an exact integer.  Pure per-row map + one rollup —
    reproducible on any cluster layout, the reproducibility contract
    of `sample_deterministic`.  tests/test_anova_periodogram.py pins
    the no-leakage law (each source in exactly one fold) and fold
    count conservation."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "kf_docs"
    )
    return spark.sql(
        _KFOLD_SQL.replace("{documents}", "kf_docs")
        .replace("{MAT}", "")
        .replace(
            "{HASH}",
            "CAST(conv(substr(md5(source), 1, 8), 16, 10) AS BIGINT)",
        )
    )


_NESTED_SQL = """
WITH h AS {MAT}(
  SELECT doc_id, lang,
         CAST({NTOK} AS BIGINT) AS n_tokens,
         substr(md5('lc0|' || {IDSTR}), 1, 8) AS hx
  FROM {documents}
),
s AS {MAT}(
  SELECT p.pct, h.lang, h.n_tokens
  FROM h JOIN (
    SELECT 10 AS pct, '19999999' AS thr UNION ALL
    SELECT 20, '33333333' UNION ALL
    SELECT 40, '66666666' UNION ALL
    SELECT 80, 'cccccccc'
  ) p ON h.hx < p.thr
)
SELECT CAST(pct AS BIGINT) AS pct,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(CAST(sum(n_tokens) AS DOUBLE) / count(*) - 1e-9, 4) + 0.0
         AS mean_tokens
FROM s GROUP BY pct ORDER BY pct
"""


@query(
    "nested_learning_subsets",
    _NESTED_SQL.replace("{documents}", "documents")
    .replace("{MAT}", "MATERIALIZED ")
    .replace(
        "{NTOK}", r"len(regexp_split_to_array(lower(trim(text)), '\s+'))"
    )
    .replace("{IDSTR}", "CAST(doc_id AS VARCHAR)"),
)
def nested_learning_subsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested learning-curve subsets (10% ⊂ 20% ⊂ 40% ⊂ 80%): one
    md5 hash per document compared against increasing thresholds, so
    smaller subsets are strict subsets of larger ones BY CONSTRUCTION
    — the property a scaling-law experiment needs (re-sampling each
    size independently confounds the curve with sample noise).
    Output per subset: doc count, language coverage, token volume and
    mean length (the stats that verify each rung is representative).

    Determinism: the same salted-md5 membership as
    ``sample_deterministic`` (hex-string compare, no float); exact
    integer rollups.  One scan; each doc fans out only to the rungs it
    belongs to.  The nesting law (counts and token volumes monotone,
    membership strictly nested) is pinned in tests."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "lc_docs"
    )
    return spark.sql(
        _NESTED_SQL.replace("{documents}", "lc_docs")
        .replace("{MAT}", "")
        .replace("{NTOK}", r"size(split(lower(trim(text)), '\\s+'))")
        .replace("{IDSTR}", "CAST(doc_id AS STRING)")
    )


@query(
    "smote_oversample_plan",
    oracle="""
    WITH sz AS (SELECT label, count(*) AS n_class FROM embeddings GROUP BY label),
    mx AS (SELECT max(n_class) AS maj FROM sz),
    nn AS (
      SELECT a.label, a.vec_id, b.vec_id AS nn_id,
             list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]) AS sim,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]) DESC,
                        b.vec_id) AS rk
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
    )
    SELECT n.label, n.vec_id, n.nn_id, round(n.sim, 4) AS cosine_sim,
           CAST(s.n_class AS BIGINT) AS n_class,
           CAST(mx.maj - s.n_class AS BIGINT) AS n_needed
    FROM nn n JOIN sz s ON s.label = n.label CROSS JOIN mx
    WHERE n.rk = 1 AND s.n_class < mx.maj
    """,
)
def smote_oversample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMOTE-style class-rebalancing plan over the embedding table: for
    every vector of every MINORITY class (size < the largest class),
    its nearest SAME-label neighbor by exact cosine — the (sample,
    neighbor) pairs a SMOTE pass interpolates synthetic examples
    between — plus the class's deficit vs the majority.  The complement
    of hard_negative_mining (nearest cross-label) and
    label_centroid_margin (centroid geometry): this one feeds the
    oversampler, those feed the contrastive/mislabel queues.

    Scale shape: the candidate join is label-equi (same-class pairs
    only — per-class quadratic bounded by class size, shuffled on the
    label key); at retrieval scale swap the exact stage for the
    IVF/LSH tier like the ANN queries.  Raw cosine ordering is
    bit-equal across engines (the proven brute-force-family property),
    so the rank-1 pick and the rounded similarity hash-match."""
    from ..functions.similarity import dot, norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    sizes = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_class"))
    maj = sizes.agg(F.max("n_class").alias("maj"))
    # per-row norms materialize BEFORE the same-label pair join: one
    # interpreted fold per pair (the dot) instead of three —
    # bit-identical cosine (same subexpressions, same multiply order)
    a = emb.select(
        "label", "vec_id", F.col("embedding").alias("_va"),
        norm(F.col("embedding")).alias("_na"),
    )
    b = emb.select(
        F.col("label").alias("_lb"),
        F.col("vec_id").alias("nn_id"),
        F.col("embedding").alias("_vb"),
        norm(F.col("embedding")).alias("_nb"),
    )
    scored = (
        a.join(b, (a["label"] == b["_lb"]) & (a["vec_id"] != b["nn_id"]))
        .select(
            "label", "vec_id", "nn_id",
            (
                dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nn_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .join(sizes, "label")
        .crossJoin(F.broadcast(maj))
        .filter(F.col("n_class") < F.col("maj"))
        .select(
            "label", "vec_id", "nn_id",
            F.round("sim", 4).alias("cosine_sim"),
            F.col("n_class").cast("long").alias("n_class"),
            (F.col("maj") - F.col("n_class")).cast("long").alias("n_needed"),
        )
    )


def _smote_ivf_oracle() -> str:
    from .queries_datasel import _ivf_cell_ctes

    return f"""
    WITH {_ivf_cell_ctes()},
    sz AS (SELECT label, count(*) AS n_class FROM embeddings GROUP BY label),
    mx AS (SELECT max(n_class) AS maj FROM sz),
    cand AS (
      SELECT q.vec_id, n.vec_id AS nn_id
      FROM (SELECT r2.vec_id, r2.cell, e2.label FROM ranked r2
            JOIN ei e2 ON e2.vec_id = r2.vec_id WHERE r2.r <= 4) q
      JOIN (SELECT r1.vec_id, r1.cell, e1.label FROM ranked r1
            JOIN ei e1 ON e1.vec_id = r1.vec_id WHERE r1.r = 1) n
        ON n.cell = q.cell AND n.label = q.label
           AND n.vec_id <> q.vec_id
    ),
    nn AS (
      SELECT a.label, c.vec_id, c.nn_id,
             list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]) AS sim,
             row_number() OVER (
               PARTITION BY c.vec_id
               ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]) DESC,
                        c.nn_id) AS rk
      FROM cand c
      JOIN embeddings a ON a.vec_id = c.vec_id
      JOIN embeddings b ON b.vec_id = c.nn_id
    )
    SELECT n.label, n.vec_id, n.nn_id, round(n.sim, 4) AS cosine_sim,
           CAST(s.n_class AS BIGINT) AS n_class,
           CAST(mx.maj - s.n_class AS BIGINT) AS n_needed
    FROM nn n JOIN sz s ON s.label = n.label CROSS JOIN mx
    WHERE n.rk = 1 AND s.n_class < mx.maj
    """


@query("smote_oversample_plan_ivf", _smote_ivf_oracle())
def smote_oversample_plan_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SMOTE rebalancing plan on the SCALE tier: identical
    minority-class / nearest-same-label-neighbor / deficit semantics to
    ``smote_oversample_plan``, but candidates are bounded by the IVF
    index — a minority vector probes its nprobe=4 nearest
    integer-literal centroid cells and only considers SAME-LABEL
    vectors whose home cell is probed, replacing the per-class
    quadratic label-equi join (the third registered "100 TB swaps to
    the index tier" twin, after ``knn_label_noise_ivf`` and
    ``knn_hubness_stats_ivf``).  A (vector, candidate) pair arises at
    most once (one home cell per candidate), so no distinct; vectors
    whose probed cells hold no same-label member drop out — the
    documented index-recall trade, pinned against the brute tier in
    tests.  Exact-integer cell assignment + (sim DESC, id) rank keep
    every column hash-checked."""
    from ..functions.similarity import (
        dot,
        ivf_cells,
        norm,
        quantized_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    sizes = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_class"))
    maj = sizes.agg(F.max("n_class").alias("maj"))
    centroids = quantized_centroids(16, 64)
    n = ivf_cells(emb, centroids, "embedding", nprobe=1).select(
        F.col("label").alias("_lb"),
        F.col("vec_id").alias("nn_id"),
        F.col("embedding").alias("_vb"),
        norm(F.col("embedding")).alias("_nb"),
        F.element_at("cells", 1).alias("cell"),
    )
    q = ivf_cells(emb, centroids, "embedding", nprobe=4).select(
        "label",
        "vec_id",
        F.col("embedding").alias("_va"),
        norm(F.col("embedding")).alias("_na"),
        F.explode("cells").alias("cell"),
    )
    scored = (
        q.join(
            n,
            (q["cell"] == n["cell"])
            & (q["label"] == n["_lb"])
            & (q["vec_id"] != n["nn_id"]),
        )
        .select(
            "label", "vec_id", "nn_id",
            (
                dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nn_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .join(sizes, "label")
        .crossJoin(F.broadcast(maj))
        .filter(F.col("n_class") < F.col("maj"))
        .select(
            "label", "vec_id", "nn_id",
            F.round("sim", 4).alias("cosine_sim"),
            F.col("n_class").cast("long").alias("n_class"),
            (F.col("maj") - F.col("n_class")).cast("long").alias("n_needed"),
        )
    )


# --------------------------------------------------------------------------
# portable HLL: md5-derived registers, bit-exact across engines
# --------------------------------------------------------------------------
HLL_M = 64  # 6-bit bucket index
HLL_ALPHA = 0.709  # standard alpha for m=64


def _hll_row_sql(key_expr: str) -> tuple[str, str, str]:
    """(bucket_sql, v48_sql, rank_from_v_sql) over ``h`` = md5(key):
    bucket = first two hex digits mod m; ``v48`` = the next 48 bits as
    an integer (projected ONCE — the rank ladder references the column,
    not 48 copies of the 12-digit expression); rank = leading-zero
    count of v48 + 1 via an unrolled integer CASE ladder, not log2
    (float logs can straddle exact powers of two).  All integer
    string/CASE arithmetic shared verbatim by Spark SQL and DuckDB
    (instr/substr/CASE), so registers are BIT-EXACT in both engines."""
    # CAST to BIGINT inside the template: Spark types instr() as INT and
    # digit * 16^7 already passes 2^31 (ANSI overflow); DuckDB is
    # indifferent, so the shared text stays dialect-identical
    hexd = "CAST(instr('0123456789abcdef', substr({h}, {i}, 1)) - 1 AS BIGINT)"
    h = f"md5(concat('hll|', {key_expr}))"
    d1 = hexd.format(h=h, i=1)
    d2 = hexd.format(h=h, i=2)
    bucket = f"((({d1}) * 16 + ({d2})) % {HLL_M})"
    v48 = " + ".join(
        f"(({hexd.format(h=h, i=3 + k)}) * {16 ** (11 - k)})"
        for k in range(12)
    )
    bitlen = (
        "CASE "
        + " ".join(
            f"WHEN v48 >= {2 ** k} THEN {k + 1}" for k in range(47, -1, -1)
        )
        + " ELSE 0 END"
    )
    return bucket, v48, f"(49 - ({bitlen}))"


def _hll_estimate_sql(s: str, zeros: str) -> str:
    """Harmonic-mean estimate with the small-range correction; every
    2^-register term is an exact power of two (1.0 / (1 << r)), so the
    64-term sum is EXACT in double regardless of order — the float
    estimate is a fixed IEEE tree, identical across engines."""
    raw = f"({HLL_ALPHA} * {HLL_M} * {HLL_M} / ({s}))"
    return (
        f"CASE WHEN {raw} <= {2.5 * HLL_M} AND ({zeros}) > 0 "
        f"THEN {HLL_M} * ln({HLL_M} * 1.0 / ({zeros})) "
        f"ELSE {raw} END"
    )


def _hll_md5_oracle() -> str:
    bucket, v48, rank = _hll_row_sql("doc_id")
    est = _hll_estimate_sql(
        "sum(1.0 / (CAST(1 AS BIGINT) << reg)) + " f"({HLL_M} - count(*))",
        f"{HLL_M} - count(*)",
    )
    return f"""
    WITH rows_ AS MATERIALIZED (
      SELECT lang, doc_id, bucket, {rank} AS rank FROM (
        SELECT lang, doc_id, {bucket} AS bucket, {v48} AS v48 FROM documents
      )
    ),
    regs AS MATERIALIZED (
      SELECT lang, bucket, max(rank) AS reg FROM rows_ GROUP BY 1, 2
    ),
    ex AS (SELECT lang, count(DISTINCT doc_id) AS n_exact FROM rows_ GROUP BY 1),
    per_lang AS (
      SELECT r.lang,
             CAST(ex.n_exact AS BIGINT) AS n_exact,
             round(({est}) - 1e-9, 4) AS hll_estimate,
             CAST(count(*) AS BIGINT) AS n_registers_set,
             CAST(max(reg) AS BIGINT) AS max_register
      FROM regs r JOIN ex ON ex.lang = r.lang
      GROUP BY r.lang, ex.n_exact
    ),
    merged AS (SELECT bucket, max(reg) AS reg FROM regs GROUP BY 1),
    allrow AS (
      SELECT '__all__' AS lang,
             (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM rows_)
               AS n_exact,
             round(({est}) - 1e-9, 4) AS hll_estimate,
             CAST(count(*) AS BIGINT) AS n_registers_set,
             CAST(max(reg) AS BIGINT) AS max_register
      FROM merged
    )
    SELECT * FROM per_lang UNION ALL SELECT * FROM allrow
    """


@query("hll_md5_distinct", oracle=_hll_md5_oracle())
def hll_md5_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE HyperLogLog with a full value oracle — the complement
    of ``sketch_battery`` (which showcases Spark's native Datasketches
    HLL and is rows-only because its binary sketch layout is
    engine-private): registers derive from md5 (bucket = 6 bits, rank =
    leading zeros of the next 48 bits + 1, computed by an unrolled
    integer CASE ladder — no float log2), so both engines build
    BIT-IDENTICAL registers, and the harmonic estimate is a sum of
    exact powers of two (order-free in double) through one fixed IEEE
    expression tree.  The ``__all__`` row is computed by MERGING the
    per-language registers (max per bucket), never re-scanning raw
    rows — the mergeability contract of sketch rollups at 100 TB,
    here hash-checked exactly.

    Scale shape: one scan → per-(lang, bucket) max (map-side combined,
    ≤ m rows per group) → per-lang fold; the union row touches
    |langs|·m register rows.  Estimate quality vs exact count is
    asserted in tests/test_wave21.py."""
    bucket, v48, rank = _hll_row_sql("doc_id")
    base = load_table(spark, sf_dir, "documents").selectExpr(
        "lang", "doc_id", f"{bucket} AS bucket", f"{v48} AS v48"
    ).selectExpr("lang", "doc_id", "bucket", f"{rank} AS rank")
    regs = base.groupBy("lang", "bucket").agg(
        F.max("rank").alias("reg")
    ).localCheckpoint()
    ex = base.groupBy("lang").agg(
        F.count_distinct("doc_id").alias("n_exact")
    )
    est = _hll_estimate_sql(
        f"sum(1.0 / shiftleft(CAST(1 AS BIGINT), reg)) + ({HLL_M} - count(*))",
        f"{HLL_M} - count(*)",
    )
    per_lang = (
        regs.groupBy("lang")
        .agg(
            F.expr(f"round(({est}) - 1e-9, 4)").alias("hll_estimate"),
            F.count(F.lit(1)).cast("long").alias("n_registers_set"),
            F.max("reg").cast("long").alias("max_register"),
        )
        .join(ex, "lang")
        .select(
            "lang",
            F.col("n_exact").cast("long").alias("n_exact"),
            "hll_estimate",
            "n_registers_set",
            "max_register",
        )
    )
    n_all = base.agg(
        F.count_distinct("doc_id").alias("n")
    )
    allrow = (
        regs.groupBy("bucket")
        .agg(F.max("reg").alias("reg"))
        .agg(
            F.lit("__all__").alias("lang"),
            F.expr(f"round(({est}) - 1e-9, 4)").alias("hll_estimate"),
            F.count(F.lit(1)).cast("long").alias("n_registers_set"),
            F.max("reg").cast("long").alias("max_register"),
        )
        .crossJoin(F.broadcast(n_all))
        .select(
            "lang",
            F.col("n").cast("long").alias("n_exact"),
            "hll_estimate",
            "n_registers_set",
            "max_register",
        )
    )
    return per_lang.unionByName(allrow)


# --------------------------------------------------------------------------
# portable Count-Min sketch: md5-derived buckets, bit-exact across engines
# --------------------------------------------------------------------------
CMP_D = 4  # hash rows
CMP_W = 512  # buckets per row
CMP_TOPK = 20


def _cmp_pos_duck(r: int, tok_expr: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat('cm{r}|', {tok_expr})), 1, 8))"
        f" AS BIGINT) % {CMP_W}"
    )


def _count_min_portable_oracle() -> str:
    build = " UNION ALL ".join(
        f"SELECT {r} AS row_id, {_cmp_pos_duck(r, 't')} AS bucket"
        " FROM toks"
        for r in range(CMP_D)
    )
    probe = " UNION ALL ".join(
        f"SELECT t, {r} AS row_id, {_cmp_pos_duck(r, 't')} AS bucket"
        " FROM top"
        for r in range(CMP_D)
    )
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      FROM documents
    ),
    tc AS MATERIALIZED (
      SELECT t, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM toks WHERE t <> '' GROUP BY t
    ),
    top AS MATERIALIZED (
      SELECT t, exact_cnt FROM tc ORDER BY exact_cnt DESC, t
      LIMIT {CMP_TOPK}
    ),
    sk AS MATERIALIZED (
      SELECT row_id, bucket, CAST(count(*) AS BIGINT) AS c
      FROM ({build}) GROUP BY 1, 2
    ),
    est AS (
      SELECT p.t, CAST(min(coalesce(sk.c, 0)) AS BIGINT) AS cms_est
      FROM ({probe}) p
      LEFT JOIN sk USING (row_id, bucket)
      GROUP BY p.t
    )
    SELECT tp.t AS token, tp.exact_cnt, e.cms_est,
           e.cms_est - tp.exact_cnt AS overestimate
    FROM top tp JOIN est e ON e.t = tp.t
    """


@query("count_min_portable", _count_min_portable_oracle())
def count_min_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch whose REGISTERS are bit-exact across engines:
    bucket indices derive from md5 substrings (the portable-HLL / Bloom
    idiom), so both engines build the identical {CMP_D}×{CMP_W} counter
    table, and the point estimates for the top-{CMP_TOPK} exact tokens
    — min over the token's d cells — hash-match including the
    per-token OVERESTIMATE column, which also pins the CMS one-sided
    error guarantee (≥ 0 everywhere) inside the oracle itself.
    Completes the portable-sketch trio (HLL `hll_md5_distinct`, Bloom
    `bloom_filter_probe`, CMS here); the native xxhash64 battery
    (`sketch_battery`) stays the engine-tuned fast path.

    Scale shape: build is one corpus scan exploding d struct cells with
    map-side partial aggregation into ≤ d·w groups; the sketch (≤ 2048
    rows regardless of corpus size) broadcasts to the probe side."""
    toks = (
        load_table(spark, sf_dir, "documents")
        # single-row-group input (guide §2.5): spread docs before the
        # token explode, otherwise ONE scan task does it
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(text.tokens("text")).alias("t"))
        .filter(F.col("t") != "")
    )

    def pos(r: int, tok):
        h = F.md5(F.concat(F.lit(f"cm{r}|"), tok))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % CMP_W

    tc = toks.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    top = tc.orderBy(F.desc("exact_cnt"), F.asc("t")).limit(CMP_TOPK)
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row_id"), pos(r, F.col("t")).alias("bucket")
            )
            for r in range(CMP_D)
        ]
    )
    sk = (
        toks.select(F.explode(cells).alias("cell"))
        .groupBy(
            F.col("cell.row_id").alias("row_id"),
            F.col("cell.bucket").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    probes = top.select("t", F.explode(cells).alias("cell")).select(
        "t",
        F.col("cell.row_id").alias("row_id"),
        F.col("cell.bucket").alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(sk), ["row_id", "bucket"], "left")
        .groupBy("t")
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0)))
            .cast("long")
            .alias("cms_est")
        )
    )
    return top.join(est, "t").select(
        F.col("t").alias("token"),
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
    )


# --------------------------------------------------------------------------
# rank-2 implicit-feedback ALS with closed-form 2x2 solves
# --------------------------------------------------------------------------
ALS_ITEMS = ["click", "error", "purchase", "signup", "view"]
ALS_Q0 = {
    "click": (0.9, 0.2),
    "error": (0.1, 1.0),
    "purchase": (1.0, 0.4),
    "signup": (0.3, 0.7),
    "view": (0.6, 0.6),
}
ALS_LAM = 0.1
ALS_SCALE = 1_000_000  # user-factor fixed point for the item step


def _als_dlit(v: float) -> str:
    """Float literal forced to DOUBLE on both engines: Spark parses a
    bare decimal-point literal as DECIMAL (exact arithmetic!) while
    DuckDB parses DOUBLE — unguarded, the whole expression tree
    silently runs decimal on one side (caught by the hash oracle as a
    ~1e-5 drift in the item solve)."""
    return f"CAST({v!r} AS DOUBLE)"


def _als_user_stage(q: dict) -> list[str]:
    """a11/a12/a22/b1/b2 of the per-user 2x2 ridge system, as
    dialect-free SQL over the pivoted count columns.  ``q`` maps item →
    (expr, expr) — DOUBLE-cast literals on pass 1, the q2 CTE's column
    names on pass 2.  Terms are emitted in fixed item order, so the
    double accumulation is an expression tree, never a bag sum."""

    def srt(fn):
        return " + ".join(fn(i, q[i][0], q[i][1]) for i in ALS_ITEMS)

    lam = _als_dlit(ALS_LAM)
    return [
        f"({srt(lambda i, a, b: f'c_{i} * ({a} * {a})')}"
        f" + {lam}) AS a11",
        f"({srt(lambda i, a, b: f'c_{i} * ({a} * {b})')}) AS a12",
        f"({srt(lambda i, a, b: f'c_{i} * ({b} * {b})')}"
        f" + {lam}) AS a22",
        f"({srt(lambda i, a, b: f'c_{i} * {a}')}) AS b1",
        f"({srt(lambda i, a, b: f'c_{i} * {b}')}) AS b2",
    ]


_ALS_SOLVE = [
    "((a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12)) AS pu1",
    "((a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12)) AS pu2",
]


def _als_pivot_items(dialect: str) -> list[str]:
    cast = "BIGINT"
    return [
        f"CAST(sum(CASE WHEN event_type = '{i}' THEN 1 ELSE 0 END)"
        f" AS {cast}) AS c_{i}"
        for i in ALS_ITEMS
    ]


def _als_item_sums() -> list[str]:
    out = []
    for i in ALS_ITEMS:
        out += [
            f"CAST(sum(c_{i} * pq1 * pq1) AS BIGINT) AS s11_{i}",
            f"CAST(sum(c_{i} * pq1 * pq2) AS BIGINT) AS s12_{i}",
            f"CAST(sum(c_{i} * pq2 * pq2) AS BIGINT) AS s22_{i}",
            f"CAST(sum(c_{i} * pq1) AS BIGINT) AS t1_{i}",
            f"CAST(sum(c_{i} * pq2) AS BIGINT) AS t2_{i}",
        ]
    return out


def _als_item_solve() -> list[str]:
    sc2 = _als_dlit(float(ALS_SCALE) * float(ALS_SCALE))
    sc1 = _als_dlit(float(ALS_SCALE))
    lam = _als_dlit(ALS_LAM)
    out = []
    for i in ALS_ITEMS:
        a11 = f"(s11_{i} / {sc2} + {lam})"
        a12 = f"(s12_{i} / {sc2})"
        a22 = f"(s22_{i} / {sc2} + {lam})"
        b1 = f"(t1_{i} / {sc1})"
        b2 = f"(t2_{i} / {sc1})"
        det = f"({a11} * {a22} - {a12} * {a12})"
        out.append(f"(({a22} * {b1} - {a12} * {b2}) / {det}) AS q1_{i}")
        out.append(f"(({a11} * {b2} - {a12} * {b1}) / {det}) AS q2_{i}")
    return out


def _als_scores() -> list[str]:
    return [
        f"(pu1 * q1_{i} + pu2 * q2_{i}) AS s_{i}" for i in ALS_ITEMS
    ]


def _als_best() -> tuple[str, str]:
    item = "CASE"
    for i in ALS_ITEMS[:-1]:
        geq = " AND ".join(
            f"s_{i} >= s_{j}" for j in ALS_ITEMS if j != i
        )
        item += f" WHEN {geq} THEN '{i}'"
    item += f" ELSE '{ALS_ITEMS[-1]}' END"
    score = "CASE"
    for i in ALS_ITEMS[:-1]:
        geq = " AND ".join(
            f"s_{i} >= s_{j}" for j in ALS_ITEMS if j != i
        )
        score += f" WHEN {geq} THEN s_{i}"
    score += f" ELSE s_{ALS_ITEMS[-1]} END"
    return item, score


def _als_oracle() -> str:
    lit_q = {
        i: (_als_dlit(a), _als_dlit(b)) for i, (a, b) in ALS_Q0.items()
    }
    col_q = {i: (f"q1_{i}", f"q2_{i}") for i in ALS_ITEMS}
    best_item, best_score = _als_best()
    return f"""
    WITH piv AS MATERIALIZED (
      SELECT user_id, {", ".join(_als_pivot_items("duckdb"))}
      FROM events WHERE event_type IN ({", ".join(f"'{i}'" for i in ALS_ITEMS)})
      GROUP BY user_id
    ),
    u1a AS (SELECT *, {", ".join(_als_user_stage(lit_q))} FROM piv),
    u1 AS (SELECT *, {", ".join(_ALS_SOLVE)} FROM u1a),
    uq AS (
      SELECT *, CAST(floor(pu1 * {float(ALS_SCALE)!r} + 0.5) AS BIGINT) AS pq1,
             CAST(floor(pu2 * {float(ALS_SCALE)!r} + 0.5) AS BIGINT) AS pq2
      FROM u1
    ),
    isums AS (SELECT {", ".join(_als_item_sums())} FROM uq),
    q2 AS (SELECT {", ".join(_als_item_solve())} FROM isums),
    u2a AS (
      SELECT u.user_id, {", ".join(f"u.c_{i}" for i in ALS_ITEMS)},
             {", ".join(f"q.q1_{i}, q.q2_{i}" for i in ALS_ITEMS)}
      FROM uq u CROSS JOIN q2 q
    ),
    u2b AS (SELECT *, {", ".join(_als_user_stage(col_q))} FROM u2a),
    u2 AS (SELECT *, {", ".join(_ALS_SOLVE)} FROM u2b),
    scored AS (SELECT *, {", ".join(_als_scores())} FROM u2)
    SELECT user_id,
           round(pu1 - 1e-9, 4) + 0.0 AS factor1,
           round(pu2 - 1e-9, 4) + 0.0 AS factor2,
           {best_item} AS best_item,
           round(({best_score}) - 1e-9, 4) + 0.0 AS best_score
    FROM scored
    """


@query("als_implicit_rank2", _als_oracle())
def als_implicit_rank2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-feedback matrix factorization (Hu-Koren-style weighted
    ridge ALS) at rank 2 over the (user, event-type) interaction
    counts: user-step → item-step → user-step, each solve the EXACT
    2x2 closed form (det/adjugate — no iterative solver), confidences
    = raw counts, λ = 0.1, literal item-factor init.  Emits per user
    the learned taste vector and the argmax-affinity event type — the
    recommender primitive behind "users like you also…".

    Cross-engine determinism is the interesting part: the USER step is
    a fixed-order expression tree over the 5 pivoted count columns (no
    bag sum anywhere), and the ITEM step — the one aggregation over
    users, where a naive Σ c·p·pᵀ would be order-dependent double
    accumulation — runs on 1e6 fixed-point QUANTIZED user factors, so
    all 25 sums are exact int64 — PER USER-ROW each term is ≤ ~2e13,
    which bounds the AGGREGATE at ~2e13·|users|: exactness holds while
    |users| ≲ 4.6e5 (2^63/2e13).  Past that, Spark (non-ANSI) would
    wrap silently while DuckDB's HUGEINT sum errors on the BIGINT cast
    — divergent failure modes — so the Spark side ENFORCES the bound
    with an assert_true guard on the single-row item aggregate (|sum| <
    2^62 for every cell, a no-op filter on valid data), turning a
    silent wrap into a loud error; the 10x overflow sweep exercises the
    guard's green path.  Corpora past the bound drop ALS_SCALE (1e4
    buys 1e4x more users at 2 fewer digits) or swap the int64 sums for
    DECIMAL(38) — same expression tree.  The de-scaled 2x2 solves are
    bit-identical in both engines.
    Scale shape: one user-keyed pivot aggregate (map-side
    combinable), the item step is a SINGLE-ROW exact-integer aggregate
    (map-side partials, no shuffle pressure), broadcast back for the
    final pass — at 100 TB this is 2 scans + 1 broadcast; rank-k
    generalizes by swapping the closed form for a k x k Cholesky in
    the same quantized frame."""
    lit_q = {
        i: (_als_dlit(a), _als_dlit(b)) for i, (a, b) in ALS_Q0.items()
    }
    col_q = {i: (f"q1_{i}", f"q2_{i}") for i in ALS_ITEMS}
    best_item, best_score = _als_best()
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(ALS_ITEMS)
    )
    piv = ev.groupBy("user_id").agg(
        *[
            F.sum(
                F.when(F.col("event_type") == i, 1).otherwise(0)
            ).cast("long").alias(f"c_{i}")
            for i in ALS_ITEMS
        ]
    )
    u1 = piv.selectExpr("*", *_als_user_stage(lit_q)).selectExpr(
        "*", *_ALS_SOLVE
    )
    uq = u1.selectExpr(
        "*",
        f"CAST(floor(pu1 * {float(ALS_SCALE)!r} + 0.5) AS BIGINT) AS pq1",
        f"CAST(floor(pu2 * {float(ALS_SCALE)!r} + 0.5) AS BIGINT) AS pq2",
    ).localCheckpoint()
    isums = uq.agg(
        *[
            F.expr(e.rsplit(" AS ", 1)[0]).alias(e.rsplit(" AS ", 1)[1])
            for e in _als_item_sums()
        ]
    )
    # int64-exactness guard (see docstring): every quantized item-step
    # sum must sit well inside 2^63 or the cross-engine determinism
    # claim is void — fail loudly instead of wrapping silently
    sum_cols = [e.rsplit(" AS ", 1)[1] for e in _als_item_sums()]
    in_bounds = F.lit(True)
    for c in sum_cols:
        in_bounds = in_bounds & (F.abs(F.col(c)) < F.lit(2 ** 62))
    # empty corpus: the sums are NULL, which is not an overflow —
    # assert_true(NULL) would raise; the NULL solve chain then yields
    # the oracle's 0 rows via the empty user side (round-12 sweep)
    in_bounds = F.coalesce(in_bounds, F.lit(True))
    isums = isums.filter(
        F.assert_true(
            in_bounds,
            F.lit(
                "als_implicit_rank2: item-step int64 sum exceeds 2^62 — "
                "user count past the exactness bound; lower ALS_SCALE"
            ),
        ).isNull()
    )
    q2 = isums.selectExpr(*_als_item_solve())
    u2 = (
        uq.select("user_id", *[f"c_{i}" for i in ALS_ITEMS])
        .crossJoin(F.broadcast(q2))
        .selectExpr("*", *_als_user_stage(col_q))
        .selectExpr("*", *_ALS_SOLVE)
        .selectExpr("*", *_als_scores())
    )
    return u2.selectExpr(
        "user_id",
        "round(pu1 - 1e-9, 4) + 0.0 AS factor1",
        "round(pu2 - 1e-9, 4) + 0.0 AS factor2",
        f"{best_item} AS best_item",
        f"round(({best_score}) - 1e-9, 4) + 0.0 AS best_score",
    )


# --------------------------------------------------------------------------
# mRMR feature selection: max-relevance min-redundancy greedy over MI
# --------------------------------------------------------------------------
MRMR_FEATURES = ["disc", "qty", "status", "tax"]
MRMR_K = 3

# (feature, dialect-free bucket expression over lineitem)
_MRMR_EXPRS = {
    "disc": "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)",
    "qty": "CAST(floor(l_quantity / 10.0) AS BIGINT)",
    "status": "l_linestatus",
    "tax": "CAST(floor(l_tax * 100 + 0.5) AS BIGINT)",
}


def _mrmr_pairs() -> list[tuple[str, str, str]]:
    """(pair_key, x_feature, y_feature): 4 relevance pairs vs the
    returnflag target + 6 feature-feature redundancy pairs."""
    out = [(f"{f}|ret", f, "ret") for f in MRMR_FEATURES]
    for i, a in enumerate(MRMR_FEATURES):
        for b in MRMR_FEATURES[i + 1:]:
            out.append((f"{a}|{b}", a, b))
    return out


def _mrmr_oracle() -> str:
    cols = ", ".join(
        f"CAST({e} AS VARCHAR) AS {f}" for f, e in _MRMR_EXPRS.items()
    )
    melts = " UNION ALL ".join(
        f"SELECT '{key}' AS pair, {x} AS x, {y} AS y FROM base"
        for key, x, y in _mrmr_pairs()
    )
    return f"""
    WITH base AS MATERIALIZED (
      SELECT {cols}, l_returnflag AS ret FROM lineitem
    ),
    melt AS (SELECT * FROM ({melts})),
    cells AS MATERIALIZED (
      SELECT pair, x, y, CAST(count(*) AS BIGINT) AS c
      FROM melt GROUP BY 1, 2, 3
    ),
    marg AS (
      SELECT pair, x, y, c,
             sum(c) OVER (PARTITION BY pair, x) AS cx,
             sum(c) OVER (PARTITION BY pair, y) AS cy,
             sum(c) OVER (PARTITION BY pair) AS n
      FROM cells
    ),
    acc AS (
      SELECT pair,
             sum((c * 1.0 / n) * ln(c * 1.0 * n / (cx * cy)))
               OVER (PARTITION BY pair ORDER BY x, y
                     ROWS UNBOUNDED PRECEDING) AS cum,
             row_number() OVER (PARTITION BY pair
                                ORDER BY x DESC, y DESC) AS rdesc
      FROM marg
    ),
    mis AS MATERIALIZED (
      SELECT pair, cum AS mi FROM acc WHERE rdesc = 1
    ),
    rel AS (
      SELECT replace(pair, '|ret', '') AS f, mi FROM mis
      WHERE pair LIKE '%|ret'
    ),
    red AS (
      SELECT string_split(pair, '|')[1] AS fa,
             string_split(pair, '|')[2] AS fb, mi
      FROM mis WHERE pair NOT LIKE '%|ret'
      UNION ALL
      SELECT string_split(pair, '|')[2], string_split(pair, '|')[1], mi
      FROM mis WHERE pair NOT LIKE '%|ret'
    ),
    s1 AS MATERIALIZED (
      SELECT f, mi AS score, mi FROM rel ORDER BY mi DESC, f LIMIT 1
    ),
    s2 AS MATERIALIZED (
      SELECT r.f, r.mi - rd.mi AS score, r.mi
      FROM rel r
      JOIN red rd ON rd.fa = r.f AND rd.fb = (SELECT f FROM s1)
      WHERE r.f <> (SELECT f FROM s1)
      ORDER BY score DESC, r.f LIMIT 1
    ),
    s3 AS MATERIALIZED (
      SELECT r.f, r.mi - (r1.mi + r2.mi) / 2.0 AS score, r.mi
      FROM rel r
      JOIN red r1 ON r1.fa = r.f AND r1.fb = (SELECT f FROM s1)
      JOIN red r2 ON r2.fa = r.f AND r2.fb = (SELECT f FROM s2)
      WHERE r.f NOT IN ((SELECT f FROM s1), (SELECT f FROM s2))
      ORDER BY score DESC, r.f LIMIT 1
    )
    SELECT CAST(rk AS INT) AS sel_rank, f AS feature,
           round(score - 1e-9, 4) + 0.0 AS mrmr_score,
           round(mi - 1e-9, 4) + 0.0 AS relevance_mi
    FROM (
      SELECT 1 AS rk, * FROM s1
      UNION ALL SELECT 2, * FROM s2
      UNION ALL SELECT 3, * FROM s3
    )
    ORDER BY sel_rank
    """


@query("mrmr_feature_select", _mrmr_oracle())
def mrmr_feature_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mRMR feature selection (Peng et al. 2005): greedily pick
    {MRMR_K} of the 4 lineitem features (discount bucket, quantity
    decade, line status, tax bucket) maximizing mutual information with
    the returnflag target MINUS the mean MI against already-selected
    features — the tabular-ML screen that kills redundant columns a
    pure-relevance ranking keeps.  All 10 MIs (4 relevance + 6
    redundancy) come from ONE melted scan: each row fans to 10
    (pair, x, y) tuples, cells reduce on tiny keys, marginals are
    window sums over the cell frame, and each MI accumulates its
    Σ p·ln(p/(px·py)) through an (x, y)-ORDERED window — exact integer
    counts in, order-deterministic doubles out (the registry float
    convention).  The greedy runs on the bounded 10-row MI frame
    (driver-side here, unrolled CTE stages in the oracle — the
    k-center idiom), argmax ties broken by feature name.

    Scale shape at 100 TB: the melt is one scan with constant fan-out
    and map-side-combinable cell counts (cells are |X|·|Y|-bounded,
    never data-sized); everything after is O(cells)."""
    import math

    lt = load_table(spark, sf_dir, "lineitem")
    base = lt.selectExpr(
        *[
            f"CAST({e} AS STRING) AS {f}"
            for f, e in _MRMR_EXPRS.items()
        ],
        "l_returnflag AS ret",
    )
    melt = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(key).alias("pair"),
                        F.col(x).alias("x"),
                        F.col(y).alias("y"),
                    )
                    for key, x, y in _mrmr_pairs()
                ]
            )
        ).alias("m")
    ).select("m.pair", "m.x", "m.y")
    cells = melt.groupBy("pair", "x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wx = Window.partitionBy("pair", "x")
    wy = Window.partitionBy("pair", "y")
    wp = Window.partitionBy("pair")
    wo = (
        Window.partitionBy("pair")
        .orderBy("x", "y")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marg = cells.select(
        "pair", "x", "y", "c",
        F.sum("c").over(wx).alias("cx"),
        F.sum("c").over(wy).alias("cy"),
        F.sum("c").over(wp).alias("n"),
    )
    acc = marg.select(
        "pair",
        F.sum(
            (F.col("c") * 1.0 / F.col("n"))
            * F.log(
                F.col("c") * 1.0 * F.col("n")
                / (F.col("cx") * F.col("cy"))
            )
        )
        .over(wo)
        .alias("cum"),
        F.row_number()
        .over(
            Window.partitionBy("pair").orderBy(
                F.desc("x"), F.desc("y")
            )
        )
        .alias("rdesc"),
    )
    mis = {
        r.pair: float(r.cum)
        for r in acc.filter(F.col("rdesc") == 1).collect()
    }  # bounded: exactly 10 rows by construction (0 on an empty
    # universe -> return 0 rows, matching the oracle)
    if not mis:
        return spark.createDataFrame(
            [],
            "sel_rank int, feature string, mrmr_score double,"
            " relevance_mi double",
        )
    rel = {f: mis[f"{f}|ret"] for f in MRMR_FEATURES}

    def red(a: str, b: str) -> float:
        return mis.get(f"{a}|{b}", mis.get(f"{b}|{a}"))

    picked: list[tuple[int, str, float, float]] = []
    chosen: list[str] = []
    for rk in range(1, MRMR_K + 1):
        best = None
        for f in sorted(MRMR_FEATURES):
            if f in chosen:
                continue
            if rk == 1:
                score = rel[f]
            elif rk == 2:
                score = rel[f] - red(f, chosen[0])
            else:
                score = rel[f] - (
                    red(f, chosen[0]) + red(f, chosen[1])
                ) / 2.0
            if best is None or score > best[1]:
                best = (f, score)
        chosen.append(best[0])
        picked.append((rk, best[0], best[1], rel[best[0]]))
    return spark.createDataFrame(
        [
            (
                rk,
                f,
                round(s - 1e-9, 4) + 0.0,
                round(m - 1e-9, 4) + 0.0,
            )
            for rk, f, s, m in picked
        ],
        "sel_rank int, feature string, mrmr_score double,"
        " relevance_mi double",
    )


# --------------------------------------------------------------------------
# successive halving (the Hyperband inner loop) over nation "configs"
# --------------------------------------------------------------------------
SH_BUDGET_MONTHS = [12, 24, 48, 96]  # nested rung budgets (months of data)


def _sh_oracle() -> str:
    vals = ", ".join(
        f"({r}, {m})" for r, m in enumerate(SH_BUDGET_MONTHS)
    )
    # the metric the query ranks by: long / long with both operands
    # rounded to double first, as Spark divides
    metric = "CAST(g.cents AS DOUBLE) / g.n_orders"
    stages = []
    prev = None
    for r in range(len(SH_BUDGET_MONTHS)):
        src = (
            f"FROM rungs g WHERE g.rung = {r}"
            if prev is None
            else f"FROM rungs g JOIN {prev} p ON p.nation = g.nation"
            f" WHERE g.rung = {r} AND p.rk <= (p.np + 1) // 2"
        )
        stages.append(
            f"""r{r} AS MATERIALIZED (
      SELECT g.nation, g.n_orders, g.cents,
             CAST(row_number() OVER (
               ORDER BY {metric} DESC, g.nation) AS BIGINT) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS np
      {src}
    )"""
        )
        prev = f"r{r}"
    last = len(SH_BUDGET_MONTHS) - 1
    elim = "\n      UNION ALL ".join(
        f"SELECT nation, CAST({r} AS BIGINT) AS last_rung, rk, n_orders,"
        f" cents FROM r{r} WHERE rk > (np + 1) // 2"
        for r in range(last)
    )
    return f"""
    WITH base AS MATERIALIZED (
      SELECT c.c_nationkey AS nation,
             (year(o.o_orderdate) - 1995) * 12
               + month(o.o_orderdate) - 1 AS mi,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    rungs AS MATERIALIZED (
      SELECT nation, r.rung,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM base
      JOIN (VALUES {vals}) AS r(rung, months) ON base.mi < r.months
      GROUP BY nation, r.rung
    ),
    {",".join(stages)}
    SELECT CAST(nation AS BIGINT) AS nation_key, last_rung,
           rk AS rank_at_exit, n_orders,
           round(cents / 100.0 / n_orders - 1e-9, 4) + 0.0
             AS avg_value_usd
    FROM (
      {elim}
      UNION ALL
      SELECT nation, CAST({last} AS BIGINT) AS last_rung, rk, n_orders,
             cents FROM r{last}
    ) ORDER BY last_rung DESC, rank_at_exit, nation_key
    """


def _halving_exits(
    by_rung: dict[int, list[tuple[int, int, int]]], n_rungs: int
) -> list[tuple[int, int, int, int, int]]:
    """The survivor cascade over (nation, n_orders, cents) cells per
    rung: (nation, exit rung, rank at exit, n_orders, cents) rows.
    Each rung ranks by (cents/n_orders desc, nation asc) and keeps the
    top half (ceil) for the next rung."""
    exits: list[tuple[int, int, int, int, int]] = []
    survivors: set[int] | None = None
    last = n_rungs - 1
    for r in range(n_rungs):
        cur = by_rung.get(r, [])
        if survivors is not None:
            cur = [t for t in cur if t[0] in survivors]
        # the metric is Spark's long / long: both operands rounded to
        # double first (Python's int / int rounds the exact quotient,
        # and the two differ above 2**53)
        ranked = sorted(cur, key=lambda t: (-(float(t[2]) / float(t[1])), t[0]))
        half = (len(ranked) + 1) // 2
        if r < last:
            survivors = {t[0] for t in ranked[:half]}
            exits.extend(
                (t[0], r, i + 1, t[1], t[2])
                for i, t in enumerate(ranked)
                if i + 1 > half
            )
        else:
            exits.extend(
                (t[0], r, i + 1, t[1], t[2])
                for i, t in enumerate(ranked)
            )
    return exits


@query("successive_halving_schedule", _sh_oracle())
def successive_halving_schedule(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Successive halving — the Hyperband inner loop (Li et al. JMLR
    '18) — replayed over nation "configs": every nation starts at rung
    0 scored on its first 12 months of average order value, the top
    half (ceil, ties to the lower nation key) advances to the
    24-month rung, then 48, then 96 — the canonical
    evaluate-cheaply-first scheduler for hyperparameter search and
    data-mixture selection.  Emits each config's exit rung, its rank
    among that rung's participants, and the metric it was judged on.

    The budgets are NESTED, so all four rung metrics come from ONE
    corpus-sized rollup: each order fans out to the ≤4 rungs whose
    window contains it (constant fan-out, map-side-combinable
    (nation, rung) cells), and the survivor cascade runs DRIVER-SIDE
    over the collected ≤|configs|×4 cell table (the bradley_terry /
    markov alphabet-bounded-state pattern: nation keys are a ≤25-value
    alphabet, so the cascade state is ~100 exact-int rows at ANY corpus
    size — never worth 4 sequential Spark window stages).  Metrics are
    Spark's long / long over exact int64 cents/counts (both rounded to
    double, then divided), and the oracle divides the same two doubles,
    so the engines rank alike at any cents value.  Rank ties break by
    nation."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    base = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select(
        F.col("c_nationkey").alias("nation"),
        (
            (F.year("o_orderdate") - 1995) * 12
            + F.month("o_orderdate")
            - 1
        ).alias("mi"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    rung_tbl = spark.createDataFrame(
        list(enumerate(SH_BUDGET_MONTHS)), "rung int, months int"
    )
    cells = (
        base.join(F.broadcast(rung_tbl), F.col("mi") < F.col("months"))
        .groupBy("nation", "rung")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .collect()  # alphabet-bounded: ≤25 nations × 4 rungs
    )
    by_rung: dict[int, list[tuple[int, int, int]]] = {}
    for row in cells:
        by_rung.setdefault(row["rung"], []).append(
            (row["nation"], row["n_orders"], row["cents"])
        )
    exits = _halving_exits(by_rung, len(SH_BUDGET_MONTHS))
    out = spark.createDataFrame(
        exits,
        "nation int, last_rung long, rank_at_exit long,"
        " n_orders long, cents long",
    )
    return out.select(
        F.col("nation").cast("long").alias("nation_key"),
        "last_rung",
        "rank_at_exit",
        "n_orders",
        (
            F.round(
                F.col("cents") / 100.0 / F.col("n_orders") - 1e-9, 4
            )
            + 0.0
        ).alias("avg_value_usd"),
    ).orderBy(
        F.desc("last_rung"), F.asc("rank_at_exit"), F.asc("nation_key")
    )


# --------------------------------------------------------------------------
# exact logistic regression via sufficient statistics on feature cells
# --------------------------------------------------------------------------
LOGIT_NEWTON_ROUNDS = 4


def _logit_stage(i: int) -> str:
    """One Newton-Raphson stage as a nested-SELECT scalar pipeline over
    the 1-row cell-count state (carries n/k cells + b0,b1,b2)."""
    one = "CAST(1.0 AS DOUBLE)"
    p = {
        (a, b): f"{one} / ({one} + exp(-(b0 + b1 * {a} + b2 * {b})))"
        for a in (0, 1)
        for b in (0, 1)
    }
    pcols = ", ".join(
        f"{p[(a, b)]} AS p{a}{b}" for a in (0, 1) for b in (0, 1)
    )
    wr = ", ".join(
        f"n{a}{b} * p{a}{b} * ({one} - p{a}{b}) AS w{a}{b},"
        f" k{a}{b} - n{a}{b} * p{a}{b} AS r{a}{b}"
        for a in (0, 1)
        for b in (0, 1)
    )
    carry = "n00, k00, n01, k01, n10, k10, n11, k11"
    return f"""it{i} AS (
      SELECT {carry},
             b0 + (inv00 * g0 + inv01 * g1 + inv02 * g2) AS b0,
             b1 + (inv01 * g0 + inv11 * g1 + inv12 * g2) AS b1,
             b2 + (inv02 * g0 + inv12 * g1 + inv22 * g2) AS b2
      FROM (
        SELECT *,
               (h11 * h22 - h12 * h12) / dets AS inv00,
               (h02 * h12 - h01 * h22) / dets AS inv01,
               (h01 * h12 - h11 * h02) / dets AS inv02,
               (h00 * h22 - h02 * h02) / dets AS inv11,
               (h02 * h01 - h00 * h12) / dets AS inv12,
               (h00 * h11 - h01 * h01) / dets AS inv22
        FROM (
          SELECT *,
                 -- singular-Hessian guard (a corpus-wide-constant
                 -- feature): NULL the determinant so BOTH engines
                 -- propagate NULL coefficients identically — ANSI
                 -- Spark otherwise ERRORS on x/0.0 while DuckDB
                 -- silently returns NULL (divergent failure modes)
                 nullif(det, CAST(0.0 AS DOUBLE)) AS dets
          FROM (
          SELECT *,
                 h00 * (h11 * h22 - h12 * h12)
                   - h01 * (h01 * h22 - h12 * h02)
                   + h02 * (h01 * h12 - h11 * h02) AS det
          FROM (
            SELECT *,
                   w00 + w01 + w10 + w11 AS h00,
                   w10 + w11 AS h01,
                   w01 + w11 AS h02,
                   w10 + w11 AS h11,
                   w11 AS h12,
                   w01 + w11 AS h22,
                   r00 + r01 + r10 + r11 AS g0,
                   r10 + r11 AS g1,
                   r01 + r11 AS g2
            FROM (
              SELECT *, {wr}
              FROM (SELECT *, {pcols} FROM it{i - 1})
            )
          )
        )
      )
      )
    )"""


def _logit_base_cte() -> str:
    """The ``base AS (...)`` CTE text (corpus scan + label/feature
    binarization), shared verbatim by the oracle and the Spark cell
    rollup."""
    return """base AS {MAT}(
      SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS x1,
             CASE WHEN o.o_totalprice >= 150000 THEN 1 ELSE 0 END AS x2,
             CASE WHEN {DD} > 60 THEN 1 ELSE 0 END AS y
      FROM {orders} o
      JOIN (SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS first_ship
            FROM {lineitem} GROUP BY l_orderkey) li
        ON li.l_orderkey = o.o_orderkey
    )"""


def _logit_cells_select() -> str:
    """ONE groupless map-side-combinable rollup: corpus → the 1-row,
    8-column sufficient-statistics cell frame."""
    cells = ", ".join(
        f"CAST(sum(CASE WHEN x1 = {a} AND x2 = {b} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n{a}{b},"
        f" CAST(sum(CASE WHEN x1 = {a} AND x2 = {b} THEN y ELSE 0 END)"
        f" AS BIGINT) AS k{a}{b}"
        for a in (0, 1)
        for b in (0, 1)
    )
    return f"SELECT {cells} FROM base"


def _logit_cells_sql() -> str:
    """The corpus-reducing half as a standalone statement.  The Spark
    side runs exactly this once and ``localCheckpoint``s the single
    row; the oracle inlines the same fragments as its CTE prefix."""
    return f"""
    WITH {_logit_base_cte()}
    {_logit_cells_select()}
    """


def _logit_newton_sql(src: str) -> str:
    """The scalar half: {LOGIT_NEWTON_ROUNDS} unrolled Newton stages +
    the 4-row calibration output, reading ONLY ``src`` (the 1-row cell
    frame).  Both engines execute this identical expression tree; on
    Spark ``src`` is the checkpointed cell view, so the UNION ALL
    branches re-read one in-memory row, never the corpus."""
    one = "CAST(1.0 AS DOUBLE)"
    stages = ",\n    ".join(
        _logit_stage(i) for i in range(1, LOGIT_NEWTON_ROUNDS + 1)
    )
    outs = "\n      UNION ALL ".join(
        f"SELECT CAST({a} AS BIGINT) AS x_urgent,"
        f" CAST({b} AS BIGINT) AS x_bigticket,"
        f" n{a}{b} AS n, k{a}{b} AS n_pos,"
        # nullif: an EMPTY cell emits NULL rate in both engines (ANSI
        # Spark would error on x/0 where DuckDB silently NULLs)
        f" round(k{a}{b} * 1.0 / nullif(n{a}{b}, 0) - 1e-9, 4) + 0.0"
        f" AS emp_rate,"
        f" round({one} / ({one} + exp(-(b0 + b1 * {a} + b2 * {b})))"
        f" - 1e-9, 4) + 0.0 AS p_hat,"
        f" round(b0 - 1e-9, 4) + 0.0 AS beta0,"
        f" round(b1 - 1e-9, 4) + 0.0 AS beta_urgent,"
        f" round(b2 - 1e-9, 4) + 0.0 AS beta_bigticket"
        f" FROM it{LOGIT_NEWTON_ROUNDS}"
        for a in (0, 1)
        for b in (0, 1)
    )
    return f"""
    WITH it0 AS (
      SELECT *, CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1,
             CAST(0.0 AS DOUBLE) AS b2
      FROM {src}
    ),
    {stages}
    SELECT * FROM (
      {outs}
    ) ORDER BY x_urgent, x_bigticket
    """


def _logit_sql() -> str:
    """Oracle composition: cell prefix as MATERIALIZED CTEs + the
    Newton tail over ``piv`` — the same overall statement as before the
    round-12 split."""
    tail = _logit_newton_sql("piv").strip()[len("WITH") :]
    return f"""
    WITH {_logit_base_cte()},
    piv AS {{MAT}}(
      {_logit_cells_select()}
    ),
    {tail}
    """


@query(
    "logistic_newton_cells",
    _logit_sql()
    .replace("{orders}", "orders")
    .replace("{lineitem}", "lineitem")
    .replace(
        "{DD}",
        "date_diff('day', CAST(o.o_orderdate AS DATE), li.first_ship)",
    )
    .replace("{MAT}", "MATERIALIZED "),
)
def logistic_newton_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained EXACTLY at any scale — the
    sufficient-statistics trick every 100 TB ML pipeline should use
    for discrete features: with binary features the design matrix has
    only 4 distinct rows, so ONE map-side-combinable groupBy reduces
    the whole corpus to 4 (n, positives) cells and Newton-Raphson runs
    on that 1-row state — zero further data passes, no SGD, no
    convergence tuning.  The one-pass claim is enforced in the PLAN
    (round-11 verdict weak #2): the cell frame is computed by a
    standalone statement and ``localCheckpoint``-ed, so the 4-branch
    UNION ALL output re-reads one in-memory row — the corpus lineage
    (2 parquet scans: orders + lineitem) executes exactly once, where
    the previous inlined CTE chain re-ran it per branch (8 scans).
    Fits P(late first shipment) ~ sigmoid(b0 +
    b1·urgent + b2·bigticket) with {LOGIT_NEWTON_ROUNDS} unrolled
    Newton steps (3x3 Hessian inverted by explicit adjugate; binary
    features make H01 = H11 and H02 = H22, which the generated
    expressions exploit), emitting per-cell empirical rate vs fitted
    probability plus the coefficients — the calibration-by-cell view.

    Determinism is total: BOTH engines execute the IDENTICAL generated
    SQL expression tree (the decision-stump shared-template pattern)
    over exact integer cells, so every intermediate double is
    bit-identical; rounding only at output.

    Reference scope: supervised screen over the same late-shipment
    target as ``decision_stump_gini`` (정리/3주차.md operator surface —
    keyed aggregate + scalar pipeline)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "logit_orders"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "logit_lineitem"
    )
    piv = spark.sql(
        _logit_cells_sql()
        .replace("{orders}", "logit_orders")
        .replace("{lineitem}", "logit_lineitem")
        .replace(
            "{DD}",
            "datediff(li.first_ship, CAST(o.o_orderdate AS DATE))",
        )
        .replace("{MAT}", "")
    ).localCheckpoint()
    piv.createOrReplaceTempView("logit_piv")
    return spark.sql(_logit_newton_sql("logit_piv"))


# --------------------------------------------------------------------------
# AdaBoost over decision stumps on the binary-feature cells
# --------------------------------------------------------------------------
ADA_ROUNDS = 3


def _ada_pred_set(a: int, b: int) -> tuple[int, int]:
    """Stump ids that predict POSITIVE for cell (x1=a, x2=b): stump 1 =
    "late iff urgent", 2 = "late iff not urgent", 3 = "late iff big
    ticket", 4 = "late iff not big ticket"."""
    return (1 if a == 1 else 2, 3 if b == 1 else 4)


def _ada_cells_select() -> str:
    """ONE groupless map-side-combinable rollup: corpus → the 1-row
    8-column (x1, x2, label) cell counts — AdaBoost's sufficient
    statistics when the weak learners are stumps over binary features
    (every example in a cell shares every stump's verdict, so weights
    stay uniform within a cell-by-label group forever)."""
    cells = ", ".join(
        f"CAST(sum(CASE WHEN x1 = {a} AND x2 = {b} AND y = {1 if s == 'p' else 0}"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS n{a}{b}{s}"
        for a in (0, 1)
        for b in (0, 1)
        for s in ("p", "n")
    )
    return f"SELECT {cells} FROM base"


def _ada_cells_sql() -> str:
    return f"""
    WITH {_logit_base_cte()}
    {_ada_cells_select()}
    """


def _ada_round(t: int) -> str:
    """One boosting round over the 1-row cell-weight state: normalized
    weighted error of each of the 4 stumps, argmin with lowest-id
    tie-break, alpha = half the log odds of the chosen error, and the
    exponential reweighting — all one scalar expression tree."""
    dbl = "CAST(0.0 AS DOUBLE)"
    eps = {
        1: "w10n + w11n + w00p + w01p",
        2: "w00n + w01n + w10p + w11p",
        3: "w01n + w11n + w00p + w10p",
        4: "w00n + w10n + w01p + w11p",
    }
    carry_n = ", ".join(
        f"n{a}{b}{s}" for a in (0, 1) for b in (0, 1) for s in "pn"
    )
    carry_prev = ", ".join(f"s{i}, e{i}, al{i}" for i in range(1, t))
    carry_prev = (carry_prev + ", ") if carry_prev else ""
    upd = []
    for a in (0, 1):
        for b in (0, 1):
            p1, p2 = _ada_pred_set(a, b)
            inset = f"s{t} IN ({p1}, {p2})"
            upd.append(
                f"w{a}{b}p * exp(CASE WHEN {inset} THEN -al{t}"
                f" ELSE al{t} END) AS w{a}{b}p"
            )
            upd.append(
                f"w{a}{b}n * exp(CASE WHEN {inset} THEN al{t}"
                f" ELSE -al{t} END) AS w{a}{b}n"
            )
    return f"""ad{t} AS (
      SELECT {carry_n}, {carry_prev}s{t}, e{t}, al{t},
             {", ".join(upd)}
      FROM (
        SELECT *,
               -- nullif ladder: a perfect (e=0) or hopeless (e=1)
               -- stump NULLs alpha identically in both engines
               -- instead of DuckDB erroring on ln(0)/x/0
               0.5 * ln(nullif((1.0 - e{t}) / nullif(e{t}, {dbl}),
                        {dbl})) AS al{t}
        FROM (
          SELECT *,
                 CASE s{t} WHEN 1 THEN r1 WHEN 2 THEN r2
                           WHEN 3 THEN r3 ELSE r4 END AS e{t}
          FROM (
            SELECT *,
                   CASE WHEN r1 <= r2 AND r1 <= r3 AND r1 <= r4 THEN 1
                        WHEN r2 <= r3 AND r2 <= r4 THEN 2
                        WHEN r3 <= r4 THEN 3
                        ELSE 4 END AS s{t}
            FROM (
              SELECT *,
                     ({eps[1]}) / wt AS r1, ({eps[2]}) / wt AS r2,
                     ({eps[3]}) / wt AS r3, ({eps[4]}) / wt AS r4
              FROM (
                SELECT *,
                       nullif(w00p + w00n + w01p + w01n + w10p + w10n
                              + w11p + w11n, {dbl}) AS wt
                FROM ad{t - 1}
              )
            )
          )
        )
      )
    )"""


def _ada_outs() -> str:
    rows = []
    for a in (0, 1):
        for b in (0, 1):
            p1, p2 = _ada_pred_set(a, b)
            margin = " + ".join(
                f"CASE WHEN s{t} IN ({p1}, {p2}) THEN al{t}"
                f" ELSE -al{t} END"
                for t in range(1, ADA_ROUNDS + 1)
            )
            round_cols = ", ".join(
                f"CAST(s{t} AS BIGINT) AS stump_r{t},"
                f" round(e{t} - 1e-9, 4) + 0.0 AS err_r{t},"
                f" round(al{t} - 1e-9, 4) + 0.0 AS alpha_r{t}"
                for t in range(1, ADA_ROUNDS + 1)
            )
            rows.append(
                f"SELECT CAST({a} AS BIGINT) AS x_urgent,"
                f" CAST({b} AS BIGINT) AS x_bigticket,"
                f" n{a}{b}p + n{a}{b}n AS n, n{a}{b}p AS n_late,"
                f" round(({margin}) - 1e-9, 4) + 0.0 AS margin,"
                f" CAST(CASE WHEN ({margin}) > 0 THEN 1"
                f"           WHEN ({margin}) <= 0 THEN 0 END AS INT)"
                f" AS pred_late,"
                f" {round_cols}"
                f" FROM ad{ADA_ROUNDS}"
            )
    return "\n      UNION ALL ".join(rows)


def _ada_tail_sql(src: str) -> str:
    inits = ", ".join(
        f"CAST(n{a}{b}{s} AS DOUBLE) AS w{a}{b}{s}"
        for a in (0, 1)
        for b in (0, 1)
        for s in "pn"
    )
    stages = ",\n    ".join(_ada_round(t) for t in range(1, ADA_ROUNDS + 1))
    return f"""
    WITH ad0 AS (
      SELECT *, {inits}
      FROM {src}
    ),
    {stages}
    SELECT * FROM (
      {_ada_outs()}
    ) ORDER BY x_urgent, x_bigticket
    """


def _ada_sql() -> str:
    tail = _ada_tail_sql("cells8").strip()[len("WITH") :]
    return f"""
    WITH {_logit_base_cte()},
    cells8 AS {{MAT}}(
      {_ada_cells_select()}
    ),
    {tail}
    """


@query(
    "adaboost_stumps_cells",
    _ada_sql()
    .replace("{orders}", "orders")
    .replace("{lineitem}", "lineitem")
    .replace(
        "{DD}",
        "date_diff('day', CAST(o.o_orderdate AS DATE), li.first_ship)",
    )
    .replace("{MAT}", "MATERIALIZED "),
)
def adaboost_stumps_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AdaBoost.M1 (Freund & Schapire '97) trained EXACTLY at any
    scale, round 12's second member of the sufficient-statistics fit
    family: with decision-stump weak learners over binary features,
    every example in an (x1, x2, label) cell receives the identical
    verdict from every stump, so example weights stay uniform within
    the 8 cells forever — ONE map-side-combinable rollup reduces the
    corpus to 8 counts and the {ADA_ROUNDS} boosting rounds run as a
    scalar expression pipeline over that 1-row state (the
    ``logistic_newton_cells`` template: cells localCheckpointed once,
    zero further corpus passes, the 4-branch output reads one
    in-memory row).  Per round: normalized weighted error of all 4
    stumps ("late iff urgent/not-urgent/big-ticket/not-big-ticket"),
    argmin with lowest-id tie-break, alpha = ½·ln((1−e)/e),
    exponential reweighting.  Emits each cell's ensemble margin
    Σ αₜ·hₜ and prediction plus every round's (stump, error, alpha) —
    the boosting trace a feature-screen reads to see WHICH signal the
    ensemble leans on and how fast it saturates.

    Determinism is total: both engines execute the IDENTICAL generated
    expression tree over exact integer cells (stump choice compares
    the same doubles, ln/exp chains are bit-identical); rounding only
    at output.  The nullif ladder NULLs alpha on a perfect/hopeless
    stump identically in both engines (DuckDB would error on ln(0)).

    Reference scope: supervised screen over the same late-shipment
    target as ``decision_stump_gini`` / ``logistic_newton_cells``
    (정리/3주차.md operator surface — keyed aggregate + scalar
    pipeline)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "ada_orders"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "ada_lineitem"
    )
    cells = spark.sql(
        _ada_cells_sql()
        .replace("{orders}", "ada_orders")
        .replace("{lineitem}", "ada_lineitem")
        .replace(
            "{DD}",
            "datediff(li.first_ship, CAST(o.o_orderdate AS DATE))",
        )
        .replace("{MAT}", "")
    ).localCheckpoint()
    cells.createOrReplaceTempView("ada_cells")
    return spark.sql(_ada_tail_sql("ada_cells"))
