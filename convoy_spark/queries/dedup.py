"""Deduplication catalog queries over the ``documents`` table
(north-star extensions, SURVEY §7 M6).

Every query here — including the MinHash and SimHash *sketches* — has
a full DuckDB oracle: the sketch hashes are the cross-engine
deterministic family from :mod:`convoy_spark.functions.hashing`, so
the oracle reproduces signatures bit-for-bit and the driver's
value-hash comparison applies to the approximate operators too, not
just the exact ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from convoy_spark.functions.numeric import sql_dsum
from convoy_spark.functions.hashing import (
    MERSENNE31,
    WS_SPLIT,
    hash60,
    minhash_params,
    sql_hash60,
)
from convoy_spark.operators.dedup import (
    SUBSTR_CAP,
    SUBSTR_K,
    SUBSTR_MIN_SHARED,
    SUBSTR_MOD,
    substring_dup_pairs,
    LSH_ROWS,
    NUM_HASHES,
    SETSIM_DEN,
    SETSIM_NUM,
    exact_dedup_map,
    jaccard_pairs,
    minhash_lsh_neardup,
    minhash_signatures,
    setsim_prefix_join,
    shingle_hashes,
    simhash_neardup,
)
from convoy_spark.queries.catalog import query
from convoy_spark.queries.shared import shared_build
from convoy_spark.tables import load_table

NEARDUP_J = 0.8  # the corpus has planted near-dups at J ≈ 0.98

# Several catalog queries consume the SAME verified LSH pair graph
# (minhash_lsh_neardup, dedup_clusters, split_contamination,
# dedup_keep_best, domain_dedup_rates); the sketch→band→verify
# pipeline is by far their dominant cost, so
# materialize it once per (session, sf_dir) — the cross-query
# shared-frame pattern from queries.treestats.shared_descendant_pairs.
# Deterministic, so results are unchanged; only recomputation is
# removed. The DuckDB oracles still re-derive their pair CTE per
# query.
@shared_build("lsh_pairs", family="lsh")
def shared_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_neardup(
        load_table(spark, sf_dir, "documents"), min_jaccard=NEARDUP_J
    ).localCheckpoint(eager=False)

# ---- shared oracle CTE fragments ---------------------------------------

# Distinct word-3-gram shingle hashes per doc; mirrors
# operators.dedup.shingle_hashes (split → slice → join → md5-hash60).
SHINGLES_SQL = f"""
toks AS (
  SELECT doc_id, string_split_regex(lower(text), '{WS_SPLIT}') AS t
  FROM documents
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
  FROM toks WHERE len(t) >= 3
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS shingle
  FROM idx
),
shh AS (SELECT doc_id, {sql_hash60('shingle')} AS h FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY doc_id)
"""

_PARAMS_VALUES = ", ".join(f"({i}, {a}, {b})" for i, a, b in minhash_params(NUM_HASHES))

MINHASH_SQL = f"""
params(i, a, b) AS (VALUES {_PARAMS_VALUES}),
mh AS (
  SELECT s.doc_id, p.i,
         MIN((p.a * (s.h % {MERSENNE31}) + p.b) % {MERSENNE31}) AS v
  FROM shh s CROSS JOIN params p
  GROUP BY s.doc_id, p.i
)
"""


@query(
    "exact_dedup",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {sql_hash60('text')} AS content_hash FROM documents
    ),
    c AS (
      SELECT content_hash, MIN(doc_id) AS canonical_id FROM h GROUP BY content_hash
    )
    SELECT h.doc_id, h.content_hash, c.canonical_id
    FROM h JOIN c USING (content_hash)
    """,
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup (hash-groupBy): every doc mapped to the
    lowest-id member of its content-hash group. One shuffle carrying
    one row per distinct hash (map-side partial min); deterministic
    first-wins unlike dropDuplicates."""
    return exact_dedup_map(load_table(spark, sf_dir, "documents"))


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {SHINGLES_SQL},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {NEARDUP_J}
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs at J ≥ 0.8 — the all-pairs
    verifier (quadratic on shared shingles; the LSH query below is the
    100 TB path)."""
    return jaccard_pairs(load_table(spark, sf_dir, "documents"), NEARDUP_J)


@query(
    "setsim_prefix_join",
    oracle=f"""
    WITH {SHINGLES_SQL},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE {SETSIM_DEN} * c >= {SETSIM_NUM} * (sa.n + sb.n - c)
    """,
)
def setsim_prefix_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.8 pairs via prefix filtering
    (operators/dedup.py::setsim_prefix_join) — the scalable EXACT
    set-similarity join (All-Pairs/PPJoin/Vernica): only df-ordered
    ~20% prefixes ever meet in the candidate join, then candidates are
    verified exactly. The oracle is the all-pairs form with the same
    integer threshold test, so the driver check proves the prefix
    pruning is lossless (candidate completeness), not just precision."""
    return setsim_prefix_join(load_table(spark, sf_dir, "documents"))


# Banding operating points for the LSH sweep: rows-per-band r over the
# fixed 16-hash signature → b = 16/r bands. r=1 is the recall-greedy
# extreme (any matching hash → candidate), r=16 the precision-greedy
# one (all 16 must match). The S-curve knee sits at J ≈ (1/b)^(1/r).
LSH_SWEEP_ROWS = [1, 2, 4, 8, 16]


def _lsh_band_sweep_oracle() -> str:
    parts = [
        f"""
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING {SETSIM_DEN} * COUNT(*) >=
             {SETSIM_NUM} * ((SELECT n FROM sizes WHERE doc_id = a.doc_id)
                             + (SELECT n FROM sizes WHERE doc_id = b.doc_id)
                             - COUNT(*))
    )
    """
    ]
    rows = []
    for r in LSH_SWEEP_ROWS:
        parts.append(f"""
    bands_{r} AS (
      SELECT doc_id, i // {r} AS band,
             string_agg(CAST(v AS VARCHAR), '-' ORDER BY i) AS key
      FROM mh GROUP BY doc_id, i // {r}
    ),
    cand_{r} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_{r} a
      JOIN bands_{r} b ON a.band = b.band AND a.key = b.key
                      AND a.doc_id < b.doc_id
    ),
    row_{r} AS (
      SELECT CAST({r} AS INT) AS rows_per_band,
             CAST({NUM_HASHES // r} AS INT) AS n_bands,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{r}) AS n_cand,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
                (SELECT * FROM cand_{r} INTERSECT SELECT * FROM truth)
             ) AS cand_hits
    )
    """)
        rows.append(f"SELECT * FROM row_{r}")
    union = " UNION ALL ".join(rows)
    return f"""
    WITH {SHINGLES_SQL}, {MINHASH_SQL}, {','.join(parts)}
    SELECT rows_per_band, n_bands, n_cand, n_true, cand_hits,
           CASE WHEN n_true = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(cand_hits AS DOUBLE) / n_true END AS recall,
           CASE WHEN n_cand = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(cand_hits AS DOUBLE) / n_cand END AS precision
    FROM ({union})
    """


@query("lsh_band_sweep", oracle=_lsh_band_sweep_oracle())
def lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding operating curve for the MinHash-LSH sketch (the
    pq_recall_sweep pattern applied to the dedup family): for each
    rows-per-band r in {LSH_SWEEP_ROWS} over the fixed 16-hash
    signature, the banded candidate set's size (cost), recall and
    precision against the EXACT Jaccard ≥ 0.8 truth — the truth comes
    from the lossless prefix-filtered join (setsim_prefix_join), so
    the whole curve is exact and hash-checkable (recall/precision are
    single IEEE divisions of exact integer counts). An operator, not
    a test: this is the sweep a deployment runs to place the S-curve
    knee ((1/b)^(1/r)) for its duplicate-similarity target. ONE corpus
    pass builds the wide signature frame; each operating point derives
    its band keys from that checkpointed frame — at 100 TB the sweep
    costs |sweep| band-key aggregations + equi-joins, never a second
    tokenization. The r=1 point is deliberately the quadratic
    diagnostic (any single matching hash → candidate): Spark's
    exchange-partitioned join absorbs it (12.2 s for all five points
    at sf1.0) while the DuckDB oracle spilled 79 GB and died at the
    same SF (BENCH_NOTES round 7) — knowing that r=1 is infeasible IS
    the sweep's product."""
    from convoy_spark.operators.dedup import lsh_candidate_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sig = minhash_signatures(docs).localCheckpoint(eager=False)
    truth = (
        setsim_prefix_join(docs)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    n_true = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    out = None
    for r in LSH_SWEEP_ROWS:
        cand = lsh_candidate_pairs(sig, rows_per_band=r)
        # ONE pass over the banded-join pipeline for both counts: the
        # truth side is a tiny checkpointed pair set (unique pairs, so
        # the left join fans 1:1 and count(_h) == the previous
        # left-semi count) — the round-9 shape ran the banded
        # candidate join TWICE per operating point.
        stats = cand.join(
            truth.withColumn("_h", F.lit(1)), ["doc_a", "doc_b"], "left"
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_cand"),
            F.count("_h").cast("long").alias("cand_hits"),
        )
        row = (
            stats.crossJoin(n_true)
            .select(
                F.lit(r).cast("int").alias("rows_per_band"),
                F.lit(NUM_HASHES // r).cast("int").alias("n_bands"),
                "n_cand",
                "n_true",
                "cand_hits",
                F.when(F.col("n_true") == 0, F.lit(0.0))
                .otherwise(
                    F.col("cand_hits").cast("double")
                    / F.col("n_true").cast("double")
                )
                .alias("recall"),
                F.when(F.col("n_cand") == 0, F.lit(0.0))
                .otherwise(
                    F.col("cand_hits").cast("double")
                    / F.col("n_cand").cast("double")
                )
                .alias("precision"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "minhash_signatures",
    oracle=f"""
    WITH {SHINGLES_SQL},
    {MINHASH_SQL}
    SELECT doc_id, i, v FROM mh
    """,
)
def minhash_signatures_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-permutation MinHash signatures in long format — fixed-size
    sketch per doc (16 longs regardless of doc length), bit-identical
    across engines by construction."""
    return minhash_signatures(load_table(spark, sf_dir, "documents"))


# LSH sketch→verify pair pipeline as a reusable CTE chain ending in
# pairs(doc_a, doc_b, jaccard); shared by minhash_lsh_neardup and
# split_contamination so the two oracles cannot drift.
LSH_PAIRS_SQL = f"""
bands AS (
  SELECT doc_id, i // {LSH_ROWS} AS band,
         string_agg(CAST(v AS VARCHAR), '-' ORDER BY i) AS key
  FROM mh GROUP BY doc_id, i // {LSH_ROWS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS nc
  FROM cand c
  JOIN shh x ON x.doc_id = c.doc_a
  JOIN shh y ON y.doc_id = c.doc_b AND y.h = x.h
  GROUP BY c.doc_a, c.doc_b
),
pairs AS (
  SELECT doc_a, doc_b, CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) >= {NEARDUP_J}
)
"""


@query(
    "minhash_lsh_neardup",
    oracle=f"""
    WITH {SHINGLES_SQL},
    {MINHASH_SQL},
    {LSH_PAIRS_SQL}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def minhash_lsh_neardup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup, sketch-then-verify: 4 bands × 4 rows puts
    the S-curve knee at J ≈ 0.71; candidates sharing a band bucket get
    exact-Jaccard verification. All equi-joins — the all-pairs
    explosion never happens, which is what makes this the 100 TB
    dedup path."""
    return shared_lsh_pairs(spark, sf_dir)


@query(
    "simhash_neardup",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, w, COUNT(*) AS cnt FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text),
                                                 '{WS_SPLIT}')) AS w
        FROM documents
      ) WHERE w <> '' GROUP BY doc_id, w
    ),
    th AS (SELECT doc_id, {sql_hash60('w')} AS h, cnt FROM tk),
    bitsj AS (SELECT unnest(generate_series(0, 59)) AS j),
    contrib AS (
      SELECT doc_id, j, SUM(cnt * (2 * ((h >> j) & 1) - 1)) AS s
      FROM th CROSS JOIN bitsj GROUP BY doc_id, j
    ),
    fp AS (
      SELECT doc_id,
             SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
               AS simhash
      FROM contrib GROUP BY doc_id
    ),
    blks AS (SELECT unnest(generate_series(0, 4)) AS blk),
    blocked AS (
      SELECT doc_id, simhash, blk,
             (simhash >> (blk * 12)) & 4095 AS blk_val
      FROM fp CROSS JOIN blks
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM blocked a
    JOIN blocked b ON a.blk = b.blk AND a.blk_val = b.blk_val
                   AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_neardup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit frequency-weighted fingerprints,
    pigeonhole block join (5 × 12-bit blocks finds every pair within
    hamming 4; filtered to ≤ 3). One fingerprint per doc — the
    cheapest sketch — at the cost of coarser similarity resolution
    than MinHash."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup(docs, max_hamming=3).withColumn(
        "hamming", F.col("hamming").cast("int")
    )


SPLIT_SALT = "split-v1"
SPLIT_TRAIN_PCT, SPLIT_VAL_PCT = 90, 5  # test = remainder


@query(
    "dataset_split",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             {sql_hash60(f"concat('{SPLIT_SALT}:', doc_id)")} % 100 AS bucket
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             CASE
               WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
               WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
               ELSE 'test'
             END AS split
      FROM b
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM s GROUP BY split
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment — the standard
    pretraining-pipeline split: bucket = salted content-independent
    hash of the document key mod 100, so membership is (a) stable
    across runs, engines and cluster sizes, (b) reproducible from the
    key alone (no stored split table), and (c) re-saltable for new
    epochs/folds by changing one constant. Keying on the id rather
    than the text keeps exact/near duplicates from straddling splits
    ONLY if dedup runs first — which is why the dedup operators sit
    upstream in this module. Pure map-side projection + one tiny
    rollup shuffle; the per-split counts + id ranges returned here
    are the sanity profile a split job emits at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", _split_col().alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


_SPLIT_CASE_SQL = f"""
CASE
  WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
  WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
  ELSE 'test'
END
"""


def _split_col():
    bucket = hash60(F.concat(F.lit(f"{SPLIT_SALT}:"), F.col("doc_id"))) % 100
    return (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )


SAMPLE_SALT = "sample-v1"
SAMPLE_PCT = 20


@query(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, lang,
           {sql_hash60(f"concat('{SAMPLE_SALT}:', doc_id)")} % 100
             AS sample_bucket
    FROM documents
    WHERE {sql_hash60(f"concat('{SAMPLE_SALT}:', doc_id)")} % 100
          < {SAMPLE_PCT}
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% Bernoulli sample by salted key hash — the
    dataset-management sampling primitive: membership is stable
    across runs, engines and cluster sizes (no RNG, no
    partition-order dependence), re-drawable by changing the salt,
    and per-stratum proportions hold automatically because the hash
    is uniform within every stratum (lang returned to show it).
    Map-side only: a filter the scan can evaluate — zero shuffle,
    which is the only acceptable cost for subsetting 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        hash60(F.concat(F.lit(f"{SAMPLE_SALT}:"), F.col("doc_id"))) % 100
    )
    return (
        docs.select("doc_id", "lang", bucket.alias("sample_bucket"))
        .filter(F.col("sample_bucket") < SAMPLE_PCT)
    )


EXACT_K = 50


@query(
    "exact_k_sample",
    oracle=f"""
    SELECT doc_id, lang, h AS sample_rank_key FROM (
      SELECT doc_id, lang,
             {sql_hash60(f"concat('{SAMPLE_SALT}:k:', doc_id)")} AS h
      FROM documents
    ) ORDER BY h ASC, doc_id ASC LIMIT {EXACT_K}
    """,
)
def exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k deterministic sample: the k smallest salted key
    hashes — the distributed, rerun-stable replacement for reservoir
    sampling (a sequential algorithm that cannot shard): every engine
    and every cluster size picks the IDENTICAL k documents, and at
    100 TB it executes as TakeOrderedAndProject (per-partition top-k
    merged at the driver, k rows of driver traffic — never a sort of
    the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    h = hash60(F.concat(F.lit(f"{SAMPLE_SALT}:k:"), F.col("doc_id")))
    return (
        docs.select("doc_id", "lang", h.alias("sample_rank_key"))
        .orderBy(F.col("sample_rank_key").asc(), F.col("doc_id").asc())
        .limit(EXACT_K)
    )


# Connected components of the LSH pair graph as a recursive CTE
# chain ending in comp(doc_id, comp_id) — shared by dedup_clusters
# and dedup_keep_best so the reachability computation has ONE copy.
COMPONENTS_SQL = """
sym(src, dst) AS (
  SELECT doc_a, doc_b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM sym)
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
),
comp AS (SELECT src AS doc_id, MIN(dst) AS comp_id FROM reach GROUP BY src)
"""


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {SHINGLES_SQL},
    {MINHASH_SQL},
    {LSH_PAIRS_SQL},
    {COMPONENTS_SQL}
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM (
      SELECT d.doc_id, COALESCE(c.comp_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup canonicalization: LSH pair graph → connected
    components → one cluster id (the min doc id) per document, with
    cluster size and a canonical flag — the step that turns pairwise
    near-dup evidence into the keep/drop decision a dedup pipeline
    actually executes. Composition of two existing scale paths: the
    bucketed LSH pair join (no all-pairs) and min-label-propagation
    components (operators/closure.py::connected_components, label
    compression per round). The oracle computes the same components
    via a recursive reachability CTE."""
    from convoy_spark.operators.closure import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = shared_lsh_pairs(spark, sf_dir)
    comp = connected_components(pairs)
    w = Window.partitionBy("cluster_id")
    return (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.node_id, "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("cluster_id"),
        )
        .select(
            "doc_id",
            "cluster_id",
            F.count("*").over(w).cast("long").alias("cluster_size"),
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        )
    )


@query(
    "split_contamination",
    oracle=f"""
    WITH {SHINGLES_SQL},
    {MINHASH_SQL},
    {LSH_PAIRS_SQL},
    b2 AS (
      SELECT doc_id,
             {sql_hash60(f"concat('{SPLIT_SALT}:', doc_id)")} % 100 AS bucket
      FROM documents
    ),
    s AS (SELECT doc_id, {_SPLIT_CASE_SQL} AS split FROM b2)
    SELECT p.doc_a, p.doc_b,
           sa.split AS split_a, sb.split AS split_b, p.jaccard
    FROM pairs p
    JOIN s sa ON sa.doc_id = p.doc_a
    JOIN s sb ON sb.doc_id = p.doc_b
    WHERE sa.split <> sb.split
      AND (sa.split = 'train' OR sb.split = 'train')
    """,
)
def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check — the decontamination pass every
    pretraining pipeline runs before shipping an eval set: near-dup
    pairs (MinHash-LSH sketch→verify, J ≥ 0.8) that STRADDLE
    the train/eval boundary of `dataset_split`. A val/test document
    with a training near-twin invalidates the eval; this surfaces
    exactly those pairs with their similarity. Composition of two
    existing scale paths — the LSH pair join (no all-pairs) plus the
    map-side split assignment — so the whole check inherits their
    100 TB shape."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = shared_lsh_pairs(spark, sf_dir)
    splits = docs.select("doc_id", _split_col().alias("split"))
    return (
        pairs.join(
            splits.withColumnsRenamed({"doc_id": "doc_a", "split": "split_a"}),
            "doc_a",
        )
        .join(
            splits.withColumnsRenamed({"doc_id": "doc_b", "split": "split_b"}),
            "doc_b",
        )
        .filter(
            (F.col("split_a") != F.col("split_b"))
            & ((F.col("split_a") == "train") | (F.col("split_b") == "train"))
        )
        .select("doc_a", "doc_b", "split_a", "split_b", "jaccard")
    )


from convoy_spark.queries.textops import quality_score_sql  # noqa: E402


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {SHINGLES_SQL},
    {MINHASH_SQL},
    {LSH_PAIRS_SQL},
    sym(src, dst) AS (
      SELECT doc_a, doc_b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, src FROM (SELECT DISTINCT src FROM sym)
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ),
    comp AS (SELECT src AS doc_id, MIN(dst) AS comp_id FROM reach GROUP BY src),
    qt AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '{WS_SPLIT}'),
                         x -> x <> '') AS qtoks
      FROM documents
    ),
    tq AS (
      SELECT doc_id,
        {quality_score_sql('qtoks', 'text')} AS quality_score
      FROM qt
    ),
    cl AS (
      SELECT d.doc_id, COALESCE(c.comp_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT cl.doc_id, cl.cluster_id, tq.quality_score,
           row_number() OVER (
             PARTITION BY cl.cluster_id
             ORDER BY tq.quality_score DESC NULLS LAST, cl.doc_id ASC
           ) = 1 AS is_kept
    FROM cl JOIN tq ON cl.doc_id = tq.doc_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup canonicalization — what curation
    pipelines actually execute: within each near-dup CLUSTER keep the
    HIGHEST-QUALITY copy (composite quality_score from text_quality;
    deterministic (score desc, doc_id) tie-break), not the first-seen
    one. Composes three proven scale paths — the shared LSH pair
    graph, min-label-propagation components, and the scan-side
    quality score — into per-cluster argmax via one rank window
    keyed on cluster_id. Past-window by design: the cluster machinery
    is proven by in-window dedup_clusters; this is its keep-policy
    variant."""
    from convoy_spark.operators.closure import connected_components
    from convoy_spark.operators.textops import text_quality

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(shared_lsh_pairs(spark, sf_dir))
    q = text_quality(docs).select("doc_id", "quality_score")
    base = (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.node_id, "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("cluster_id"),
        )
        .join(q, "doc_id", "left")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc_nulls_last(), F.col("doc_id").asc()
    )
    return base.withColumn("is_kept", F.row_number().over(w) == 1)


@query(
    "split_vocab_shift",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, token FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '{WS_SPLIT}')) AS token
        FROM documents
      ) WHERE token <> ''
    ),
    b4 AS (
      SELECT doc_id,
             {sql_hash60(f"concat('{SPLIT_SALT}:', doc_id)")} % 100 AS bucket
      FROM documents
    ),
    s AS (SELECT doc_id, {_SPLIT_CASE_SQL} AS split FROM b4),
    tc AS (
      SELECT token,
             SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS cv,
             SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS cx
      FROM tk JOIN s USING (doc_id) GROUP BY token
    ),
    tot AS (
      SELECT CAST(SUM(ct) AS DOUBLE) AS nt, CAST(SUM(cv) AS DOUBLE) AS nv,
             CAST(SUM(cx) AS DOUBLE) AS nx
      FROM tc
    )
    SELECT 'train' AS split_a, 'val' AS split_b,
           0.5 * {sql_dsum('abs(CAST(ct AS DOUBLE) / nt'
                           ' - CAST(cv AS DOUBLE) / nv)')} AS tv_distance
    FROM tc, tot
    UNION ALL
    SELECT 'train', 'test',
           0.5 * {sql_dsum('abs(CAST(ct AS DOUBLE) / nt'
                           ' - CAST(cx AS DOUBLE) / nx)')}
    FROM tc, tot
    UNION ALL
    SELECT 'val', 'test',
           0.5 * {sql_dsum('abs(CAST(cv AS DOUBLE) / nv'
                           ' - CAST(cx AS DOUBLE) / nx)')}
    FROM tc, tot
    """,
)
def split_vocab_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance between the token DISTRIBUTIONS of
    each split pair — the distribution-shift sanity check a split job
    emits: a salted-hash split should produce near-identical unigram
    distributions (TV ≈ small), and a skewed TV flags a broken split
    or a topically clustered id space. TV = ½·Σ|p−q| is deliberately
    chosen over KL: it is log-free (ln differs in final ulps across
    engines — the same reason BM25 uses the rational idf), so with
    decimal-exact |p−q| sums the statistic is value-hash-checkable.
    One (token) count shuffle with map-side combine + broadcast
    totals; output is 3 rows."""
    from convoy_spark.functions.numeric import dsum
    from convoy_spark.operators.dedup import doc_tokens

    docs = load_table(spark, sf_dir, "documents")
    splits = docs.select("doc_id", _split_col().alias("split"))
    tc = (
        doc_tokens(docs)
        .join(splits, "doc_id")
        .groupBy("token")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("ct"),
            F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("cv"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("cx"),
        )
    )
    tot = tc.agg(
        F.sum("ct").cast("double").alias("nt"),
        F.sum("cv").cast("double").alias("nv"),
        F.sum("cx").cast("double").alias("nx"),
    )
    j = tc.crossJoin(F.broadcast(tot))
    pairs = [
        ("train", "val", "ct", "nt", "cv", "nv"),
        ("train", "test", "ct", "nt", "cx", "nx"),
        ("val", "test", "cv", "nv", "cx", "nx"),
    ]
    outs = [
        j.agg(
            (
                0.5
                * dsum(
                    F.abs(
                        F.col(ca).cast("double") / F.col(na)
                        - F.col(cb).cast("double") / F.col(nb)
                    )
                )
            ).alias("tv_distance")
        ).select(
            F.lit(sa).alias("split_a"), F.lit(sb).alias("split_b"), "tv_distance"
        )
        for sa, sb, ca, na, cb, nb in pairs
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


NGRAM_CONTAM_N = 13  # GPT-3-style exact 13-gram overlap check
NGRAM_CONTAM_CAP = 64  # stop-gram cap: boilerplate n-grams carry no signal


# Shared 13-gram + split CTE chain: the exact-overlap check below and
# the Bloom-pruned scale path share this fragment BY CONSTRUCTION (the
# hybrid_rrf_topk precedent — shared fragments cannot drift), ending
# in tr(doc_id, h) / ev(doc_id, h, split), capped distinct 13-gram
# hashes per train/eval doc.
_NGRAM13_CTES = f"""toks AS (
      SELECT doc_id, string_split_regex(lower(text), '{WS_SPLIT}') AS t
      FROM documents
    ),
    idx AS (
      SELECT doc_id, t,
             unnest(generate_series(1, len(t) - {NGRAM_CONTAM_N - 1})) AS i
      FROM toks WHERE len(t) >= {NGRAM_CONTAM_N}
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(
               t[CAST(i AS INT):CAST(i AS INT) + {NGRAM_CONTAM_N - 1}],
               ' ') AS shingle
      FROM idx
    ),
    g0 AS (SELECT doc_id, {sql_hash60('shingle')} AS h FROM sh),
    ok AS (SELECT h FROM g0 GROUP BY h HAVING COUNT(*) <= {NGRAM_CONTAM_CAP}),
    g AS (SELECT g0.* FROM g0 JOIN ok USING (h)),
    b3 AS (
      SELECT doc_id,
             {sql_hash60(f"concat('{SPLIT_SALT}:', doc_id)")} % 100 AS bucket
      FROM documents
    ),
    s AS (SELECT doc_id, {_SPLIT_CASE_SQL} AS split FROM b3),
    tr AS (
      SELECT g.doc_id, g.h FROM g JOIN s USING (doc_id)
      WHERE s.split = 'train'
    ),
    ev AS (
      SELECT g.doc_id, g.h, s.split FROM g JOIN s USING (doc_id)
      WHERE s.split <> 'train'
    )"""


def _contamination_split_grams(spark, sf_dir, checkpoint=False):
    """Spark twin of _NGRAM13_CTES: (tr, ev) frames of capped distinct
    13-gram hashes, tr = (doc_id, h) train side, ev = (doc_id, h,
    split) eval side — one implementation feeding both the exact
    check and the Bloom scale path. ``checkpoint`` materializes the
    shared gram+split frame once before slicing (the shared-frame
    pattern) for callers that fan it out to several consumers."""
    docs = load_table(spark, sf_dir, "documents")
    g = shingle_hashes(docs, n=NGRAM_CONTAM_N)
    ok = (
        g.groupBy("h")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= NGRAM_CONTAM_CAP)
        .select("h")
    )
    gg = g.join(ok, "h", "left_semi")
    s = docs.select("doc_id", _split_col().alias("split"))
    gs = gg.join(s, "doc_id")
    if checkpoint:
        gs = gs.localCheckpoint()
    tr = gs.filter(F.col("split") == "train").select("doc_id", "h")
    ev = gs.filter(F.col("split") != "train").select("doc_id", "h", "split")
    return tr, ev


@query(
    "ngram_contamination",
    oracle=f"""
    WITH {_NGRAM13_CTES}
    SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc,
           ev.split AS eval_split, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM tr JOIN ev ON tr.h = ev.h
    GROUP BY tr.doc_id, ev.doc_id, ev.split
    """,
)
def ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram eval-contamination check — the GPT-3-style
    complement to the MinHash `split_contamination` above: an eval
    doc is contaminated if it shares ANY {NGRAM_CONTAM_N}-token exact
    n-gram with a training doc (near-dup similarity can miss verbatim
    quoted passages inside otherwise-different documents; this
    catches exactly those). Reports every (train, eval) pair with the
    count of distinct shared n-grams. Shape: distinct word-n-gram
    hashes per doc (scan-side Generate), stop-gram cap > {
    NGRAM_CONTAM_CAP} docs (boilerplate bound, same skew guard as the
    substring and LSH joins — worst-case join cost cap²·|grams|),
    then ONE hash equi-join between the train and eval posting sides
    — never all-pairs, map-side split assignment."""
    tr0, ev0 = _contamination_split_grams(spark, sf_dir)
    tr = tr0.select(F.col("doc_id").alias("train_doc"), "h")
    ev = ev0.select(
        F.col("doc_id").alias("eval_doc"), F.col("split").alias("eval_split"), "h"
    )
    return (
        tr.join(ev, "h")
        .groupBy("train_doc", "eval_doc", "eval_split")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


from convoy_spark.operators.dedup import (  # noqa: E402
    BLOOM_BITS_PER_KEY,
    BLOOM_K,
    BLOOM_WORD,
    bloom_decontaminate,
)

_BLOOM_PRM = ", ".join(f"({a}, {b})" for _i, a, b in minhash_params(BLOOM_K))
_BLOOM_BIT = f"1::BIGINT << CAST(p % {BLOOM_WORD} AS INT)"


@query(
    "bloom_decontaminate",
    oracle=f"""
    WITH {_NGRAM13_CTES},
    evh AS (SELECT DISTINCT h FROM ev),
    mm AS (
      SELECT greatest(1::BIGINT,
               ({BLOOM_BITS_PER_KEY} * COUNT(*) + {BLOOM_WORD - 1})
                 // {BLOOM_WORD}) * {BLOOM_WORD} AS m
      FROM evh
    ),
    prm AS (SELECT * FROM (VALUES {_BLOOM_PRM}) AS prm(a, b)),
    evp AS (
      SELECT ((a * (h % {MERSENNE31}) + b) % {MERSENNE31}) % m AS p
      FROM evh, prm, mm
    ),
    filt AS (
      SELECT p // {BLOOM_WORD} AS w, bit_or({_BLOOM_BIT}) AS bits
      FROM evp GROUP BY 1
    ),
    trp AS (
      SELECT tr.doc_id, tr.h,
             ((a * (h % {MERSENNE31}) + b) % {MERSENNE31}) % m AS p
      FROM tr, prm, mm
    ),
    hits AS (
      SELECT doc_id, h,
             COUNT(*) FILTER (WHERE f.bits IS NOT NULL
               AND (f.bits & ({_BLOOM_BIT})) != 0) AS nh
      FROM trp LEFT JOIN filt f ON f.w = p // {BLOOM_WORD}
      GROUP BY 1, 2
    ),
    fl AS (
      SELECT hits.doc_id, hits.h, (nh = {BLOOM_K}) AS cand,
             (e.h IS NOT NULL) AS hit
      FROM hits LEFT JOIN evh e USING (h)
    )
    ,
    bagg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(COUNT(*) FILTER (WHERE cand) AS BIGINT)
               AS n_bloom_candidates,
             CAST(COUNT(*) FILTER (WHERE cand AND hit) AS BIGINT)
               AS n_true_hits
      FROM fl GROUP BY 1
    )
    SELECT u.doc_id AS train_doc,
           CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(a.n_bloom_candidates, 0) AS BIGINT)
             AS n_bloom_candidates,
           CAST(COALESCE(a.n_true_hits, 0) AS BIGINT) AS n_true_hits,
           COALESCE(a.n_true_hits, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM s WHERE split = 'train') u
    LEFT JOIN bagg a USING (doc_id)
    """,
)
def bloom_decontaminate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned decontamination — the SCALE PATH of the exact
    `ngram_contamination` above (same capped 13-gram universe and
    split, shared fragment on both engines). The exact check shuffles
    every train-side gram into a hash join; here the eval side
    (benchmarks — fixed size, it does not grow with the corpus)
    collapses into a broadcast Bloom bitset sized at
    {BLOOM_BITS_PER_KEY} bits/key, train grams are probed map-side in
    whole-stage codegen, and only Bloom survivors meet the exact
    eval-membership verify (broadcast). No false negatives, so
    `n_true_hits`/`contaminated` are EXACT; `n_bloom_candidates -
    n_true_hits` is the measured false-positive tail — the oracle
    rebuilds the bitset bit-for-bit, so the driver hash checks the FP
    arithmetic too, not just the exact answer. One row per TRAIN-SPLIT
    DOC (the universe passes through as ``train_docs``): a doc with
    zero scannable grams — shorter than {NGRAM_CONTAM_N} tokens, or
    fully stop-capped — reports (0, 0, 0, false) explicitly rather
    than going absent, so downstream verdict joins never drop it. Per
    train doc: (n_grams, n_bloom_candidates, n_true_hits,
    contaminated)."""
    # One corpus-derived build feeds four consumers (filter size, the
    # bitset, the membership verify, the probe side) — materialized
    # once, the shared-frame pattern (setsim/minhash/range_rank).
    tr, ev = _contamination_split_grams(spark, sf_dir, checkpoint=True)
    uni = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", _split_col().alias("split"))
        .filter(F.col("split") == "train")
        .select("doc_id")
    )
    return bloom_decontaminate(tr, ev.select("doc_id", "h"), train_docs=uni)


def _substr_horner_oracle(k: int) -> str:
    """DuckDB mirror of the Spark-side Horner k-gram hash at 1-based
    position ``pos`` of lower(text) — same polynomial as the winnowing
    oracle (queries/textops.py::_winnow_horner_oracle), parameterized
    for the passage-length k."""
    from convoy_spark.functions.hashing import MERSENNE31
    from convoy_spark.operators.textops import WINNOW_B

    c = "CAST(ascii(substring(lower(text), CAST(pos AS INT) + {j}, 1)) AS BIGINT)"
    expr = c.format(j=0)
    for j in range(1, k):
        expr = f"(({expr}) * {WINNOW_B} + {c.format(j=j)}) % {MERSENNE31}"
    return expr


@query(
    "substring_dup_pairs",
    oracle=f"""
    WITH g0 AS (
      SELECT doc_id, text,
             unnest(generate_series(1, length(lower(text)) - {SUBSTR_K - 1}))
               AS pos
      FROM documents WHERE length(text) >= {SUBSTR_K}
    ),
    gh AS (
      SELECT doc_id, {_substr_horner_oracle(SUBSTR_K)} AS gh
      FROM g0
    ),
    sampled AS (
      SELECT DISTINCT doc_id, gh FROM gh WHERE gh % {SUBSTR_MOD} = 0
    ),
    ok AS (
      SELECT gh FROM sampled GROUP BY gh HAVING COUNT(*) <= {SUBSTR_CAP}
    ),
    gg AS (SELECT s.doc_id, s.gh FROM sampled s JOIN ok USING (gh))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM gg a JOIN gg b ON a.gh = b.gh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {SUBSTR_MIN_SHARED}
    """,
)
def substring_dup_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-overlap pairs (duplicate passage detection, the
    ExactSubstr evidence of Lee et al. ACL 2022 restated as hashes +
    equi-joins): content-defined sampling of Horner char-24-gram
    hashes, stop-gram cap, shared-count per pair. Complements
    winnowing (any-overlap indicator) with overlap STRENGTH, and the
    shingle-Jaccard family (whole-doc similarity) with passage-level
    evidence."""
    return substring_dup_pairs(load_table(spark, sf_dir, "documents"))


@query(
    "domain_dedup_rates",
    oracle=f"""
    WITH {SHINGLES_SQL},
    {MINHASH_SQL},
    {LSH_PAIRS_SQL},
    eh AS (
      SELECT doc_id, {sql_hash60('text')} AS content_hash FROM documents
    ),
    ec AS (
      SELECT content_hash, MIN(doc_id) AS canonical_id
      FROM eh GROUP BY content_hash
    ),
    flags AS (
      SELECT d.doc_id, d.source,
             CASE WHEN eh.doc_id <> ec.canonical_id THEN 1 ELSE 0 END
               AS is_exact_dup,
             CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END
               AS is_near_dup
      FROM documents d
      JOIN eh ON eh.doc_id = d.doc_id
      JOIN ec ON ec.content_hash = eh.content_hash
      LEFT JOIN (
        SELECT doc_a AS doc_id FROM pairs
        UNION
        SELECT doc_b FROM pairs
      ) nd ON nd.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_exact_dup) AS BIGINT) AS n_exact_dups,
           CAST(SUM(is_near_dup) AS BIGINT) AS n_near_dup_docs,
           CAST(SUM(is_exact_dup) AS DOUBLE) / COUNT(*) AS exact_dup_rate,
           CAST(SUM(is_near_dup) AS DOUBLE) / COUNT(*) AS near_dup_rate
    FROM flags GROUP BY source
    """,
)
def domain_dedup_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup health rollup: how much of each domain's
    contribution is exact-duplicate or near-dup-tainted — the
    curation dashboard that decides which crawl sources get
    down-weighted. A pure composition of in-window components (exact
    canonical map + the shared LSH pair frame) joined to the source
    dim and rolled up in one hash aggregation; rates are
    exact-integer counts divided as doubles, so the whole report is
    value-hash-checkable. Past-window by design: a reporting
    composition of already-proven components."""
    docs = load_table(spark, sf_dir, "documents")
    em = exact_dedup_map(docs).select(
        "doc_id",
        (F.col("doc_id") != F.col("canonical_id"))
        .cast("int")
        .alias("is_exact_dup"),
    )
    pairs = shared_lsh_pairs(spark, sf_dir)
    near = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_near_dup", F.lit(1))
    )
    return (
        docs.select("doc_id", "source")
        .join(em, "doc_id")
        .join(near, "doc_id", "left")
        .fillna(0, ["is_near_dup"])
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("is_exact_dup").cast("long").alias("n_exact_dups"),
            F.sum("is_near_dup").cast("long").alias("n_near_dup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_exact_dups",
            "n_near_dup_docs",
            (
                F.col("n_exact_dups").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("exact_dup_rate"),
            (
                F.col("n_near_dup_docs").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("near_dup_rate"),
        )
    )


from convoy_spark.operators.dedup import SPAN_K, span_dedup  # noqa: E402


@query(
    "span_dedup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '{WS_SPLIT}'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n,
             greatest(1, (len(toks) + {SPAN_K - 1}) // {SPAN_K}) AS nch
      FROM t
    ),
    spans AS (
      SELECT doc_id, n,
        unnest(range(0, nch)) AS pos,
        unnest(list_transform(range(0, nch),
          i -> array_to_string(
                 toks[CAST(i * {SPAN_K} + 1 AS INT)
                      :CAST(i * {SPAN_K} + {SPAN_K} AS INT)], ' ')))
          AS chunk
      FROM sized
    ),
    ranked AS (
      SELECT doc_id, pos, chunk,
        CASE WHEN (pos + 1) * {SPAN_K} <= n
             THEN ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                                     ORDER BY doc_id, pos)
             ELSE 1 END AS rk
      FROM spans
    )
    SELECT doc_id,
      COALESCE(string_agg(chunk, ' ' ORDER BY pos)
                 FILTER (WHERE rk = 1), '') AS clean_text,
      CAST(COUNT(*) FILTER (WHERE rk = 1) AS BIGINT) AS spans_kept,
      CAST(COUNT(*) FILTER (WHERE rk > 1) AS BIGINT) AS spans_dropped
    FROM ranked GROUP BY doc_id
    """,
)
def span_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span REMOVAL (C4/RefinedWeb-style rewrite, vs the
    pair DETECTORS elsewhere in this module): cut each doc into
    {k}-token spans, drop every span equal to an earlier one anywhere
    in the corpus (deterministic (doc_id, pos) first-wins), reassemble
    the survivors. The dedup key is the span's md5 — fixed 16-byte
    shuffle rows at any span length, identical on both engines. One
    Generate + one content-keyed rank window + one doc-keyed
    reassembly agg.""".format(k=SPAN_K)
    return span_dedup(load_table(spark, sf_dir, "documents"))


DSIR_SELECT_N = 100


@query(
    "dsir_select",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '{WS_SPLIT}'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    fe AS (
      SELECT doc_id,
        list_concat(tk,
          CASE WHEN len(tk) >= 2
               THEN list_transform(generate_series(1, len(tk) - 1),
                      i -> tk[i] || ' ' || tk[i + 1])
               ELSE [] END) AS feats
      FROM t
    ),
    fb AS (
      SELECT doc_id,
             unnest(list_transform(feats,
                      f -> ({sql_hash60('f')}) % 4096)) AS b
      FROM fe
    ),
    dfeat AS (
      SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS k
      FROM fb GROUP BY doc_id, b
    ),
    spl AS (
      SELECT doc_id,
             {sql_hash60(f"concat('{SPLIT_SALT}:', doc_id)")} % 100 AS bucket
      FROM documents
    ),
    tflag AS (
      SELECT doc_id, ({_SPLIT_CASE_SQL}) = 'val' AS is_tgt FROM spl
    ),
    counts AS (
      SELECT b,
             CAST(SUM(CASE WHEN is_tgt THEN k ELSE 0 END) AS BIGINT) AS nt,
             CAST(SUM(CASE WHEN NOT is_tgt THEN k ELSE 0 END) AS BIGINT) AS nr
      FROM dfeat JOIN tflag USING (doc_id) GROUP BY b
    ),
    tot AS (
      SELECT CAST(SUM(nt) AS BIGINT) AS tot_t, CAST(SUM(nr) AS BIGINT) AS tot_r
      FROM counts
    ),
    ratios AS (
      SELECT b,
             (CAST(nt + 1 AS DOUBLE) / CAST(tot_t + 4096 AS DOUBLE))
             / (CAST(nr + 1 AS DOUBLE) / CAST(tot_r + 4096 AS DOUBLE)) AS r
      FROM counts, tot
    ),
    sc AS (
      SELECT d.doc_id, CAST(SUM(d.k) AS BIGINT) AS n_features,
             CAST(SUM(CAST(r AS DECIMAL(18,6)) * d.k) AS DOUBLE)
               / SUM(d.k) AS importance
      FROM dfeat d JOIN tflag USING (doc_id) JOIN ratios USING (b)
      WHERE NOT is_tgt GROUP BY d.doc_id
    ),
    fullsc AS (
      SELECT tf.doc_id,
             COALESCE(sc.n_features, 0) AS n_features,
             COALESCE(sc.importance, 0.0) AS importance
      FROM tflag tf LEFT JOIN sc ON tf.doc_id = sc.doc_id
      WHERE NOT tf.is_tgt
    )
    SELECT doc_id, n_features, importance,
           row_number() OVER (ORDER BY importance DESC, doc_id)
             <= {DSIR_SELECT_N} AS selected
    FROM fullsc
    """,
)
def dsir_select_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023): weight every raw document by how target-like its
    hashed unigram+bigram distribution is (target = the 'val' salted-
    hash split here; any trusted corpus in production) and select the
    top {DSIR_SELECT_N}. The quality-filter complement: text_quality
    (heuristics) and model_quality_filter (discriminative scorer)
    judge documents in isolation; DSIR matches the RAW distribution
    to a TARGET distribution — the domain-adaptation selection a
    pretraining mixture actually runs. Log-free by the repo's
    discipline (k-weighted mean likelihood ratio, decimal-exact; see
    operators/textops.py::dsir_importance). One corpus tokenization,
    bucket tables broadcast, top-n via TakeOrdered — no global-sort
    shuffle, no collect."""
    from convoy_spark.operators.textops import dsir_select

    docs = load_table(spark, sf_dir, "documents")
    target = docs.select("doc_id").filter(_split_col() == "val")
    return dsir_select(docs, target, n_select=DSIR_SELECT_N)


# The train split as an oracle fragment (mirrors _split_col's 'train'
# branch) — shared by the Stupid Backoff oracle below.
_SPLIT_HASH_SQL = sql_hash60(f"concat('{SPLIT_SALT}:', doc_id)")
_TRAIN_SPLIT_SQL = (
    f"SELECT doc_id FROM documents WHERE "
    f"{_SPLIT_HASH_SQL} % 100 < {SPLIT_TRAIN_PCT}"
)

_SB_SCALE_LIT = "1099511627776.0"  # 2^40, operators.textops.SB_SCALE


@query(
    "stupid_backoff_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '{WS_SPLIT}'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    tri AS (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(tk) - 2),
          i -> tk[i])) AS w1,
        unnest(list_transform(generate_series(1, len(tk) - 2),
          i -> tk[i + 1])) AS w2,
        unnest(list_transform(generate_series(1, len(tk) - 2),
          i -> tk[i + 2])) AS w3
      FROM t WHERE len(tk) >= 3
    ),
    train AS ({_TRAIN_SPLIT_SQL}),
    t3 AS (
      SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS n3
      FROM tri JOIN train USING (doc_id) GROUP BY w1, w2, w3
    ),
    big AS (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(tk) - 1),
          i -> tk[i])) AS w1,
        unnest(list_transform(generate_series(1, len(tk) - 1),
          i -> tk[i + 1])) AS w2
      FROM t WHERE len(tk) >= 2
    ),
    b2 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS nb
      FROM big JOIN train USING (doc_id) GROUP BY w1, w2
    ),
    uni AS (
      SELECT t.doc_id, unnest(tk) AS w FROM t JOIN train USING (doc_id)
    ),
    u1 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS nu FROM uni GROUP BY w),
    ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntot FROM uni),
    dtri AS (
      SELECT doc_id, w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS k
      FROM tri GROUP BY doc_id, w1, w2, w3
    ),
    j AS (
      SELECT d.doc_id, d.k, t3.n3, b12.nb AS c12, b23.nb AS c23,
             u2.nu AS cu2, u3.nu AS cu3, n.ntot
      FROM dtri d
      LEFT JOIN t3 USING (w1, w2, w3)
      LEFT JOIN b2 b12 ON b12.w1 = d.w1 AND b12.w2 = d.w2
      LEFT JOIN b2 b23 ON b23.w1 = d.w2 AND b23.w2 = d.w3
      LEFT JOIN u1 u2 ON u2.w = d.w2
      LEFT JOIN u1 u3 ON u3.w = d.w3
      CROSS JOIN ntot n
    ),
    sc AS (
      SELECT doc_id,
        CAST(SUM(k) AS BIGINT) AS n_trigrams,
        CAST(SUM(k * CASE WHEN n3 IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hit3,
        CAST(SUM(k * CASE WHEN n3 IS NULL AND c23 IS NOT NULL
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_hit2,
        (CAST(SUM(k * CAST(FLOOR((
            CASE WHEN n3 IS NOT NULL THEN CAST(n3 AS DOUBLE) / c12
                 WHEN c23 IS NOT NULL
                   THEN (0.4 * CAST(c23 AS DOUBLE)) / cu2
                 ELSE ((0.4 * 0.4) * CAST(COALESCE(cu3, 0) AS DOUBLE))
                      / ntot END
          ) * {_SB_SCALE_LIT}) AS BIGINT)) AS DOUBLE) / {_SB_SCALE_LIT})
          / SUM(k) AS sb_score
      FROM j GROUP BY doc_id
    )
    SELECT d.doc_id,
      CAST(COALESCE(sc.n_trigrams, 0) AS BIGINT) AS n_trigrams,
      CAST(COALESCE(sc.n_hit3, 0) AS BIGINT) AS n_hit3,
      CAST(COALESCE(sc.n_hit2, 0) AS BIGINT) AS n_hit2,
      COALESCE(sc.sb_score, 0.0) AS sb_score
    FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
    """,
)
def stupid_backoff_score_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff LM scoring (Brants et al. 2007 — the backoff
    scheme INVENTED for distributed MapReduce-scale LMs): trigram →
    bigram → unigram relative frequencies with the α=0.4 multiplier,
    counts trained on the salted-hash TRAIN split and every doc
    scored — so eval-split docs genuinely exercise the backoff path
    (unlike the self-trained trigram MLE, which never backs off).
    Completes the quality-filter family: heuristic (text_quality) →
    hashed-feature classifier (model_quality_filter) → in-corpus
    trigram MLE (trigram_lm_score) → held-out-trained backoff LM.
    n_hit3/n_hit2 are integer-exact per-level resolution diagnostics;
    the score is floor-scaled long sums over a fixed IEEE op chain —
    fully value-hash oracle-able."""
    from convoy_spark.operators.textops import stupid_backoff_score

    docs = load_table(spark, sf_dir, "documents")
    train = docs.select("doc_id").filter(_split_col() == "train")
    return stupid_backoff_score(docs, train)


from convoy_spark.operators.dedup import fuzzy_pairs_dist1  # noqa: E402


@query(
    "fuzzy_name_pairs",
    oracle="""
    WITH c AS (SELECT DISTINCT c_name AS n FROM customer)
    SELECT a.n AS name_a, b.n AS name_b
    FROM c a JOIN c b ON a.n < b.n AND levenshtein(a.n, b.n) = 1
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: all customer-name pairs at edit
    distance exactly 1 via the FastSS deletion-variant equi-join
    (operators/dedup.py::fuzzy_pairs_dist1) — candidates are variant
    buckets, never all-pairs; the oracle IS the all-pairs form, so
    the driver check proves candidate completeness, not just
    precision."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name")
    )
    return fuzzy_pairs_dist1(cust)


from convoy_spark.operators.dedup import SNM_WINDOW  # noqa: E402


@query(
    "sorted_neighborhood_pairs",
    # the rank window is interpolated from the operator's own constant
    # (round-6 ADVICE #2: a hardcoded `+ 3` would silently desync the
    # oracle if SNM_WINDOW ever changed)
    oracle=f"""
    WITH c AS (
      SELECT DISTINCT c_name AS n FROM customer WHERE c_name IS NOT NULL
    ),
    r1 AS (SELECT n, row_number() OVER (ORDER BY n) AS r FROM c),
    r2 AS (SELECT n, row_number() OVER (ORDER BY reverse(n)) AS r FROM c),
    cand AS (
      SELECT least(a.n, b.n) AS name_a, greatest(a.n, b.n) AS name_b
      FROM r1 a JOIN r1 b ON b.r > a.r AND b.r <= a.r + {SNM_WINDOW - 1}
      UNION
      SELECT least(a.n, b.n), greatest(a.n, b.n)
      FROM r2 a JOIN r2 b ON b.r > a.r AND b.r <= a.r + {SNM_WINDOW - 1}
    )
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 1
    """,
)
def sorted_neighborhood_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood ER blocking over customer names
    (operators/dedup.py::sorted_neighborhood_pairs): forward + reversed
    sort keys, window 4, exact Levenshtein ≤ 1 verify. The oracle
    mirrors the rank-window DEFINITION (SNM is deliberately heuristic;
    completeness proving is fuzzy_name_pairs' all-pairs job) — what
    the check pins is that the distributed range_rank + offset join
    computes exactly the ranks a global ORDER BY defines."""
    from convoy_spark.operators.dedup import sorted_neighborhood_pairs

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name")
    )
    return sorted_neighborhood_pairs(cust).withColumn(
        "dist", F.col("dist").cast("long")
    )


from convoy_spark.operators.suffix import (  # noqa: E402
    REPEAT_WINDOW,
    crossdoc_repeat_profile,
)


def _suffix_repeat_oracle(window: int = REPEAT_WINDOW) -> str:
    """Unrolled prefix-doubling chain: r0 = dense rank of the token,
    each round ranks (r, r@pos+step) pairs — dense_rank over the
    joined frame equals the Spark side's row_number over the sorted
    DISTINCT pair set by construction."""
    rounds = []
    k, step = 0, 1
    while step < window:
        rounds.append(f"""r{k + 1} AS MATERIALIZED (
      SELECT a.doc_id, a.pos,
             dense_rank() OVER (ORDER BY a.r, COALESCE(b.r, -1)) AS r
      FROM r{k} a LEFT JOIN r{k} b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + {step}
    )""")
        k += 1
        step *= 2
    chain = ",\n    ".join(rounds)
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '{WS_SPLIT}'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    p AS (
      SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) - 1 AS pos
      FROM t
    ),
    r0 AS (SELECT doc_id, pos, dense_rank() OVER (ORDER BY tok) AS r FROM p),
    {chain},
    mx AS (SELECT doc_id, MAX(pos) AS mx FROM p GROUP BY 1),
    fullw AS (
      SELECT f.doc_id, f.r FROM r{k} f JOIN mx USING (doc_id)
      WHERE f.pos + {window - 1} <= mx
    ),
    grp AS (
      SELECT r, COUNT(*) AS gn, MIN(doc_id) AS gmin, MAX(doc_id) AS gmax
      FROM fullw GROUP BY r
    ),
    pd AS (
      SELECT f.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(SUM(CASE WHEN g.gn >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repeat_windows,
             CAST(SUM(CASE WHEN g.gmin <> g.gmax THEN 1 ELSE 0 END) AS BIGINT)
               AS n_crossdoc_windows
      FROM fullw f JOIN grp g USING (r)
      GROUP BY f.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(pd.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(pd.n_repeat_windows, 0) AS BIGINT)
             AS n_repeat_windows,
           CAST(COALESCE(pd.n_crossdoc_windows, 0) AS BIGINT)
             AS n_crossdoc_windows
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN pd USING (doc_id)
    """


@query("suffix_repeat_profile", oracle=_suffix_repeat_oracle())
def suffix_repeat_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT cross-document repeated-window audit via distributed
    PREFIX DOUBLING (Manber & Myers suffix ranking, the Spark-first
    restatement of Lee et al. 2022's suffix-array dedup): after
    log2({REPEAT_WINDOW}) pair-ranking rounds, two positions share a
    rank IFF their next {REPEAT_WINDOW} tokens are identical — so the
    per-doc counts of corpus-repeated and OTHER-doc-repeated windows
    are exact, no sampling. The exact completion of the sampled
    span_dedup/substring_dup_pairs pair (the setsim-vs-minhash duality
    applied to substrings). Every round classes the (r, r@pos+2^k)
    pairs by their FIRST CORPUS OCCURRENCE — one map-side-combined
    min(struct(doc_id, pos)) aggregation whose exchange the join back
    reuses, with the pair itself a lead() window over the per-doc
    position order (round-11 rewrite: downstream only ever groups on
    rank EQUALITY, so the ordinal dense rank — and its per-round
    distinct + range exchange + checkpoint + offsets broadcast — was
    pure overhead; the class partition is bit-identical). log2(L)
    rounds of pure keyed dataflow, the textbook construction bound.
    One row per document, explicit zeros for docs shorter than the
    window (the bloom absent-row contract)."""
    return crossdoc_repeat_profile(
        load_table(spark, sf_dir, "documents"), window=REPEAT_WINDOW
    )
