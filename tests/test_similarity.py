"""Similarity operator tests: hand-computed cosine, exact top-k
ordering, SRP determinism, and ANN recall vs the brute-force baseline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from convoy_spark.operators.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    cosine_topk,
    ivf_index,
    srp_signatures,
)
from convoy_spark.tables import load_table

VEC_SCHEMA = "vec_id long, embedding array<float>"


def test_cosine_hand_values(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),   # orthogonal to 0
            (2, [2.0, 0.0]),   # parallel to 0
            (3, [1.0, 1.0]),   # 45°
        ],
        VEC_SCHEMA,
    )
    q = vecs.filter(F.col("vec_id") == 0)
    got = {
        r.corpus_id: (r.sim, r.rank)
        for r in cosine_topk(q, vecs, k=3).collect()
    }
    assert got[2][0] == pytest.approx(1.0) and got[2][1] == 1
    assert got[3][0] == pytest.approx(2 ** -0.5) and got[3][1] == 2
    assert got[1][0] == pytest.approx(0.0) and got[1][1] == 3


def test_srp_signature_deterministic(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    s1 = {
        (r.vec_id, r.band): r.key for r in srp_signatures(emb).collect()
    }
    s2 = {
        (r.vec_id, r.band): r.key
        for r in srp_signatures(emb.repartition(7)).collect()
    }
    assert s1 == s2  # partitioning-independent


def test_ann_recall_vs_brute_force(spark):
    """SRP-LSH top-k recall against exact top-k on real testdata.

    With Hamming-1 multi-probe (the default) the 16-plane / 4-band
    geometry measures ≥ 0.9 recall at both sf0.001 and sf0.01
    (single-probe was 0.46 — a coin flip, not shippable). The
    returned sims are exact by construction since the verify step
    computes true cosine."""
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 16)
    exact = {
        (r.query_id, r.corpus_id)
        for r in cosine_topk(q, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.corpus_id)
        for r in ann_lsh_topk(q, emb, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall collapsed: {recall:.2f}"


def test_ivf_assignment_covers_corpus(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    centroids, assignment = ivf_index(emb, n_cells=8, iters=1)
    assert centroids.count() == 8
    assert assignment.count() == emb.count()
    assert assignment.select("vec_id").distinct().count() == emb.count()


def test_ivf_recall_vs_brute_force(spark):
    """Probing 4 of 16 cells touches ~25% of the corpus; the labeled
    cluster structure should push recall well past that fraction."""
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 16)
    exact = {
        (r.query_id, r.corpus_id) for r in cosine_topk(q, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.corpus_id)
        for r in ann_ivf_topk(q, emb, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall collapsed: {recall:.2f}"  # 0.94 measured


def test_semantic_dedup_hand_case(spark):
    """Two near-identical vectors in the same cell → exactly one
    survives, and the survivor is the one FARTHER from its centroid
    (the keep-the-outlier rule); an unrelated vector is untouched."""
    from convoy_spark.operators.similarity import semantic_dedup

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.99, 0.141, 0.0]),   # cos(0,1) ≈ 0.99
            (2, [0.0, 0.0, 1.0]),      # orthogonal to both
            (3, [0.0, 0.05, 0.999]),   # near-dup of 2
        ],
        VEC_SCHEMA,
    )
    out = {
        r.vec_id: r
        for r in semantic_dedup(vecs, eps=0.9, n_cells=2, iters=2).collect()
    }
    assert len(out) == 4
    # each near-dup group keeps exactly one member
    assert out[0].is_kept + out[1].is_kept == 1
    assert out[2].is_kept + out[3].is_kept == 1
    # keep-the-outlier: within a group the survivor has the LARGER
    # distance to its centroid (ties impossible here)
    for a, b in [(0, 1), (2, 3)]:
        kept = a if out[a].is_kept else b
        drop = b if out[a].is_kept else a
        assert out[kept].cell == out[drop].cell
        assert out[kept].cdist >= out[drop].cdist


def test_semantic_dedup_vs_python_reference(spark):
    """Property check on real testdata: recompute the keep decision
    in pure Python from the operator's own (cell, cdist) output plus
    exact pairwise cosines, and demand identical is_kept flags."""
    import itertools
    import math

    from convoy_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    eps = 0.3
    rows = semantic_dedup(emb, eps=eps, n_cells=16).collect()
    vec = {
        r.vec_id: r.embedding
        for r in emb.select("vec_id", "embedding").collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    expect = {}
    for members in by_cell.values():
        members.sort(key=lambda r: (-r.cdist, r.vec_id))
        for i, b in enumerate(members):
            expect[b.vec_id] = not any(
                cos(vec[a.vec_id], vec[b.vec_id]) >= eps
                for a in itertools.islice(members, i)
            )
    got = {r.vec_id: r.is_kept for r in rows}
    # float cosine in Python vs scaled-long in the operator can only
    # disagree within ~2^-40 of the threshold; assert none is close
    assert got == expect
    assert 0 < sum(got.values()) < len(got)  # both branches exercised


def test_embed_quantize_int8_roundtrip(spark, duck):
    from tests.conftest import run_parity

    pdf = run_parity(spark, duck, "embed_quantize_int8")
    # codes live on the 8-bit grid and the summary is self-consistent
    assert (pdf.code_min >= 0).all() and (pdf.code_max <= 255).all()
    assert (pdf.code_sum >= pdf.code_min * pdf.n_dims).all()
    assert (pdf.code_sum <= pdf.code_max * pdf.n_dims).all()
    # numpy reference on a sample: codes reconstruct within half a step
    import numpy as np

    from convoy_spark.tables import load_table

    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in load_table(spark, "/root/testdata/sf0.001", "embeddings")
        .limit(20)
        .collect()
    }
    by_id = pdf.set_index("vec_id")
    for vid, v in emb.items():
        mn, mx = v.min(), v.max()
        row = by_id.loc[vid]
        assert row.vec_min == mn and row.vec_max == mx
        if mx == mn:
            assert row.code_sum == 0
            continue
        codes = np.clip(
            np.floor((v - mn) * 255.0 / (mx - mn) + 0.5), 0, 255
        ).astype(np.int64)
        assert row.code_sum == codes.sum()
        assert row.code_checksum == (codes * np.arange(1, len(v) + 1)).sum()
        recon = mn + codes * (mx - mn) / 255.0
        step = (mx - mn) / 255.0
        assert np.abs(recon - v).max() <= step / 2 + 1e-12


def test_retrieval_metrics_parity(spark, duck):
    from tests.conftest import run_parity

    run_parity(spark, duck, "retrieval_metrics")


def test_retrieval_metrics_match_numpy(spark):
    """Recompute precision@k / MRR / harmonic DCG / NDCG from a
    brute-force numpy ranking and compare (float tolerance — numpy
    sums in rank order, the engine sums decimal-exactly)."""
    import numpy as np

    from convoy_spark.queries import QUERIES
    from convoy_spark.queries.similarity import RM_K, N_QUERIES

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .orderBy("vec_id")
        .toPandas()
    )
    X = np.array(emb["embedding"].tolist(), dtype=np.float64)
    labels = emb["label"].to_numpy()
    ids = emb["vec_id"].to_numpy()
    got = {
        r.query_id: r
        for r in QUERIES["retrieval_metrics"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert len(got) == N_QUERIES
    norms = np.linalg.norm(X, axis=1)
    for qi in range(N_QUERIES):
        sim = X @ X[qi] / (norms * norms[qi])
        sim[qi] = -np.inf
        top = np.lexsort((ids, -sim))[:RM_K]
        rel = (labels[top] == labels[qi]).astype(int)
        n_rel = int(rel.sum())
        mrr = 1.0 / (int(np.argmax(rel)) + 1) if n_rel else 0.0
        dcg = float(sum(r / (i + 1) for i, r in enumerate(rel)))
        idcg = float(sum(1.0 / i for i in range(1, n_rel + 1)))
        ndcg = dcg / idcg if n_rel else 0.0
        row = got[qi]
        assert row.n_relevant == n_rel, (qi, row.n_relevant, n_rel)
        assert abs(row.precision_at_k - n_rel / RM_K) < 1e-9
        assert abs(row.mrr - mrr) < 1e-9
        assert abs(row.dcg_h - dcg) < 1e-5
        assert abs(row.ndcg_h - ndcg) < 1e-5


def test_srp_band_sweep_parity(spark, duck):
    from tests.conftest import run_parity

    run_parity(spark, duck, "srp_band_sweep")


def test_srp_band_sweep_s_curve(spark):
    """The angular S-curve's contracts: candidate volume and recall
    are monotone non-increasing as rows-per-band grows (r-bit band
    match sets nest for doubling r with aligned boundaries), and the
    full 16-bit single band is near-empty (all 16 signs must agree —
    for cos≈0.5 neighbors P ≈ 0.67^16), while r=2 recalls most of
    the exact top-k."""
    from convoy_spark.queries import QUERIES

    rows = sorted(
        (r.rows_per_band, r.n_cand, r.cand_hits, r.recall)
        for r in QUERIES["srp_band_sweep"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    assert [r for r, *_ in rows] == [2, 4, 8, 16]
    for (r0, c0, h0, _), (r1, c1, h1, _) in zip(rows, rows[1:]):
        assert c1 <= c0, f"candidates grew r={r0}->{r1}"
        assert h1 <= h0, f"hits grew r={r0}->{r1}"
    assert rows[0][3] > rows[-1][3], "no S-curve separation"


# --- linear probe (perceptron) ---------------------------------------


def test_linear_probe_parity(spark, duck):
    from tests.conftest import run_parity

    run_parity(spark, duck, "linear_probe_train")


def test_perceptron_probe_learns_separable_clusters(spark):
    """On a linearly separable constructed corpus the probe must
    actually LEARN: held-out accuracy >= 0.9 (the catalog corpus's
    labels are random, so the catalog query can only demonstrate the
    chance-level diagnostic — this pins the learning semantics)."""
    from convoy_spark.operators.probe import perceptron_probe

    rows = []
    # three clusters at axis corners, deterministic spread, dim 4
    for i in range(90):
        c = i % 3
        base = [0.0, 0.0, 0.0, 0.1]
        base[c] = 0.5
        # small per-point deterministic jitter on every axis
        vec = [round(v + ((i * 7 + d * 3) % 11 - 5) * 0.01, 6)
               for d, v in enumerate(base)]
        rows.append((i, vec, c, i % 5 != 0))  # 20% held out
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int, is_train boolean"
    )
    conf = perceptron_probe(df, iters=3).collect()
    tot = {"train": 0, "eval": 0}
    hit = {"train": 0, "eval": 0}
    for r in conf:
        tot[r.split] += r.n
        if r.true_label == r.pred_label:
            hit[r.split] += r.n
    assert tot["train"] == 72 and tot["eval"] == 18
    assert hit["eval"] / tot["eval"] >= 0.9, conf
    assert hit["train"] / tot["train"] >= 0.9, conf


def test_perceptron_probe_counts_partition_corpus(spark):
    """Confusion counts sum to the corpus size and every vector gets
    exactly one prediction (argmax ties broken deterministically)."""
    from convoy_spark.queries import QUERIES

    rows = QUERIES["linear_probe_train"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    import duckdb

    n = duckdb.sql(
        "SELECT count(*) FROM read_parquet("
        "'/root/testdata/sf0.001/embeddings.parquet')"
    ).fetchone()[0]
    assert sum(r.n for r in rows) == n
    assert all(r.n > 0 for r in rows)


def test_knn_label_eval_parity(spark, duck):
    from tests.conftest import run_parity

    run_parity(spark, duck, "knn_label_eval")


def test_knn_recovers_separable_clusters(spark):
    """On cluster-structured vectors with labels = cluster id, 5-NN
    majority vote must classify held-out points correctly (the
    catalog corpus's random labels can only show chance — this pins
    the classifier semantics on real signal)."""
    from pyspark.sql import Window
    from convoy_spark.operators.pq import exact_l2_topk

    rows = []
    for i in range(90):
        c = i % 3
        base = [0.05 * ((i * 7 + d) % 5) for d in range(4)]
        base[c] += 1.0
        rows.append((i, [float(round(v, 4)) for v in base], c))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = df.filter("vec_id % 5 = 0")
    c = df.filter("vec_id % 5 <> 0")
    nn = exact_l2_topk(q, c, k=5).select("query_id", "corpus_id")
    votes = (
        nn.join(
            c.selectExpr("vec_id AS corpus_id", "label AS nl"), "corpus_id"
        )
        .groupBy("query_id", "nl")
        .count()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("count").desc(), F.col("nl").asc()
    )
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .selectExpr("query_id AS vec_id", "nl AS pred")
        .join(q.select("vec_id", "label"), "vec_id")
        .collect()
    )
    assert len(pred) == 18
    assert all(r.pred == r.label for r in pred), pred


def test_semantic_dedup_scaled_parity_small(spark, duck):
    """At sf0.001 the floor keeps n_cells at IVF_CELLS, so the scaled
    form must be bit-identical to the pinned form AND to its own
    dynamic-LIMIT oracle."""
    from tests.conftest import run_parity

    from convoy_spark.queries import QUERIES

    pdf = run_parity(spark, duck, "semantic_dedup_scaled")
    pinned = QUERIES["semantic_dedup"](spark, "/root/testdata/sf0.001").toPandas()
    from tests.conftest import assert_frames_match

    assert_frames_match(pdf, pinned, "scaled-vs-pinned@floor")


def test_semantic_dedup_scaled_parity_dynamic(spark):
    """At sf0.1 (N=2000 -> n_cells=31 > IVF_CELLS) the data-dependent
    seed LIMIT actually diverges from the pinned form; the dynamic
    scalar-subquery oracle must still match bit for bit."""
    import duckdb

    from convoy_spark.tables import TABLE_NAMES, table_path
    from tests.conftest import run_parity

    sf_dir = "/root/testdata/sf0.1"
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, name)}')"
        )
    try:
        run_parity(spark, con, "semantic_dedup_scaled", sf_dir=sf_dir)
    finally:
        con.close()


def test_knn_graph_planted_clusters(spark):
    """Two tight embedding clusters: every k-NN edge must stay within
    its cluster, and LPA over the symmetrized graph must resolve
    exactly two communities."""
    from convoy_spark.operators.graph import label_propagation
    from convoy_spark.operators.similarity import knn_graph

    rows = []
    for i in range(40):
        c = i % 2
        base = [0.0] * 8
        base[c] = 1.0
        vec = [
            round(v + ((i * 7 + d * 3) % 11 - 5) * 0.005, 6)
            for d, v in enumerate(base)
        ]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    g = knn_graph(df, k=3, n_probe=2, target_cell=10, min_cells=4)
    edges = g.collect()
    assert edges, "empty graph?"
    for e in edges:
        assert e.src % 2 == e.dst % 2, f"cross-cluster edge {e}"
        assert 1 <= e.rank <= 3
    und = (
        g.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(g.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
    )
    labs = {r.id: r.label for r in label_propagation(und).collect()}
    # LPA_ITERS synchronous rounds over a sparse 3-NN graph need not
    # COLLAPSE each 20-node cluster to one label — the curation
    # property is that no community ever SPANS the two clusters.
    comms_even = {labs[i] for i in range(0, 40, 2)}
    comms_odd = {labs[i] for i in range(1, 40, 2)}
    assert comms_even.isdisjoint(comms_odd)


def test_knn_graph_zero_norm_guard(spark):
    """An all-zero embedding must score NO edges on either endpoint —
    without the nrm > 0 guard its sim is 0/0 = NaN, which sorts ABOVE
    every real value in the sim-DESC rank (Spark NaN ordering) and
    silently wins top-k while DuckDB's division yields NULL."""
    from convoy_spark.operators.similarity import knn_graph

    rows = []
    for i in range(24):
        base = [0.0] * 4
        base[i % 2] = 1.0
        base[2 + (i % 2)] = 0.25 + (i % 5) * 0.01
        rows.append((i, [float(v) for v in base]))
    rows.append((99, [0.0, 0.0, 0.0, 0.0]))  # the zero vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    g = knn_graph(df, k=3, n_probe=2, target_cell=8, min_cells=2)
    edges = g.collect()
    assert edges, "empty graph?"
    import math

    for e in edges:
        assert 99 not in (e.src, e.dst), f"zero vector scored an edge {e}"
        assert not math.isnan(e.sim), f"NaN sim survived {e}"


def test_knn_graph_parity(spark, duck):
    from tests.conftest import run_parity

    run_parity(spark, duck, "knn_graph_ivf")


def test_semantic_communities_parity(spark, duck):
    from tests.conftest import run_parity

    run_parity(spark, duck, "semantic_communities")


def test_knn_graph_recall_vs_exact(spark):
    """Graph-edge recall against the exact all-pairs cosine top-k on
    the real sf0.001 corpus — the IVF-candidate prune must keep most
    true neighbors (2 probes of ~8-vector cells on 500 vectors)."""
    from convoy_spark.operators.similarity import knn_graph

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    g = knn_graph(emb, k=5)
    truth = cosine_topk(emb, emb, k=5)
    got = {(r.src, r.dst) for r in g.collect()}
    want = {(r.query_id, r.corpus_id) for r in truth.collect()}
    recall = len(got & want) / len(want)
    assert recall >= 0.35, recall  # random corpus: cells are arbitrary
