"""Tests of the benchmark itself: input determinism, the warehouse
ground truth, failure counting, and the metric names.

Run from the repository root::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen_tables  # noqa: E402
import gen_tweets  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

SMALL = gen_tables.Sizes(
    orders=300, customers=30, suppliers=5, parts=40, events=200,
    event_users=10, documents=60, embeddings=40,
)


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ determinism


def test_tweet_pages_are_byte_identical_per_seed():
    a, ta = gen_tweets.generate(7, 1200)
    b, tb = gen_tweets.generate(7, 1200)
    c, _ = gen_tweets.generate(8, 1200)
    assert a == b and ta == tb
    assert a != c


def test_tables_are_identical_per_seed():
    a = gen_tables.generate(3, SMALL)
    b = gen_tables.generate(3, SMALL)
    c = gen_tables.generate(4, SMALL)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_scaled_copies_keep_the_pair_graph():
    docs = gen_tables.generate(3, SMALL)["documents"].to_pydict()
    n = SMALL.documents
    copy0, copy1 = docs["text"][:n], docs["text"][n:]
    assert docs["doc_id"][n] == gen_tables.ID_STRIDE
    # a character bijection: equal texts stay equal, lengths are kept
    assert [len(t) for t in copy0] == [len(t) for t in copy1]
    for i in range(n):
        for j in range(i):
            assert (copy0[i] == copy0[j]) == (copy1[i] == copy1[j])


def test_corpus_shape():
    lines, truth = gen_tweets.generate(5, 3000)
    pages = []
    for line in lines:
        try:
            pages.append(json.loads(line))
        except json.JSONDecodeError:
            pass
    assert len(lines) - len(pages) == gen_tweets.CORRUPT_LINES
    assert all(len(p["data"]) <= gen_tweets.PAGE_SIZE for p in pages)
    assert truth.n_tweet_rows > truth.n_tweets  # includes repeat tweets
    roots = gen_tweets.root_truth([t for p in pages for t in p["data"]])
    assert roots == truth.roots
    assert sum(n for n, *_ in roots.values()) == truth.n_tweets
    # quoting roots fold conversations into fewer ur-conversations
    n_convs = sum(
        1 for p in pages for t in p["data"] if t["id"] == t["conversation_id"]
    )
    assert len(roots) < 0.9 * n_convs


# ------------------------------------------------------------ ground truth


def _tweet(tid, conv, reply_to=None, refs=None, likes=0):
    refs = list(refs or [])
    if reply_to is not None:
        refs.append(("replied_to", reply_to))
    t = {
        "id": str(tid),
        "conversation_id": str(conv),
        "public_metrics": {"like_count": likes},
    }
    if refs:
        t["referenced_tweets"] = [{"type": k, "id": str(v)} for k, v in refs]
    return t


def test_root_truth_on_quote_chain():
    # 100 <- 101 <- 102 replies; 200 quotes 100; 300 quotes 200 (a
    # two-hop ur-chain); 400 stands alone
    tweets = [
        _tweet(100, 100, likes=10),
        _tweet(101, 100, reply_to=100, likes=5),
        _tweet(102, 100, reply_to=101, likes=1),
        _tweet(200, 200, refs=[("quoted", 100)], likes=2),
        _tweet(300, 300, refs=[("quoted", 200)], likes=0),
        _tweet(400, 400, likes=7),
    ]
    assert gen_tweets.root_truth(tweets) == {
        100: (5, 18, 2, 2),
        400: (1, 7, 0, 0),
    }


# ------------------------------------------------------------ failure counting


def test_wrong_output_counts_as_failed():
    ops = [
        workloads.Op("good", "queries.relational", lambda s: 1, lambda r: r == 1),
        workloads.Op("wrong", "queries.relational", lambda s: 2, lambda r: r == 1),
        workloads.Op("raises", "queries.relational", lambda s: 1 / 0, lambda r: True),
    ]
    tracer = spans.Tracer()
    secs, results, times, failed = run._run_pass(ops, None, tracer, "cold", False)
    assert failed == 2
    assert results[:2] == [1, 2] and results[2] is None
    assert set(times) == {"good", "wrong"}


def test_catalog_check_rejects_a_wrong_result():
    import pandas as pd

    good = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    cat = workloads.Catalog()
    cat.expected = {"q": workloads.result_signature(good)}
    assert cat.check("q", good.iloc[::-1])  # order-insensitive
    assert not cat.check("q", pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]}))
    assert not cat.check("q", good.iloc[:1])


def _fake_warehouse(tmp_path, truth: dict, tamper: bool) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    roots = {int(k): v for k, v in truth["roots"].items()}
    paths = {k: str(tmp_path / k) for k in
             ("tweets_wide", "conversations", "users", "errors", "conversation_ids")}
    for p in paths.values():
        os.makedirs(p)
    ids = sorted(roots)
    likes = [roots[r][1] + (1 if tamper and r == ids[0] else 0) for r in ids]
    pq.write_table(
        pa.table({
            "tweet_id": ids,
            "n_descendants": [roots[r][2] for r in ids],
            "max_depth": [roots[r][3] for r in ids],
        }),
        os.path.join(paths["tweets_wide"], "part-0.parquet"),
    )
    pq.write_table(
        pa.table({
            "ur_conversation_id": ids,
            "n_tweets": [roots[r][0] for r in ids],
            "total_likes": likes,
        }),
        os.path.join(paths["conversations"], "part-0.parquet"),
    )
    pq.write_table(pa.table({"user_id": list(range(truth["n_users"]))}),
                   os.path.join(paths["users"], "part-0.parquet"))
    pq.write_table(pa.table({"tweet_id": list(range(truth["n_errors"]))}),
                   os.path.join(paths["errors"], "part-0.parquet"))
    with open(os.path.join(paths["conversation_ids"], "part-0.txt"), "w") as f:
        f.write("".join(f"{r}\n" for r in ids))
    return paths


@pytest.mark.parametrize("tamper", [False, True])
def test_warehouse_check_catches_a_wrong_total(tmp_path, tamper):
    truth = {
        "n_tweets": 2,
        "n_users": 3,
        "n_errors": 1,
        "roots": {"100": [1, 10, 0, 0], "400": [1, 7, 0, 0]},
    }
    paths = _fake_warehouse(tmp_path, truth, tamper)
    assert workloads.check_warehouse(paths, truth) is not tamper


# ------------------------------------------------------------ metric names


def test_end_to_end_names_match_benchmark_json():
    spec = _bench_spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END


def test_per_layer_names_match_benchmark_json():
    spec = _bench_spec()
    assert spec["per_layer"] == spans.per_layer_spec()
    printed = spans.as_metrics({})
    assert list(printed) == [m["name"] for m in spec["per_layer"]]


def test_workload_names_match_benchmark_json():
    spec = _bench_spec()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_shared_build_metrics_cover_the_catalog_builds():
    assert list(workloads.shared_builds()) == spans.SHARED_BUILDS


# ------------------------------------------------------------ event-log join


def test_busy_time_merges_overlapping_jobs():
    assert spans._busy([(1, 3), (2, 4), (6, 7)], 0, 10) == pytest.approx(4)
    assert spans._busy([(1, 3)], 2, 10) == pytest.approx(1)


def test_event_log_join_on_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g",
                                             "spark.sql.execution.id": "0"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0,
         "sparkPlanInfo": {"nodeName": "Project", "children": [
             {"nodeName": "Scan json ", "children": []},
             {"nodeName": "Scan json ", "children": []}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "JVM GC Time": 30, "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    ]
    (tmp_path / "events_1_app").write_text("\n".join(json.dumps(e) for e in events))
    stats = spans.read_event_log(str(tmp_path))
    g = stats["g"]
    assert (g.tasks, g.gc_ms, g.shuffle_bytes, g.scan_json_nodes) == (1, 30, 2_000_000, 2)
    span = spans.Span("g", "pipeline.ingest", "staged", "ingest", 0.5, 4.0, [0])
    figs = spans.layer_figures([span], stats)["pipeline.ingest"]
    assert figs["driver_gap_s"] == pytest.approx(1.5)
    assert figs["shuffle_write_mb"] == pytest.approx(2.0)


# ------------------------------------------------------------ end to end


def test_quote_chain_build_passes_the_check(tmp_path):
    """The real pipeline on a hand-built quote chain agrees with the
    ground truth computed from the same pages."""
    pytest.importorskip("pyspark")
    from convoy_spark.pipeline.warehouse import build_warehouse
    from convoy_spark.session import get_spark

    def api(tid, conv, author, reply_to=None, refs=(), likes=0):
        t = _tweet(tid, conv, reply_to, refs, likes)
        t.update(author_id=str(author), created_at="2024-03-02T10:00:00.000Z",
                 text=f"tweet {tid}", lang="en")
        t["public_metrics"].update(retweet_count=0, reply_count=0, quote_count=0)
        return t

    tweets = [
        api(100, 100, 1, likes=10),
        api(101, 100, 2, reply_to=100, likes=5),
        api(102, 100, 3, reply_to=101, likes=1),
        api(200, 200, 4, refs=[("quoted", 100)], likes=2),
        api(300, 300, 5, refs=[("quoted", 200)], likes=0),
        api(400, 400, 1, likes=7),
    ]
    page = {
        "data": tweets,
        "includes": {"tweets": [tweets[0]], "users": [{"id": str(a)} for a in range(1, 6)]},
        "errors": [{"value": "999", "resource_id": "999", "title": "Not Found Error"}],
    }
    gen_tweets.write_pages(str(tmp_path / "pages"), [json.dumps(page), "{broken"], 1)
    truth = {
        "n_tweets": 6,
        "n_users": 5,
        "n_errors": 1,
        "roots": {str(k): list(v) for k, v in gen_tweets.root_truth(tweets).items()},
    }
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    spark = get_spark("perfbench-test")
    paths = build_warehouse(spark, str(tmp_path / "pages"), str(tmp_path / "out"))
    assert workloads.check_warehouse(paths, truth)
    truth["roots"]["400"][1] += 1
    assert not workloads.check_warehouse(paths, truth)
