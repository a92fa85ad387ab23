"""The benchmark's workloads: inputs, the operations of one pass, and
the check of every operation's output.

- ``warehouse_build``: the reference pipeline. Each pass runs
  ``pipeline.warehouse.build_warehouse`` over seeded API pages into a
  fresh output directory; the output is compared with the generator's
  ground truth.
- ``catalog``: the read path. Each pass runs the session-shared builds
  and then catalog queries from every query family in a seeded order;
  each result is value-hashed against its DuckDB oracle on the same
  input directory.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
from collections.abc import Callable
from dataclasses import dataclass, field

import gen_tables
import gen_tweets
import spans

WAREHOUSE_TWEETS = 5_000


@dataclass
class Op:
    name: str
    layer: str
    run: Callable  # (spark) -> result
    check: Callable  # (result) -> bool


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, fn))
    return total


def _input_key(name: str, seed: int, generator, sizes) -> str:
    """Cache key of one input set: the workload, the seed, the sizes and
    the generator's source, so an edited generator never reuses stale
    inputs."""
    with open(generator.__file__, "rb") as f:
        digest = hashlib.md5(f.read() + repr(sizes).encode()).hexdigest()[:10]
    return f"{name}-s{seed}-{digest}"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- warehouse


@dataclass
class WarehouseBuild:
    name = "warehouse_build"
    n_tweets: int = WAREHOUSE_TWEETS
    data_dir: str = ""
    out_root: str = ""
    truth: dict = field(default_factory=dict)
    _pass: int = 0

    def prepare(self, cache_dir: str, run_dir: str, seed: int) -> None:
        self.data_dir = os.path.join(
            cache_dir, _input_key(self.name, seed, gen_tweets, self.n_tweets)
        )
        truth_path = os.path.join(self.data_dir, "truth.json")
        if not os.path.exists(truth_path):
            lines, truth = gen_tweets.generate(seed, self.n_tweets)
            tmp = self.data_dir + f".tmp{os.getpid()}"
            gen_tweets.write_pages(os.path.join(tmp, "pages"), lines)
            with open(os.path.join(tmp, "truth.json"), "w") as f:
                json.dump(
                    {
                        "n_tweets": truth.n_tweets,
                        "n_tweet_rows": truth.n_tweet_rows,
                        "n_users": truth.n_users,
                        "n_errors": truth.n_errors,
                        "roots": {str(k): list(v) for k, v in truth.roots.items()},
                    },
                    f,
                )
            shutil.rmtree(self.data_dir, ignore_errors=True)
            os.replace(tmp, self.data_dir)
        with open(truth_path) as f:
            self.truth = json.load(f)
        self.pages = os.path.join(self.data_dir, "pages")
        self.out_root = os.path.join(run_dir, "warehouse")

    @property
    def input_rows(self) -> int:
        return self.truth["n_tweets"]

    def next_out(self) -> str:
        """A fresh output directory; the previous pass's one is removed."""
        old = os.path.join(self.out_root, f"pass{self._pass - 1}")
        shutil.rmtree(old, ignore_errors=True)
        path = os.path.join(self.out_root, f"pass{self._pass}")
        self._pass += 1
        return path

    def ops(self, seed: int) -> list[Op]:
        from convoy_spark.pipeline.warehouse import build_warehouse

        def run(spark):
            out = self.next_out()
            return build_warehouse(spark, self.pages, out)

        return [Op("build_warehouse", "pipeline.warehouse", run, self.check)]

    def check(self, paths: dict) -> bool:
        return check_warehouse(paths, self.truth)

    def output_mb(self, results: list) -> float:
        paths = results[0]
        self.write_mb = (
            _dir_bytes(os.path.dirname(paths["users"])) / 1e6 if paths else 0.0
        )
        return self.write_mb

    def trace_extras(self, spark, tracer: spans.Tracer) -> dict:
        """Run the build once more stage by stage, in build_warehouse's
        order, materializing each stage at its boundary."""
        from pyspark.sql import functions as F

        from convoy_spark.pipeline import warehouse as wh
        from convoy_spark.pipeline.ingest import ingest
        from convoy_spark.sources.jsonl import read_pages

        def mat(df):
            return df.localCheckpoint(eager=True)

        out_dir = os.path.join(self.out_root, "staged")
        with tracer.span("sources.jsonl", "staged", "read_pages"):
            pages = mat(read_pages(spark, self.pages))
        with tracer.span("pipeline.ingest", "staged", "ingest"):
            tables = {k: mat(v) for k, v in ingest(pages).items()}
        with tracer.span("operators.closure", "staged", "enrich_ur_conversations"):
            tweets = mat(wh.enrich_ur_conversations(tables["tweets"]))
        with tracer.span("operators.treestats", "staged", "tweet_stats"):
            stats = mat(wh.tweet_stats(tweets))
        with tracer.span("pipeline.warehouse", "staged", "wide_rollups_sinks"):
            wide = wh.build_tweets_wide(tweets, stats)
            convs = wh.build_conversation_rollups(wide)
            sinks = [(tables[k], k, None) for k in
                     ("users", "errors", "tweet_hashtags", "tweet_mentions", "tweet_urls")]
            sinks += [
                (wide, "tweets_wide", "date_created_at"),
                (convs, "conversations", None),
                (wide.limit(0), "tweets_wide_schema", None),
            ]
            for df, name, part in sinks:
                w = df.write.mode("overwrite")
                if part:
                    w = w.partitionBy(part)
                w.parquet(os.path.join(out_dir, name))
            convs.select(F.col("ur_conversation_id").cast("string")).coalesce(
                1
            ).write.mode("overwrite").text(os.path.join(out_dir, "conversation_ids"))
        keep = tables["tweets"].count() / self.truth["n_tweet_rows"]
        shutil.rmtree(out_dir, ignore_errors=True)
        return {"pipeline.ingest.keep_ratio": keep}

    def per_layer(self, tracer: spans.Tracer, stats: dict) -> dict:
        values = spans.layer_values(tracer, stats, [["setup"], ["staged"]])
        whole = [
            s
            for s in tracer.spans
            if s.name == "build_warehouse" and s.section.startswith("warm")
        ]
        values.update(
            {
                "sources.jsonl.scan_nodes_per_build": statistics.median(
                    stats[s.group].scan_json_nodes for s in whole
                ),
                "pipeline.warehouse.jobs_per_build": statistics.median(
                    len(s.jobs) for s in whole
                ),
                "pipeline.warehouse.whole_s": statistics.median(
                    s.seconds for s in whole
                ),
                "pipeline.warehouse.staged_s": sum(
                    s.seconds for s in tracer.in_section("staged")
                ),
                "pipeline.warehouse.write_mb": self.write_mb,
            }
        )
        return values


def check_warehouse(paths: dict, truth: dict) -> bool:
    """Compare a built warehouse with the generator's ground truth."""
    import pyarrow.parquet as pq

    wide = pq.read_table(
        paths["tweets_wide"], columns=["tweet_id", "n_descendants", "max_depth"]
    ).to_pydict()
    convs = pq.read_table(
        paths["conversations"],
        columns=["ur_conversation_id", "n_tweets", "total_likes"],
    ).to_pydict()
    n_users = pq.read_table(paths["users"], columns=["user_id"]).num_rows
    n_errors = pq.read_table(paths["errors"], columns=["tweet_id"]).num_rows
    n_ids = 0
    for root, _dirs, files in os.walk(paths["conversation_ids"]):
        for fn in files:
            if not fn.startswith((".", "_")):
                with open(os.path.join(root, fn)) as f:
                    n_ids += sum(1 for _ in f)
    roots = {int(k): tuple(v) for k, v in truth["roots"].items()}
    tree = {
        t: (d, m)
        for t, d, m in zip(wide["tweet_id"], wide["n_descendants"], wide["max_depth"])
    }
    got = {
        r: (n, likes) + tree.get(r, (None, None))
        for r, n, likes in zip(
            convs["ur_conversation_id"], convs["n_tweets"], convs["total_likes"]
        )
    }
    return (
        len(wide["tweet_id"]) == len(tree) == truth["n_tweets"]
        and n_users == truth["n_users"]
        and n_errors == truth["n_errors"]
        and n_ids == len(roots)
        and got == roots
    )


# ---------------------------------------------------------------- catalog

CATALOG_QUERIES = [
    "pricing_summary",
    "shipping_priority",
    "asof_join",
    "tumbling_window_agg",
    "tree_stats",
    "closure_roots",
    "cosine_topk",
    "minhash_lsh_neardup",
    "token_stats",
    "corpus_funnel",
]


def shared_builds() -> dict[str, Callable]:
    """The session-shared builds the catalog queries consume, by label.
    Each takes (spark, data_dir) and caches per (session, data_dir)."""
    from convoy_spark.queries.dedup import shared_lsh_pairs
    from convoy_spark.queries.treestats import shared_descendant_pairs

    return {"tree_pairs": shared_descendant_pairs, "lsh_pairs": shared_lsh_pairs}


def result_signature(pdf) -> dict:
    from tools.driver_emulator import value_hash

    return {
        "rows": len(pdf),
        "columns": sorted(pdf.columns),
        "hash": value_hash(pdf),
    }


@dataclass
class Catalog:
    name = "catalog"
    queries = CATALOG_QUERIES
    sizes: gen_tables.Sizes = field(default_factory=gen_tables.Sizes)
    data_dir: str = ""
    expected: dict = field(default_factory=dict)
    first_rows: dict = field(default_factory=dict)

    def prepare(self, cache_dir: str, run_dir: str, seed: int) -> None:
        s = self.sizes
        self.data_dir = os.path.join(cache_dir, _input_key(self.name, seed, gen_tables, s))
        if not os.path.exists(os.path.join(self.data_dir, "rows.json")):
            tmp = self.data_dir + f".tmp{os.getpid()}"
            tables = gen_tables.generate(seed, s)
            gen_tables.write_tables(tmp, tables)
            with open(os.path.join(tmp, "rows.json"), "w") as f:
                json.dump({k: t.num_rows for k, t in tables.items()}, f)
            shutil.rmtree(self.data_dir, ignore_errors=True)
            os.replace(tmp, self.data_dir)
        with open(os.path.join(self.data_dir, "rows.json")) as f:
            self.rows = json.load(f)
        self.expected = self._oracle_signatures()

    def _oracle_signatures(self) -> dict:
        """DuckDB oracle result signature per query, cached next to the
        inputs under the oracle SQL's digest (the oracles are independent
        of the Spark side)."""
        from convoy_spark.queries import ORACLES

        def key(q: str) -> str:
            sql = ORACLES.get(q, "")
            return f"{q}:{hashlib.md5(sql.encode()).hexdigest()[:10]}"

        path = os.path.join(self.data_dir, "oracles.json")
        cached = {}
        if os.path.exists(path):
            with open(path) as f:
                cached = json.load(f)
        missing = [q for q in self.queries if key(q) not in cached]
        if missing:
            import duckdb

            from convoy_spark.tables import TABLE_NAMES, table_path

            con = duckdb.connect()
            try:
                for t in TABLE_NAMES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{table_path(self.data_dir, t)}')"
                    )
                for q in missing:
                    cached[key(q)] = (
                        result_signature(con.execute(ORACLES[q]).fetchdf())
                        if q in ORACLES
                        else None
                    )
            finally:
                con.close()
            tmp = path + f".tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(cached, f)
            os.replace(tmp, path)
        return {q: cached[key(q)] for q in self.queries}

    @property
    def input_rows(self) -> int:
        return sum(self.rows.values())

    def ops(self, seed: int) -> list[Op]:
        from convoy_spark.queries import QUERIES

        d = self.data_dir
        ops = [
            Op(
                f"shared:{label}",
                "queries.shared",
                lambda spark, build=build: _noop(build(spark, d)),
                lambda _r: True,
            )
            for label, build in shared_builds().items()
        ]
        order = list(self.queries)
        random.Random(seed).shuffle(order)
        for q in order:
            fn = QUERIES[q]
            ops.append(
                Op(
                    q,
                    fn.__module__.removeprefix("convoy_spark."),
                    lambda spark, fn=fn: fn(spark, d).toPandas(),
                    lambda pdf, q=q: self.check(q, pdf),
                )
            )
        return ops

    def check(self, name: str, pdf) -> bool:
        got = result_signature(pdf)
        want = self.expected.get(name)
        if want is None:
            # no oracle: a rows-only check, held to the first
            # execution's row count
            return self.first_rows.setdefault(name, got["rows"]) == got["rows"]
        return got == want

    def output_mb(self, results: list) -> float:
        return sum(
            float(r.memory_usage(deep=True).sum())
            for r in results
            if hasattr(r, "memory_usage")
        ) / 1e6

    def trace_extras(self, spark, tracer: spans.Tracer) -> dict:
        """Each shared build once more under a second cache key (the
        same public build, bypassing the session cache), and one direct
        call of the exact-L2 top-k truth on the workload's vectors."""
        from convoy_spark.operators.pq import exact_l2_topk
        from convoy_spark.queries.similarity import TOP_K, _queries_and_corpus

        fresh_key = self.data_dir + os.sep
        for label, build in shared_builds().items():
            with tracer.span("queries.shared", "rebuild", label):
                _noop(build(spark, fresh_key))
        with tracer.span("operators.pq", "direct", "exact_l2_topk"):
            q, c = _queries_and_corpus(spark, self.data_dir)
            _noop(exact_l2_topk(q, c, k=TOP_K))
        return {}

    def per_layer(self, tracer: spans.Tracer, stats: dict) -> dict:
        warm = sorted(
            {s.section for s in tracer.spans if s.section.startswith("warm")}
        )
        values = spans.layer_values(tracer, stats, [["setup"], warm, ["direct"]])
        for s in tracer.in_section("cold"):
            if s.name.startswith("shared:"):
                values[f"queries.shared.{s.name[7:]}.cold_s"] = s.seconds
        for s in tracer.in_section("rebuild"):
            values[f"queries.shared.{s.name}.warm_s"] = s.seconds
        values["operators.pq.exact_l2_topk.self_s"] = sum(
            s.seconds for s in tracer.in_section("direct")
        )
        return values


WORKLOADS = {"warehouse_build": WarehouseBuild, "catalog": Catalog}
