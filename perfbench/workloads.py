"""The benchmark workloads.

Each workload is a class with ``generate`` (seeded inputs; repeated for
the set-up median), ``prepare`` (prerequisite state, built once),
``warmup`` (untimed), ``step`` (one timed operation) and ``check``
(output verification). The engine is driven only through its public
functions, from outside, exactly as a deployment would call them: an
untraced step adds no caching or materialization of its own, so lazy
work runs in the action that needs it (``Ctx.stage``).
"""

from __future__ import annotations

import io
import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from union_indexer_node_spark.ingest.posts import build_follows, build_posts
from union_indexer_node_spark.ingest.profiles import (
    attach_creator_scores,
    build_communities,
    build_profiles,
)
from union_indexer_node_spark.pipelines import search
from union_indexer_node_spark.serving.graphql_api import GraphQLService
from union_indexer_node_spark.serving.http import GRAPHQL_PATH, wsgi_app
from union_indexer_node_spark.sources.sinks import write_snapshot
from union_indexer_node_spark.streaming import stream

# Sizes per workload; "smoke" is the small size the self-test runs.
SIZES = {
    "full": {
        "index_build_ops": 12_000,
        "follow_base_ops": 8_000,
        "follow_batch_ops": 100,
        "accounts": gen.OPLOG_PROPS["accounts"],
    },
    "smoke": {
        "index_build_ops": 1_500,
        "follow_base_ops": 800,
        "follow_batch_ops": 60,
        "accounts": 60,
    },
}


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under a directory tree."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def parquet_rows(path: str) -> int:
    """Row count from parquet footers only (no Spark job)."""
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += pq.read_metadata(os.path.join(root, n)).num_rows
    return total


def fingerprint(df) -> str:
    """Order-independent multiset digest (the test_round10 identity):
    md5 of the sorted per-row md5(to_json(struct(sorted cols)))."""
    cols = sorted(df.columns)
    row = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))
    return (
        df.select(row.alias("h"))
        .agg(F.md5(F.concat_ws("", F.sort_array(F.collect_list("h")))))
        .collect()[0][0]
    )


class Workload:
    """Default hooks."""

    def prepare(self) -> None:
        """Build the prerequisite state from the generated inputs."""


# ---------------------------------------------------------------------------
# index_build
# ---------------------------------------------------------------------------
def publish(ctx, ops_dir: str, out: str) -> None:
    """Batch rebuild from the flat op log: silvers, then the snapshot
    serving reads, then the search indices. What reads the posts silver
    after its write (creator scores, the watermark, the indices) reads
    the published snapshot, as serving does."""
    t, stage, read = ctx.tracer, ctx.stage, ctx.spark.read.parquet
    ops = read(ops_dir)
    with t.span("ingest.posts.build_posts"):
        posts = stage(build_posts(ops))
    with t.span("ingest.posts.build_follows"):
        follows = stage(build_follows(ops))
    with t.span("sources.sinks.write"):
        write_snapshot(posts, f"{out}/posts")
        write_snapshot(follows, f"{out}/follows")
    posts_snap = read(f"{out}/posts")
    with t.span("ingest.profiles.build"):
        scores = posts_snap.groupBy("author").agg(
            F.sum("num_votes").cast("double").alias("score")
        )
        profiles = stage(attach_creator_scores(build_profiles(ops), scores))
        communities = stage(build_communities(ops))
    state = posts_snap.agg(F.max("block_height").cast("double").alias("watermark")).crossJoin(
        ops.agg(F.max("block_height").cast("double").alias("source_watermark"))
    ).select(F.lit("posts").alias("table_name"), "watermark", "source_watermark")
    with t.span("sources.sinks.write"):
        write_snapshot(profiles, f"{out}/profiles")
        write_snapshot(communities, f"{out}/communities")
        write_snapshot(state, f"{out}/state")
    with t.span("pipelines.search.bm25_index"):
        postings, doclens = search.bm25_index(
            posts_snap.select(
                F.concat_ws("/", "author", "permlink").alias("id"), "body"
            ),
            "body",
            "id",
        )
        postings, doclens = stage(postings), stage(doclens)
    with t.span("sources.sinks.write"):
        write_snapshot(postings, f"{out}/bm25_postings")
        write_snapshot(doclens, f"{out}/bm25_doclens")
    with t.span("pipelines.search.trigram_index"):
        trigram = stage(search.build_trigram_index(posts_snap, "title", ["author", "permlink"]))
    with t.span("sources.sinks.write"):
        write_snapshot(trigram, f"{out}/trigram")


def check_snapshot(spark, out: str, truth: dict) -> list[str]:
    """Silver keys and LWW winners against the generator's truth."""
    errors = []
    posts = spark.read.parquet(f"{out}/posts").select(
        "author", "permlink", "block_height", "tx_idx", "op_idx", "status"
    ).collect()
    got = {(r[0], r[1]): (r[2], r[3], r[4]) for r in posts}
    if got != truth["post_winners"]:
        errors.append(
            f"posts: {len(set(got.items()) ^ set(truth['post_winners'].items()))}"
            " keys/winners differ from truth"
        )
    deleted = {(r[0], r[1]) for r in posts if r[5] == "deleted"}
    if deleted != truth["deleted_posts"]:
        errors.append(f"posts: {len(deleted ^ truth['deleted_posts'])} deleted statuses differ")
    edges = {r[0] for r in spark.read.parquet(f"{out}/follows").select("_id").collect()}
    if edges != truth["live_edges"]:
        errors.append(f"follows: {len(edges ^ truth['live_edges'])} live edges differ")
    prof = {
        r[0]: r[1]
        for r in spark.read.parquet(f"{out}/profiles")
        .select("username", "displayName")
        .collect()
    }
    if prof != truth["profile_names"]:
        errors.append("profiles: winners differ from truth")
    comm = {
        r[0]: r[1]
        for r in spark.read.parquet(f"{out}/communities")
        .select("name", "title")
        .filter(F.col("title").isNotNull())
        .collect()
    }
    if comm != truth["community_titles"]:
        errors.append("communities: updateProps winners differ from truth")
    return errors


class IndexBuild(Workload):
    """Batch rebuild: op log -> silvers -> snapshot -> search indices."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_ops = ctx.size["index_build_ops"]
        self.i = 0

    def generate(self, rep: int) -> None:
        seed = self.ctx.seed
        g = gen.OpLogGenerator(seed, self.ctx.size["accounts"], replies=True, votes=True,
                               span_ops=self.n_ops)
        g.extend(self.n_ops)
        self.ops_dir = self.ctx.path(f"ops_r{rep}")
        gen.write_ops(g.log.table(), self.ops_dir, n_files=4, seed=seed)
        self.truth = g.log.truth()

    def warmup(self) -> None:
        """Two untimed rebuilds of the timed input, so the timed rebuild
        runs plans that are already compiled and mostly JIT-compiled."""
        for i in range(2):
            publish(self.ctx, self.ops_dir, self.ctx.path(f"warm_snap_{i}"))

    def step(self) -> dict:
        out = self.ctx.path(f"snap_{self.i}")
        self.i += 1
        t0 = time.perf_counter()
        publish(self.ctx, self.ops_dir, out)
        dt_ = time.perf_counter() - t0
        # cheap per-rebuild check from footers; the full one runs last
        ok = parquet_rows(f"{out}/posts") == len(self.truth["post_winners"]) and (
            parquet_rows(f"{out}/follows") == len(self.truth["live_edges"])
        )
        if self.i > 1:
            prev = self.ctx.path(f"snap_{self.i - 2}")
            shutil.rmtree(prev, ignore_errors=True)
        self.last_out = out
        return {"latency_s": dt_, "units": self.n_ops, "ops": 1, "bad": int(not ok)}

    def check(self) -> list[str]:
        return check_snapshot(self.ctx.spark, self.last_out, self.truth)

    def layer_counts(self) -> dict:
        out = self.last_out
        b, f = dir_stats(out)
        return {
            "ingest.posts.rows_out": parquet_rows(f"{out}/posts")
            + parquet_rows(f"{out}/follows"),
            "sources.sinks.bytes_written": b,
            "sources.sinks.files_written": f,
            "pipelines.search.postings_rows": parquet_rows(f"{out}/bm25_postings")
            + parquet_rows(f"{out}/trigram"),
        }

    def named(self, s: dict) -> dict:
        return {"build_ops_per_s": (s["throughput_per_s"], "1/s")}


# ---------------------------------------------------------------------------
# serving: GraphQL client, DuckDB recomputation
# ---------------------------------------------------------------------------
POST_FIELDS = "author permlink title created_at"


class Client:
    """A closed-loop GraphQL caller: one request at a time through the
    WSGI app, timed from the call to the response bytes."""

    def __init__(self, service: GraphQLService, tracer):
        self.app = wsgi_app(service)
        self.tracer = tracer
        self.n = 0

    def call(self, field: str, query: str, variables: dict) -> tuple[float, bytes]:
        body = json.dumps({"query": query, "variables": variables}).encode()
        env = {
            "PATH_INFO": GRAPHQL_PATH,
            "REQUEST_METHOD": "POST",
            "CONTENT_LENGTH": str(len(body)),
            "wsgi.input": io.BytesIO(body),
        }
        self.n += 1
        self.tracer.request_id = f"{field}#{self.n}"
        with self.tracer.span("serving.http.request", layer="serving.http") as sp:
            t0 = time.perf_counter()
            out = b"".join(self.app(env, lambda status, headers: None))
            dt_ = time.perf_counter() - t0
        if sp is not None:
            sp["field"] = field
        self.tracer.request_id = None
        return dt_, out


def duck_expected(posts_glob: str, follows_sql: str, spec) -> object:
    """DuckDB recomputation over the published parquet, shaped like the
    GraphQL ``data`` value of the matching request."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute(
            f"CREATE VIEW posts AS SELECT * FROM read_parquet('{posts_glob}', hive_partitioning=true)"
        )
        con.execute(f"CREATE VIEW follows AS {follows_sql}")
        kind, arg = spec
        if kind == "trendingTags":
            rows = con.execute(
                """WITH a AS (SELECT max(created_at) AS a FROM posts)
                SELECT tag, count(*) AS score FROM
                (SELECT unnest(tags) AS tag FROM posts, a
                 WHERE created_at > a.a - INTERVAL 14 DAYS)
                GROUP BY tag ORDER BY score DESC, tag ASC LIMIT ?""",
                [arg],
            ).fetchall()
            return {"trendingTags": {"tags": [{"tag": t, "score": s} for t, s in rows]}}
        if kind == "follows":
            one = con.execute(
                """SELECT
                  (SELECT count(*) FROM follows WHERE follower = $1),
                  (SELECT coalesce(list_sort(list(following)), []) FROM follows WHERE follower = $1),
                  (SELECT count(*) FROM follows WHERE following = $1),
                  (SELECT coalesce(list_sort(list(follower)), []) FROM follows WHERE following = $1)""",
                [arg],
            ).fetchone()
            return {
                "follows": {
                    "followers_count": one[2],
                    "followings_count": one[0],
                    "followers": one[3],
                    "followings": one[1],
                }
            }
        assert kind == "author"  # socialFeed byCreator
        rows = con.execute(
            """SELECT author, permlink, title,
                   strftime(created_at, '%Y-%m-%d %H:%M:%S') FROM posts
            WHERE NOT list_contains(coalesce(flags, []), 'comment')
              AND (TYPE != 'CERAMIC' OR TYPE IS NULL) AND author = $1
            ORDER BY created_at DESC, permlink ASC LIMIT 20""",
            [arg],
        ).fetchall()
        return {
            "socialFeed": {
                "items": [
                    dict(zip(("author", "permlink", "title", "created_at"), r))
                    for r in rows
                ]
            }
        }
    finally:
        con.close()


# ---------------------------------------------------------------------------
# follow_serve
# ---------------------------------------------------------------------------
class FollowServe(Workload):
    """Micro-batches land, both streams fold them (availableNow), then a
    fixed burst of requests reads the refreshed snapshot."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.i = 0  # batches landed after the base log (b0000)

    def generate(self, rep: int) -> None:
        ctx, size = self.ctx, self.ctx.size
        base = ctx.path(f"fs_r{rep}")
        self.ops_dir = f"{base}/ops"
        self.posts_state, self.follows_state = f"{base}/posts_state", f"{base}/follows_state"
        self.ckpt = f"{base}/ckpt"
        self.gen = gen.OpLogGenerator(ctx.seed, size["accounts"], replies=False, votes=False,
                                      span_ops=size["follow_base_ops"])
        lo, hi = self.gen.extend(size["follow_base_ops"])
        gen.write_ops(self.gen.log.table(lo, hi), f"{self.ops_dir}/b0000", n_files=1, seed=ctx.seed)
        # the first micro-batch lands with the base log, so set-up folds
        # the merge path too and the timed folds run it warm
        self.i = 0
        batch, *self.probe = self._next_batch()
        self._land(batch)

    def _next_batch(self) -> tuple:
        """(rows, newest post, {probe key: its LWW winner as of this
        batch}) for the next micro-batch."""
        g = self.gen
        lo, hi = g.extend(self.ctx.size["follow_batch_ops"])
        newest, edited = g.log.newest_post, g.log.last_edit or g.log.newest_post
        return g.log.table(lo, hi), newest, {k: g.log.posts[k] for k in (newest, edited)}

    def _land(self, batch) -> None:
        self.i += 1
        gen.write_ops(batch, f"{self.ops_dir}/b{self.i:04d}", n_files=1, seed=self.i)

    def prepare(self) -> None:
        """The base log and the first micro-batch, folded by both streams."""
        self._fold()

    def _fold(self) -> None:
        spark, t = self.ctx.spark, self.ctx.tracer
        schema = gen.OPS_DDL
        for name, start, state in (
            ("posts", stream.start_posts_stream, self.posts_state),
            ("follows", stream.start_follows_stream, self.follows_state),
        ):
            src = stream.ops_file_stream(spark, self.ops_dir, schema, max_files_per_trigger=1)
            sq = start(spark, src, state, f"{self.ckpt}_{name}")
            if t.enabled:  # batches run under the query's run id
                t.group_layers[str(sq.runId)] = "streaming.stream"
            sq.awaitTermination()
            if sq.exception() is not None:
                raise RuntimeError(f"{name} stream failed: {sq.exception()}")

    def warmup(self) -> None:
        """One untimed burst of reads against the prepared state."""
        self.req_lat: list[float] = []
        newest, probes = self.probe
        self.warm_bad = self._check_burst(newest, probes, self._burst(newest, probes))

    def _service(self) -> GraphQLService:
        r = self.ctx.spark.read.parquet
        return GraphQLService(
            posts=r(self.posts_state).drop("created_date"),
            follows=stream.follows_view(r(self.follows_state)),
        )

    def _requests(self, newest, probes) -> list:
        """(field, query, expectation): both probe posts' titles against
        the LWW truth, the rest against DuckDB over the state."""
        a, p = newest
        (ea, ep), = [k for k in probes if k != newest] or [newest]
        return [
            ("socialPost", f'{{socialPost(author:"{a}",permlink:"{p}"){{author permlink title}}}}', ("title", p, probes[newest][0])),
            ("socialPost", f'{{socialPost(author:"{ea}",permlink:"{ep}"){{author permlink title}}}}', ("title", ep, probes[(ea, ep)][0])),
            ("socialFeed", f'{{socialFeed(feedOptions:{{byCreator:{{_eq:"{a}"}}}},pagination:{{limit:20}}){{items{{{POST_FIELDS}}}}}}}', ("author", a)),
            ("follows", f'{{follows(id:"{a}"){{followers_count followings_count followers followings}}}}', ("follows", a)),
            ("trendingTags", "{trendingTags(limit:5){tags{tag score}}}", ("trendingTags", 5)),
        ]

    def _burst(self, newest, probes, t0: float | None = None) -> list[bytes]:
        """The reads, newest post first; sets ``self.fresh`` to the time
        from ``t0`` to the first reply."""
        client = Client(self._service(), self.ctx.tracer)
        outs = []
        for field, q, _ in self._requests(newest, probes):
            lat, out = client.call(field, q, {})
            if not outs and t0 is not None:
                self.fresh = time.perf_counter() - t0
            outs.append(out)
            self.req_lat.append(lat)
        return outs

    def _check_burst(self, newest, probes, outs) -> int:
        follows_sql = (
            f"SELECT * FROM read_parquet('{self.follows_state}/*/*.parquet', "
            "hive_partitioning=true) WHERE NOT is_unfollow"
        )
        bad = 0
        for (_, _, spec), out in zip(self._requests(newest, probes), outs):
            if spec[0] == "title":
                bad += _post_title(out) != f"title {spec[1]} at {spec[2]}"
            else:
                body = json.loads(out)
                want = duck_expected(f"{self.posts_state}/*/*.parquet", follows_sql, spec)
                bad += bool(body.get("errors")) or body["data"] != want
        return bad

    def step(self) -> dict:
        t, counts = self.ctx.tracer, self.ctx.counts
        batch, newest, probes = self._next_batch()
        t0 = time.perf_counter()
        self._land(batch)
        with t.span("streaming.stream.fold"):
            before = _partition_files(self.posts_state, self.follows_state) if t.enabled else None
            self._fold()
            if t.enabled:
                after = _partition_files(self.posts_state, self.follows_state)
                counts["streaming.stream.partitions_rewritten"] += sum(
                    1 for p, fs in after.items() if before.get(p) != fs
                )
                for p, fs in after.items():
                    for name, size in fs.items():
                        if name not in before.get(p, {}):
                            counts["sources.sinks.files_written"] += 1
                            counts["sources.sinks.bytes_written"] += size
        outs = self._burst(newest, probes, t0)
        wall = time.perf_counter() - t0
        # checked after the clock stops
        bad = self._check_burst(newest, probes, outs)
        return {"latency_s": self.fresh, "units": batch.num_rows, "wall_s": wall,
                "ops": len(outs), "bad": bad}

    def check(self) -> list[str]:
        """Streamed silvers == batch build over every landed batch."""
        spark = self.ctx.spark
        ops = spark.read.schema(gen.OPS_DDL).parquet(
            *[f"{self.ops_dir}/b{j:04d}" for j in range(self.i + 1)]
        )
        errors = [f"{self.warm_bad} warm-up reads wrong"] if self.warm_bad else []
        streamed = spark.read.parquet(self.posts_state).drop("created_date")
        if fingerprint(streamed) != fingerprint(build_posts(ops)):
            errors.append("streamed posts silver != batch build_posts")
        sf = stream.follows_view(spark.read.parquet(self.follows_state))
        if fingerprint(sf) != fingerprint(build_follows(ops)):
            errors.append("streamed follows silver != batch build_follows")
        return errors

    def layer_counts(self) -> dict:
        return {
            "streaming.stream.state_bytes": dir_stats(self.posts_state)[0]
            + dir_stats(self.follows_state)[0]
        }

    def named(self, s: dict) -> dict:
        lat = sorted(self.req_lat)
        return {
            "fresh_p50_s": (s["latency_ms"] / 1000, "s"),
            "post_write_p50_ms": (1000 * lat[len(lat) // 2] if lat else 0.0, "ms"),
            "follow_ops_per_s": (s["throughput_per_s"], "1/s"),
        }


def _partition_files(*dirs: str) -> dict:
    """{partition dir: {data file: bytes}} under each state table."""
    out = {}
    for d in dirs:
        if not os.path.isdir(d):
            continue
        for part in os.listdir(d):
            p = os.path.join(d, part)
            if os.path.isdir(p):
                out[p] = {
                    n: os.path.getsize(os.path.join(p, n))
                    for n in os.listdir(p)
                    if n.endswith(".parquet")
                }
    return out


def _post_title(out: bytes):
    body = json.loads(out)
    return ((body.get("data") or {}).get("socialPost") or {}).get("title")


WORKLOADS = {
    "index_build": IndexBuild,
    "follow_serve": FollowServe,
}
