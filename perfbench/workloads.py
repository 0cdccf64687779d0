"""The three benchmark workloads.

Each workload is a closed loop with one client: an op starts when the
previous one has ended. A workload

- ``prepare``s its inputs from the seed (harness work, never timed);
- runs ``setup`` once per fresh session (timed as set-up);
- ``check``s the engine's outputs before the timed window (this also
  warms the session), and ``verify``s what the window left behind after;
- yields its op mix one pass at a time through ``make_pass``.

An op returns the latency samples it produced: one per query or request,
one per micro-batch trigger for a stream drain.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

from telemetry import Tracer

import datagen

HEADLINE = [
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "flagship_top_orders",
    "d1_month_rollup", "j1_inner_join_agg", "j2_left_join_agg", "t1_topk_orders",
    "a1_a4_global_aggs", "x_dedup_exact", "x_knn_cosine_topk", "x_text_quality",
    "s1_tumbling_window", "a10_stat_moments", "x_line_dedup",
]
WARM_QUERY = "tpch_q6"


@dataclass
class Ctx:
    """What a workload needs from the harness."""

    root: str
    work: str
    seed: int
    sf: float
    tracer: Tracer
    spark: object = None
    data_dir: str = ""
    sf_dir: str = ""
    #: What an op hands the traced run's per-op table: metric values, and
    #: the stream's progress reports under ``stream.progress``.
    op_extra: dict = field(default_factory=dict)


@dataclass
class Op:
    name: str
    kind: str
    fn: Callable[[], list[float] | None]


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) * 1000.0


class Workload:
    name = ""
    sf = 0.01
    #: kinds whose samples are user-visible latencies
    latency_kinds: tuple[str, ...] = ()
    #: whether ``verify_fresh`` needs a new session after the run
    needs_fresh_session = False

    def prepare(self, ctx: Ctx) -> None:
        datagen.generate(ctx.data_dir, ctx.seed, ctx.sf)

    def link_inputs(self, ctx: Ctx, k: int) -> None:
        """Point ``ctx.sf_dir`` at a fresh directory of links to the
        generated tables. Disk artifacts the engine keys by directory name
        are then built in every set-up, never served from an earlier one."""
        d = os.path.join(ctx.work, "inputs", f"sf{ctx.sf:g}-s{ctx.seed}-p{os.getpid()}-k{k}")
        os.makedirs(d)
        for f in os.listdir(ctx.data_dir):
            os.symlink(os.path.join(ctx.data_dir, f), os.path.join(d, f))
        ctx.sf_dir = d

    def setup(self, ctx: Ctx, k: int) -> dict[str, float]:
        raise NotImplementedError

    def check(self, ctx: Ctx) -> list[str]:
        return []

    def make_pass(self, ctx: Ctx, rng: random.Random) -> list[Op]:
        raise NotImplementedError

    def verify(self, ctx: Ctx) -> list[str]:
        return []

    def verify_fresh(self, ctx: Ctx) -> list[str]:
        return []


# --------------------------------------------------------------------------
# analytics: the headline queries forced with a noop write


class Analytics(Workload):
    name = "analytics"
    latency_kinds = ("query",)

    def setup(self, ctx: Ctx, k: int) -> dict[str, float]:
        from recommender_systems_pyspark_spark.registry import all_queries

        self.specs = all_queries()
        self.link_inputs(ctx, k)
        out: dict[str, float] = {}
        with ctx.tracer.span("setup.warmup"):
            out["setup.warmup_ms"] = _timed(
                lambda: _noop_write(self.specs[WARM_QUERY].fn(ctx.spark, ctx.sf_dir))
            )
        return out

    def check(self, ctx: Ctx) -> list[str]:
        """Each query once against its registered DuckDB oracle."""
        from verify_local import compare, duck_con

        con = duck_con(ctx.sf_dir)
        errors = []
        try:
            for q in HEADLINE:
                spec = self.specs[q]
                got = spec.fn(ctx.spark, ctx.sf_dir).toPandas()
                want = con.execute(spec.oracle).fetchdf()
                errors += [f"{q}: {e}" for e in compare(q, got, want)]
                if len(got) == 0:
                    errors.append(f"{q}: empty result")
        finally:
            con.close()
        return errors

    def make_pass(self, ctx: Ctx, rng: random.Random) -> list[Op]:
        # Always bench.py's order: a query's cost depends on what ran before
        # it (x_line_dedup costs half as much again late in a pass as early
        # on), so a seeded order would add noise that no input change causes.
        return [Op(q, "query", self._op(ctx, q)) for q in HEADLINE]

    def _op(self, ctx: Ctx, name: str):
        spec = self.specs[name]

        def run() -> None:
            with ctx.tracer.span("registry.plan", query=name):
                df = spec.fn(ctx.spark, ctx.sf_dir)
            with ctx.tracer.span("registry.action", query=name):
                _noop_write(df)

        return run


# --------------------------------------------------------------------------
# recommender_app: the reference app's session over a parquet UserStore

RATING_CEILING = 1.5
BROWSE_MIN_COUNT = 20
TOP_N = 10


class RecommenderApp(Workload):
    name = "recommender_app"
    latency_kinds = ("read", "write")
    needs_fresh_session = True

    def __init__(self) -> None:
        self.acked: list[tuple[str, str, float]] = []
        self.created: list[str] = []
        self.user_ids: list[str] = []
        self.errors: list[str] = []
        self.run_start = None
        self.n_created = 0

    # -- set-up --------------------------------------------------------------
    def setup(self, ctx: Ctx, k: int) -> dict[str, float]:
        from pyspark.sql import functions as F

        from recommender_systems_pyspark_spark.ml.ratings import ratings_from_events
        from recommender_systems_pyspark_spark.ml.users import UserStore
        from recommender_systems_pyspark_spark.sources.sinks import write_table

        self.link_inputs(ctx, k)
        self.root = os.path.join(ctx.work, f"store-k{k}")
        self.recs_path = os.path.join(self.root, "recs")
        out: dict[str, float] = {}

        def seed_store() -> None:
            self.store = UserStore(ctx.spark, self.root)
            ratings = ratings_from_events(ctx.spark, ctx.sf_dir)
            write_table(ratings.repartition(1), self.store.ratings_path)
            users = (
                ratings.select("user_id").distinct()
                .select(
                    "user_id",
                    F.concat(F.lit("user"), F.col("user_id")).alias("username"),
                    F.lit(None).cast("string").alias("email"),
                    F.lit(datetime(2024, 1, 1)).cast("timestamp_ntz").alias("created_at"),
                    F.lit(True).alias("is_active"),
                )
            )
            write_table(users.repartition(1), self.store.users_path)
            self.store.setup()

        with ctx.tracer.span("setup.seed_store"):
            out["setup.seed_store_ms"] = _timed(seed_store)
        with ctx.tracer.span("setup.warmup"):
            out["setup.warmup_ms"] = _timed(self._load_ids)
        self.run_start = datetime.now(timezone.utc).replace(tzinfo=None)
        return out

    def _load_ids(self) -> None:
        self.user_ids = sorted(r[0] for r in self.store.users().select("user_id").collect())
        self.items = [str(i) for i in range(datagen.N_ITEMS)]

    # -- ops -----------------------------------------------------------------
    def _retrain(self, ctx: Ctx) -> None:
        from recommender_systems_pyspark_spark.ml import recommender
        from recommender_systems_pyspark_spark.sources.sinks import write_table

        with ctx.tracer.span("ml.train"):
            res = recommender.train(self.store.ratings())
        if not res.rmse <= RATING_CEILING:
            self.errors.append(f"holdout_rmse {res.rmse:.4f} above ceiling {RATING_CEILING}")
        with ctx.tracer.span("ml.recommend"):
            recs = recommender.recommend_top_n(res.model, TOP_N, res.user_dim, res.item_dim)
            with ctx.tracer.span("sources.write_table"):
                write_table(recs.repartition(1), self.recs_path)
        ctx.op_extra["ml.holdout_rmse"] = res.rmse

    def _latest5(self, ctx: Ctx, user: str, expect: tuple):
        from pyspark.sql import functions as F

        def run() -> None:
            with ctx.tracer.span("ml.users.read", kind="latest5"):
                rows = (
                    self.store.ratings().where(F.col("user_id") == user)
                    .orderBy(F.col("rated_at").desc()).limit(5).collect()
                )
            seen = {(r["user_id"], r["item_id"], float(r["rating"])) for r in rows}
            if expect not in seen:
                self.errors.append(f"acknowledged rating {expect} not visible to the next read")

        return run

    def _recs(self, ctx: Ctx, user: str):
        from pyspark.sql import functions as F

        def run() -> None:
            with ctx.tracer.span("ml.users.read", kind="recs"):
                ctx.spark.read.parquet(self.recs_path).where(F.col("user_id") == user).orderBy(
                    "rank"
                ).limit(TOP_N).collect()

        return run

    def _browse(self, ctx: Ctx):
        from pyspark.sql import functions as F

        def run() -> None:
            with ctx.tracer.span("ml.users.read", kind="browse"):
                (
                    self.store.latest_ratings().groupBy("item_id")
                    .agg(F.avg("rating").alias("avg_rating"), F.count("*").alias("n"))
                    .where(F.col("n") >= BROWSE_MIN_COUNT)
                    .orderBy(F.col("avg_rating").desc(), "item_id").limit(TOP_N).collect()
                )

        return run

    def _username(self, ctx: Ctx, username: str):
        def run() -> None:
            with ctx.tracer.span("ml.users.username_exists"):
                found = self.store.username_exists(username)
            if not found:
                self.errors.append(f"created user {username!r} not visible to the next read")

        return run

    def _add_rating(self, ctx: Ctx, user: str, item: str, rating: float):
        def run() -> None:
            with ctx.tracer.span("ml.users.add_rating"):
                self.store.add_rating(user, item, rating)
            self.acked.append((user, item, rating))

        return run

    def _create_user(self, ctx: Ctx, username: str):
        def run() -> None:
            with ctx.tracer.span("ml.users.create_user"):
                uid = self.store.create_user(username, f"{username}@example.com")
            if uid is None:
                raise RuntimeError(f"create_user({username!r}) was refused")
            self.created.append(username)

        return run

    def make_pass(self, ctx: Ctx, rng: random.Random) -> list[Op]:
        """One app cycle: a retrain, then 6 writes and 9 reads in seeded
        order. Every write is followed by the read that must see it."""
        groups: list[list[Op]] = []
        for _ in range(4):
            user = rng.choice(self.user_ids)
            item = rng.choice(self.items)
            rating = rng.randrange(2, 11) / 2.0
            groups.append([
                Op("add_rating", "write", self._add_rating(ctx, user, item, rating)),
                Op("read_latest5", "read", self._latest5(ctx, user, (user, item, rating))),
            ])
        for _ in range(2):
            self.n_created += 1
            name = f"bench_{ctx.seed}_{self.n_created}"
            groups.append([
                Op("create_user", "write", self._create_user(ctx, name)),
                Op("read_username", "read", self._username(ctx, name)),
            ])
        groups += [
            [Op("read_recs", "read", self._recs(ctx, rng.choice(self.user_ids)))],
            [Op("read_recs", "read", self._recs(ctx, rng.choice(self.user_ids)))],
            [Op("read_browse", "read", self._browse(ctx))],
        ]
        rng.shuffle(groups)
        return [Op("retrain", "retrain", lambda: self._retrain(ctx))] + [op for g in groups for op in g]

    def table_stats(self) -> dict[str, float]:
        files = size = 0
        for path in (self.store.ratings_path, self.store.users_path):
            for dirpath, _, names in os.walk(path):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(dirpath, n))
        return {"sources.table_files": float(files), "sources.table_bytes": float(size)}

    # -- checks --------------------------------------------------------------
    def _decode_errors(self, ctx: Ctx) -> list[str]:
        from pyspark.sql import functions as F

        recs = ctx.spark.read.parquet(self.recs_path)
        users = self.store.users().select("user_id")
        bad = (
            recs.join(users, "user_id", "left_anti").count()
            + recs.where(~F.col("item_id").isin(self.items) | F.col("item_id").isNull()).count()
        )
        n = recs.count()
        errors = [f"{bad} recs rows decode to an unknown user or item"] if bad else []
        if n == 0:
            errors.append("recs table is empty")
        return errors

    def verify(self, ctx: Ctx) -> list[str]:
        return list(self.errors) + self._decode_errors(ctx)

    def verify_fresh(self, ctx: Ctx) -> list[str]:
        """A new session must see every acknowledged write."""
        from pyspark.sql import functions as F

        from recommender_systems_pyspark_spark.ml.users import UserStore

        store = UserStore(ctx.spark, self.root)
        rows = store.ratings().where(F.col("rated_at") >= F.lit(self.run_start)).collect()
        got = sorted((r["user_id"], r["item_id"], float(r["rating"])) for r in rows)
        errors = []
        if got != sorted(self.acked):
            errors.append(
                f"fresh session sees {len(got)} new ratings, {len(self.acked)} were acknowledged"
            )
        names = {r["username"] for r in store.users().collect()}
        missing = [u for u in self.created if u not in names]
        if missing:
            errors.append(f"fresh session misses created users {missing[:3]}")
        return errors


# --------------------------------------------------------------------------
# streaming: ordered parquet files drained through the engine's builders

STREAM_FILES = 2
#: Builders timed in the window, all three on the Arrow/Python boundary,
#: each with the registered query whose DuckDB oracle is its batch twin.
#: The set-up drains ``anomaly_flags`` once over the first ``WARM_ROWS``
#: events, which also starts the Python workers.
BATCH_TWIN = {
    "cumulative_user_stats": "s4_stateful_user_totals",
    "session_stream": "s15_stream_session_timeout",
    "anomaly_flags": "s14_stream_anomaly",
}
WARM_BUILDER = "anomaly_flags"
WARM_ROWS = 200
STREAM_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
)


class Streaming(Workload):
    name = "streaming"
    sf = 0.005
    latency_kinds = ("drain",)

    def __init__(self) -> None:
        self.n_drains = 0
        self.run_to_op: dict[str, str] = {}

    def prepare(self, ctx: Ctx) -> None:
        super().prepare(ctx)
        events = os.path.join(ctx.data_dir, "events.parquet")
        self.src = os.path.join(ctx.work, "stream_src")
        self.warm_src = os.path.join(ctx.work, "stream_warm")
        datagen.stage_event_files(events, self.src, STREAM_FILES)
        datagen.stage_event_files(events, self.warm_src, 1, rows=WARM_ROWS)

    def _builders(self, ctx: Ctx, src: str) -> dict[str, tuple[Callable, str]]:
        from pyspark.sql import functions as F

        from recommender_systems_pyspark_spark.streaming.anomaly import anomaly_flags
        from recommender_systems_pyspark_spark.streaming.session_timeout import session_stream
        from recommender_systems_pyspark_spark.streaming.stateful import cumulative_user_stats

        def stream():
            return (
                ctx.spark.readStream.schema(STREAM_SCHEMA)
                .option("maxFilesPerTrigger", 1).parquet(src)
            )

        return {
            "cumulative_user_stats": (
                lambda: cumulative_user_stats(
                    stream().withColumn("ts", F.col("ts").cast("timestamp_ntz"))
                ),
                "update",
            ),
            "session_stream": (lambda: session_stream(stream()), "append"),
            "anomaly_flags": (
                lambda: anomaly_flags(stream().select("event_id", "user_id", "value")), "update"
            ),
        }

    def _drain(self, ctx: Ctx, builder: str, src: str) -> tuple[list[dict], object, str]:
        """Start one builder's query into a memory sink, run it until the
        staged files are consumed and stop it. Returns its progress
        reports, the query and the sink's table."""
        plan, mode = self._builders(ctx, src)[builder]
        self.n_drains += 1
        table = f"out_{builder}_{self.n_drains}"
        q = (
            plan().writeStream.format("memory").queryName(table).outputMode(mode)
            .option("checkpointLocation", os.path.join(ctx.work, "ck", table))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return q.recentProgress, q, table

    def setup(self, ctx: Ctx, k: int) -> dict[str, float]:
        self.link_inputs(ctx, k)
        self.outputs: dict[str, str] = {}
        with ctx.tracer.span("setup.warmup"):
            return {"setup.warmup_ms": _timed(lambda: self._drain(ctx, WARM_BUILDER, self.warm_src))}

    def make_pass(self, ctx: Ctx, rng: random.Random) -> list[Op]:
        order = list(BATCH_TWIN)
        rng.shuffle(order)
        return [Op(b, "drain", self._op(ctx, b)) for b in order]

    def _op(self, ctx: Ctx, builder: str):
        def run() -> list[float]:
            with ctx.tracer.span("stream.drain", builder=builder) as span:
                progress, q, table = self._drain(ctx, builder, self.src)
            self.outputs.setdefault(builder, table)
            if span is not None:
                self.run_to_op[str(q.runId)] = span.parent
            ctx.op_extra["stream.progress"] = progress
            return [float(p["durationMs"].get("triggerExecution", 0)) for p in progress]

        return run

    # -- checks: each builder's final output against its batch twin ----------
    def verify(self, ctx: Ctx) -> list[str]:
        """The first timed drain of each builder against the DuckDB oracle
        of its batch twin over the same events."""
        from verify_local import compare, duck_con

        from recommender_systems_pyspark_spark.registry import all_queries

        specs = all_queries()
        con = duck_con(ctx.sf_dir)
        errors: list[str] = []
        try:
            for builder, twin in BATCH_TWIN.items():
                if builder not in self.outputs:
                    errors.append(f"{builder}: never drained")
                    continue
                got = _final_rows(builder, ctx.spark.table(self.outputs[builder]).toPandas())
                want = con.execute(specs[twin].oracle).fetchdf()
                errors += [f"{builder}: {e}" for e in compare(builder, got, want)]
        finally:
            con.close()
        return errors


def _final_rows(builder: str, got):
    """A stream's emitted rows in the shape of its batch twin's answer."""
    if builder == "cumulative_user_stats":
        # each update row is the user's running snapshot plus the alerts
        # its batch crossed
        final = got.sort_values("n_events").groupby("user_id").tail(1).set_index("user_id")
        final["alerts_crossed"] = got.groupby("user_id")["alerts_crossed"].sum().astype("int32")
        return final.reset_index()
    if builder == "session_stream":
        return got.drop(columns="close_reason")
    return got


WORKLOADS: dict[str, Callable[[], Workload]] = {
    "analytics": Analytics,
    "recommender_app": RecommenderApp,
    "streaming": Streaming,
}
