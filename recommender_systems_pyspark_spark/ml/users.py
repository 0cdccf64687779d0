"""Composed user-CRUD operations — the reference's one transactional-ish
workflow (utils/user.py:130-168: validate-username regex → uuid/timestamp
stamp → append → read-back), rebuilt over the parquet store.

Every primitive already exists in the engine (P6 regex validation, F7/F8
uuid+timestamp stamping, S8/S6 insert-append, S4 existence probe); this
module COMPOSES them into ``create_user`` / ``add_rating`` the way the
reference's ``User`` class does against Postgres, with the same semantics:

- usernames match ``^[a-zA-Z0-9_.-]+$`` and must be unique
  (utils/user.py:130-148; the reference enforces uniqueness with a probe
  then relies on the DB's unique constraint — parquet has no constraint,
  so the probe IS the gate, and concurrent creators need an external lock
  or a last-writer-wins dedup view, noted below);
- ratings are APPEND-ONLY duplicates included (utils/user.py:162-168) —
  the dedup happens in the read-side ``latest_ratings`` view, mirroring
  ``ml_latest_rating_dedup``.

Scale notes: per-call appends write one tiny file each — the same
small-file pattern the reference's JDBC row inserts have. At scale the
appends land through a streaming sink or get compacted; the read-side
views are unchanged either way.
"""

from __future__ import annotations

import re
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    FloatType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..registry import query
from ..sources.sinks import create_empty_table, insert_rows, table_exists

#: utils/user.py:52-63's users table, parquet-typed (NTZ: the store is
#: timezone-naive UTC, matching the fixtures).
USER_SCHEMA = StructType(
    [
        StructField("user_id", StringType(), False),
        StructField("username", StringType(), False),
        StructField("email", StringType(), True),
        StructField("created_at", TimestampNTZType(), False),
        StructField("is_active", BooleanType(), False),
    ]
)

#: utils/user.py:52-57's user_ratings table.
RATING_SCHEMA = StructType(
    [
        StructField("user_id", StringType(), False),
        StructField("item_id", StringType(), False),
        StructField("rating", FloatType(), False),
        StructField("rated_at", TimestampNTZType(), False),
    ]
)

#: utils/user.py:141's allow-list (letters, digits, underscore, dot, hyphen).
USERNAME_RE = re.compile(r"^[a-zA-Z0-9_.-]+$")


def _now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


class UserStore:
    """Parquet-backed user/ratings store with the reference's CRUD surface."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.users_path = f"{root}/users"
        self.ratings_path = f"{root}/user_ratings"

    # -- setup (S7: DDL-typed creation, utils/user.py:74-99) ---------------
    def setup(self) -> None:
        if not table_exists(self.spark, self.users_path):
            create_empty_table(self.spark, self.users_path, USER_SCHEMA)
        if not table_exists(self.spark, self.ratings_path):
            create_empty_table(self.spark, self.ratings_path, RATING_SCHEMA)

    # -- reads -------------------------------------------------------------
    def users(self) -> DataFrame:
        return self.spark.read.schema(USER_SCHEMA).parquet(self.users_path)

    def ratings(self) -> DataFrame:
        return self.spark.read.schema(RATING_SCHEMA).parquet(self.ratings_path)

    def get_user_by_username(self, username: str) -> dict | None:
        """Read-back probe (utils/user.py:107-120), bounded collect."""
        rows = self.users().where(F.col("username") == username).limit(1).collect()
        return rows[0].asDict() if rows else None

    def username_exists(self, username: str) -> bool:
        """S4 existence probe (utils/user.py:122-129)."""
        return bool(self.users().where(F.col("username") == username).limit(1).take(1))

    # -- writes ------------------------------------------------------------
    def create_user(self, username: str, email: str | None = None) -> str | None:
        """Validate → uuid/timestamp stamp → append → return id
        (utils/user.py:130-155). Returns None on invalid/taken username,
        like the reference (which prints and returns None)."""
        username = (username or "").strip()
        if not username or not USERNAME_RE.match(username):
            return None
        if self.username_exists(username):
            return None
        user_id = str(uuid.uuid4())
        insert_rows(
            self.spark,
            self.users_path,
            [(user_id, username, email, _now(), True)],
            USER_SCHEMA,
        )
        return user_id

    def add_rating(self, user_id: str, item_id: str, rating: float) -> None:
        """Append-only rating write (utils/user.py:157-168): duplicates for
        the same (user, item) are KEPT; latest_ratings() is the dedup view."""
        insert_rows(
            self.spark,
            self.ratings_path,
            [(user_id, item_id, float(rating), _now())],
            RATING_SCHEMA,
        )

    # -- read-side dedup view ----------------------------------------------
    def latest_ratings(self) -> DataFrame:
        """Latest rating per (user, item) — the read-repair for the
        append-duplicates semantics, same window as ml_latest_rating_dedup."""
        w = Window.partitionBy("user_id", "item_id").orderBy(
            F.col("rated_at").desc(), F.col("rating")
        )
        return (
            self.ratings()
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )


@query("ml_user_crud_flow")  # uuid/now() stamps → nondeterministic ids → rows-only
def ml_user_crud_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CRUD flow in a scratch store: create users (valid,
    duplicate-rejected, invalid-rejected), append ratings including a
    re-rating, and return the per-user reconciliation the reference's UI
    derives (app.py:403-406 unlock gate over utils/user.py's tables):
    (username, n_appended, n_latest, recs_unlocked). Row count and schema
    are deterministic — 2 users; alice has 3 appends but 2 latest."""
    import tempfile

    with tempfile.TemporaryDirectory(prefix="crud_", ignore_cleanup_errors=True) as d:
        store = UserStore(spark, d)
        store.setup()
        alice = store.create_user("alice", "alice@example.com")
        assert store.create_user("alice") is None  # duplicate → rejected
        assert store.create_user("bob!") is None  # invalid charset → rejected
        bob = store.create_user("bob_2.test-x")
        store.add_rating(alice, "tt0111161", 4.5)
        store.add_rating(alice, "tt0111161", 2.0)  # re-rating: appended, not updated
        store.add_rating(alice, "tt0068646", 5.0)
        store.add_rating(bob, "tt0071562", 3.0)

        appended = store.ratings().groupBy("user_id").agg(F.count("*").alias("n_appended"))
        latest = store.latest_ratings().groupBy("user_id").agg(F.count("*").alias("n_latest"))
        return (
            store.users()
            .join(appended, "user_id", "left")
            .join(latest, "user_id", "left")
            .select(
                "username",
                F.coalesce("n_appended", F.lit(0)).alias("n_appended"),
                F.coalesce("n_latest", F.lit(0)).alias("n_latest"),
                (F.coalesce("n_latest", F.lit(0)) >= 10).alias("recs_unlocked"),
            )
            .orderBy("username")
            .localCheckpoint(eager=True)  # read before the store dir is removed
        )
