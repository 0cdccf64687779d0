"""Deterministic embedding centroids — shared leaf module (no intra-package
imports) so the corpus queries (x_embed_centroids / x_embed_assign), the
similarity queries (x_knn_ivf_topk, drift, medoids, SemDeDup) and the
k-means update step of ``vectors.lloyd`` all average vectors by the same
engine-portable law without an import cycle. Its DuckDB twins live here
too: :func:`sql_centroids`, and the one Lloyd unroll
(:func:`sql_lloyd_parts`, :func:`sql_nearest`) every quantizer oracle
replays — similarity.py's oracles are built at import time, before
vectors.py (which imports similarity.py) could be imported.

Centroid averaging quantum: components are floor-quantized to 1e-9 before
the exact bigint sum. Unlike a DECIMAL cast (whose HALF_UP vs
round-half-even tie-breaking differs between engines on full-precision
floats), floor(v * 1e9) of the same double is bit-identical everywhere, the
bigint sum is exact and order-independent, and the single final division is
one deterministic double rounding.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CENT_QUANTUM = 1_000_000_000.0


def sql_centroids(
    where: str = "TRUE",
    keys: str = "label",
    src: str = "embeddings",
    vec: str = "embedding",
) -> str:
    """DuckDB twin of :func:`centroids_exploded`: (keys, dim, centroid)
    over the ``src`` rows that satisfy ``where``."""
    return f"""
    SELECT {keys}, CAST(i - 1 AS INT) AS dim,
           CAST(SUM(CAST(floor(x * {_CENT_QUANTUM}) AS BIGINT)) AS DOUBLE)
             / COUNT(x) / {_CENT_QUANTUM} AS centroid
    FROM (SELECT {keys},
                 unnest(generate_series(1, len({vec}))) AS i,
                 unnest({vec}::DOUBLE[]) AS x
          FROM {src} WHERE {where})
    GROUP BY {keys}, i
"""


def centroids_exploded(
    e: DataFrame, keys: Sequence[str] = ("label",), vec: str = "embedding"
) -> DataFrame:
    """(*keys, dim, centroid): per-key mean of the ``vec`` arrays in
    exploded form via posexplode + exact quantized average
    (order-independent, so the hash aggregate's partial ordering cannot
    move the double result; the 1e-9 input quantization is far below
    float32's precision at unit scale)."""
    return (
        e.select(*keys, F.posexplode(vec).alias("dim", "v"))
        .groupBy(*keys, "dim")
        .agg(
            (
                F.sum(F.floor(F.col("v").cast("double") * _CENT_QUANTUM)).cast("double")
                / F.count("v")
                / _CENT_QUANTUM
            ).alias("centroid")
        )
    )


def centroids_assembled(
    e: DataFrame, keys: Sequence[str] = ("label",), vec: str = "embedding"
) -> DataFrame:
    """(*keys, centroid array<double>): the exploded centroids re-assembled
    into dim-ordered vectors — the broadcastable form every probe joins
    against."""
    return (
        centroids_exploded(e, keys, vec)
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "centroid"))).alias("dc"))
        .select(*keys, F.transform("dc", lambda s: s.getField("centroid")).alias("centroid"))
    )


def sql_nearest(a: str, pts: str, cent: str, group: str | None = None) -> list[str]:
    """CTE parts defining ``a``: every row of ``pts`` (vec_id, [group],
    v, …) with the (cell, dist) of its nearest ``cent`` centroid — the
    DuckDB twin of :func:`vectors.nearest_centroid`, ties broken on cell."""
    sq = (
        "list_dot_product("
        "list_transform(generate_series(1, len(p.v)), i -> p.v[i] - c.cvec[i]), "
        "list_transform(generate_series(1, len(p.v)), i -> p.v[i] - c.cvec[i]))"
    )
    join = f"JOIN {cent} c ON c.{group} = p.{group}" if group else f"CROSS JOIN {cent} c"
    by = f"vec_id, {group}" if group else "vec_id"
    return [
        f"{a}_all AS (SELECT p.*, c.cell, {sq} AS dist FROM {pts} p {join})",
        f"""{a} AS MATERIALIZED (
          SELECT * EXCLUDE (rn) FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY {by} ORDER BY dist, cell) AS rn
            FROM {a}_all
          ) WHERE rn = 1
        )""",
    ]


def sql_lloyd_parts(
    k: int | str, n_iter: int, where: str = "TRUE", m: int | None = None
) -> list[str]:
    """DuckDB replica of :func:`vectors.lloyd`, the rounds UNROLLED as a
    CTE chain over the ``embeddings`` rows satisfying ``where`` (``e``:
    vec_id, v). The points are ``e`` itself or, given ``m``, its m
    subspace slices (``pts``: vec_id, sub, v; one codebook per ``sub``,
    the slice v[s·w+1 : s·w+w] matching Spark's 1-based ``slice``). ``k``
    is an integer or a scalar SQL expression over ``e``. Seeds ``c0`` are
    the k lowest vec_ids' points, then per round the centroid update
    ``c{i}`` (:func:`sql_centroids`; empty cells keep their centroid) and
    the assignment ``a{i}`` (:func:`sql_nearest`): ``c{n_iter}`` is the
    model, ``a{n_iter}`` the training points' final assignment.
    Possible because every step is engine-portable: deterministic seeds,
    the same left-fold squared L2, (dist, cell) ties and the quantized
    exact average."""
    group = "sub" if m else None
    key_cols = ["sub", "cell"] if m else ["cell"]
    keys = ", ".join(key_cols)
    on = " AND ".join(f"n.{c} = p.{c}" for c in key_cols)
    parts = [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v "
        f"FROM embeddings WHERE {where})"
    ]
    pts = "e"
    if m:
        w = f"(len(v) // {m})"
        pts = "pts"
        parts.append(
            f"""pts AS MATERIALIZED (
          SELECT vec_id, g.sub, v[g.sub * {w} + 1 : g.sub * {w} + {w}] AS v
          FROM e, LATERAL (SELECT unnest(range(0, {m})) AS sub) g
        )"""
        )
    parts.append(
        f"""c0 AS MATERIALIZED (
          SELECT {"p.sub, " if m else ""}CAST(s.rn - 1 AS INT) AS cell, p.v AS cvec
          FROM (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM e) s
          JOIN {pts} p USING (vec_id)
          WHERE s.rn <= {k}
        )"""
    )
    parts += sql_nearest("a0", pts, "c0", group)
    for i in range(1, n_iter + 1):
        parts += [
            f"""c{i}_new AS MATERIALIZED (
          SELECT {keys}, list(centroid ORDER BY dim) AS cvec
          FROM ({sql_centroids(keys=keys, src=f"a{i - 1}", vec="v")})
          GROUP BY {keys}
        )""",
            f"""c{i} AS MATERIALIZED (
          SELECT {keys}, cvec FROM c{i}_new
          UNION ALL
          SELECT p.* FROM c{i - 1} p ANTI JOIN c{i}_new n ON {on}
        )""",
        ]
        parts += sql_nearest(f"a{i}", pts, f"c{i}", group)
    return parts
