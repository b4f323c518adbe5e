"""Triangle counting (``graph.triangle_count``): DuckDB oracle on the
sf0.01 lineitem co-purchase graph via an INDEPENDENT id-ordered
three-way-join enumeration (the operator orients by degree), known
tiny graphs, and input-noise tolerance (self-loops, duplicate and
reversed pairs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_hadoop_spark.operators.graph import triangle_count
from big_data_hadoop_spark.sources.io import load_table
from tests.conftest import SF_ORACLE

_ORACLE = """
WITH e AS (
  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
                  greatest(x.l_partkey, y.l_partkey) AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey
), deg AS (
  SELECT id, count(*) AS degree
  FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
), pv AS (
  SELECT id, count(*) AS triangles
  FROM (SELECT x AS id FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri) GROUP BY id
)
SELECT deg.id, degree, coalesce(triangles, 0) AS triangles,
       CASE WHEN degree >= 2
            THEN 2.0 * coalesce(triangles, 0) / (degree * (degree - 1.0))
            ELSE 0.0 END AS coeff
FROM deg LEFT JOIN pv ON deg.id = pv.id
ORDER BY deg.id
"""


def _copurchase_edges(spark):
    li = load_table(spark, SF_ORACLE, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    x = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    y = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    return (
        x.join(y, "l_orderkey")
        .filter(F.col("pa") != F.col("pb"))
        .select(F.col("pa").alias("id_a"), F.col("pb").alias("id_b"))
    )


def test_triangles_match_duckdb_oracle(spark, duck):
    got = [
        (r.id, r.degree, r.triangles, round(r.coeff, 12))
        for r in triangle_count(_copurchase_edges(spark))
        .orderBy("id")
        .collect()
    ]
    want = [
        (i, d, t, round(c, 12)) for i, d, t, c in duck.execute(_ORACLE).fetchall()
    ]
    assert got == want
    assert sum(t for _, _, t, _ in got) > 0, "vacuous: no triangles at all"


def test_triangles_known_graphs(spark):
    # K4 — with self-loop / duplicate / reversed noise the operator
    # must shrug off: every vertex has degree 3, sits in 3 triangles,
    # coeff exactly 1; global count 4·3/3 = 4
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    noisy = k4 + [(0, 0), (1, 2), (1, 2), (2, 1)]
    got = {
        r.id: (r.degree, r.triangles, r.coeff)
        for r in triangle_count(
            spark.createDataFrame(noisy, "id_a long, id_b long")
        ).collect()
    }
    assert got == {v: (3, 3, 1.0) for v in range(4)}
    # path 0-1-2-3: no triangles; ends have degree 1 → coeff 0
    path = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "id_a long, id_b long"
    )
    got = {
        r.id: (r.degree, r.triangles, r.coeff)
        for r in triangle_count(path).collect()
    }
    assert got == {0: (1, 0, 0.0), 1: (2, 0, 0.0), 2: (2, 0, 0.0), 3: (1, 0, 0.0)}
    # one triangle with a pendant: vertex 1 has deg 3, 1 triangle,
    # coeff 2·1/(3·2) = 1/3
    tri = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (1, 9)], "id_a long, id_b long"
    )
    got = {r.id: (r.degree, r.triangles, round(r.coeff, 12)) for r in triangle_count(tri).collect()}
    third = round(1 / 3, 12)
    assert got == {
        0: (2, 1, 1.0),
        1: (3, 1, third),
        2: (2, 1, 1.0),
        9: (1, 0, 0.0),
    }


def test_triangles_empty_and_degenerate(spark):
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert triangle_count(empty).count() == 0
    # only self-loops → no simple edges → empty result
    loops = spark.createDataFrame([(7, 7), (8, 8)], "id_a long, id_b long")
    assert triangle_count(loops).count() == 0


def test_closing_broadcast_follows_session_threshold(spark):
    """The closing-edge broadcast is capped by
    spark.sql.autoBroadcastJoinThreshold (16 B per edge row), so a
    session that disables broadcasts (-1) gets no BroadcastHashJoin,
    while the engine's 64 MB default keeps the broadcast plan."""
    from big_data_hadoop_spark.plans import formatted_plan

    tri = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (1, 9)], "id_a long, id_b long"
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    assert "BroadcastHashJoin" in formatted_plan(triangle_count(tri))
    try:
        spark.conf.set(key, "-1")
        assert "BroadcastHashJoin" not in formatted_plan(triangle_count(tri))
    finally:
        spark.conf.set(key, prior)
