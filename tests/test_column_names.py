"""Caller-supplied column names reach SQL quoted: an id, group or query
column whose name holds a backtick or a dot ranks exactly like a plain
one in ``cap_per_group``, ``pq_search`` and ``bm25_topk``. Unquoted, a
backtick fails to parse (``INVALID_ATTRIBUTE_NAME_SYNTAX``) and a dot is
read as struct access."""

from __future__ import annotations

import pytest

from big_data_hadoop_spark.operators import pq
from big_data_hadoop_spark.operators.bm25 import bm25_index, bm25_topk
from big_data_hadoop_spark.pipeline import cap_per_group


def _frames(spark, key: str, query: str, group: str):
    docs = spark.createDataFrame(
        [
            (i, f"w{i % 3} w{i % 5} w{i % 7} common", f"g{i % 3}",
             [float((i * j) % 7) - 3.0 for j in range(1, 5)])
            for i in range(40)
        ],
        f"`{key.replace('`', '``')}` long, text string, "
        f"`{group.replace('`', '``')}` string, embedding array<double>",
    )
    queries = docs.where("text LIKE 'w1 %'").selectExpr(
        f"`{key.replace('`', '``')}` AS `{query.replace('`', '``')}`",
        "text", "embedding",
    )
    return docs, queries


def _ranked(spark, key: str, query: str, group: str) -> dict:
    docs, queries = _frames(spark, key, query, group)
    cb = pq.pq_train(docs.toDF("vec_id", "text", "g", "embedding"),
                     dim=4, m=2, k=4, seed=3)
    codes = pq.pq_encode(docs, cb, id_col=key)
    out = {
        "cap_per_group": cap_per_group(docs, group_col=group, cap=5, id_col=key),
        "pq_search": pq.pq_search(
            codes, cb, queries, topk=3, id_col=key, query_id_col=query
        ),
        "bm25_topk": bm25_topk(
            bm25_index(docs, id_col=key), queries, topk=3, query_id_col=query
        ),
    }
    return {
        name: sorted(
            tuple(v.hex() if isinstance(v, float) else v for v in r)
            for r in df.collect()
        )
        for name, df in out.items()
    }


@pytest.mark.parametrize("key", ["doc `id`", "doc.id"])
def test_odd_column_names_rank_like_plain_ones(spark, key):
    plain = _ranked(spark, "doc_id", "query_id", "grp")
    odd = _ranked(spark, key, f"query {key}", f"{key} group")
    for name, rows in plain.items():
        assert rows, name
        assert odd[name] == rows, name
