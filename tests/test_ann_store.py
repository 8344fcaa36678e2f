"""The ANN index store: one lifecycle for IVF, int8 IVF, LSH and IVF-PQ.

``test_lifecycle_serves_pinned_results`` is the fast (default-run) pin
of the whole lifecycle: each family goes build → serve → append →
delete → serve → compact → serve → rebuild → serve on a fixed corpus,
and every served result is compared, order-insensitively, with a hash
recorded before the families were folded into one store.
``test_delete_then_append_updates_the_vector`` pins the update recipe:
a tombstone hides only the copies written before it."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from hadoop_2_10_0_src_mapreduce_spark.operators import ann_store, pq, similarity
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").persist()


def _served_hash(df) -> str:
    rows = sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.sim) for r in df.collect()
    )
    assert rows, "serving returned no rows"
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


_FAMILIES = {
    "ivf": (
        lambda e, p: similarity.save_ivf_index(e, p, n_centroids=8),
        lambda q, p: similarity.query_ivf_index(q, p, k=5, n_probe=3),
        lambda s, p, src: similarity.rebuild_ivf_index(s, p),
    ),
    "ivf-int8": (
        lambda e, p: similarity.save_ivf_index(
            e, p, n_centroids=8, quantize=True
        ),
        lambda q, p: similarity.query_ivf_index(q, p, k=5, n_probe=3),
        lambda s, p, src: similarity.rebuild_ivf_index(s, p),
    ),
    "lsh": (
        lambda e, p: similarity.save_lsh_index(e, p, n_planes=6, n_tables=4),
        lambda q, p: similarity.query_lsh_index(q, p, k=5),
        lambda s, p, src: similarity.rebuild_lsh_index(s, p),
    ),
    "ivfpq": (
        lambda e, p: pq.save_ivfpq_index(
            e, p, n_centroids=8, n_subspaces=8, n_codes=16
        ),
        lambda q, p: pq.query_ivfpq_index(q, p, k=5, n_probe=3),
        lambda s, p, src: pq.rebuild_ivfpq_index(s, p, src),
    ),
}


def _append(family, batch, path):
    if family == "lsh":
        similarity.append_to_lsh_index(batch, path)
    elif family == "ivfpq":
        pq.append_to_ivfpq_index(batch, path)
    else:
        similarity.append_to_ivf_index(batch, path)


# served-result hashes after build, delete, compact and rebuild
_PINNED = {
    "ivf": [
        "bcffd3b77c26fa01", "2d3c6c4ea03a776b",
        "2d3c6c4ea03a776b", "f368f1a3e3ef4221",
    ],
    "ivf-int8": [
        "4d4c2d695eea1ce3", "18de515112dfc19f",
        "18de515112dfc19f", "e8a65bb63a786527",
    ],
    "lsh": [
        "662fa9a57712cc84", "3237e4e382098637",
        "3237e4e382098637", "3237e4e382098637",
    ],
    "ivfpq": [
        "9b33ffc5576415b6", "d0233bfeb9b20d69",
        "d0233bfeb9b20d69", "0842872109379068",
    ],
}


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_lifecycle_serves_pinned_results(spark, emb, tmp_path, family):
    build, serve, rebuild = _FAMILIES[family]
    path = str(tmp_path / family)
    corpus = emb.select("vec_id", "embedding")
    queries = corpus.where(F.col("vec_id") < 8)
    got = []
    build(corpus.where(F.col("vec_id") < 400), path)
    got.append(_served_hash(serve(queries, path)))
    _append(family, corpus.where(F.col("vec_id") >= 400), path)
    similarity.delete_from_index(spark, path, [0, 3, 401])
    got.append(_served_hash(serve(queries, path)))
    if family == "lsh":
        similarity.compact_lsh_index(spark, path)
    else:
        similarity.compact_ivf_index(spark, path)
    got.append(_served_hash(serve(queries, path)))
    rebuild(spark, path, corpus)
    got.append(_served_hash(serve(queries, path)))
    spark.catalog.clearCache()
    assert got == _PINNED[family]


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_delete_then_append_updates_the_vector(spark, emb, tmp_path, family):
    """Delete id 5, then append id 5 with a new vector (vec_id 450's,
    which the index never held): querying with that vector serves id 5
    after the append, after compaction and after rebuild. Tombstones
    that hid every copy of the id would serve nothing for it, and
    compaction would then drop the new copy."""
    build, serve, rebuild = _FAMILIES[family]
    path = str(tmp_path / family)
    corpus = emb.select("vec_id", "embedding")
    base = corpus.where(F.col("vec_id") < 400)
    query = corpus.where(F.col("vec_id") == 450)
    update = query.withColumn("vec_id", F.lit(5).cast(base.schema["vec_id"].dataType))
    served = lambda: {
        r.neighbor_id for r in serve(query, path).collect() if r.query_id == 450
    }
    build(base, path)
    assert 5 not in served()
    similarity.delete_from_index(spark, path, [5])
    _append(family, update, path)
    assert 5 in served()
    if family == "lsh":
        similarity.compact_lsh_index(spark, path)
    else:
        similarity.compact_ivf_index(spark, path)
    assert 5 in served()
    rebuild(spark, path, base.where(F.col("vec_id") != 5).unionByName(update))
    assert 5 in served()
    spark.catalog.clearCache()


def test_lsh_index_reads_dim_from_vectors(spark, emb, tmp_path):
    """save_lsh_index takes the plane width from the vectors: a 32-d
    corpus builds and serves without naming its width, the conf
    records 32, and serving equals the in-session self-ANN over the
    same md5 planes (no bucket reaches the cap at this size)."""
    small = emb.where(F.col("vec_id") < 200).select(
        "vec_id", F.slice("embedding", 1, 32).alias("embedding")
    )
    path = str(tmp_path / "lsh32")
    similarity.save_lsh_index(small, path, n_planes=4, n_tables=4)
    assert ann_store.read_meta(spark, path)["conf"]["dim"] == 32
    as_rows = lambda df: sorted(
        (r.query_id, r.rnk, r.neighbor_id, r.sim) for r in df.collect()
    )
    served = as_rows(similarity.query_lsh_index(small, path, k=3))
    in_session = similarity.ann_lsh_topk(
        small, k=3, n_planes=4, n_tables=4, dim=32
    )
    assert served and served == as_rows(in_session)
    spark.catalog.clearCache()
