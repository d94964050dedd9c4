"""The at-rest layout contract (etl_data_spark/io/layout.py): every kind
writes, appends, compacts and opens through one module, and a sidecar
whose ``format_version`` differs from the engine's is refused uniformly."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_data_spark.io import layout as L
from etl_data_spark.operators import dedup as D
from etl_data_spark.operators import pq as PQ
from etl_data_spark.operators import similarity as S
from etl_data_spark.queries import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").select("doc_id", "text")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _same_rows(a, b):
    """exceptAll both ways: the two frames hold the same multiset."""
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _qvec(emb):
    return list(emb.filter(F.col("vec_id") == 0).first()["embedding"])


# kind -> (write(spark, emb, docs, path), probe(spark, emb, docs, path),
#          readers and appenders: [(name, call(spark, emb, docs, path))])
def _kinds():
    def ivf_write(spark, e, d, p):
        S.write_ivf_partitioned(e, p, S.sample_centroids(e, k=4))

    def lsh_write(spark, e, d, p):
        S.write_ann_bucketed(e, p, dim=len(_qvec(e)), num_planes=3)

    def banded_write(spark, e, d, p):
        S.write_ann_banded(
            e, p, dim=len(_qvec(e)), bands=2, planes_per_band=3
        )

    def pq_write(spark, e, d, p):
        PQ.write_ivf_pq(
            e, p, centroids=S.sample_centroids(e, k=4),
            codebooks=PQ.train_pq(e, m=8, k=16, sample_rows=64, iters=0),
        )

    def sq8_write(spark, e, d, p):
        PQ.write_sq8(e, p, PQ.train_sq8(e, sample_rows=64))

    def bands_write(spark, e, d, p):
        D.write_minhash_bands(
            d.filter(F.col("doc_id") < 400), p, num_hashes=32, bands=8
        )

    def gram_write(spark, e, d, p):
        D.write_gram_index(d.filter(F.col("doc_id") < 400), p, n=5)

    delta = lambda d: d.filter(F.col("doc_id") >= 400)  # noqa: E731
    return {
        "ivf": (
            ivf_write,
            lambda s, e, d, p: S.ivf_topk_at_rest(s, p, _qvec(e), k=5),
            [
                ("ivf_topk_at_rest",
                 lambda s, e, d, p: S.ivf_topk_at_rest(s, p, _qvec(e))),
                ("semantic_dedup_pairs_at_rest",
                 lambda s, e, d, p: S.semantic_dedup_pairs_at_rest(s, p)),
                ("semantic_dedup_incremental_at_rest",
                 lambda s, e, d, p: S.semantic_dedup_incremental_at_rest(e, p)),
                ("append_ivf_partitioned",
                 lambda s, e, d, p: S.append_ivf_partitioned(e, p)),
                ("retrain_ivf_layout",
                 lambda s, e, d, p: S.retrain_ivf_layout(s, p)),
            ],
        ),
        "lsh": (
            lsh_write,
            lambda s, e, d, p: S.ann_topk_at_rest(s, p, _qvec(e), k=5),
            [
                ("ann_topk_at_rest",
                 lambda s, e, d, p: S.ann_topk_at_rest(s, p, _qvec(e))),
                ("append_ann_bucketed",
                 lambda s, e, d, p: S.append_ann_bucketed(e, p)),
            ],
        ),
        "lsh_banded": (
            banded_write,
            lambda s, e, d, p: S.knn_join_lsh_banded_at_rest(
                s, e.filter(F.col("vec_id") < 10), p, k=3
            ),
            [
                ("knn_join_lsh_banded_at_rest",
                 lambda s, e, d, p: S.knn_join_lsh_banded_at_rest(s, e, p)),
                ("append_ann_banded",
                 lambda s, e, d, p: S.append_ann_banded(e, p)),
            ],
        ),
        "ivf_pq": (
            pq_write,
            lambda s, e, d, p: PQ.ivfpq_topk_at_rest(
                s, p, _qvec(e), k=5, shortlist=20
            ),
            [
                ("ivfpq_topk_at_rest",
                 lambda s, e, d, p: PQ.ivfpq_topk_at_rest(s, p, _qvec(e))),
                ("append_ivf_pq", lambda s, e, d, p: PQ.append_ivf_pq(e, p)),
            ],
        ),
        "sq8": (
            sq8_write,
            lambda s, e, d, p: PQ.sq8_topk_at_rest(
                s, p, _qvec(e), k=5, shortlist=20
            ),
            [
                ("sq8_topk_at_rest",
                 lambda s, e, d, p: PQ.sq8_topk_at_rest(s, p, _qvec(e))),
                ("append_sq8", lambda s, e, d, p: PQ.append_sq8(e, p)),
            ],
        ),
        "minhash_bands": (
            bands_write,
            lambda s, e, d, p: D.dedup_incremental_at_rest(
                delta(d), p, threshold=0.5
            ),
            [
                ("dedup_incremental_at_rest",
                 lambda s, e, d, p: D.dedup_incremental_at_rest(d, p)),
                ("append_minhash_bands",
                 lambda s, e, d, p: D.append_minhash_bands(d, p)),
                ("compact_minhash_bands",
                 lambda s, e, d, p: D.compact_minhash_bands(s, p)),
            ],
        ),
        "gram_index": (
            gram_write,
            lambda s, e, d, p: D.duplicate_spans_incremental_at_rest(
                delta(d), p
            ),
            [
                ("duplicate_spans_incremental_at_rest",
                 lambda s, e, d, p: D.duplicate_spans_incremental_at_rest(d, p)),
                ("append_gram_index",
                 lambda s, e, d, p: D.append_gram_index(d, p)),
            ],
        ),
    }


KINDS = _kinds()


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_format_version_mismatch_is_refused(spark, emb, docs, tmp_path, kind):
    """Bump a layout's sidecar format_version: every reader, appender and
    compact_layout refuses it with the uniform error naming the kind and
    both versions. Deleting the key (a sidecar as written before the key
    existed) reads as version 1: a kind still at version 1 probes exactly
    as before, a kind past it (minhash_bands, whose version-1 band keys
    were strings) is refused the same way."""
    write, probe, calls = KINDS[kind]
    version = L.SPECS[kind].format_version
    path = str(tmp_path / kind)
    write(spark, emb, docs, path)
    meta_dir = f"{path}/{L.SPECS[kind].meta_sub}".rstrip("/")
    meta = L.read_meta(spark, meta_dir)
    assert meta["kind"] == kind and meta["format_version"] == version
    want = _rows(probe(spark, emb, docs, path))

    def refused(found):
        uniform = (
            rf"is kind='{kind}' \(format_version {found}\), not '{kind}' "
            rf"\(format_version {version}\)"
        )
        for name, call in calls + [
            ("compact_layout", lambda s, e, d, p: S.compact_layout(s, p)),
            ("layout_stats", lambda s, e, d, p: S.layout_stats(s, p)),
        ]:
            with pytest.raises(ValueError, match=uniform) as err:
                call(spark, emb, docs, path)
            assert str(err.value).startswith(name), (name, str(err.value))

    L.write_meta(spark, meta_dir, {**meta, "format_version": version + 1})
    refused(version + 1)

    del meta["format_version"]
    L.write_meta(spark, meta_dir, meta)
    if version == 1:
        assert _rows(probe(spark, emb, docs, path)) == want
    else:
        refused(1)


@pytest.mark.parametrize("kind", ["sq8", "gram_index"])
def test_layout_lifecycle_reaches_every_kind(spark, emb, docs, tmp_path, kind):
    """The tables a kind owns are declared once, so the generic lifecycle
    (compact_layout / layout_stats / layout_skew_report) reaches kinds
    whose partitioning differs from the ANN layouts': the unpartitioned
    sq8 table and the gram index (sidecar at the root, table under
    grams/). write -> append -> compact -> probe, with identical probe
    results before and after compaction."""
    if kind == "sq8":
        bounds = PQ.train_sq8(emb, sample_rows=64)
        path = str(tmp_path / "sq8")
        PQ.write_sq8(emb.filter(F.col("vec_id") < 300), path, bounds)
        PQ.append_sq8(emb.filter(F.col("vec_id") >= 300), path)

        def probe():
            return PQ.sq8_topk_at_rest(spark, path, _qvec(emb), k=10, shortlist=40)

        targets = [path]
    else:
        path = str(tmp_path / "grams")
        D.write_gram_index(docs.filter(F.col("doc_id") < 300), path, n=5)
        D.append_gram_index(
            docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400)),
            path,
        )

        def probe():
            return D.duplicate_spans_incremental_at_rest(
                docs.filter(F.col("doc_id") >= 400), path
            )

        targets = [path, path + "/grams"]

    before = probe().localCheckpoint()
    rows = S.layout_skew_report(spark, path)
    assert rows["kind"] == kind and rows["n_rows"] > 0
    for target in targets:
        n_files = S.compact_layout(spark, target)
        assert n_files == S.layout_skew_report(spark, target)["n_partitions"]
        assert _same_rows(before, probe())
    assert (Path(path) / L.META_FILE).exists()


def test_semantic_dedup_at_rest_masks_duplicate_id_self_pairs(spark, emb, tmp_path):
    """An id stored twice in one cell (the row re-appended) must not pair
    with itself: the numpy per-cell scorer drops id_a == id_b rows like
    its join-form twin, and every other pair keeps its exact score."""
    path = str(tmp_path / "ivf_dup")
    small = emb.filter(F.col("vec_id") < 200)
    S.write_ivf_partitioned(small, path, S.sample_centroids(small, k=2))
    before = S.semantic_dedup_pairs_at_rest(spark, path, threshold=0.0)
    before = before.localCheckpoint()
    row5 = emb.filter(F.col("vec_id") == 5)
    assert S.semantic_dedup_incremental_at_rest(
        row5, path, threshold=0.0
    ).filter("id_a = id_b").count() == 0

    S.append_ivf_partitioned(row5, path)
    after = S.semantic_dedup_pairs_at_rest(spark, path, threshold=0.0)
    assert after.filter("id_a = id_b").count() == 0
    assert _same_rows(before, after.distinct())
