"""foreachBatch medallion sink + small-file compaction."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_data_spark.io.writers import MONTH_KEY, compact_small_files
from etl_data_spark.streaming.pipeline import (
    EVENTS_STREAM_SCHEMA,
    stream_events,
    stream_to_partitioned_table,
)


def test_stream_lands_in_partitioned_table_and_compacts(spark, tmp_path):
    src = tmp_path / "src"
    rows = [
        (
            i,
            dt.datetime(2024, 1 + (i % 3), 1, 0, 0) + dt.timedelta(minutes=i),
            i % 5,
            "click",
            1.0,
            "{}",
        )
        for i in range(300)
    ]
    spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA).repartition(6).write.mode(
        "overwrite"
    ).parquet(str(src))

    out = tmp_path / "gold"
    ckpt = tmp_path / "ckpt"
    q = stream_to_partitioned_table(
        stream_events(spark, str(src)), str(out), date_col="ts", checkpoint=str(ckpt)
    )
    q.processAllAvailable()
    q.stop()

    back = spark.read.parquet(str(out))
    assert back.count() == 300
    assert set(r[0] for r in back.select(MONTH_KEY).distinct().collect()) == {
        202401,
        202402,
        202403,
    }
    # partition pruning works on the streamed table
    pruned = back.filter(F.col(MONTH_KEY) == 202402)
    assert pruned.count() == back.filter(F.month("ts") == 2).count()

    n_before = sum(1 for p in out.rglob("*.parquet"))
    n_after = compact_small_files(spark, str(out), target_files_per_partition=1)
    assert n_after <= 3  # one file per month partition
    assert n_after < n_before
    assert spark.read.parquet(str(out)).count() == 300


def test_stream_restart_resumes_from_checkpoint_exactly_once(spark, tmp_path):
    """Stop → new data arrives → restart with the SAME checkpoint: the
    resumed query must process ONLY the unseen files (offsets recovered
    from the checkpoint), landing every event exactly once. This is the
    recovery contract a long-lived cluster ingestion job relies on; the
    other streaming tests only ever run each query once."""
    src = tmp_path / "src"
    out = tmp_path / "gold"
    ckpt = tmp_path / "ckpt"

    def batch(lo, hi, month):
        rows = [
            (
                i,
                dt.datetime(2024, month, 1, 0, 0) + dt.timedelta(minutes=i),
                i % 5,
                "click",
                1.0,
                "{}",
            )
            for i in range(lo, hi)
        ]
        spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA).coalesce(2).write.mode(
            "append"
        ).parquet(str(src))

    batch(0, 150, 1)
    q1 = stream_to_partitioned_table(
        stream_events(spark, str(src)), str(out), date_col="ts", checkpoint=str(ckpt)
    )
    q1.processAllAvailable()
    q1.stop()
    assert spark.read.parquet(str(out)).count() == 150

    # new files land while the query is DOWN
    batch(150, 300, 2)

    q2 = stream_to_partitioned_table(
        stream_events(spark, str(src)), str(out), date_col="ts", checkpoint=str(ckpt)
    )
    q2.processAllAvailable()
    q2.stop()

    back = spark.read.parquet(str(out))
    # exactly once: 300 rows total, every event_id distinct (the first
    # 150 were NOT re-ingested on restart), both month partitions present
    assert back.count() == 300
    assert back.select("event_id").distinct().count() == 300
    assert set(r[0] for r in back.select(MONTH_KEY).distinct().collect()) == {
        202401,
        202402,
    }


@pytest.mark.parametrize("reliable_dir", [False, True])
def test_iterative_operator_in_foreachbatch_survives_restart(
    spark, tmp_path, reliable_dir
):
    """An iterative batch operator (connected_components, which truncates
    per-round lineage via truncate_lineage) running INSIDE a streaming
    foreachBatch, across a stop/restart — parametrized over the reliable-
    checkpoint branch (r7 verdict item 7). With a global checkpoint dir
    configured, truncate_lineage's RELIABLE checkpoint RDDs and the
    stream's OWN offset checkpoint must coexist: the restart still resumes
    exactly-once from the sink checkpoint, the per-batch clustering stays
    exact, and checkpoint files actually land in the configured dir."""
    import os

    from etl_data_spark.operators.dedup import connected_components

    src = tmp_path / "pairs_src"
    out = tmp_path / "clusters"
    ckpt = tmp_path / "stream_ckpt"
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None, "suite must start without a dir"
    rdir = str(tmp_path / "reliable_ckpt")
    if reliable_dir:
        sc.setCheckpointDir(rdir)
    try:

        def run_stream():
            stream = (
                spark.readStream.schema("id_a long, id_b long")
                .parquet(str(src))
            )

            def cluster_batch(batch_df, batch_id):
                (
                    connected_components(batch_df)
                    .withColumn("batch_id", F.lit(batch_id))
                    .write.mode("append")
                    .parquet(str(out))
                )

            q = (
                stream.writeStream.foreachBatch(cluster_batch)
                .option("checkpointLocation", str(ckpt))
                .start()
            )
            q.processAllAvailable()
            q.stop()

        # first component arrives, stream runs, stops
        spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3)], ["id_a", "id_b"]
        ).coalesce(1).write.mode("append").parquet(str(src))
        run_stream()

        # second, disjoint component lands while the query is DOWN
        spark.createDataFrame(
            [(10, 11), (11, 12), (10, 12)], ["id_a", "id_b"]
        ).coalesce(1).write.mode("append").parquet(str(src))
        run_stream()

        got = {
            (r["doc_id"], r["cluster_id"])
            for r in spark.read.parquet(str(out)).collect()
        }
        # exactly-once: batch 1's chain clustered once, batch 2's clique
        # clustered once, no re-processing of batch 1 on restart
        assert got == {
            (0, 0), (1, 0), (2, 0), (3, 0),
            (10, 10), (11, 10), (12, 10),
        }
        assert spark.read.parquet(str(out)).count() == 7
        if reliable_dir:
            written = [
                os.path.join(root, f)
                for root, _, files in os.walk(rdir)
                for f in files
            ]
            assert written, "reliable branch not taken inside foreachBatch"
    finally:
        sc._jsc.setCheckpointDir(None)
        assert sc.getCheckpointDir() is None


def test_stream_dedup_ingest_gates_batches_against_the_layout(spark, tmp_path):
    """r12: the continuous dedup-gated ingest loop over the at-rest
    MinHash layout — batch docs duplicating the corpus are dropped,
    within-batch dup groups keep min-id, survivors fold into the layout
    so the NEXT microbatch probes against them, and a replayed batch is
    a no-op (the commit-marker gate)."""
    from pathlib import Path

    from etl_data_spark.operators.dedup import write_minhash_bands
    from etl_data_spark.queries import load_table
    from etl_data_spark.streaming.pipeline import (
        dedup_ingest_batch,
        stream_dedup_ingest,
    )

    sf_docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    base = sf_docs.filter(F.col("doc_id") < 300)
    layout = str(tmp_path / "layout")
    write_minhash_bands(base, layout)

    # batch 1: one exact copy of a corpus doc (id 9000), one fresh doc
    # (id 9001), and a within-batch dup pair (9002 < 9003, same text)
    corpus_text = base.filter(F.col("doc_id") == 7).first()["text"]
    fresh1 = "a genuinely novel document about spark partitioning " * 3
    dup_text = "two copies of this text arrive in the same batch " * 3
    b1 = spark.createDataFrame(
        [(9000, corpus_text), (9001, fresh1), (9002, dup_text), (9003, dup_text)],
        "doc_id long, text string",
    )
    # batch 2: a copy of batch 1's SURVIVOR (must be dropped — proves the
    # layout grew), plus one fresh doc
    b2 = spark.createDataFrame(
        [(9100, dup_text), (9101, "another entirely fresh document " * 4)],
        "doc_id long, text string",
    )

    src = tmp_path / "stream_src"
    src.mkdir()
    b1.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    survivors_path = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "ckpt")

    def start_stream():
        return stream_dedup_ingest(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*"),
            layout,
            survivors_path,
            checkpoint=ckpt,
        )

    q = start_stream()
    q.processAllAvailable()
    q.stop()
    got1 = {
        r["doc_id"]
        for r in spark.read.parquet(survivors_path + "/batch=*").collect()
    }
    assert got1 == {9001, 9002}  # 9000 dup-of-corpus, 9003 loses to 9002

    # batch 2 probes against the GROWN layout (9002's bands now in it)
    b2.coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))
    q = start_stream()
    q.processAllAvailable()
    q.stop()
    got2 = {
        r["doc_id"]
        for r in spark.read.parquet(survivors_path + "/batch=*").collect()
    }
    assert got2 == {9001, 9002, 9101}  # 9100 loses to the landed 9002

    # replay idempotence: re-running a committed batch id is a no-op —
    # the marker gates it (file counts in layout + survivors unchanged)
    def listing():
        return sorted(
            (str(p), p.stat().st_size)
            for d in (Path(layout), Path(survivors_path))
            for p in d.rglob("*.parquet")
        )

    before = listing()
    # dedup_ingest_batch is the exact foreachBatch body; batch ids 0 and
    # 1 committed above
    dedup_ingest_batch(b1, 0, layout, survivors_path)
    dedup_ingest_batch(b2, 1, layout, survivors_path)
    assert listing() == before


def test_dedup_ingest_gate_is_transitive(spark, tmp_path):
    """r13 (r12 ADVICE): the within-batch gate runs the pair graph
    through connected components. Bridge doc c pairs with BOTH corpus
    doc K and fresh doc b (no direct (K, b) pair): the whole component
    touches the corpus, so b AND c are dropped — the r12 per-pair greedy
    rule kept b. And a purely-batch chain keeps only its min-id."""
    from etl_data_spark.operators.dedup import write_minhash_bands
    from etl_data_spark.streaming.pipeline import dedup_ingest_batch

    A = " ".join(f"alpha{i}" for i in range(12))
    B = " ".join(f"beta{i}" for i in range(12))
    C = " ".join(f"alpha{i}" for i in range(10)) + " " + " ".join(
        f"beta{i}" for i in range(10)
    )  # J(A,C) = J(B,C) = 0.4, J(A,B) = 0
    layout = str(tmp_path / "layout")
    corpus = spark.createDataFrame([(100, A)], "doc_id long, text string")
    write_minhash_bands(corpus, layout, threshold=0.3, target_recall=0.95)

    batch = spark.createDataFrame(
        [(9001, B), (9002, C)], "doc_id long, text string"
    )
    surv = str(tmp_path / "surv")
    dedup_ingest_batch(batch, 0, layout, surv, threshold=0.3)
    import os
    got = (
        {r["doc_id"] for r in spark.read.parquet(surv + "/batch=*").collect()}
        if os.path.exists(surv) else set()
    )
    assert got == set(), f"corpus-touching component must drop b AND c: {got}"

    # purely-batch chain (a, c', b) with no corpus contact: min-id only
    A2 = " ".join(f"gamma{i}" for i in range(12))
    B2 = " ".join(f"delta{i}" for i in range(12))
    C2 = " ".join(f"gamma{i}" for i in range(10)) + " " + " ".join(
        f"delta{i}" for i in range(10)
    )
    batch2 = spark.createDataFrame(
        [(9101, A2), (9102, B2), (9103, C2)], "doc_id long, text string"
    )
    dedup_ingest_batch(batch2, 1, layout, surv, threshold=0.3)
    got2 = {
        r["doc_id"] for r in spark.read.parquet(surv + "/batch=*").collect()
    }
    assert got2 == {9101}, f"batch chain must keep min-id only: {got2}"


def test_stream_semantic_ingest_gates_batches_against_the_layout(
    spark, tmp_path
):
    """r13: the semantic twin of the dedup-gated ingest loop — batch
    vectors duplicating the IVF corpus are dropped, within-batch dup
    groups keep min-id, survivors fold into the cell directories so the
    NEXT microbatch probes against them, and a replayed batch is a
    no-op (the commit-marker gate)."""
    from pathlib import Path

    from etl_data_spark.operators.similarity import write_ivf_partitioned
    from etl_data_spark.streaming.pipeline import (
        semantic_ingest_batch,
        stream_semantic_ingest,
    )

    def vec(direction, eps=0.0):
        v = [0.0] * 8
        v[direction] = 1.0
        v[(direction + 1) % 8] = eps
        return v

    corpus = spark.createDataFrame(
        [(i, vec(i % 4)) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    layout = str(tmp_path / "ivf")
    cents = [(c, vec(c)) for c in range(4)] + [(4, vec(4)), (5, vec(5))]
    write_ivf_partitioned(corpus, layout, centroids=cents)

    # batch 1: 9000 duplicates corpus direction 2; 9001 fresh (dir 4);
    # 9002 < 9003 duplicate each other on fresh direction 5
    b1 = spark.createDataFrame(
        [(9000, vec(2, 0.01)), (9001, vec(4)),
         (9002, vec(5, 0.02)), (9003, vec(5, 0.02))],
        "vec_id long, embedding array<float>",
    )
    # batch 2: 9100 duplicates batch 1's survivor 9002; 9101 fresh
    b2 = spark.createDataFrame(
        [(9100, vec(5, 0.02)), (9101, vec(4, 0.9))],
        "vec_id long, embedding array<float>",
    )
    surv = str(tmp_path / "surv")
    ckpt = str(tmp_path / "ckpt")
    src = tmp_path / "vstream"
    src.mkdir()
    b1.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))

    def start():
        return stream_semantic_ingest(
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*"),
            layout,
            surv,
            threshold=0.9,
            checkpoint=ckpt,
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    got1 = {
        r["vec_id"] for r in spark.read.parquet(surv + "/batch=*").collect()
    }
    assert got1 == {9001, 9002}  # 9000 dup-of-corpus, 9003 loses to 9002

    b2.coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))
    q = start()
    q.processAllAvailable()
    q.stop()
    got2 = {
        r["vec_id"] for r in spark.read.parquet(surv + "/batch=*").collect()
    }
    assert got2 == {9001, 9002, 9101}  # 9100 loses to the FOLDED 9002

    # replay idempotence via the marker gate
    def listing():
        return sorted(
            (str(p), p.stat().st_size)
            for d in (Path(layout), Path(surv))
            for p in d.rglob("*.parquet")
        )

    before = listing()
    semantic_ingest_batch(b1, 0, layout, surv, threshold=0.9)
    semantic_ingest_batch(b2, 1, layout, surv, threshold=0.9)
    assert listing() == before


def test_ingest_maintains_cluster_table_across_batches(spark, tmp_path):
    """r13 (ROTATION carry-over): with clusters_path set, the ingest
    loop folds each batch's pairs into a versioned cluster table —
    equal to from-scratch clustering over the union of all pairs, with
    dropped duplicates' MEMBERSHIP recorded (provenance survives the
    gate), and a replayed batch leaves the table unchanged."""
    from etl_data_spark.operators.dedup import write_minhash_bands
    from etl_data_spark.queries import load_table
    from etl_data_spark.streaming.pipeline import (
        dedup_ingest_batch,
        read_cluster_table,
    )

    sf_docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    base = sf_docs.filter(F.col("doc_id") < 300)
    layout = str(tmp_path / "layout")
    write_minhash_bands(base, layout)
    corpus_text = base.filter(F.col("doc_id") == 7).first()["text"]
    dup_text = "two copies of this text arrive in the same batch " * 3
    b1 = spark.createDataFrame(
        [(9000, corpus_text), (9002, dup_text), (9003, dup_text)],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(9100, dup_text)], "doc_id long, text string"
    )
    surv = str(tmp_path / "surv")
    clusters = str(tmp_path / "clusters")
    dedup_ingest_batch(b1, 0, layout, surv, clusters_path=clusters)
    t1 = {
        (r["doc_id"], r["cluster_id"])
        for r in read_cluster_table(spark, clusters).collect()
    }
    assert (9000, 7) in t1 and (9003, 9002) in t1 and (9002, 9002) in t1

    dedup_ingest_batch(b2, 1, layout, surv, clusters_path=clusters)
    t2 = {
        (r["doc_id"], r["cluster_id"])
        for r in read_cluster_table(spark, clusters).collect()
    }
    # 9100 merges into the LANDED survivor 9002's cluster, history kept
    assert t2 >= t1 and (9100, 9002) in t2

    # replay: marker-gated no-op (pointer and table unchanged)
    dedup_ingest_batch(b1, 0, layout, surv, clusters_path=clusters)
    t3 = {
        (r["doc_id"], r["cluster_id"])
        for r in read_cluster_table(spark, clusters).collect()
    }
    assert t3 == t2


def _cluster_labels(spark, root):
    from etl_data_spark.streaming.pipeline import read_cluster_table

    return {
        (r["doc_id"], r["cluster_id"])
        for r in read_cluster_table(spark, root).collect()
    }


def test_cluster_table_survives_a_torn_pointer(spark, tmp_path):
    """The cluster table's ``_current`` pointer gets the manifest tables'
    fallback: blank, deleted, or naming a version that does not exist,
    the reader resolves the newest complete version, and the next fold
    succeeds and publishes a readable pointer (no UNABLE_TO_INFER_SCHEMA
    wedge on every later micro-batch)."""
    from etl_data_spark.streaming.pipeline import update_cluster_table

    def pairs(*edges):
        return spark.createDataFrame(list(edges), "id_a long, id_b long")

    root = str(tmp_path / "clusters")
    current = tmp_path / "clusters" / "_current"
    update_cluster_table(pairs((1, 2)), root, 0)
    update_cluster_table(pairs((2, 3), (7, 8)), root, 1)
    want = {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    assert _cluster_labels(spark, root) == want

    tear = {
        "blank": lambda: current.write_text(""),
        "deleted": current.unlink,
        "dangling": lambda: current.write_text("v999999"),
    }
    for batch_id, (state, corrupt) in enumerate(tear.items(), start=2):
        corrupt()
        assert _cluster_labels(spark, root) == want, state
        update_cluster_table(pairs((8, 10 * batch_id)), root, batch_id)
        assert current.read_text() == f"v{batch_id:06d}", state
        want |= {(10 * batch_id, 7)}
        assert _cluster_labels(spark, root) == want, state


def test_cluster_table_gc_keeps_two_versions(spark, tmp_path):
    """Four ingested batches with the default keep=2 leave exactly the two
    newest ``vNNNNNN`` directories, ``_current`` names the newest, and a
    marker-gated replay changes neither."""
    from etl_data_spark.operators.dedup import write_minhash_bands
    from etl_data_spark.streaming.pipeline import dedup_ingest_batch

    schema = "doc_id long, text string"
    text = "a base corpus document about parquet layouts " * 3
    layout = str(tmp_path / "layout")
    write_minhash_bands(spark.createDataFrame([(1, text)], schema), layout)
    surv = str(tmp_path / "surv")
    clusters = tmp_path / "clusters"

    def batch(i):  # a copy of the corpus doc: a pair, nothing lands
        return spark.createDataFrame([(100 * i, text)], schema)

    def state():
        versions = sorted(
            p.name for p in clusters.iterdir() if p.name.startswith("v")
        )
        return versions, (clusters / "_current").read_text()

    for i in range(1, 5):
        dedup_ingest_batch(batch(i), i, layout, surv, clusters_path=str(clusters))
    assert state() == (["v000003", "v000004"], "v000004")
    before = _cluster_labels(spark, str(clusters))
    assert (400, 1) in before

    dedup_ingest_batch(batch(2), 2, layout, surv, clusters_path=str(clusters))
    assert state() == (["v000003", "v000004"], "v000004")
    assert _cluster_labels(spark, str(clusters)) == before
