"""Streaming incremental dedup: the registered query is hash-certified
against a batch-collapse DuckDB oracle (round 4); this test covers the
function-level store lifecycle — the foreachBatch stream must produce
exactly the pairs that sequential batch ticks over the same slices
produce — plus the within-batch pairing the certified query relies on,
and that the store holds the same band rows as ``minhash_pairs``."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from ytspark.operators.dedup import (
    INCR_SPLIT,
    _minhash_bands_cte,
    incremental_minhash_dedup,
    minhash_pairs,
    persist_minhash_store,
)
from ytspark.session import load_tables


def _normalized(df):
    return set(
        map(
            tuple,
            df.select(
                F.least("new_doc_id", "existing_doc_id"),
                F.greatest("new_doc_id", "existing_doc_id"),
                F.round("est_jaccard", 9),
            ).collect(),
        )
    )


@pytest.fixture()
def fresh_dirs():
    root = tempfile.mkdtemp(prefix="ytspark_sid_test_")
    yield (
        os.path.join(root, "store_a"),
        os.path.join(root, "store_b"),
        os.path.join(root, "stage"),
    )
    shutil.rmtree(root, ignore_errors=True)


def test_stream_ticks_equal_sequential_batch_ticks(spark, sf_dir, fresh_dirs):
    store_stream, store_batch, stage = fresh_dirs
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    corpus = docs.where(F.col("doc_id") < INCR_SPLIT)
    batch = docs.where(F.col("doc_id") >= INCR_SPLIT)

    # stage three explicit slice files (one micro-batch each)
    batch.repartitionByRange(3, "doc_id").write.parquet(stage)
    schema = spark.read.parquet(stage).schema

    # --- streaming side: foreachBatch ticks with append ---
    persist_minhash_store(corpus, store_stream)
    stream_pairs: set = set()
    tick_doc_sets: list[list[int]] = []

    def tick(batch_df, batch_id):
        pairs = incremental_minhash_dedup(
            spark, batch_df, store_stream, threshold=0.2, append=True
        )
        stream_pairs.update(_normalized(pairs))
        tick_doc_sets.append(
            [r.doc_id for r in batch_df.select("doc_id").collect()]
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(tick)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(tick_doc_sets) == 3  # one tick per staged file

    # --- batch side: replay the SAME slices in the same order ---
    persist_minhash_store(corpus, store_batch)
    batch_pairs: set = set()
    for ids in tick_doc_sets:
        slice_df = docs.where(F.col("doc_id").isin(ids))
        pairs = incremental_minhash_dedup(
            spark, slice_df, store_batch, threshold=0.2, append=True
        )
        batch_pairs.update(_normalized(pairs))

    assert stream_pairs == batch_pairs
    assert stream_pairs  # non-trivial: the corpus contains near-dups


def test_within_batch_pairing_catches_same_tick_dups(spark, tmp_path):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 8
    corpus = spark.createDataFrame(
        [(1, "totally unrelated corpus text " * 10)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "wb_store")
    persist_minhash_store(corpus, path)
    batch = spark.createDataFrame(
        [(10, base + "tail one"), (11, base + "tail two"),
         (12, "novel body of words nothing alike " * 7)],
        "doc_id bigint, text string",
    )
    without = {
        (r.new_doc_id, r.existing_doc_id)
        for r in incremental_minhash_dedup(
            spark, batch, path, threshold=0.2, append=False
        ).collect()
    }
    with_wb = {
        (r.new_doc_id, r.existing_doc_id)
        for r in incremental_minhash_dedup(
            spark, batch, path, threshold=0.2, append=False, within_batch=True
        ).collect()
    }
    assert (11, 10) not in without  # store join alone misses same-tick
    assert (11, 10) in with_wb      # within-batch self-join catches it
    assert all(12 not in p for p in with_wb)  # novel doc matches nothing


def test_sink_fn_mode_matches_default_mode(spark, sf_dir, fresh_dirs):
    """r12: ``sink_fn`` replaces the checkpoint-then-rewrite with a
    single sink-write materialization and overlaps the two store
    appends — the pairs it sinks AND the post-append store contents
    must be identical to the default mode's."""
    store_a, store_b, stage = fresh_dirs
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    corpus = docs.where(F.col("doc_id") < INCR_SPLIT)
    batch = docs.where(F.col("doc_id") >= INCR_SPLIT)
    persist_minhash_store(corpus, store_a)
    persist_minhash_store(corpus, store_b)
    default_pairs = _normalized(
        incremental_minhash_dedup(
            spark, batch, store_a, threshold=0.2, append=True, within_batch=True
        )
    )
    sink = stage + "_sink"
    ret = incremental_minhash_dedup(
        spark, batch, store_b, threshold=0.2, append=True, within_batch=True,
        sink_fn=lambda pairs: pairs.write.mode("append").parquet(sink),
    )
    assert ret is None  # caller owns the sink in this mode
    sink_pairs = _normalized(spark.read.parquet(sink))
    assert sink_pairs == default_pairs and sink_pairs

    def store_rows(store, sub, cols):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in spark.read.parquet(store + "/" + sub)
            .select(*cols)
            .collect()
        )

    for sub, cols in (
        ("sigs", ["doc_id", "sig"]),
        ("bands", ["doc_id", "band_id", "band_hash"]),
    ):
        assert store_rows(store_a, sub, cols) == store_rows(
            store_b, sub, cols
        )


def test_store_bands_are_the_pair_join_bands(spark, sf_dir, tmp_path):
    """The persisted store holds exactly the (doc_id, band_id,
    band_hash) rows ``minhash_pairs`` joins on — the rows the DuckDB
    replay of dedup_minhash_lsh computes — so a store-mediated tick and
    a batch recompute block on the same LSH buckets."""
    import duckdb

    docs = load_tables(spark, sf_dir, "documents")["documents"].where(
        F.col("doc_id") < 120
    )
    path = str(tmp_path / "store")
    persist_minhash_store(docs, path)
    stored_df = spark.read.parquet(path + "/bands")
    stored = sorted(
        map(tuple, stored_df.select("doc_id", "band_id", "band_hash").collect())
    )

    con = duckdb.connect()
    con.register("documents", docs.select("doc_id", "text").toPandas())
    replay = sorted(
        con.execute(
            f"WITH {_minhash_bands_cte()} "
            "SELECT doc_id, band_id, band_hash FROM bands"
        ).fetchall()
    )
    assert stored == replay and stored

    # the store's band collisions are the candidate set minhash_pairs
    # scores (threshold 0: every banded candidate survives)
    a, b = stored_df.alias("a"), stored_df.alias("b")
    collided = {
        tuple(r)
        for r in a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .collect()
    }
    pairs = {
        tuple(r)
        for r in minhash_pairs(docs, threshold=0.0)
        .select("doc_a", "doc_b")
        .collect()
    }
    assert collided == pairs and pairs


def test_registered_query_is_deterministic(spark, sf_dir):
    from ytspark.streaming.queries import streaming_incremental_dedup

    a = sorted(map(tuple, streaming_incremental_dedup(spark, sf_dir).collect()))
    b = sorted(map(tuple, streaming_incremental_dedup(spark, sf_dir).collect()))
    assert a == b and a
