"""Training-data pipeline operators: dedup family, text analysis,
similarity search, multimodal plumbing. Cross-engine exactness is
covered by scripts/check_oracles.py + the driver; these tests pin
self-consistency properties and the approximate operators' quality."""

import os

import pytest
from pyspark.sql import functions as F

from debezium_partial_snapshotter_spark.operators import dedup_docs as dd
from debezium_partial_snapshotter_spark.operators import multimodal as mm
from debezium_partial_snapshotter_spark.operators import similarity as sim
from debezium_partial_snapshotter_spark.operators import text as tx

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).cache()


def test_dedup_exact_self_consistent(docs):
    out = dd.dedup_exact(docs).toPandas()
    assert len(out) == docs.count()
    # canonical ids are members of their own group and never dups
    canon = out[~out.is_dup]
    assert (canon.doc_id == canon.canonical_id).all()
    # group sizes add up
    assert out.groupby("canonical_id").size().sum() == len(out)


def test_minhash_lsh_finds_exact_dups(spark, docs):
    """A doc duplicated verbatim must share every band bucket."""
    d0 = docs.where(F.col("doc_id") == docs.agg(F.min("doc_id")).collect()[0][0])
    clone = d0.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    aug = docs.unionByName(clone)
    pairs = dd.minhash_lsh_pairs(aug, k=8, bands=4).toPandas()
    orig = d0.collect()[0]["doc_id"]
    assert ((pairs.doc_a == orig) & (pairs.doc_b == orig + 1_000_000)).any()


def test_jaccard_identical_docs_score_1(spark, docs):
    d0 = docs.limit(1)
    clone = d0.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    pairs = dd.jaccard_pairs(d0.unionByName(clone), threshold=0.99).toPandas()
    assert len(pairs) == 1 and pairs.jaccard.iloc[0] == 1.0


def test_simhash_stability_and_range(docs):
    out = dd.simhash(docs, bits=32).toPandas()
    assert len(out) == docs.count()
    assert (out.simhash >= 0).all() and (out.simhash < 2**32).all()
    # identical text -> identical simhash (determinism)
    out2 = dd.simhash(docs, bits=32).toPandas()
    assert out.sort_values("doc_id").simhash.tolist() == out2.sort_values(
        "doc_id"
    ).simhash.tolist()


def test_text_ops_shapes(docs):
    n = docs.count()
    tc = tx.token_count(docs).toPandas()
    assert len(tc) == n and (tc.n_ws_tokens > 0).all()
    q = tx.quality_score(docs).toPandas()
    assert ((q.quality >= 0) & (q.quality <= 1)).all()
    li = tx.lang_id(docs).toPandas()
    assert set(li.pred_lang) <= {"en", "de", "fr", "es", "unknown"}
    fp = tx.fingerprint(docs).toPandas()
    assert fp.fp_exact.str.len().eq(32).all()


def test_cosine_topk_exact(emb):
    out = sim.cosine_topk(emb, emb.where(F.col("vec_id") < 3), k=4).toPandas()
    assert set(out.query_id) == {0, 1, 2}
    assert out.groupby("query_id").size().eq(4).all()
    assert ((out.cosine <= 1.0001) & (out.cosine >= -1.0001)).all()
    # ranks ordered by descending cosine within each query
    for _, g in out.groupby("query_id"):
        g = g.sort_values("rank")
        assert (g.cosine.diff().dropna() <= 1e-9).all()


def test_ivf_recall_vs_brute_force(emb):
    """The IVF scale path must keep recall@5 >= 0.6 with 4/16 cells
    probed on random (worst-case) vectors — and stay exact on its
    probed cells."""
    queries = emb.where(F.col("vec_id") < 8)
    exact = sim.cosine_topk(emb, queries, k=5).toPandas()
    approx = sim.ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4).toPandas()
    hits = 0
    for qid in range(8):
        e = set(exact[exact.query_id == qid].item_id)
        a = set(approx[approx.query_id == qid].item_id)
        hits += len(e & a)
    recall = hits / (8 * 5)
    assert recall >= 0.6, f"recall@5 = {recall}"


def test_multimodal_plumbing(spark, docs):
    media = mm.documents_as_media(docs)
    meta = mm.fake_decode_meta(media).toPandas()
    assert len(meta) == docs.count()
    assert (meta.n_bytes > 0).all()
    assert ((meta.fake_width >= 1) & (meta.fake_width <= 640)).all()

    frames = mm.frame_sample(media, n_frames=4).toPandas()
    vids = meta[meta.kind == "video"]
    assert len(frames) == 4 * len(vids)
    assert frames.frame_md5.str.len().eq(32).all()
