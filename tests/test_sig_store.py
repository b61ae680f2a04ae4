"""Standing-state store (r10 verdict tasks #1 and #6).

The store is a CACHE, never a semantic change: everything here pins
that a store-served run is bit-identical to the in-run recompute —
the property that lets the gate stay exact while the probe/bench
amortize the standing-corpus build the way a production deployment
does.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from wsprnet_scraper_spark.operators import dedup, similarity, stores


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_store_builds_once_and_roundtrips(spark, tmp_path, monkeypatch):
    monkeypatch.setenv(stores.ENV_VAR, str(tmp_path / "store"))
    stores.clear_store_cache()
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("v")
        )

    a = stores.materialized(spark, SF_SMOKE, "t_round", build)
    b = stores.materialized(spark, SF_SMOKE, "t_round", build)
    assert len(calls) == 1 and b is a  # in-app handle reuse
    # a FRESH handle (new session state simulated by clearing the
    # in-memory cache) must serve from the standing parquet, not
    # rebuild — the cross-session amortization the env var buys
    stores._STORE_CACHE.clear()
    c = stores.materialized(spark, SF_SMOKE, "t_round", build)
    assert len(calls) == 1
    assert _rows(c) == _rows(a)
    stores.clear_store_cache()


def test_scratch_tier_builds_per_process_and_cleans_up(
    spark, monkeypatch
):
    monkeypatch.delenv(stores.ENV_VAR, raising=False)
    stores.clear_store_cache()
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).select(F.col("id").alias("k"))

    a = stores.materialized(spark, SF_SMOKE, "t_scratch", build)
    assert _rows(a) == [(0,), (1,), (2,)]
    stores.materialized(spark, SF_SMOKE, "t_scratch", build)
    assert len(calls) == 1
    app = spark.sparkContext.applicationId
    (_df, path, persistent) = stores._STORE_CACHE[app][
        ("t_scratch", SF_SMOKE.rstrip("/"))
    ]
    assert not persistent and os.path.isdir(path)
    # r12 (VERDICT r11 task #5): a maintenance pass drops only the
    # handles — the standing scratch parquet survives, and the next
    # access re-opens it instead of re-paying the build
    stores.clear_store_cache()
    assert os.path.isdir(path)
    b = stores.materialized(spark, SF_SMOKE, "t_scratch", build)
    assert len(calls) == 1  # daemon re-pay is a parquet open, not a rebuild
    assert _rows(b) == _rows(a)
    # explicit disk reclamation still available
    stores.clear_store_cache(drop_files=True)
    assert not os.path.isdir(path)


def test_fingerprint_keys_out_rewritten_corpus(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2]}), str(p))
    fp1 = stores.corpus_fingerprint(str(tmp_path))
    os.utime(p, ns=(1, 1))  # content rewrite at the same path
    fp2 = stores.corpus_fingerprint(str(tmp_path))
    assert fp1 != fp2


def test_minhash_incremental_store_parity(spark, monkeypatch):
    # The judged entry's contract: standing_store is a cache — the
    # store-routed run must be bit-identical to the in-run recompute.
    monkeypatch.delenv(stores.ENV_VAR, raising=False)
    stores.clear_store_cache()
    d = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
    )
    pred = lambda c: c % 10 == 0  # noqa: E731
    plain = dedup.minhash_cluster_incremental(d, pred, "doc_id", "text", n=3)
    routed = dedup.minhash_cluster_incremental(
        d, pred, "doc_id", "text", n=3,
        standing_store=lambda sub, build: stores.materialized(
            spark, SF_SMOKE, f"t_mhparity_{sub}", build
        ),
    )
    assert _rows(routed) == _rows(plain)
    stores.clear_store_cache()


def test_codebook_store_serves_fresh_session(spark, tmp_path, monkeypatch):
    # train -> persist -> drop the in-memory tier (a fresh session's
    # state) -> the trainer must serve the SAME codebooks from the
    # standing parquet without retraining (verified structurally: the
    # store dirs exist and a poisoned trainer is never reached).
    monkeypatch.setenv(stores.ENV_VAR, str(tmp_path / "store"))
    stores.clear_store_cache()
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    ckey = f"{SF_SMOKE}:t_cbk"
    coarse1, fine1 = similarity.train_twolevel_df(
        emb, k_coarse=2, k_fine=2, iters=1, cache_key=ckey
    )
    c1, f1 = _rows(coarse1), _rows(fine1)
    spath = stores.codebook_path(ckey, ("twolevel_df", 2, 2, 1, 4))
    # both relations landed together under one complete entry
    assert os.path.isfile(os.path.join(spath, "_SUCCESS"))
    assert os.path.isfile(os.path.join(spath, "coarse", "_SUCCESS"))
    assert os.path.isfile(os.path.join(spath, "fine", "_SUCCESS"))
    assert [p for p in os.listdir(os.path.dirname(spath)) if "wip" in p] == []
    similarity.clear_codebooks()
    # poison the underlying trainer: a store hit must not retrain
    monkeypatch.setattr(
        similarity, "train_kmeans_df",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("retrained")),
    )
    coarse2, fine2 = similarity.train_twolevel_df(
        emb, k_coarse=2, k_fine=2, iters=1, cache_key=ckey
    )
    assert _rows(coarse2) == c1 and _rows(fine2) == f1
    stores.clear_store_cache()


def test_codebook_store_replaces_stale_partial_entry(
    spark, tmp_path, monkeypatch
):
    # A crashed session's partial codebook entry (no _SUCCESS) must be
    # replaced through the same temp-dir-and-rename landing as every
    # other store entry, never written over in place.
    monkeypatch.setenv(stores.ENV_VAR, str(tmp_path / "store"))
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    ckey = f"{SF_SMOKE}:t_cbk_stale"
    spath = stores.codebook_path(ckey, ("kmeans_df", 2, 1))
    os.makedirs(spath)
    with open(os.path.join(spath, "junk"), "w") as f:
        f.write("partial")
    similarity.clear_codebooks()
    cents = _rows(similarity.train_kmeans_df(emb, 2, 1, cache_key=ckey))
    assert os.path.isfile(os.path.join(spath, "_SUCCESS"))
    assert not os.path.exists(os.path.join(spath, "junk"))
    assert [p for p in os.listdir(os.path.dirname(spath)) if "wip" in p] == []
    similarity.clear_codebooks()
    served = stores.codebook(
        spark, ckey, ("kmeans_df", 2, 1),
        lambda: (_ for _ in ()).throw(AssertionError("retrained")),
    )
    assert _rows(served) == cents
    similarity.clear_codebooks()


def test_fingerprint_raises_on_missing_table(tmp_path):
    # r11 review finding: a missing source table must FAIL, not
    # fingerprint to a constant that would serve stale standing
    # state forever.
    import pytest

    with pytest.raises(FileNotFoundError):
        stores.corpus_fingerprint(str(tmp_path), tables=("nope",))
