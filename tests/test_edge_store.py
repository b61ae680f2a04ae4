"""Graph edge relations in the standing-state store (operators/stores.py).

With SPARK_GRAFT_SIG_STORE set, an edge relation is keyed by the
orders/lineitem fingerprint and survives handle drops — a fresh
session reopens the standing parquet instead of re-paying the
derivation join (37.9 s at the 100x probe). The default scratch tier
survives a daemon maintenance pass (re-open, not rebuild) and is
deleted only by a file-dropping clear.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMOKE
from wsprnet_scraper_spark.operators import stores
from wsprnet_scraper_spark.plans import graph_q


@pytest.fixture(autouse=True)
def _isolate_store(monkeypatch):
    monkeypatch.delenv(stores.ENV_VAR, raising=False)
    stores.clear_store_cache(drop_files=True)
    yield
    stores.clear_store_cache(drop_files=True)


def _raise_build():
    raise AssertionError("edge relation was rebuilt instead of reused")


def test_store_backed_edges_survive_clear_and_skip_rebuild(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setenv(stores.ENV_VAR, str(tmp_path))
    n1 = graph_q._directed_edges(spark, SF_SMOKE).count()
    stored = [d for d in tmp_path.iterdir() if d.is_dir()]
    assert len(stored) == 1 and (stored[0] / "_SUCCESS").is_file()
    assert stored[0].name.startswith("edges_full_directed_")

    # clear drops the handles but keeps the store files
    stores.clear_store_cache()
    assert (stored[0] / "_SUCCESS").is_file()

    # a fresh handle must REUSE the standing parquet, never rebuild
    df = graph_q._edge_store(spark, SF_SMOKE, "full_directed", _raise_build)
    assert df.count() == n1


def test_default_scratch_is_deleted_on_clear(spark):
    graph_q._directed_edges(spark, SF_SMOKE).count()
    _df, path = stores.materialized_entry(
        spark, SF_SMOKE, "edges_full_directed", _raise_build,
        tables=("orders", "lineitem"),
    )
    assert os.path.isdir(path)
    # a handle-only clear keeps the scratch parquet; a file-dropping
    # clear deletes it
    stores.clear_store_cache()
    assert os.path.isdir(path)
    stores.clear_store_cache(drop_files=True)
    assert not os.path.isdir(path)


def test_maintenance_reopens_edges_without_rebuild(spark):
    from wsprnet_scraper_spark.streaming.daemon import session_maintenance

    n = graph_q._sliced_edges(spark, SF_SMOKE).count()
    session_maintenance(spark)
    again = graph_q._edge_store(
        spark, SF_SMOKE, "sliced_directed", _raise_build
    )
    assert again.count() == n


def test_fingerprint_tracks_corpus_changes(tmp_path):
    import shutil
    from pathlib import Path

    tables = ("orders", "lineitem")
    src = Path(SF_SMOKE)
    for t in tables:
        p = src / f"{t}.parquet"
        if p.is_dir():
            shutil.copytree(p, tmp_path / p.name)
        else:
            shutil.copy2(p, tmp_path / p.name)
    fp = stores.corpus_fingerprint(str(tmp_path), tables)
    assert fp != stores.corpus_fingerprint(SF_SMOKE, tables)  # path-salted
    # touching either table's data file must change the fingerprint
    # (staleness key)
    for t in tables:
        f = tmp_path / f"{t}.parquet"
        if f.is_dir():
            f = next(f.rglob("*.parquet"))
        st = f.stat()
        os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        touched = stores.corpus_fingerprint(str(tmp_path), tables)
        assert touched != fp
        fp = touched
    # a corpus missing one of the tables has no key at all (a constant
    # key would serve stale edges forever)
    shutil.rmtree(tmp_path / "lineitem.parquet", ignore_errors=True)
    (tmp_path / "lineitem.parquet").unlink(missing_ok=True)
    with pytest.raises(FileNotFoundError):
        stores.corpus_fingerprint(str(tmp_path), tables)
