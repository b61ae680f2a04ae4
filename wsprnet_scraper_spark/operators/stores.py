"""Corpus-fingerprint-keyed standing-state store.

Every standing relation the engine builds once per corpus version and
scans on every later run lives here: the graph family's derived edge
relations, MinHash signature stores, standing-corpus cluster labels
and trained ANN codebooks. At 100 TB this IS the deployment shape — a
real pipeline pays each derivation once per corpus version and
amortizes it across every query and ingest batch (10.3 s of
strm_minhash_dedup's 18.7 s at the 100x probe was a per-run
signature-store rebuild; the full edge derivation was 37.9 s). This
module is the only one that reads the store root or writes into it.

Write-once parquet, not persist/localCheckpoint, deliberately:
CacheManager matches persisted relations by canonicalized plan, which
silently serves SUBTREES of other queries (exactly what the cache-free
probe discipline clears before every timed run), and an in-heap
checkpoint of a 100x-probe edge relation (117M rows) pins gigabytes
of block-manager memory for the whole session — measured OOM against
the 8g driver. Columnar-on-disk costs one write and gives every reader
a pruned, parallel, page-cache-warm scan while the heap stays free.

Two tiers, both fingerprint-keyed and _SUCCESS-gated:

- default: per-application scratch root (process-private tempdir),
  deleted at process exit (safe under concurrent applications — no
  shared paths). A maintenance pass (`clear_store_cache()`) drops only
  the in-memory HANDLES — the standing parquet survives, so a daemon's
  periodic reclaim costs a parquet re-open, not a standing-state
  rebuild (the probe's cold-minus-warm split measures exactly the
  rebuild this avoids).
- SPARK_GRAFT_SIG_STORE=<dir> (opt-in): relations persist ACROSS
  sessions under <dir>/<kind>_<corpus-fingerprint>/ — a fresh session
  reuses the standing parquet instead of re-paying the derivation.
  The fingerprint (file stats of the named source tables) keys out
  stale data; builds land in a private temp dir and are renamed into
  place, so concurrent sessions never see or clobber a partial write.

The store is a CACHE, never a semantic change: a stored relation must
be bit-identical to `build()`'s output (parquet round-trips the exact
column values), so gate results are unchanged whichever tier serves.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

ENV_VAR = "SPARK_GRAFT_SIG_STORE"

# app -> {(kind, sf_key): (df, path, persistent)}
_STORE_CACHE: dict = {}


def corpus_fingerprint(sf_dir: str, tables=("documents",)) -> str:
    """Content fingerprint of the named source tables under sf_dir:
    sha1 over (name, size, mtime_ns) of every file — cheap (stat
    only), stable across sessions, and any rewrite of the source
    parquet changes it (the staleness key)."""
    from pathlib import Path

    h = hashlib.sha1(sf_dir.rstrip("/").encode())
    for tbl in tables:
        p = Path(sf_dir) / f"{tbl}.parquet"
        files = [
            f
            for f in (sorted(p.rglob("*")) if p.is_dir() else [p])
            if f.is_file()
        ]
        if not files:
            # A missing source table must FAIL, not fingerprint to a
            # constant: a constant fingerprint would let the first
            # build win the persistent path forever and serve stale
            # standing state on every corpus rewrite — the exact
            # staleness the fingerprint exists to key out (r11
            # review finding).
            raise FileNotFoundError(
                f"corpus_fingerprint: no files for table {tbl!r} "
                f"under {sf_dir!r}"
            )
        for f in files:
            st = f.stat()
            h.update(f"{f.name}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:16]


# app -> scratch-tier root dir (fingerprint-keyed like the
# persistent tier, but process-private; deleted at process exit)
_SCRATCH_ROOTS: dict = {}


def _forget_handles() -> None:
    """Drop every handle AND the registry plan cache (ADVICE r6):
    cached plans hold DataFrames that scan store files, so deleting
    files without dropping those plans would leave the plan cache
    serving FileNotFoundException time bombs."""
    from ..plans.registry import clear_plan_cache

    _STORE_CACHE.clear()
    clear_plan_cache()


def clear_store_cache(drop_files: bool = False) -> None:
    """Drop all in-memory handles. Scratch-tier PARQUET survives by
    default: the daemon's session_maintenance calls this to reclaim
    JVM leases — plan trees, cached relations — and the standing
    parquet on local disk pins no JVM memory at all, so deleting it
    would convert every post-maintenance store access into a full
    standing-state REBUILD where a parquet re-open suffices (e.g.
    18.8 s of dedup_minhash_cluster_incremental's 28.0 s cold at
    100×). `drop_files=True` deletes the scratch dirs too (tests /
    explicit disk reclamation) and the cached plans that scan them;
    process exit always cleans up via atexit."""
    _STORE_CACHE.clear()
    if drop_files:
        for root in _SCRATCH_ROOTS.values():
            shutil.rmtree(root, ignore_errors=True)
        _SCRATCH_ROOTS.clear()
        _forget_handles()


def drop_persistent(prefix: str = "") -> None:
    """Delete the persistent-tier entries whose name starts with
    `prefix` (all of them by default) — the "new corpus version" state
    a cold measurement starts from — and drop every handle and cached
    plan that could still scan them."""
    store = os.environ.get(ENV_VAR)
    if store and os.path.isdir(store):
        for name in os.listdir(store):
            if name.startswith(prefix):
                shutil.rmtree(os.path.join(store, name), ignore_errors=True)
    _forget_handles()


def _land(store_root: str, kind: str, path: str, write) -> None:
    """Run `write(tmp)` into a unique temp subdir of `store_root` and
    atomically rename it into `path` (ADVICE r11: check-then-write was
    a TOCTOU — two sessions sharing the persistent store could
    interleave overwrite-deletes with writes on the same path). A
    rename collision means another writer finished the same
    fingerprint first; their relation is bit-identical by
    construction, so ours is discarded. `write` may land several
    relations in subdirs of tmp; the top-level _SUCCESS marks the
    whole entry complete."""
    os.makedirs(store_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".{kind}_wip_", dir=store_root)
    try:
        write(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "a").close()
    except BaseException:
        # ADVICE r12: a failed build must not leak its wip dir into a
        # shared persistent store (atexit only covers scratch roots).
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, path)
    except OSError:
        if os.path.isfile(os.path.join(path, "_SUCCESS")):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            # stale partial write from a crashed session holds the
            # path: replace it. Two sessions can race THIS branch
            # too (r12 review finding: an unguarded second rename
            # crashed the loser instead of converging), so the
            # second rename is guarded the same way — if it fails
            # because the other racer's complete relation landed,
            # serve theirs; anything else is a genuinely broken
            # store and propagates.
            shutil.rmtree(path, ignore_errors=True)
            try:
                os.rename(tmp, path)
            except OSError:
                if not os.path.isfile(os.path.join(path, "_SUCCESS")):
                    shutil.rmtree(tmp, ignore_errors=True)
                    raise
                shutil.rmtree(tmp, ignore_errors=True)


def _scratch_root(app: str) -> str:
    root = _SCRATCH_ROOTS.get(app)
    if root is None or not os.path.isdir(root):
        import atexit

        root = tempfile.mkdtemp(prefix=f"wspr_store_{app}_")
        _SCRATCH_ROOTS[app] = root
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _serve(spark, sf_dir: str, kind: str, build, tables):
    """(df, parquet_path) of the standing relation; the one place
    that knows the handle-cache key."""
    app = spark.sparkContext.applicationId
    bucket = _STORE_CACHE.get(app)
    if bucket is None:
        _STORE_CACHE.clear()  # handles of stopped applications
        bucket = _STORE_CACHE.setdefault(app, {})
    key = (kind, sf_dir.rstrip("/"))
    ent = bucket.get(key)
    if ent is None:
        store = os.environ.get(ENV_VAR)
        persistent = bool(store)
        root = store if store else _scratch_root(app)
        try:
            fp = corpus_fingerprint(sf_dir, tables)
        except FileNotFoundError:
            # ADVICE r12: a build() whose source never touches the
            # named table on disk (synthesized corpus) has nothing to
            # fingerprint. In the persistent tier that must still
            # fail — a constant key would serve stale state across
            # corpus rewrites — but the scratch tier is
            # process-private, so fall back to an unkeyed one-shot
            # build.
            if persistent:
                raise
            fp = None
        if fp is None:
            path = tempfile.mkdtemp(prefix=f"{kind}_oneshot_", dir=root)
            build().write.mode("overwrite").parquet(path)
        else:
            path = os.path.join(root, f"{kind}_{fp}")
            if not os.path.isfile(os.path.join(path, "_SUCCESS")):
                _land(
                    root, kind, path,
                    lambda tmp: build().write.mode("overwrite").parquet(tmp),
                )
        ent = (spark.read.parquet(path), path, persistent)
        bucket[key] = ent
    return ent[0], ent[1]


def materialized(spark, sf_dir: str, kind: str, build, tables=("documents",)):
    """Serve the standing relation `kind` for the corpus at sf_dir:
    from the per-application handle if already open, else from the
    persistent store (ENV_VAR) or the scratch tier, building with
    `build()` (a zero-arg callable returning a DataFrame) only when
    no standing parquet exists. `kind` must encode every parameter
    the relation depends on (shingle n, hash count, batch predicate,
    codebook k/iters, ...) and carry a family prefix ("edges_",
    "gccinc_", ...) — two configurations must never share a path.
    `tables` names the source tables the fingerprint covers.

    A maintenance clear drops only the handles, so the next access
    re-opens the standing parquet instead of re-paying the build
    (tests/test_advice_r12.py pins build() called once across a
    maintenance cycle)."""
    return _serve(spark, sf_dir, kind, build, tables)[0]


def materialized_entry(
    spark, sf_dir: str, kind: str, build, tables=("documents",)
):
    """`materialized`, but returns (df, parquet_path). The path lets a
    caller that keeps the standing relation OUT of its own sink (r14:
    the stream twins used to copy the corpus seed into the sink every
    invocation) still size partitions from the standing volume
    (_sized_stream_parts reads file sizes, not DataFrames)."""
    return _serve(spark, sf_dir, kind, build, tables)


def codebook_path(cache_key, params: tuple):
    """Persistent-tier codebook location: when ENV_VAR is set and the
    cache key names a real corpus path, trained codebooks round-trip
    through <store>/cbk_<keyhash>_<corpus-fingerprint>/ so a FRESH
    SESSION serves from the standing index instead of retraining.
    Returns None (store disabled / non-path key / corpus without an
    embeddings table) otherwise. The fingerprint is over the
    embeddings parquet, so a rewritten corpus keys out stale
    codebooks; `params` must encode k/iters/etc."""
    store = os.environ.get(ENV_VAR)
    if store is None or cache_key is None:
        return None
    base = str(cache_key).split("#", 1)[0]
    corpus_dir = base if os.path.isdir(base) else base.rsplit(":", 1)[0]
    if not os.path.isdir(corpus_dir):
        return None
    try:
        fp = corpus_fingerprint(corpus_dir, ("embeddings",))
    except FileNotFoundError:
        # ADVICE r11: a resolvable dir without an embeddings table
        # (custom fixtures train on in-memory frames) must mean "no
        # persistent tier", not a crash — the trainer falls back to
        # in-run training exactly as it does with the env var unset.
        return None
    h = hashlib.sha1(
        "|".join([str(cache_key)] + [str(p) for p in params]).encode()
    ).hexdigest()[:12]
    return os.path.join(store, f"cbk_{h}_{fp}")


def codebook(spark, cache_key, params: tuple, train, parts=None):
    """Serve trained codebook relation(s) from the persistent tier, or
    call `train()` and land its output there. `train()` returns one
    DataFrame, or — with `parts` naming subdirs — one per part, all
    landed in ONE temp dir and renamed together so a reader never sees
    half an index. Store-served relations are localCheckpoint-ed like
    the trainers' outputs; without a codebook_path this is `train()`.
    The parquet round-trips the exact (cid, cv, cn2) values, so
    serving is bit-identical either way (tests/test_sig_store.py)."""
    names = parts or ("",)
    path = codebook_path(cache_key, params)
    if path is not None and os.path.isfile(os.path.join(path, "_SUCCESS")):
        dfs = tuple(
            spark.read.parquet(os.path.join(path, p)).localCheckpoint(eager=True)
            for p in names
        )
        return dfs if parts else dfs[0]
    out = train()
    if path is not None:
        dfs = out if parts else (out,)

        def write(tmp):
            for p, df in zip(names, dfs):
                df.write.mode("overwrite").parquet(os.path.join(tmp, p))

        _land(os.path.dirname(path), "cbk", path, write)
    return out
