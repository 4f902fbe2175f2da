"""Persistent minhash signature store — the dedup counterpart of
``checkpoint.run_incremental``.

``functions.dedup.incremental_minhash_dedup`` proves the OPERATOR: a
crawl delta dedups against an accumulated band store without re-shingling
the corpus.  This module gives it the production treatment the extract
path already has — a store LAYOUT on disk, a delta invocation that loads
the store / dedups / appends kept bands, and kill/resume idempotence so
a killed delta never duplicates or loses band rows.

Store layout under ``store_path``::

    bands/delta=<snap>/      one parquet dir per committed delta:
                             (id, band_id, band_hash) rows for the
                             delta's KEPT documents only
    verdicts/delta=<snap>/   the delta's per-doc verdicts:
                             (id, dup_of_store, dup_in_delta, keep)

``<snap>`` is a content digest of the delta (``checkpoint.content_digest``:
row count + an order-independent SUM of the joint
``xxhash64(id, md5(text))`` — not XOR, which cancels pairs over a
multiset), so retrying the same delta targets the SAME directories and a
different delta can never collide with a committed one.

Commit protocol (per delta, in this order):

    1. write ``verdicts/delta=<snap>``   (mode=overwrite)
    2. write ``bands/delta=<snap>``      (mode=overwrite)

Verdicts go FIRST because bands are re-derivable from them: minhash is
deterministic, so ``bands = minhash_bands(delta) ⋉ keep-verdicts``.  The
resume matrix a kill -9 can leave behind:

    neither committed   -> full re-run; overwrite cleans any partial files
    verdicts only       -> recompute delta bands, semi-join the COMMITTED
                           verdicts, write bands (verdicts stay the
                           authority — no second dedup pass, so the
                           outcome can't drift even if the store grew)
    both committed      -> no-op (idempotent re-invocation)

"Committed" means the directory's ``_SUCCESS`` marker exists — the store
loader ignores directories without it, so a delta killed mid-write is
invisible to every later delta until its retry overwrites it.  Appends
never touch other deltas' directories, hence no duplicate and no lost
band rows across any kill point (tests/test_dedup_store.py walks the
matrix).

Scale: loading the store is a parquet scan of 3 narrow columns
(~40 bytes x bands rows per kept doc); the delta dedup itself is one
band equi-join vs the store + one within-delta self-join (shingling the
DELTA only — see incremental_minhash_dedup).  At 10^12 stored docs the
band store is ~300 GB — a scan, not a shuffle, and the equi-join keys
prune with a runtime bloom filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .checkpoint import content_digest
from .functions.dedup import incremental_minhash_dedup, minhash_bands


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _committed_delta_dirs(spark: SparkSession, root: str) -> list[str]:
    """Delta directories under ``root`` whose ``_SUCCESS`` marker exists.

    A dir without the marker is a killed write — unreadable garbage until
    its retry overwrites it, so the loader must not union it in.
    """
    fs, p = _fs_and_path(spark, root)
    if not fs.exists(p):
        return []
    mk_path = spark._jvm.org.apache.hadoop.fs.Path
    out = []
    for st in fs.listStatus(p):
        if not st.isDirectory():
            continue
        d = st.getPath()
        if d.getName().startswith("delta=") and fs.exists(mk_path(d, "_SUCCESS")):
            out.append(d.toString())
    return sorted(out)


def load_store_bands(
    spark: SparkSession, store_path: str, exclude_snap: str | None = None
) -> DataFrame | None:
    """Union of all COMMITTED deltas' band rows, or None if the store is
    empty.  ``exclude_snap`` keeps the in-flight delta's own directory
    out of its store view (defensive: the commit order already implies a
    committed bands dir has committed verdicts, making the run a no-op
    before any read — but a hand-damaged store must not self-match)."""
    dirs = [
        d
        for d in _committed_delta_dirs(spark, f"{store_path}/bands")
        if exclude_snap is None or not d.endswith(f"delta={exclude_snap}")
    ]
    if not dirs:
        return None
    return spark.read.parquet(*dirs)


def _params_path(store_path: str) -> str:
    return f"{store_path}/_params.json"


def read_store_params(spark: SparkSession, store_path: str) -> dict | None:
    """The store's pinned parameterization, or None for a fresh store."""
    fs, p = _fs_and_path(spark, _params_path(store_path))
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        import json

        raw = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        return json.loads(raw)
    finally:
        stream.close()


def _pin_store_params(spark: SparkSession, store_path: str, params: dict) -> None:
    """Persist (hash_fn, n, num_hashes, bands) at first use and validate on
    every later invocation (ADVICE r5): the band_hash dtype check below
    catches xxhash64<->md5 mixing but NOT md5<->affine (both STRING) nor a
    changed n/num_hashes/bands — any of which silently dedups nothing
    against prior deltas while still appending bands, corrupting the
    one-representative-per-class contract.  The sidecar makes every
    mismatch loud."""
    existing = read_store_params(spark, store_path)
    if existing is None:
        import json

        # atomic commit: write a temp file, then rename — the module's
        # kill-anywhere contract means a crash between create and close
        # must never leave a half-written _params.json that bricks every
        # later invocation with a JSON parse error.  A same-filesystem
        # rename is atomic on local FS and HDFS; an orphaned tmp file is
        # simply overwritten by the retry.
        fs, tmp = _fs_and_path(spark, _params_path(store_path) + ".tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(json.dumps(params, sort_keys=True).encode()))
        finally:
            out.close()
        _, dst = _fs_and_path(spark, _params_path(store_path))
        fs.rename(tmp, dst)
        # read back what the rename left: HDFS refuses to rename onto an
        # existing file, but the local FS silently overwrites it — either
        # way a concurrent first run with other params may own the file
        # now, and only the re-read tells which one won (ADVICE r6)
        existing = read_store_params(spark, store_path)
        if existing is None:
            raise IOError(
                f"could not commit {_params_path(store_path)} (rename failed)"
            )
    if existing != params:
        raise ValueError(
            f"store at {store_path} is pinned to {existing} but this run "
            f"passed {params} — band hashes are only comparable within one "
            "parameterization; use the store's original parameters or "
            "start a new store"
        )


def delta_snapshot_id(docs: DataFrame, id_col: str, text_col: str):
    """(snap, n_rows): content digest of the delta.  Stable across retries
    of the same input, distinct for different content; the joint-hash SUM
    keys per-row (id, text) pairing (xor would cancel swapped pairs)."""
    n, h = content_digest(docs, F.col(id_col), F.md5(F.col(text_col)))
    return f"delta-{n}-{h & 0xFFFFFFFFFFFFFF:x}", n


def run_delta_dedup(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
) -> dict:
    """Dedup one crawl delta against the store and commit its rows.

    The INPUT is the delta — identity is its content digest, so
    re-invoking with the same input is an idempotent no-op and a killed
    run resumes by re-invoking (see the module docstring's resume
    matrix).  Returns a summary dict; ``resumed`` records which arm ran
    (``"full"``, ``"bands-only"``, ``"noop"``).

    The caller keeps ``id_col`` globally unique across deltas (crawl
    pipelines already have this: doc ids are url+snapshot derived).
    ``hash_fn``/``n``/``num_hashes``/``bands`` must stay constant for the
    lifetime of one store — band hashes are only comparable within one
    parameterization (the affine family stores STRING hashes, xxhash64
    stores BIGINT: mixing them would not even union).
    """
    _pin_store_params(
        spark,
        store_path,
        {"hash_fn": hash_fn, "n": n, "num_hashes": num_hashes, "bands": bands},
    )
    snap, n_delta = delta_snapshot_id(docs, id_col, text_col)
    verdict_dir = f"{store_path}/verdicts/delta={snap}"
    bands_dir = f"{store_path}/bands/delta={snap}"

    def _committed(path: str) -> bool:
        fs, p = _fs_and_path(spark, f"{path}/_SUCCESS")
        return fs.exists(p)

    def _summary(verdicts: DataFrame, resumed: str) -> dict:
        row = verdicts.agg(
            F.sum(F.col("keep").cast("long")).alias("kept"),
            F.sum(F.col("dup_of_store").isNotNull().cast("long")).alias("vs_store"),
            F.sum(F.col("dup_in_delta").isNotNull().cast("long")).alias("in_delta"),
        ).collect()[0]
        return {
            "snapshot": snap,
            "n_delta": n_delta,
            "kept": int(row["kept"] or 0),
            "dup_of_store": int(row["vs_store"] or 0),
            "dup_in_delta": int(row["in_delta"] or 0),
            "resumed": resumed,
        }

    if _committed(verdict_dir) and _committed(bands_dir):
        return _summary(spark.read.parquet(verdict_dir), "noop")

    if _committed(verdict_dir):
        # kill landed between the two writes: bands re-derive from the
        # COMMITTED verdicts (no second dedup — the verdicts are already
        # the authority), deterministically identical to the lost write
        verdicts = spark.read.parquet(verdict_dir)
        delta_bands = minhash_bands(
            docs, id_col, text_col, n, num_hashes, bands, hash_fn
        )
        delta_bands.join(
            verdicts.where("keep").select(id_col), id_col, "left_semi"
        ).write.mode("overwrite").parquet(bands_dir)
        return _summary(verdicts, "bands-only")

    empty_bands = minhash_bands(
        docs.limit(0), id_col, text_col, n, num_hashes, bands, hash_fn
    )
    store = load_store_bands(spark, store_path, exclude_snap=snap)
    if store is None:
        store = empty_bands
    else:
        got = dict(store.dtypes)["band_hash"]
        want = dict(empty_bands.dtypes)["band_hash"]
        if got != want:
            raise ValueError(
                f"store at {store_path} holds {got} band hashes but "
                f"hash_fn={hash_fn!r} produces {want} — band hashes are "
                "only comparable within one parameterization; use the "
                "store's original hash_fn or start a new store"
            )
    verdicts, bands_to_append = incremental_minhash_dedup(
        docs,
        store,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        hash_fn=hash_fn,
    )
    # write order is the crash contract: verdicts, then bands.  The
    # verdicts write materializes the operator's localCheckpoint'd delta
    # bands, so the bands write reuses the shingling instead of
    # recomputing it; the store view between the two writes can't drift
    # (the verdicts write touches verdicts/, the store loader reads
    # bands/ only).
    verdicts = verdicts.localCheckpoint(eager=False)
    verdicts.write.mode("overwrite").parquet(verdict_dir)
    bands_to_append.write.mode("overwrite").parquet(bands_dir)
    return _summary(verdicts, "full")
