"""Persistent minhash store: delta commits, accumulation, and the
kill/resume matrix (gonova_document_parser_spark/dedup_store.py).

A real kill -9 mid-delta is exercised by the verify drive; here each
crash window is constructed directly by damaging the store between runs
— the same simulation strategy as tests/test_checkpoint_resume.py.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from gonova_document_parser_spark.dedup_store import (
    load_store_bands,
    run_delta_dedup,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus_rows(ids):
    return [
        (
            i,
            f"corpus document {i} talks about topic{i} extensively "
            f"and then repeats topic{i} words topic{i} more",
        )
        for i in ids
    ]


def _band_fingerprint(spark, store):
    """(row_count, order-independent content digest) of the whole store —
    the no-dup/no-loss witness across crash windows."""
    df = load_store_bands(spark, store)
    if df is None:
        return (0, 0)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(
                F.xxhash64("doc_id", "band_id", "band_hash").cast("decimal(38,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).collect()[0]
    return (row["n"], int(row["h"]))


def test_store_accumulates_across_deltas(spark, tmp_path):
    """Delta 2's copy of a delta-1 doc resolves to the STORE keeper; its
    within-delta twin pair keeps the min id; novel docs keep and append."""
    store = str(tmp_path / "store")
    s1 = run_delta_dedup(spark, _docs(spark, _corpus_rows(range(10))), store)
    assert s1["resumed"] == "full"
    assert s1 == {
        "snapshot": s1["snapshot"],
        "n_delta": 10,
        "kept": 10,
        "dup_of_store": 0,
        "dup_in_delta": 0,
        "resumed": "full",
    }

    delta2 = _docs(
        spark,
        [
            # exact copy of store doc 3
            (100, _corpus_rows([3])[0][1]),
            # twin pair within the delta (novel content)
            (101, "fresh delta fresh content fresh words completely new here"),
            (102, "fresh delta fresh content fresh words completely new here"),
            # novel singleton
            (103, "another unrelated document about sailing ships and tides"),
        ],
    )
    s2 = run_delta_dedup(spark, delta2, store)
    assert s2["resumed"] == "full"
    assert (s2["n_delta"], s2["kept"]) == (4, 2)
    assert (s2["dup_of_store"], s2["dup_in_delta"]) == (1, 1)
    v = {
        r["doc_id"]: r
        for r in spark.read.parquet(
            f"{store}/verdicts/delta={s2['snapshot']}"
        ).collect()
    }
    assert v[100]["dup_of_store"] == 3 and not v[100]["keep"]
    assert v[101]["keep"] and v[102]["dup_in_delta"] == 101
    assert v[103]["keep"]
    # the store now answers for delta-2 content: a replay under new ids
    # is all-duplicate and appends nothing
    replay = delta2.selectExpr("doc_id + 1000 as doc_id", "text")
    fp = _band_fingerprint(spark, store)
    s3 = run_delta_dedup(spark, replay, store)
    assert (s3["resumed"], s3["kept"]) == ("full", 0)
    assert _band_fingerprint(spark, store) == fp


def test_same_delta_reinvocation_is_noop(spark, tmp_path):
    store = str(tmp_path / "store")
    docs = _docs(spark, _corpus_rows(range(8)))
    s1 = run_delta_dedup(spark, docs, store)
    fp = _band_fingerprint(spark, store)
    s2 = run_delta_dedup(spark, docs, store)
    assert s2["resumed"] == "noop"
    assert {k: v for k, v in s2.items() if k != "resumed"} == {
        k: v for k, v in s1.items() if k != "resumed"
    }
    assert _band_fingerprint(spark, store) == fp


def test_resume_verdicts_committed_bands_lost(spark, tmp_path):
    """Kill between the two writes: the retry re-derives bands from the
    COMMITTED verdicts — byte-identical store, no second dedup pass."""
    store = str(tmp_path / "store")
    run_delta_dedup(spark, _docs(spark, _corpus_rows(range(6))), store)
    delta = _docs(
        spark,
        [
            (100, _corpus_rows([2])[0][1]),  # store-dup
            (101, "novel content entirely about mountain weather patterns"),
        ],
    )
    s = run_delta_dedup(spark, delta, store)
    fp = _band_fingerprint(spark, store)
    shutil.rmtree(f"{store}/bands/delta={s['snapshot']}")
    r = run_delta_dedup(spark, delta, store)
    assert r["resumed"] == "bands-only"
    assert {k: v for k, v in r.items() if k != "resumed"} == {
        k: v for k, v in s.items() if k != "resumed"
    }
    assert _band_fingerprint(spark, store) == fp


def test_partial_band_write_is_invisible_and_overwritten(spark, tmp_path):
    """A killed band write (files present, no _SUCCESS) must be ignored
    by the store loader and cleanly overwritten by the retry."""
    store = str(tmp_path / "store")
    docs1 = _docs(spark, _corpus_rows(range(6)))
    s1 = run_delta_dedup(spark, docs1, store)
    fp1 = _band_fingerprint(spark, store)

    delta = _docs(
        spark, [(200, "partial write victim document about river barges")]
    )
    s2 = run_delta_dedup(spark, delta, store)
    snap = s2["snapshot"]
    # simulate the kill: drop BOTH _SUCCESS markers but leave data files —
    # neither dir is committed, so the store view must revert to delta 1
    (tmp_path / "store" / "bands" / f"delta={snap}" / "_SUCCESS").unlink()
    (tmp_path / "store" / "verdicts" / f"delta={snap}" / "_SUCCESS").unlink()
    assert _band_fingerprint(spark, store) == fp1

    r = run_delta_dedup(spark, delta, store)
    assert r["resumed"] == "full"
    assert {k: v for k, v in r.items() if k != "resumed"} == {
        k: v for k, v in s2.items() if k != "resumed"
    }
    # exactly-once: doc 200's bands exist exactly once across the store
    per_doc = (
        load_store_bands(spark, store)
        .groupBy("doc_id", "band_id")
        .count()
        .where("count > 1")
        .count()
    )
    assert per_doc == 0


def test_store_params_are_pinned_per_store(spark, tmp_path):
    """The affine family stores STRING band hashes; xxhash64 stores
    BIGINT — a store written with one cannot silently union the other."""
    store = str(tmp_path / "store")
    run_delta_dedup(
        spark, _docs(spark, _corpus_rows(range(4))), store, hash_fn="affine"
    )
    bands = load_store_bands(spark, store)
    assert dict(bands.dtypes)["band_hash"] == "string"
    with pytest.raises(ValueError, match="parameterization"):
        run_delta_dedup(
            spark,
            _docs(spark, [(50, "different parameterization should not mix")]),
            store,
            hash_fn="xxhash64",
        )


def test_store_params_sidecar_rejects_family_swap(spark, tmp_path):
    """ADVICE r5: the dtype guard catches xxhash64<->md5 but not
    md5<->affine (both STRING) nor changed n/num_hashes/bands.  The
    _params.json sidecar pins the full parameterization at first use and
    every later mismatch must raise instead of silently dedup-ing nothing."""
    import pytest

    from gonova_document_parser_spark.dedup_store import read_store_params

    store = str(tmp_path / "store")
    run_delta_dedup(spark, _docs(spark, _corpus_rows(range(6))), store, hash_fn="md5")
    assert read_store_params(spark, store) == {
        "hash_fn": "md5", "n": 3, "num_hashes": 32, "bands": 8,
    }
    delta = _docs(spark, _corpus_rows(range(100, 104)))
    # md5 -> affine: same band_hash dtype (STRING) — only the sidecar catches it
    with pytest.raises(ValueError, match="pinned"):
        run_delta_dedup(spark, delta, store, hash_fn="affine")
    # changed banding with the same family — also caught
    with pytest.raises(ValueError, match="pinned"):
        run_delta_dedup(spark, delta, store, hash_fn="md5", bands=4)
    # identical parameterization still works
    s = run_delta_dedup(spark, delta, store, hash_fn="md5")
    assert s["resumed"] == "full"


def test_grown_delta_after_bands_only_crash_no_double_dedup(spark, tmp_path):
    """VERDICT r5 #7 (the run_incremental grown-input analog): a delta killed
    between the verdicts and bands writes is RETRIED WITH MORE ROWS (the
    crawl grew before the retry).  The content digest changes, so the
    retry is a fresh full run under a new snapshot; the old delta's
    committed verdicts-only directory must neither feed the store view
    (loaders read bands/ only) nor cause double-dedup — every grown-delta
    row gets exactly one verdict, store-dups still resolve against the
    base corpus, and the final store holds each kept doc's bands once."""
    store = str(tmp_path / "store")
    run_delta_dedup(spark, _docs(spark, _corpus_rows(range(6))), store)
    base_fp = _band_fingerprint(spark, store)
    delta = _docs(
        spark,
        [
            (100, _corpus_rows([2])[0][1]),  # store-dup
            (101, "novel content entirely about mountain weather patterns"),
        ],
    )
    s1 = run_delta_dedup(spark, delta, store)
    # crash window: bands write lost, verdicts committed
    shutil.rmtree(f"{store}/bands/delta={s1['snapshot']}")
    assert _band_fingerprint(spark, store) == base_fp  # store view clean
    # the retry arrives with MORE rows than the crashed attempt
    grown = _docs(
        spark,
        [
            (100, _corpus_rows([2])[0][1]),  # store-dup (as before)
            (101, "novel content entirely about mountain weather patterns"),
            (102, "novel content entirely about mountain weather patterns"),
            (103, "fresh rows about completely different desert geology"),
        ],
    )
    g = run_delta_dedup(spark, grown, store)
    assert g["resumed"] == "full"  # new content digest -> fresh run
    assert g["snapshot"] != s1["snapshot"]
    assert g["n_delta"] == 4
    assert g["dup_of_store"] == 1  # doc 100 vs the base corpus
    assert g["dup_in_delta"] == 1  # 102 vs its smaller twin 101
    assert g["kept"] == 2  # 101 and 103
    # orphan verdicts/delta=<old> exists but is inert
    import os

    assert os.path.exists(f"{store}/verdicts/delta={s1['snapshot']}/_SUCCESS")
    # exactly one band row set per kept doc across the whole store: the
    # committed view is base + grown-delta keepers, nothing doubled
    bands = load_store_bands(spark, store)
    per_doc = bands.groupBy("doc_id").count().collect()
    assert {r["doc_id"] for r in per_doc} == set(range(6)) | {101, 103}
    assert all(r["count"] == 8 for r in per_doc)  # bands=8 rows per doc
    # idempotent re-invocation of the grown delta is a noop
    assert run_delta_dedup(spark, grown, store)["resumed"] == "noop"


def test_params_sidecar_commit_is_atomic(spark, tmp_path):
    """A kill mid-params-write must not brick the store: the sidecar
    commits via temp+rename, so a crash window leaves either no params
    file or a complete one — never truncated JSON.  Simulated by
    planting the orphan tmp file a killed write would leave."""
    store = str(tmp_path / "store")
    import os

    os.makedirs(store, exist_ok=True)
    # the crash artifact: a half-written temp file (never renamed)
    with open(f"{store}/_params.json.tmp", "w") as fh:
        fh.write('{"hash_fn": "md')  # truncated
    from gonova_document_parser_spark.dedup_store import read_store_params

    assert read_store_params(spark, store) is None  # tmp is invisible
    s = run_delta_dedup(spark, _docs(spark, _corpus_rows(range(4))), store)
    assert s["resumed"] == "full"
    assert read_store_params(spark, store) == {
        "hash_fn": "xxhash64", "n": 3, "num_hashes": 32, "bands": 8,
    }


def test_params_commit_rereads_after_rename(spark, tmp_path, monkeypatch):
    """ADVICE r6: a local-FS rename silently overwrites an existing file,
    so two concurrent first runs with different parameterizations could
    both 'commit' _params.json.  The commit re-reads the file after its
    rename: when a rival run's rename landed last, this run raises
    instead of appending bands under params the store no longer holds."""
    import json
    import os

    from gonova_document_parser_spark import dedup_store

    store = str(tmp_path / "store")
    os.makedirs(store)
    ours = {"hash_fn": "xxhash64", "n": 3, "num_hashes": 32, "bands": 8}
    rival = dict(ours, hash_fn="affine")
    real_read = dedup_store.read_store_params
    reads = []

    def racing_read(spark_, path):
        reads.append(path)
        if len(reads) == 1:  # the pre-commit check: the store looks fresh
            return None
        # the rival's rename lands last (written through Hadoop's local FS,
        # which keeps the checksum sidecar in step)
        fs, p = dedup_store._fs_and_path(spark_, f"{store}/_params.json")
        out = fs.create(p, True)
        out.write(bytearray(json.dumps(rival).encode()))
        out.close()
        return real_read(spark_, path)

    monkeypatch.setattr(dedup_store, "read_store_params", racing_read)
    with pytest.raises(ValueError, match="pinned to"):
        dedup_store._pin_store_params(spark, store, ours)
    assert len(reads) == 2

    # without a rival, the re-read finds this run's own params
    monkeypatch.setattr(dedup_store, "read_store_params", real_read)
    fresh = str(tmp_path / "fresh")
    os.makedirs(fresh)
    dedup_store._pin_store_params(spark, fresh, ours)
    assert real_read(spark, fresh) == ours
