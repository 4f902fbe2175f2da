"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k with built-in higher-order functions
(``zip_with`` dot product + ``aggregate`` sum — JVM-side, no UDF).  Scale
paths: integer-quantized random-hyperplane LSH — each vector hashes to a
sign-bit bucket per table; only same-bucket pairs are scored, turning the
O(n²) cross join into per-bucket joins — and a materialized IVF index
(``ivf_materialize`` once, ``ivf_probe`` per query).  Hyperplanes are derived
deterministically from a seed by integer mixing (no RNG state), and bucket
bits are exact integer arithmetic, so retries, resume and the DuckDB oracle
reproduce identical buckets.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringified hints

from pyspark.sql import Column, DataFrame, functions as F


def dot_expr(a: Column, b: Column) -> Column:
    """Sum over zip_with products, accumulated in DOUBLE, left-to-right."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against one query vector — the correctness baseline.

    Single narrow pass + TakeOrderedAndProject (no shuffle of vectors);
    cosine rounded to 4dp with id tie-break so ordering is deterministic
    across engines and partitionings.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    cos = F.round(cosine_expr(F.col(vec_col), q), 4).alias("cosine")
    return (
        df.select(F.col(id_col), cos)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _hyperplane(dim: int, table: int, plane: int, seed: int = 42) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from integer hashing.

    Component c = ((xxhash-style integer mix of (seed,table,plane,c)) scaled
    to [-1,1]).  Pure function — no RNG object, no ordering dependence.
    """
    out = []
    for c in range(dim):
        x = (seed * 0x9E3779B97F4A7C15 + table * 0xBF58476D1CE4E5B9 + plane * 0x94D049BB133111EB + c) & (
            (1 << 64) - 1
        )
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
        x ^= x >> 27
        x = (x * 0x94D049BB133111EB) & ((1 << 64) - 1)
        x ^= x >> 31
        out.append((x / float(1 << 63)) - 1.0)
    return out


def _int_hyperplane(dim: int, table: int, plane: int, seed: int = 42) -> list[int]:
    """Deterministic INTEGER hyperplane components in [-32768, 32767].

    Same mix as ``_hyperplane`` but truncated to 16-bit ints, so bucket
    sign tests are exact integer arithmetic — bit-reproducible by any
    engine (DuckDB included), with no float-summation-order hazard.
    """
    return [int(v * 32768) for v in _hyperplane(dim, table, plane, seed)]


def quantized_lsh_buckets(
    df: DataFrame,
    dim: int,
    n_tables: int = 16,
    n_planes: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """(id, table_id, bucket) via integer-quantized sign tests.

    Vectors quantize to round(x*scale) BIGINTs; hyperplanes are 16-bit
    ints; the sign of their integer dot product decides each bucket bit.
    Products stay < 2^53, so even a float64 engine computes them exactly —
    the bucket assignment is engine-independent, unlike float hyperplanes
    where a near-zero dot's sign depends on summation order.
    """
    # cast to double BEFORE scaling: float32*int stays float32 in Spark and
    # would round differently from an engine computing in double
    # numpy int64 matmul per Arrow batch: same exact integer math, constant
    # plan size (the column-expression form builds tables x planes nested
    # HOF dots that run interpreted — measured 15x slower)
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    planes = np.array(
        [
            _int_hyperplane(dim, t, p, seed)
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.int64,
    ).T  # (dim, T*P)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @pandas_udf(ArrayType(LongType()))
    def buckets(embs: "pd.Series") -> "pd.Series":
        mat = np.stack(embs.to_numpy()).astype(np.float64)
        scaled = mat * scale
        # half-away-from-zero (what Spark round() and DuckDB ROUND do);
        # np.rint would use banker's rounding and diverge on exact .5s
        q = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(np.int64)
        bits = (q @ planes) >= 0  # int64 matmul: exact, engine-reproducible
        bits = bits.reshape(len(mat), n_tables, n_planes)
        packed = (bits * weights).sum(axis=2)
        return pd.Series(list(packed))

    b = df.select(F.col(id_col), buckets(F.col(vec_col)).alias("bks"))
    return b.select(id_col, F.posexplode("bks").alias("table_id", "bucket"))


def quantized_lsh_candidates(
    df: DataFrame,
    dim: int,
    n_tables: int = 4,
    n_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Candidate pairs sharing a quantized-LSH bucket in any table.

    The scale path for embedding near-dup detection: an equi-join on
    (table_id, bucket) replaces the O(n²) cross join, and because bucket
    bits come from exact integer math the candidate set is
    engine-reproducible (hard-oracle-able), unlike float hyperplanes.
    Default 16 planes/table -> 65,536 buckets: expected occupancy n/65536
    keeps the per-bucket pair expansion tiny at corpus scale."""
    b = quantized_lsh_buckets(df, dim, n_tables, n_planes, seed, id_col, vec_col, scale)
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(
            r,
            (F.col("l.table_id") == F.col("r.table_id"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def emb_neardups_lsh(
    df: DataFrame,
    dim: int,
    threshold: float = 0.99,
    n_tables: int = 4,
    n_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Embedding near-duplicate pairs: quantized-LSH candidates -> exact
    cosine verify (>= threshold), 4dp-rounded.

    The embedding-space sibling of ``minhash_lsh_verified``: candidates
    come from bucket equi-joins (never all-pairs), every surviving pair is
    exactly verified, and both stages are bit-reproducible across engines.
    Near-identical vectors agree on every sign bit, so true near-dups share
    all their buckets — recall at high thresholds is structural, not
    probabilistic."""
    cands = quantized_lsh_candidates(
        df, dim, n_tables, n_planes, seed, id_col, vec_col, scale
    )
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    cos = cosine_expr(F.col("_va"), F.col("_vb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .where(cos >= threshold)
        .select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
    )


def ann_topk_lsh_quantized(
    df: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_tables: int = 16,
    n_planes: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Approximate top-k with integer-exact bucket pruning.

    The query's buckets are computed driver-side with the same integer
    math; only vectors sharing a bucket in some table are cosine-scored
    (4dp-rounded, id tie-break).  Because every bucket decision is integer
    arithmetic, the candidate set — and therefore the result — is
    bit-reproducible across engines (hard DuckDB oracle)."""
    import math

    # half-away-from-zero, matching the executor UDF and DuckDB ROUND —
    # Python round() is banker's (half-to-even) and would flip a bucket bit
    # on any query component scaling to an exact .5
    qv = [
        int(math.copysign(math.floor(abs(v * scale) + 0.5), v * scale))
        for v in query_vec
    ]
    wanted = set()
    for t in range(n_tables):
        bucket = 0
        for p in range(n_planes):
            h = _int_hyperplane(dim, t, p, seed)
            if sum(a * b for a, b in zip(qv, h)) >= 0:
                bucket |= 1 << p
        wanted.add((t, bucket))
    b = quantized_lsh_buckets(df, dim, n_tables, n_planes, seed, id_col, vec_col, scale)
    cond = None
    for t, bk in sorted(wanted):
        c = (F.col("table_id") == t) & (F.col("bucket") == bk)
        cond = c if cond is None else (cond | c)
    cand_ids = b.where(cond).select(id_col).distinct()
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    cos = F.round(cosine_expr(F.col(vec_col), q), 4).alias("cosine")
    return (
        df.join(cand_ids, id_col)
        .select(F.col(id_col), cos)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def input_content_digest(path: str) -> str:
    """md5 digest of a parquet file's (or directory's) raw data bytes.

    Keys materialized artifacts (e.g. an IVF index) to the CONTENT of their
    input: two different corpora — or two versions of one corpus — can never
    serve each other's index, and a stale index from an earlier corpus
    version is unreachable because its path no longer matches.  Hidden files
    (`_SUCCESS`, `.crc`) are skipped, and file BASENAMES are excluded from
    the hash (Spark part-file names embed per-write random UUIDs).  Note the
    deliberately narrow guarantee: a byte-identical copy of the files keys
    identically, but a Spark REWRITE of the same rows generally does not —
    parquet encodings/metadata aren't byte-stable across writes — so a
    rewrite costs one redundant index rebuild (a cache miss, never a
    correctness issue, because the key moves WITH the bytes).
    """
    import hashlib
    import os

    h = hashlib.md5()
    if os.path.isdir(path):
        files = []
        for root, _, names in os.walk(path):
            files.extend(
                os.path.join(root, n)
                for n in names
                if not n.startswith(("_", "."))
            )
        files.sort()
    else:
        files = [path]
    for f in files:
        with open(f, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()[:16]


def ivf_materialize(
    df: DataFrame,
    path: str,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build the IVF index ONCE and persist it for many queries.

    Writes ``path/vectors`` partitioned by ``cell`` (so a probe scan
    partition-prunes to its probed cells' directories) and
    ``path/centroids`` (n_cells tiny rows).  At corpus scale this is the
    one MLlib job per index lifetime; every query afterwards is a pruned
    scan + top-k, no KMeans in the query plan.  The coarse quantizer is a
    seeded (deterministic) k-means; the cell assignment is a narrow map."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.select(
        F.col(id_col), F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    model = KMeans(k=n_cells, seed=seed, initMode="k-means||").fit(feat)
    assigned = model.transform(feat).select(
        id_col, vec_col, F.col("prediction").alias("cell")
    )
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path + "/vectors")
    spark = df.sparkSession
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
    # completion marker LAST: readers treat an index without it as absent
    # (a killed build can never serve a half-written index)
    import pathlib

    pathlib.Path(path, "_COMPLETE").write_text("ok")


def ivf_index_ready(path: str) -> bool:
    """True iff ``path`` holds a fully-committed ``ivf_materialize`` output."""
    import os

    return os.path.exists(os.path.join(path, "_COMPLETE"))


def ivf_probe(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k against a materialized IVF index (``ivf_materialize``).

    Centroid ranking happens driver-side on n_cells rows (tiny); the scan
    reads ONLY the n_probe closest cells via partition pruning on ``cell``.
    The returned plan contains no KMeans fit — index build cost is paid
    once, not per query."""
    cents = {
        r["cell"]: r["centroid"]
        for r in spark.read.parquet(path + "/centroids").collect()
    }

    def dist2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    # (dist2, cell) key: deterministic under ties regardless of the dict's
    # collect order — and reproducible by the DuckDB oracle's ORDER BY
    probed = sorted(cents, key=lambda c: (dist2(query_vec, cents[c]), c))[:n_probe]
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    cos = F.round(cosine_expr(F.col(vec_col), q), 4).alias("cosine")
    return (
        spark.read.parquet(path + "/vectors")
        .where(F.col("cell").isin(probed))
        .select(F.col(id_col), cos)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def semantic_dedup(
    vectors: DataFrame,
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """SemDeDup-style semantic deduplication over pre-clustered vectors.

    Input carries a cluster assignment (``cell``, e.g. from
    ``ivf_materialize`` — the same coarse quantizer ANN queries probe).
    A vector is DROPPED iff some SAME-CELL vector with a smaller id has
    cosine similarity (rounded to 4dp, the cross-engine contract used by
    every cosine query here) >= ``tau``; otherwise kept.  "Smaller id
    wins" is the deterministic keep-first relaxation of the paper's
    greedy pass (Abbas et al. 2023, SemDeDup): a dropped vector's witness
    may itself be dropped by an even smaller neighbor, which only ever
    removes MORE of a duplicate clique, never a singleton — and makes the
    verdict a pure function of the input, independent of partitioning.

    Scale shape: candidate pairs come from ONE equi-join on ``cell`` —
    pair count is sum(cell_size^2), bounded by choosing n_cells ~
    corpus_size / target_cell_size at index-build time (the knob the
    paper also turns); cross-cell near-dups are missed by construction,
    the approximation SemDeDup accepts.  The join-back that attaches the
    verdict is an equi-join on the id — no window over the whole corpus,
    no driver-side state.
    """
    a = vectors.select(
        F.col(cell_col).alias("_cell"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
    )
    b = vectors.select(
        F.col(cell_col).alias("_cell_b"),
        F.col(id_col).alias("_id_b"),
        F.col(vec_col).alias("_vec_b"),
    )
    dropped = (
        a.join(b, (F.col("_cell") == F.col("_cell_b")), "inner")
        .where(
            (F.col("_id_b") < F.col("_id"))
            & (F.round(cosine_expr(F.col("_vec"), F.col("_vec_b")), 4) >= tau)
        )
        .select(F.col("_id").alias("_dropped_id"))
        .distinct()
    )
    return (
        vectors.join(
            dropped, F.col(id_col) == F.col("_dropped_id"), "left"
        )
        .select(
            id_col,
            cell_col,
            F.col("_dropped_id").isNull().alias("keep"),
        )
    )
