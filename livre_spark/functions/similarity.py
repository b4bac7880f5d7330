"""Similarity search over embedding columns (``array<float>``).

- cosine top-k: every operator is candidates (the whole frame, an LSH
  bucket, IVF cells, a partition-pruned IVF index scan), then one
  scorer per query shape (the Arrow kernel for one query, the
  sequential SQL fold for many - both bit-reproducible against the
  DuckDB oracle), then one ranking step (:func:`_rank`).
- embedding near-duplicate pairs: all pairs above a cosine threshold.

At 100 TB the brute-force path is a broadcast of the query vector and a
single scan (no shuffle); the LSH path shuffles once on the bucket key.
"""

from __future__ import annotations

import math
import random
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StructField,
                               StructType)
from pyspark.sql.window import Window

from ..operators.skew import ensure_scan_parallelism


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product (JVM, codegen-friendly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        a, F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return _nan_div(dot(a, b), norm(a) * norm(b))


def _nan_div(num: Column, den: Column) -> Column:
    """``num / den``, but NaN (the Arrow scorers' 0/0) where ``den`` is 0,
    instead of ANSI's DIVIDE_BY_ZERO; a null ``num`` stays null (a length
    mismatch), and other rows divide as ``/`` does."""
    return F.when(den == 0, num * F.lit(float("nan"))).otherwise(num / den)


# NB on the folds above: zip_with/aggregate are CodegenFallback
# (interpreted, ~20 us per dim-64 evaluation).  Do NOT "fix" this by
# unrolling into a getItem/multiply/add expression chain: a single
# dim-64 chain compiles to a >8 KB-bytecode method that HotSpot's JIT
# refuses to compile (DontCompileHugeMethods), and join/scan codegen
# contexts cannot split one expression across methods - measured 3-500x
# SLOWER than the fold at round 7.  Bulk pair scoring belongs in the
# vectorized numpy kernel (see cosine_near_dup_pairs_lsh).


def _query_literal(query_vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in query_vec])


def _seq_fold(a, b):
    """``(dot, |a|^2, |b|^2)`` over the last axis of two broadcastable
    float64 arrays (``(n, d)`` row pairs, or ``(n, 1, d)`` rows against
    ``(1, p, d)`` planes): one IEEE multiply and one IEEE add per element
    in array order, the operation sequence of the SQL ``aggregate`` fold
    and DuckDB's ``list_dot_product``, so results are bit-identical."""
    dot = na = nb = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for k in range(a.shape[-1]):
        x, y = a[..., k], b[..., k]
        dot = dot + x * y
        na = na + x * x
        nb = nb + y * y
    return dot, na, nb


def _seq_cosine(a, b):
    """Row-wise raw cosine of :func:`_seq_fold`; 0/0 stays NaN."""
    dot, na, nb = _seq_fold(a, b)
    with np.errstate(divide="ignore", invalid="ignore"):
        return dot / (np.sqrt(na) * np.sqrt(nb))


def _as_matrix(col, d: int):
    """An Arrow ``list<number>`` column as an ``(n, d)`` float64 matrix
    plus its row validity mask.  A row is invalid - and zero-filled - if
    it is null, its length is not ``d`` or it holds a null element (the
    rows the SQL fold nulls out).  Widening to f64 is exact, like
    ``cast("double")``."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    ok = pc.fill_null(pc.list_value_length(col), -1) \
        .to_numpy(zero_copy_only=False) == d
    flat = pc.list_flatten(col)
    rows = pc.list_parent_indices(col).to_numpy()
    ok[rows[flat.is_null().to_numpy(zero_copy_only=False)]] = False
    vals = flat.to_numpy(zero_copy_only=False).astype(np.float64)
    m = np.zeros((len(col), d))
    m[ok] = vals[ok[rows]].reshape(int(ok.sum()), d)
    return m, ok


def cosine_rows_arrow(df: DataFrame, a_col: str, b_col: str | None = None,
                      out_col: str = "cos_raw",
                      const_b: list[float] | None = None) -> DataFrame:
    """Append ``out_col`` = the RAW (unrounded) cosine of ``a_col``
    against either a second array column (``b_col``) or a constant
    query vector (``const_b``), in one Arrow-vectorized pass (guide
    §4.2).

    Bit-identical to ``cosine(F.col(a_col), <b>)``: :func:`_seq_fold`
    replays the fold's IEEE operation order, ``np.sqrt``/division are
    the same correctly-rounded IEEE ops, and 0/0 stays NaN (mapInArrow
    carries NaN across the boundary as a VALUE, not a null).  Rows the
    SQL fold nulls out - null arrays, length mismatch (zip_with's null
    padding), null elements - become Arrow nulls; valid rows of
    different lengths are scored in one vectorized call per distinct
    length.  Rounding is deliberately left to the JVM: callers apply
    ``F.round(out_col, 6)`` so ordering/rounding semantics are
    untouched.  Zero-norm rows yield NaN, as the fold does.

    All columns of ``df`` pass through; project before calling so the
    vectors cross the Python boundary exactly once.
    """
    out_schema = StructType(df.schema.fields
                            + [StructField(out_col, DoubleType())])
    ia = df.columns.index(a_col)
    ib = df.columns.index(b_col) if const_b is None else None
    qb = None if const_b is None else np.asarray(const_b, dtype=np.float64)
    names = df.columns + [out_col]

    def fn(batches):
        for batch in batches:
            col_a = batch.column(ia)
            if qb is None:
                col_b = batch.column(ib)
                lens = np.unique(pc.list_value_length(col_a).drop_null()
                                 .to_numpy(zero_copy_only=False)).tolist()
            else:
                lens = [len(qb)]
            res = np.zeros(batch.num_rows)
            valid = np.zeros(batch.num_rows, dtype=bool)
            for d in lens:
                ma, ok = _as_matrix(col_a, d)
                if qb is None:
                    mb, ok_b = _as_matrix(col_b, d)
                    ok &= ok_b
                else:
                    mb = np.broadcast_to(qb, ma.shape)
                res[ok] = _seq_cosine(ma, mb)[ok]
                valid |= ok
            out = pa.array(res, type=pa.float64(), mask=~valid)
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [out], names=names)

    return df.mapInArrow(fn, out_schema)


def _rank(scored: DataFrame, k: int, id_col: str,
          qid_col: str | None = None) -> DataFrame:
    """Rank ``cos_sim`` descending, ties by ``id_col`` ascending.

    Without ``qid_col``: ``orderBy().limit()``, planned as
    TakeOrderedAndProject (no shuffle).  With it: a ``row_number``
    window per query, ranks ``<= k``, ``rank`` as a long.
    """
    if qid_col is None:
        return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)
    w = Window.partitionBy(qid_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(qid_col, id_col, "cos_sim",
                    F.col("rank").cast("long").alias("rank")))


def topk_cosine(embeddings: DataFrame, query_vec: list[float] | str,
                k: int = 10, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine similarity to one query vector - the
    scorer and ranker of every single-query operator, which differ only
    in the candidate frame they pass in.

    ``query_vec`` is either a literal vector (a kernel constant, not
    shipped per row) or the name of a vector column already on the
    frame (e.g. a broadcast-cross-joined query row).

    Plan shape: candidates -> Arrow scoring map -> TakeOrderedAndProject;
    no shuffle.  Rounding stays in the JVM so values match the fold
    bit-for-bit.

    A zero-norm row scores NaN (0/0) and ranks FIRST: Spark orders NaN
    above every number.  The DuckDB twin differs there - DuckDB 1.0
    returns NULL for a double 0/0 and sorts it last - so zero-norm
    rows are outside the oracle contract (no testdata row has one).
    """
    if isinstance(query_vec, str):
        scored = cosine_rows_arrow(
            embeddings.select(F.col(id_col), vec_col, query_vec),
            vec_col, query_vec)
    else:
        scored = cosine_rows_arrow(
            embeddings.select(F.col(id_col), vec_col),
            vec_col, const_b=query_vec)
    return _rank(scored.select(F.col(id_col),
                               F.round(F.col("cos_raw"), 6).alias("cos_sim")),
                 k, id_col)


def _topk_many(pairs: DataFrame, k: int, id_col: str, vec_col: str,
               qid_col: str, qvec_col: str) -> DataFrame:
    """Score (vector, query) pairs with the SQL fold and rank per query.

    NB: scoring this fold through cosine_rows_arrow measured WORSE
    (0.73 -> 1.13 s at 20k x 3): the pair frame would ship BOTH vectors
    per (row, query) pair across the Python boundary, where the JVM fold
    scores the narrow join output in place.  Kept as the interpreted
    fold on purpose.
    """
    return _rank(pairs.select(
        F.col(qid_col), F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col(qvec_col)), 6).alias("cos_sim")),
        k, id_col, qid_col)


def topk_cosine_many(embeddings: DataFrame, queries: DataFrame,
                     k: int = 10, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     qid_col: str = "qid",
                     qvec_col: str = "qv") -> DataFrame:
    """Exact batch top-k: top-k per query vector, many queries in ONE
    scan.

    Plan shape: scan -> broadcast nested-loop join against the (small)
    query set - an O(n*Q) scoring map, not a shuffle - then one window
    shuffle of the NARROW (qid, id, cos) projection for the per-query
    top-k.  The window moves n*Q 24-byte rows, so this path stops
    scaling with Q; against a materialized index,
    :func:`topk_cosine_many_ivf` scores each vector only against the
    queries probing its cell (approximate, recall set by ``n_probe``).

    Scoring is the interpreted SQL fold; a zero-norm vector or query
    scores NaN, as in the single-query operators.
    """
    return _topk_many(embeddings.crossJoin(F.broadcast(queries)),
                      k, id_col, vec_col, qid_col, qvec_col)


def topk_cosine_many_ivf(spark, path: str, queries: DataFrame,
                         centroids: list[list[float]], k: int = 10,
                         n_probe: int = 2, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         qid_col: str = "qid",
                         qvec_col: str = "qv") -> DataFrame:
    """Batch IVF search: many queries against a materialized index
    (:func:`ivf_build_index`) in ONE partition-pruned scan.

    Probed cells are computed driver-side per query (centroids are
    tiny), giving a (qid, qv, cell) probe map exploded over each
    query's ``n_probe`` cells.  The scan filters ``cell IN <union of
    all probed cells>`` (a partition filter - unprobed cells' files are
    never read), broadcast-joins the probe map ON cell so each vector
    is scored only against the queries probing its cell (work is
    sum-of-bucket-sizes, not n*Q), then one narrow window shuffle ranks
    per query.  With ``n_probe == len(centroids)`` results equal the
    exact path.  Output schema matches :func:`topk_cosine_many`.
    """
    qrows = queries.select(qid_col, qvec_col).collect()
    probe_rows = []
    for row in qrows:
        for cell in _probe_cells(row[qvec_col], centroids, n_probe):
            probe_rows.append((row[qid_col], cell))
    # qid keeps the CALLER's type; qv rides along from the queries df
    # (broadcast x broadcast - both tiny) so its element type is
    # untouched and scoring matches the exact path bit-for-bit
    cells_df = spark.createDataFrame(probe_rows, StructType([
        StructField(qid_col, queries.schema[qid_col].dataType),
        StructField("cell", IntegerType())]))
    probe_df = cells_df.join(queries.select(qid_col, qvec_col), qid_col)
    all_cells = sorted({cell for _, cell in probe_rows})
    pairs = (spark.read.parquet(path)
             .filter(F.col("cell").isin(all_cells))
             .join(F.broadcast(probe_df), "cell"))
    return _topk_many(pairs, k, id_col, vec_col, qid_col, qvec_col)


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _sign_keys_arrow(df: DataFrame, vec_col: str,
                     plane_groups: list[list[list[float]]],
                     names: list[str]) -> DataFrame:
    """Append one long sign-LSH key per plane group in one Arrow pass:
    bit ``j`` of ``names[g]`` is set where ``vec_col`` . ``plane_groups
    [g][j] >= 0``.  Bit-identical to ``F.when(dot(vec, plane) >= 0,
    2**j)``: the same :func:`_seq_fold`; a NaN dot sets the bit (Spark
    orders NaN above every number); rows :func:`_as_matrix` marks invalid
    (the fold's null dot) get key 0.  No state across batches."""
    planes = np.asarray([p for g in plane_groups for p in g], dtype=float)
    bounds = np.cumsum([0] + [len(g) for g in plane_groups])
    iv, out_names = df.columns.index(vec_col), df.columns + names

    def fn(batches):
        for batch in batches:
            m, ok = _as_matrix(batch.column(iv), planes.shape[1])
            dots = _seq_fold(m[:, None, :], planes[None, :, :])[0]
            bits = ((dots >= 0) | np.isnan(dots)) & ok[:, None]
            yield pa.RecordBatch.from_arrays(list(batch.columns) + [
                pa.array(bits[:, lo:hi] @ (1 << np.arange(hi - lo)))
                for lo, hi in zip(bounds[:-1], bounds[1:])], names=out_names)

    return df.mapInArrow(fn, StructType(
        df.schema.fields + [StructField(n, LongType()) for n in names]))


def topk_cosine_lsh(embeddings: DataFrame, query_vec: list[float],
                    k: int = 10, n_planes: int = 8, seed: int = 42,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ANN: only vectors in the query's LSH bucket are scored.

    Recall is probabilistic (more planes = smaller buckets); candidates
    are pruned by a signature equality on the Arrow sign-key pass, so
    at scale this reads everything once but *scores* only the bucket.
    A production variant bucketizes the table once and bucket-joins.
    """
    planes = hyperplanes(len(query_vec), n_planes, seed)
    q_sig = sum(2 ** j for j, plane in enumerate(planes)
                if sum(a * b for a, b in zip(query_vec, plane)) >= 0)
    cands = (_sign_keys_arrow(embeddings.select(id_col, vec_col), vec_col,
                              [planes], ["_sig"])
             .filter(F.col("_sig") == q_sig))
    return topk_cosine(cands, query_vec, k, id_col, vec_col)


def ivf_centroids(embeddings: DataFrame, n_cells: int = 8,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  iters: int = 2) -> list[list[float]]:
    """Deterministic mini k-means for the IVF coarse quantizer.

    Seeds from the ``n_cells`` lowest-id vectors, then runs a couple of
    Lloyd iterations with all heavy lifting in Spark aggregations (the
    driver only holds the centroids).  At 100 TB you run this on a
    sampled slice; the index build is a one-time batch job.
    """
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.stat import Summarizer

    seed_rows = (embeddings.orderBy(id_col).limit(n_cells).collect())
    centroids = [np.asarray(list(r[vec_col]), dtype=np.float64)
                 for r in seed_rows]
    for _ in range(iters):
        assigned = embeddings.select(
            ivf_cell(F.col(vec_col), [c.tolist() for c in centroids])
            .alias("cell"), vec_col)
        # one vector-sum expression per group (Summarizer), not dim
        # separate F.sum columns - the dim-1024 path stays one aggregate
        sums = (assigned.groupBy("cell")
                .agg(F.count("*").alias("n"),
                     Summarizer.sum(
                         array_to_vector(F.col(vec_col))).alias("s"))
                .collect())
        for row in sums:
            centroids[row["cell"]] = np.asarray(
                row["s"].toArray(), dtype=np.float64) / row["n"]
    return [c.tolist() for c in centroids]


def ivf_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """Index of the nearest centroid (squared L2), pure JVM expressions."""
    best_idx = F.lit(0)
    best_dist = _sq_dist(vec, centroids[0])
    for i, c in enumerate(centroids[1:], start=1):
        d = _sq_dist(vec, c)
        cond = d < best_dist
        best_idx = F.when(cond, F.lit(i)).otherwise(best_idx)
        best_dist = F.when(cond, d).otherwise(best_dist)
    return best_idx


def _sq_dist(vec: Column, centroid: list[float]) -> Column:
    return F.aggregate(
        F.zip_with(vec, _query_literal(centroid),
                   lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0), lambda acc, v: acc + v)


def _probe_cells(query_vec: list[float], centroids: list[list[float]],
                 n_probe: int) -> list[int]:
    """The ``n_probe`` centroids nearest to ``query_vec`` by squared L2.

    A plain sequential f64 fold (not numpy's pairwise summation), so it
    is bit-identical to the Spark/DuckDB sequential list folds used
    everywhere else - required for the oracle.
    """
    dists = []
    for c in centroids:
        d = 0.0
        for x, y in zip(query_vec, c):
            d += (float(x) - float(y)) * (float(x) - float(y))
        dists.append(d)
    return sorted(range(len(centroids)), key=lambda i: dists[i])[:n_probe]


def topk_cosine_ivf(embeddings: DataFrame, query_vec: list[float],
                    centroids: list[list[float]], k: int = 10,
                    n_probe: int = 2, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """IVF search: score only vectors in the query's ``n_probe`` nearest
    cells.  The scale path bucketizes the table once (write ``cell`` as a
    partition column) so a query reads only its probed cells.
    """
    probed = _probe_cells(query_vec, centroids, n_probe)
    cands = (embeddings
             .withColumn("_cell", ivf_cell(F.col(vec_col), centroids))
             .filter(F.col("_cell").isin(probed)))
    return topk_cosine(cands, query_vec, k, id_col, vec_col)


def ivf_build_index(embeddings: DataFrame, centroids: list[list[float]],
                    path: str, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Materialize the IVF index: the table written once, PARTITIONED BY
    the coarse cell.  This is the 100 TB search path: a query then reads
    only its probed cells' files (partition pruning at the source), not
    the whole table - the one-time build cost buys every query a
    1/n_cells * n_probe scan.
    """
    (embeddings
     .withColumn("cell", ivf_cell(F.col(vec_col), centroids))
     .write.mode("overwrite").partitionBy("cell").parquet(path))


def topk_cosine_ivf_indexed(spark, path: str, query_vec: list[float],
                            centroids: list[list[float]], k: int = 10,
                            n_probe: int = 2, id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Search a materialized IVF index: ``cell IN probed`` is a partition
    filter, so the scan touches only the probed cells' files.  Results
    are identical to :func:`topk_cosine_ivf` over the same centroids."""
    probed = _probe_cells(query_vec, centroids, n_probe)
    cands = spark.read.parquet(path).filter(F.col("cell").isin(probed))
    return topk_cosine(cands, query_vec, k, id_col, vec_col)


def embed_text(text: Column, dim: int = 16, k: int = 2) -> Column:
    """Hashing-trick TF embedding: word k-shingles -> md5 bucket ->
    integer term-frequency counts (``array<int>`` of length ``dim``).

    Pure Column expressions - one ``aggregate`` fold with a dim-wide
    accumulator, the same shape as the simhash vote fold.  Counts stay
    integers so downstream cosine is a sequential f64 fold over exact
    values - bit-stable against the DuckDB twin.  This is the bridge
    from the text pipeline into the similarity family (crawl -> text ->
    vector -> ANN) without an external embedding model.
    """
    from .dedup import _mh, shingles

    hashed = F.transform(shingles(text, k),
                         lambda s: F.pmod(_mh(s, 0), F.lit(dim)))
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    return F.aggregate(
        hashed, F.array_repeat(F.lit(0), dim),
        lambda acc, b: F.zip_with(
            acc, idx,
            lambda a, j: a + F.when(b == j.cast("long"), 1).otherwise(0)))


def embed_text_table(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", dim: int = 256,
                     k: int = 2) -> DataFrame:
    """Hashing-trick TF embedding as a TABLE op - the large-dim path.

    ``embed_text`` above is a pure Column fold whose accumulator rebuild
    costs O(shingles x dim) work AND allocation per row (measured on the
    sf0.1 documents table, 5k docs at local[32]: fold 2.5s vs table
    0.48s at dim 16; fold 7.3s vs table 0.39s at dim 256 - the fold
    scales with dim, the table path doesn't).  This variant is
    O(shingles + dim) per doc: explode the shingle stream, hash to a
    bucket, count by (doc, bucket) - Spark's partial aggregation
    collapses each doc's shingles map-side, so the one shuffle moves at
    most ``min(shingles, dim)`` (doc, bucket, tf) rows per doc, never
    the raw shingle stream - then assemble the dense ``array<int>``
    from a map lookup per index.

    Returns (id_col, ``embedding`` array<int>); docs with no shingles
    (empty/short text) keep an all-zero vector, matching ``embed_text``.
    Routing: this table op whenever the embedding is materialized as a
    table (it composes with the ANN family, which takes a table of
    vectors) - at ANY dim; keep the ``embed_text`` Column fold only for
    embedding a handful of rows inline (e.g. the single query row)
    where a shuffle stage isn't worth scheduling.
    """
    from .dedup import _mh, shingles

    base = ensure_scan_parallelism(
        df.select(F.col(id_col), F.col(text_col)), id_col)
    tf = (base.select(F.col(id_col),
                      F.explode(shingles(F.col(text_col), k)).alias("_sh"))
          .select(id_col, F.pmod(_mh(F.col("_sh"), 0), F.lit(dim))
                  .alias("_b")))
    if dim <= 64:
        # ONE hash aggregate of dim conditional sums (whole-stage
        # codegen), assembling the dense array directly - drops the
        # second groupBy + map assembly + interpreted per-index
        # transform of the map path below (same integer counts: a sum
        # of equality indicators IS the bucket count).  Bounded at 64
        # aggregates so the codegen stays compact; larger dims keep the
        # sparse (doc, bucket) path whose shuffle width is capped at
        # min(shingles, dim) rows per doc.
        emb = (tf.groupBy(id_col)
               .agg(*[F.sum((F.col("_b") == j).cast("int"))
                      .alias(f"_c{j}") for j in range(dim)])
               .select(id_col,
                       F.array(*[F.col(f"_c{j}").cast("int")
                                 for j in range(dim)]).alias("embedding")))
    else:
        grouped = tf.groupBy(id_col, "_b").agg(F.count("*").alias("_tf"))
        idx = F.sequence(F.lit(0), F.lit(dim - 1))
        dense = F.transform(
            idx, lambda j: F.coalesce(F.element_at(F.col("_m"),
                                                   j.cast("long")),
                                      F.lit(0)).cast("int"))
        emb = (grouped.groupBy(id_col)
               .agg(F.map_from_entries(
                   F.collect_list(F.struct(F.col("_b"),
                                           F.col("_tf").cast("int"))))
                   .alias("_m"))
               .select(id_col, dense.alias("embedding")))
    # empty-text docs vanish in the explode; restore them with zeros
    return (df.select(id_col).join(emb, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("embedding"),
                               F.array_repeat(F.lit(0).cast("int"), dim))
                    .alias("embedding")))


# block count per near-dup bucket: each bucket's ids are split into this
# many deterministic blocks, one task per block pair
_ND_BLOCKS = 4
# candidate pairs rescored per vectorized call in the near-dup scorer
_RESCORE_SLICE = 1 << 15


def cosine_near_dup_pairs_lsh(embeddings: DataFrame, dim: int,
                              threshold: float = 0.95, bands: int = 4,
                              planes_per_band: int = 2, seed: int = 42,
                              max_bucket_factor: float | None = None,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> DataFrame:
    """Embedding near-dup pairs via banded sign-LSH - the scale path.

    OR-amplified signatures (as in MinHash LSH): ``bands`` independent
    groups of ``planes_per_band`` hyperplanes; a pair becomes a candidate
    if it agrees on ALL planes of ANY band, then candidates get the exact
    cosine.  Recall for a pair at angle theta is
    ``1 - (1 - p^planes_per_band)^bands`` with ``p = 1 - theta/pi``
    (~0.89 at cos 0.45 with 4x2) - tune bands up / planes down for more
    recall, the reverse for smaller buckets.

    Sizing at scale: a band has only ``2^planes_per_band`` buckets, so
    uniform data puts ``n / 2^planes_per_band`` ids in EVERY bucket and
    the self-join is O(n^2 / 2^planes_per_band) - the cure for uniform
    mass is ``planes_per_band ~ log2(n) - log2(target_bucket)`` (e.g.
    ~20 planes for 10^9 rows and ~1000-id buckets), NOT a cap.  The cap
    below bounds the *skew* a plane count cannot fix (degenerate/
    all-zero embedding clusters piling into one bucket).

    ``max_bucket_factor``: drop buckets holding more than
    ``factor * n / 2^planes_per_band`` ids (factor x the uniform share)
    before scoring.  Scale-free skew guard: on uniform data it drops
    nothing at ANY n, while a degenerate cluster exceeding factor x its
    fair share is excluded.  The per-band total (= n) is a window over
    the bucket counts, so the cap is one :func:`dedup._drop_hot` step -
    recall statement and broadcast bound there.

    Plan shape (guide sections 2.3/2.4/4.2): one Arrow sign-key pass,
    one explode (x bands) of (id, vec, band, key), then each bucket is
    scored by a VECTORIZED kernel (grouped ``applyInArrow`` + numpy GEMM)
    instead of a relational self-join.  A self-join shape shuffles the
    FULL O(sum bucket^2) candidate set through a ``distinct`` and pays
    an interpreted ~20 us array fold per pair - measured 316 s at sf1.0
    (2*10^8 candidates).  Here each vector crosses the Python boundary
    once per bucket membership (n * bands rows, NOT n^2), pair scoring
    runs at GEMM speed, and only final pairs reach a shuffle (the
    closing cross-band ``distinct``).

    Bit-parity with the SQL fold (the oracle contract) is kept by a
    two-phase score: the GEMM result plus a rigorous floating-point
    error bound selects candidate pairs (a provable SUPERSET of
    ``round(cos, 6) >= threshold``), then the candidates are re-scored
    with the exact sequential f64 fold (:func:`_seq_fold`) and Spark's
    exact HALF_UP 6-decimal rounding (``Decimal(repr(x))`` mirrors
    ``BigDecimal.valueOf``).  NaN pairs (zero-norm vectors) follow
    Spark/DuckDB NaN-is-greatest comparison semantics; the Arrow
    boundary carries the NaN as a value.

    Parallelism is by construction: each bucket's ids are split into
    ``_ND_BLOCKS`` deterministic blocks and every block PAIR is an
    independent task, so one hot bucket spreads over ``_ND_BLOCKS *
    (_ND_BLOCKS + 1) / 2`` tasks instead of one.  Never a cross join;
    the all-pairs variant below is the small-scale twin.
    """
    from .dedup import _band_explode, _drop_hot

    planes = hyperplanes(dim, bands * planes_per_band, seed)
    # parallelize BEFORE the signature pass: on a starved single-task
    # scan the whole front of the query runs on one core (guide 2.5)
    src = ensure_scan_parallelism(
        embeddings.select(F.col(id_col).alias("id"),
                          F.col(vec_col).alias("v")))
    keys = [f"_k{b}" for b in range(bands)]
    buckets = _band_explode(_sign_keys_arrow(src, "v", [
        planes[b * planes_per_band:(b + 1) * planes_per_band]
        for b in range(bands)], keys), [F.col(c) for c in keys], carry=("v",))
    if max_bucket_factor is not None:
        # the cap needs a counting pass over buckets before the scoring
        # pass; a lazy localCheckpoint materializes the (id, vec, band,
        # key) frame once so the signature pass is not recomputed
        # by the second consumer (same durability trade as the dedup
        # pairs functions)
        buckets = buckets.localCheckpoint(eager=False)
        # each id appears exactly once per band, so the band total IS n
        band_total = F.sum("n_ids").over(Window.partitionBy("band"))
        buckets = _drop_hot(
            buckets, ["band", "key"],
            F.col("n_ids")
            > band_total * max_bucket_factor / (2 ** planes_per_band))
    # deterministic block per id (placement only - never in results),
    # every row replicated to each block pair it participates in
    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(_ND_BLOCKS))
    entries = []
    for j in range(_ND_BLOCKS):
        entries.append(F.struct(
            F.least(blk, F.lit(j)).alias("lo"),
            F.greatest(blk, F.lit(j)).alias("hi"),
            F.when(blk < j, F.lit("a")).when(blk > j, F.lit("b"))
            .otherwise(F.lit("x")).alias("side")))
    work = (buckets
            .select("id", "v", "band", "key",
                    F.explode(F.array(*entries)).alias("e"))
            .select("id", "v", "band", "key",
                    F.col("e.lo").alias("lo"), F.col("e.hi").alias("hi"),
                    F.col("e.side").alias("side")))
    id_type = embeddings.schema[id_col].dataType.simpleString()
    return (work.groupBy("band", "key", "lo", "hi")
            .applyInArrow(_block_pair_scorer(threshold, dim),
                          schema=f"id_a {id_type}, id_b {id_type},"
                                 f" cos_sim double")
            .distinct())


def _round6(x: float) -> float:
    """Spark's ``round(x, 6)``: HALF_UP on ``BigDecimal.valueOf(x)``,
    whose digits ``repr`` reproduces; NaN and infinities pass through."""
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


def _block_pair_scorer(threshold: float, dim: int):
    """Arrow kernel scoring one (band, key, block-lo, block-hi)
    group: GEMM + error-bounded candidate mask, exact sequential-fold
    rescore of candidates (see cosine_near_dup_pairs_lsh).

    Precondition (as the hyperplane signatures already assume): vectors
    are length-``dim`` with non-null elements.  Null, wrong-length or
    null-element vectors are excluded from pairing here, mirroring the
    SQL fold where any null element nulls the dot and the pair is
    filtered out.
    """

    def score(key, table):
        v, ok = _as_matrix(table.column("v"), dim)
        ids = table.column("id").combine_chunks()
        triangular = key[2].as_py() == key[3].as_py()
        if triangular:
            ia = ib = np.flatnonzero(ok)
        else:
            side = table.column("side").to_numpy()
            ia = np.flatnonzero(ok & (side == "a"))
            ib = np.flatnonzero(ok & (side == "b"))
        va, vb = v[ia], v[ib]
        na = np.sqrt(_seq_fold(va, va)[1])
        nb = na if triangular else np.sqrt(_seq_fold(vb, vb)[1])
        dot_m = va @ vb.T
        abs_m = np.abs(va) @ np.abs(vb).T
        denom = na[:, None] * nb[None, :]
        # |GEMM - sequential fold| <= 2*gamma_dim*sum|a_i b_i| with
        # gamma_dim ~ dim*eps ~ 1.4e-14 at dim 64; the 1e-12 factor is
        # ~70x that bound, and the 2e-6 slack covers the half-up
        # rounding boundary (round(x,6) >= t implies x >= t - 5.1e-7)
        err = 1e-12 * abs_m * m_dim_factor(dim)
        cand = (dot_m + err) >= (threshold - 2e-6) * denom
        if triangular:
            cand = np.triu(cand, k=1)
        i, j = np.nonzero(cand)
        # rescore in slices: a dense bucket (a degenerate cluster with
        # the cap off) has O(bucket^2) candidates, each gathering 2 rows
        raw = np.empty(len(i))
        for s in range(0, len(i), _RESCORE_SLICE):
            sl = slice(s, s + _RESCORE_SLICE)
            raw[sl] = _seq_cosine(va[i[sl]], vb[j[sl]])
        cos = np.array([_round6(c) for c in raw.tolist()], dtype=np.float64)
        keep = np.isnan(cos) | (cos >= threshold)  # NaN >= t in Spark/DuckDB
        id_a, id_b = ids.take(ia[i[keep]]), ids.take(ib[j[keep]])
        swap = pc.greater(id_a, id_b)
        return pa.table({"id_a": pc.if_else(swap, id_b, id_a),
                         "id_b": pc.if_else(swap, id_a, id_b),
                         "cos_sim": pa.array(cos[keep], type=pa.float64())})

    return score


def m_dim_factor(dim: int) -> float:
    """Error-bound scale for the GEMM candidate mask: grows linearly
    with dimension so the 1e-12 base factor stays ~70x above the real
    gamma bound at any dim."""
    return max(1.0, dim / 64.0)


def cosine_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """All embedding pairs with cosine >= threshold.

    O(n^2) cross-join - correct baseline for oracle checking; use
    ``cosine_near_dup_pairs_lsh`` at scale (join on signature first).
    """
    # norms are precomputed per side so each of the O(n^2) pairs pays one
    # dot product, not three array folds
    a = embeddings.select(F.col(id_col).alias("id_a"),
                          F.col(vec_col).alias("va"),
                          norm(F.col(vec_col)).alias("na"))
    b = embeddings.select(F.col(id_col).alias("id_b"),
                          F.col(vec_col).alias("vb"),
                          norm(F.col(vec_col)).alias("nb"))
    return (a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("cos_sim", F.round(_nan_div(
                dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")), 6))
            .filter(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", "cos_sim"))
