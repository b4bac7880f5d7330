"""Deduplication operators for web-scale training data.

Four families, each a composition of built-in DataFrame ops; the one
Python step is SimHash's vote kernel, a numpy ``mapInArrow`` pass:

- exact:       hash-groupBy on md5(text)
- MinHash+LSH: word shingles -> K portable min-hashes -> banded buckets
               -> self-join on (band, band-hash) -> candidate pairs
- SimHash:     60-bit sign-aggregated token hashes, hamming-near pairs
- n-gram Jaccard: exploded shingle inverted index -> pair intersection
               counts -> |A∩B| / (|A|+|B|-|A∩B|)

All hashes derive from md5 (portable to the DuckDB oracle).

The three LSH operators share one blocking pipeline (SparkER's
blocking -> block purging -> comparison): :func:`_band_explode` emits
one (band, key) bucket row per id and band, :func:`_drop_hot` purges
oversized buckets, and :func:`_bucket_self_join` pairs the ids that
share a bucket.  ``similarity.cosine_near_dup_pairs_lsh`` uses the
first two.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..operators.skew import ensure_scan_parallelism


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles as an array column (JVM higher-order functions).

    k=1 is the words array itself.  k>=2 builds shingles by zipping k-1
    SHIFTED copies of the words array (``zip_with`` + ``slice`` of the
    whole array) instead of a per-index ``slice``+``concat_ws`` - the
    per-element slice allocated a fresh array per shingle and dominated
    whole queries (measured at sf0.1/8c: k=1 fast path 5.2s -> 2.25s on
    simhash; zip-shift k=2 construction 4.10s -> 0.63s, lifting
    dedup_minhash_lsh 11.2s -> 2.6s end-to-end).  The
    zipped tail elements (null-padded, concat_ws skips nulls) are
    dropped by the final length-(n-k+1) slice, so values are identical
    to the index construction the DuckDB twins mirror."""
    words = F.split(F.trim(F.lower(text)), r"\s+")
    if k == 1:
        return words
    n = F.size(words)
    acc = words
    for j in range(1, k):
        acc = F.zip_with(acc, F.slice(words, j + 1, n),
                         lambda a, b: F.concat_ws(" ", a, b))
    return F.when(n < k, F.array()).otherwise(
        F.slice(acc, 1, n - F.lit(k) + 1))


def exact_duplicate_groups(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: groups of byte-identical documents."""
    return (df
            .withColumn("fp", F.md5(F.col(text_col)))
            .groupBy("fp")
            .agg(F.count("*").alias("n_dups"),
                 F.min(id_col).alias("keep_id"))
            .filter(F.col("n_dups") > 1))


# universal-hash family over one md5 base hash: h_i(s) = (A_i*b + B_i) % M
# with b = md5_long(s) % M.  One md5 per shingle instead of one per
# (shingle, family) - 4x less hashing on the LSH query; the affine family
# is the textbook pairwise-independent construction.  M = 2^31 - 1
# (prime): A_i*b + B_i < 2^62, safe under ANSI overflow checking, and
# exactly mirrorable in DuckDB integer arithmetic.
MH_MOD = (1 << 31) - 1
_MH_A = [1299721, 7368787, 15485863, 32452843,
         49979687, 67867967, 86028121, 104395301]
_MH_B = [15487469, 32452867, 49979693, 67867979,
         86028157, 104395303, 122949829, 141650939]


def minhash_signature(text: Column, n_hashes: int = 8, k: int = 3) -> list[Column]:
    """K min-hashes over the shingle set (universal family, see above);
    empty shingle sets get sentinel -1 (never collides with a real hash,
    which is >= 0).

    NB Catalyst does not common-subexpression-eliminate the shingle
    array across the K projection columns - each mh{i} would re-split
    and re-slice the text.  Callers that compute many hashes should
    materialize the shingles once (see ``minhash_signature_df``).
    """
    sh = shingles(text, k)
    base = F.transform(sh, lambda s: F.pmod(_mh(s, 0), F.lit(MH_MOD)))
    return [_mh_min(base, i) for i in range(n_hashes)]


def _mh_min(base: Column, i: int) -> Column:
    a, b = _MH_A[i], _MH_B[i]
    hashed = F.transform(
        base,
        lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(MH_MOD)))
    return F.coalesce(F.array_min(hashed), F.lit(-1)).alias(f"mh{i}")


def minhash_signature_df(df: DataFrame, text_col: str, id_col: str,
                         n_hashes: int, k: int) -> DataFrame:
    """(id, mh0..mhK) as ONE explode + hash-aggregate - the codegen path.

    Spark's higher-order array functions (``transform``/``array_min``)
    are CodegenFallback: each per-shingle lambda step is interpreted and
    every family allocates a fresh transformed array per row.  Exploding
    the shingle stream instead evaluates the md5 base hash and the K
    affine families as flat whole-stage-codegen expressions feeding K
    ``min`` aggregates, with map-side partial aggregation so the one
    shuffle moves only (id, mh0..mhK) rows (guide sections 2.3/4.1;
    measured ~4x on the sf1.0 LSH signatures).

    Values are identical to the old fold by commutativity of ``min`` over
    exact integers.  ``explode_outer`` keeps empty-shingle docs (short
    texts at k>=2) as a single null shingle: every aggregate skips nulls,
    so those docs get the same sentinel ``-1`` via ``coalesce`` that
    ``array_min`` + ``coalesce`` produced (null text likewise).
    """
    base = ensure_scan_parallelism(
        df.select(F.col(id_col).alias("id"),
                  F.col(text_col).alias("_t")), "id")
    exploded = base.select(
        "id", F.explode_outer(shingles(F.col("_t"), k)).alias("_s"))
    hashed = exploded.select(
        "id", F.pmod(_mh(F.col("_s"), 0), F.lit(MH_MOD)).alias("_b"))
    aggs = [
        F.coalesce(
            F.min(F.pmod(F.col("_b") * F.lit(_MH_A[i]) + F.lit(_MH_B[i]),
                         F.lit(MH_MOD))),
            F.lit(-1)).alias(f"mh{i}")
        for i in range(n_hashes)]
    return hashed.groupBy("id").agg(*aggs)


def _mh(s: Column, i: int) -> Column:
    """Per-shingle 60-bit hash: the first 15 hex digits of md5, portable
    to the DuckDB oracle."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}|"), s)), 1, 15),
                  16, 10).cast("long")


def _band_explode(df: DataFrame, band_keys: list[Column],
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """(id, *carry, band, key): one row per id and band, ``key`` being
    ``band_keys[band]``.  One explode over the input instead of a union
    of per-band branches (a union would recompute the input per band)."""
    bb = F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"), key.alias("key"))
        for b, key in enumerate(band_keys)])).alias("bb")
    return (df.select("id", *carry, bb)
            .select("id", *carry, "bb.band", "bb.key"))


def _drop_hot(buckets: DataFrame, keys: list[str],
              hot: Column) -> DataFrame:
    """Block purging: drop every row of a bucket for which ``hot`` holds.

    ``hot`` is a Column over ``n_ids``, the bucket's row count from
    ``groupBy(keys).count()``; it may hold a window (it is evaluated in
    a ``select``, where Spark allows one).  The hot keys are excluded
    with a broadcast anti-join, the oracles' ``LEFT JOIN hot ... WHERE
    h IS NULL``.

    Recall statement: a pair is missed only if every band it agrees on
    is hot (for n-gram Jaccard: every shingle it shares), so reported
    pairs are a deterministic subset of the uncapped ones.  A bucket
    holding at most ``cap`` ids yields at most ``cap^2`` candidate
    pairs, so the cap bounds the self-join that follows.  Buckets a cap
    drops on a real crawl are boilerplate (error pages, parked
    domains): exact-dup cliques that ``exact_duplicate_groups`` handles
    in linear time.

    Broadcast bound: the hot list holds at most ``rows / cap`` keys,
    ``rows`` being the bucket table's (``n_docs * bands`` when banded;
    the near-dup factor cap allows at most ``bands * 2^planes_per_band``
    keys).  A 10^9-doc boilerplate-heavy corpus with a small absolute
    cap can in principle exceed the broadcast budget; at that scale
    raise the cap or swap the broadcast for a shuffled anti-join (same
    result, one more exchange).
    """
    counts = buckets.groupBy(*keys).agg(F.count("*").alias("n_ids"))
    hot_keys = (counts.select(*keys, hot.alias("_hot"))
                .filter(F.col("_hot")).select(*keys))
    return buckets.join(F.broadcast(hot_keys), keys, "left_anti")


def _bucket_self_join(buckets: DataFrame, keys: list[str],
                      carry: tuple[str, ...] = ()) -> DataFrame:
    """(id_a, id_b, *{c}_a, *{c}_b): every pair of ids sharing a bucket,
    ``id_a < id_b``, once per shared bucket; each ``carry`` column comes
    through as ``{c}_a`` / ``{c}_b``."""
    cond = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
    return (buckets.alias("l")
            .join(buckets.alias("r"), cond + [F.col("l.id") < F.col("r.id")])
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                    *[F.col(f"l.{c}").alias(f"{c}_a") for c in carry],
                    *[F.col(f"r.{c}").alias(f"{c}_b") for c in carry]))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n_hashes: int = 8,
                      bands: int = 4, k: int = 3,
                      max_bucket: int | None = None) -> DataFrame:
    """Banded LSH: docs agreeing on ALL rows of any band become a pair.

    Scale shape: one narrow shuffle keyed on (band, hash-of-band-rows);
    bucket sizes are the skew risk, so the band hash includes every row of
    the band (rows_per_band = n_hashes // bands).

    ``max_bucket``: drop (band, bucket) buckets holding more than
    ``max_bucket`` ids before the self-join.  Real crawls are
    boilerplate-skewed - error pages and parked domains put millions of
    near-identical docs into ONE band bucket, and the uncapped self-join
    materializes bucket_size^2 candidate rows (quadratic blowup at
    10^9 docs).  Recall statement and broadcast bound: see
    :func:`_drop_hot`.
    """
    rows_per = n_hashes // bands
    # lazy localCheckpoint = reuse barrier over the signature
    # aggregate: buckets is consumed by the hot-bucket count AND both
    # self-join sides, so without it the per-shingle md5 aggregation
    # re-runs per consumer (a repartition barrier does NOT work - see
    # simhash_hamming_pairs - and the recompute measured 3.7 -> 3.1s at
    # sf1.0, 2.3 -> 2.0s at sf0.1 against block reuse).  Durability
    # trade as in connected_components' single-box default.
    sigs = minhash_signature_df(df, text_col, id_col, n_hashes,
                                k).localCheckpoint(eager=False)
    buckets = _band_explode(sigs, [
        F.md5(F.concat_ws(",", *[F.col(f"mh{i}").cast("string") for i in
                                 range(b * rows_per, (b + 1) * rows_per)]))
        for b in range(bands)])
    if max_bucket is not None:
        buckets = _drop_hot(buckets, ["band", "key"],
                            F.col("n_ids") > max_bucket)
    return _bucket_self_join(buckets, ["band", "key"]).distinct()


SIMHASH_BITS = 60  # md5_long is 60 bits


def simhash64(text: Column, k: int = 1) -> Column:
    """60-bit SimHash over word shingles, as a per-row Column fold:
    bit_j(doc) = sign( sum over shingles of (bit_j(h(s)) ? +1 : -1) ).

    The reference form; over a table use :func:`simhash64_df`, which
    skips this fold's interpreted per-shingle lambda.  One ``aggregate``
    carries all 60 vote counters (``acc[j] + 2*bit - 1``); ``shiftright``
    goes through ``call_function`` because the PySpark wrapper only
    takes a Python int shift.
    """
    sh = shingles(text, k)
    hashed = F.transform(sh, lambda s: _mh(s, 0))
    bit_index = F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))
    votes = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc, bit_index,
            lambda a, j: a + F.call_function("shiftright", h, j)
            .bitwiseAND(F.lit(1)).cast("int") * 2 - 1))
    powers = F.array(*[F.lit(1 << j).cast("long")
                       for j in range(SIMHASH_BITS)])
    return F.aggregate(
        F.zip_with(votes, powers,
                   lambda v, p: F.when(v > 0, p)
                   .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, x: a + x)


def simhash64_df(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 1) -> DataFrame:
    """(id, sig): the 60-bit SimHash in one ``mapInArrow`` pass.

    The JVM builds each text's shingle list (:func:`shingles`); a numpy
    kernel hashes each distinct shingle of a batch once, as ``_mh(s, 0)``
    over its UTF-8 bytes, and sums the bit indicators per document.
    ``vote_j = 2*sum(bit_j) - n`` is :func:`simhash64`'s +-1 fold
    reordered, so signatures are identical: an empty shingle list gives
    sig 0 and a null text a null sig.  No explode and no aggregate, and
    no state across batches.

    Precondition: ``id_col`` is a key.  The kernel emits one row per
    input row, so duplicate ids are not merged.
    """
    def votes(batches):
        for batch in batches:
            lists = batch.column(1)
            enc = pc.list_flatten(lists).dictionary_encode()
            h = np.array([int.from_bytes(hashlib.md5(b"0|" + w).digest()[:8],
                                         "big") >> 4 for w in
                          enc.dictionary.cast(pa.large_binary()).to_pylist()],
                         dtype="<u8")
            bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1,
                                 bitorder="little")[enc.indices.to_numpy()]
            n = pc.fill_null(pc.list_value_length(lists), 0).to_numpy()
            parents = np.repeat(np.arange(len(lists)), n)
            ones = np.stack([np.bincount(parents, weights=bits[:, j],
                                         minlength=len(lists))
                             for j in range(SIMHASH_BITS)], axis=1)
            sig = (2 * ones - n[:, None] > 0) @ (1 << np.arange(SIMHASH_BITS))
            null = lists.is_null().to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(sig, mask=null)], names=["id", "sig"])

    base = ensure_scan_parallelism(
        df.select(F.col(id_col).alias("id"),
                  F.col(text_col).alias("_t")), "id")
    lists = base.select("id", shingles(F.col("_t"), k).alias("_s"))
    return lists.mapInArrow(votes, StructType(
        [lists.schema["id"], StructField("sig", LongType())]))


def simhash_hamming_pairs(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 1,
                          bands: int = 4, max_hamming: int = 3,
                          max_bucket: int | None = None) -> DataFrame:
    """Hamming-near pairs over the 60-bit SimHash - banded bit-chunk LSH.

    The signature is split into ``bands`` equal bit chunks; by pigeonhole,
    any pair within ``max_hamming`` bits (with ``bands > max_hamming``)
    agrees exactly on at least one chunk, so the chunk-equality bucket
    join has 100% recall.  Candidates are then popcount-filtered
    (``bit_count(sig_a XOR sig_b)``) in the JVM.

    Scale shape: one explode (x bands) + one shuffle on (band, chunk);
    never an all-pairs join.

    ``max_bucket``: drop (band, chunk) buckets holding more than
    ``max_bucket`` ids before the self-join.  15-bit chunks give only
    32768 buckets per band, so at 10^9 docs the MEAN bucket holds ~3*10^4
    ids and the self-join materializes ~10^13 candidates without a bound.
    Pairs with at least one non-hot agreeing chunk keep the pigeonhole
    guarantee; recall statement and broadcast bound: see
    :func:`_drop_hot`.
    """
    if bands <= max_hamming:
        raise ValueError("bands must exceed max_hamming for full recall")
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    # sigs is consumed three times (hot-bucket counts + both self-join
    # sides), so the signature pass is lazily localCheckpoint-ed: the
    # first consumer materializes (id, sig) into executor block storage
    # and the other two read blocks instead of re-running the shingle +
    # vote kernel (a repartition reuse barrier measured no better).
    # Single-box durability trade as in connected_components' default:
    # executor loss after materialization fails the job - acceptable
    # for an intra-query intermediate any retry recomputes from source.
    sigs = simhash64_df(df, text_col=text_col, id_col=id_col,
                        k=k).localCheckpoint(eager=False)
    buckets = _band_explode(sigs, [
        F.shiftright(F.col("sig"), b * width).bitwiseAND(F.lit(mask))
        for b in range(bands)], carry=("sig",))
    if max_bucket is not None:
        buckets = _drop_hot(buckets, ["band", "key"],
                            F.col("n_ids") > max_bucket)
    return (_bucket_self_join(buckets, ["band", "key"], carry=("sig",))
            .withColumn("hamming",
                        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                        .cast("long"))
            # popcount BEFORE the distinct: the filter is deterministic
            # per row, so filter-then-distinct equals distinct-then-
            # filter - but only the hamming-near survivors (tiny) reach
            # the distinct exchange instead of every bucket candidate
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
            .distinct())


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.8,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity via an inverted shingle index.

    explode -> distinct (id, shingle) -> self-join on shingle ->
    intersection counts -> Jaccard.  The shingle join is the classic
    entity-resolution blocking shuffle.

    ``max_df``: drop shingles shared by more than ``max_df`` documents
    before the self-join.  Without a cap, one stop-shingle shared by 1M
    docs creates a ~10^12-row join bucket at 100 TB.  Capped shingles no
    longer count toward intersections (denominator sizes stay full-set),
    so reported jaccard is a lower bound for pairs that shared a hot
    shingle - the standard blocking trade; recall statement and
    broadcast bound: see :func:`_drop_hot`.
    """
    base = ensure_scan_parallelism(
        df.select(F.col(id_col).alias("id"),
                  F.col(text_col).alias("_t")), "id")
    toks = (base.select("id",
                        F.explode(shingles(F.col("_t"), k)).alias("sh"))
            .distinct())
    sizes = toks.groupBy("id").agg(F.count("*").alias("n"))
    join_toks = toks
    if max_df is not None:
        join_toks = _drop_hot(toks, ["sh"], F.col("n_ids") > max_df)
    inter = (_bucket_self_join(join_toks, ["sh"])
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("n_common")))
    return (inter
            .join(sizes.withColumnRenamed("id", "id_a")
                       .withColumnRenamed("n", "n_a"), "id_a")
            .join(sizes.withColumnRenamed("id", "id_b")
                       .withColumnRenamed("n", "n_b"), "id_b")
            .withColumn("jaccard", F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def connected_components(pairs: DataFrame, a_col: str = "id_a",
                         b_col: str = "id_b",
                         max_iter: int = 50,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Union near-dup PAIRS into duplicate CLUSTERS: (node, component)
    where component = the minimum id reachable through the pair graph -
    the canonical-document label a training-data dedup keeps.

    Min-label propagation: each round every node takes the smallest
    label among itself and its neighbors; converged when nothing
    changes.  Rounds needed = graph diameter, and near-dup clusters are
    shallow (pairs come from banded LSH, so clusters are cliques-ish) -
    single digits in practice; ``max_iter`` is a hostile-input bound.

    Scale notes (10^9 nodes):
    - each round is one join + one groupBy on the edge list - the same
      shuffle shape as the LSH pair-join that produced the edges, and
      edges are BOUNDED by the upstream bucket caps (max_bucket /
      max_df), so no round can blow up past the pair stage that fed it;
    - a checkpoint after each round truncates the lineage - an
      iterative join would otherwise re-execute every previous round on
      each action (exponential plan growth is THE classic iterative-
      Spark failure);
    - the convergence probe is a count on the changed-label frame - one
      small action per round, not a collect of labels.

    Durability: the default ``localCheckpoint`` stores round state in
    EXECUTOR block storage - fast and zero-config, but losing any
    executor mid-iteration loses blocks that lineage can no longer
    recompute (it was truncated), failing the job.  Fine on a single
    box; on a real cluster pass ``checkpoint_dir`` (an HDFS/S3/shared
    path) to use reliable ``.checkpoint()`` instead: each round is
    persisted to the shared filesystem and survives executor loss at
    the cost of a write per round.

    Checkpoint hygiene: Spark never deletes reliable checkpoint files
    at job end, and the RETURNED frame still reads the final round's
    files - they must outlive this call.  Set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so
    superseded rounds are GC'd with their DataFrames, and point
    ``checkpoint_dir`` at a per-run path deleted once the labels are
    consumed/written.
    """
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:
        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    edges = pairs.select(F.col(a_col).cast("long").alias("src"),
                         F.col(b_col).cast("long").alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges = _ckpt(edges.distinct())
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("component", F.col("node")))
    for _ in range(max_iter):
        nbr = (edges.join(labels, edges.dst == labels.node)
               .groupBy("src").agg(F.min("component").alias("nbr_min")))
        new_labels = (labels.join(nbr, labels.node == nbr.src, "left")
                      .select("node",
                              F.least(F.col("component"),
                                      F.coalesce("nbr_min",
                                                 F.col("component")))
                              .alias("component")))
        new_labels = _ckpt(new_labels)
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .filter(F.col("n.component") != F.col("o.component"))
                   .count())
        labels = new_labels
        if changed == 0:
            break
    else:
        # LOUD beats silently-wrong clusters: a path graph of diameter
        # > max_iter would otherwise return intermediate labels as
        # final components (and hash-mismatch the recursive-CTE oracle)
        raise ValueError(
            f"connected_components did not converge in {max_iter} "
            f"rounds ({changed} labels still moving); raise max_iter "
            f"for long-chain graphs")
    return labels


def sample_by_hash(df: DataFrame, key_col: str,
                   rate_per_mille: int | Column,
                   seed: str = "s0") -> DataFrame:
    """Deterministic keyed sampling: keep rows whose portable key hash
    lands under ``rate_per_mille``/1000.

    Training-data pipelines need samples that are (a) reproducible
    across runs/retries/engines and (b) consistent per key (a url is in
    or out everywhere).  ``rand()`` gives neither.  The hash is the
    repo's portable md5 fold (integer, engine-exact in DuckDB), salted
    by ``seed`` so different sampling stages draw independently.

    ``rate_per_mille`` may be a Column for stratified rates (e.g.
    downsample the dominant language, keep the tail) - still one
    codegen'd filter, no shuffle, pushdown-friendly."""
    rate = (F.lit(rate_per_mille) if isinstance(rate_per_mille, int)
            else rate_per_mille)
    h = F.conv(F.substring(F.md5(F.concat(F.lit(seed),
                                          F.col(key_col).cast("string"))),
                           1, 15), 16, 10).cast("long")
    return df.filter(F.pmod(h, F.lit(1000)) < rate)
