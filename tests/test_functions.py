"""Unit tests for the training-data function modules (small local frames)."""

import math
import random
import struct

import pyspark.sql.functions as F
import pytest

from livre_spark.functions import dedup as dd
from livre_spark.functions import similarity as sim
from livre_spark.functions import textstats as ts


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely different text with no overlap here at all"),
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (4, ""),
        (5, "short"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_count(spark, docs):
    got = {r["doc_id"]: r["n"] for r in
           docs.select("doc_id", ts.token_count(F.col("text")).alias("n")).collect()}
    assert got == {0: 9, 1: 9, 2: 9, 3: 9, 4: 0, 5: 1}


def test_exact_duplicate_groups(spark, docs):
    groups = dd.exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 2
    assert groups[0]["keep_id"] == 0


def test_shingles(spark, docs):
    row = docs.filter("doc_id = 5").select(
        dd.shingles(F.col("text"), 3).alias("sh")).first()
    assert row["sh"] == []  # fewer words than k
    row = docs.filter("doc_id = 0").select(
        dd.shingles(F.col("text"), 3).alias("sh")).first()
    assert row["sh"][0] == "the quick brown"
    assert len(row["sh"]) == 7


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"])
             for r in dd.minhash_lsh_pairs(docs, n_hashes=8, bands=4).collect()}
    assert (0, 3) in pairs            # exact dups always collide
    assert (0, 2) not in pairs        # disjoint text never collides
    assert (2, 3) not in pairs


def test_ngram_jaccard(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dd.ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()}
    assert pairs[(0, 3)] == 1.0       # identical
    assert (0, 1) in pairs            # one word differs -> high jaccard
    assert (0, 2) not in pairs


def test_simhash_similarity(spark, docs):
    got = {r["doc_id"]: r["sh"] for r in docs.select(
        "doc_id", dd.simhash64(F.col("text"), k=1).alias("sh")).collect()}
    assert got[0] == got[3]           # identical docs -> identical simhash

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(got[0], got[1]) < hamming(got[0], got[2])


def _bits(v):
    """A float's exact bit pattern (NaN and null kept distinct)."""
    if v is None:
        return None
    if math.isnan(v):
        return b"NaN"
    return struct.pack("<d", v)


@pytest.fixture(scope="module")
def embeddings(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
        (4, [0.7, 0.7, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


_ZN_CENTS = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]


@pytest.mark.parametrize("op", ["topk_cosine", "topk_cosine_ivf",
                                "topk_cosine_ivf_indexed"])
def test_topk_cosine(spark, embeddings, tmp_path, op):
    """Ranked by cosine; a zero-norm vector scores 0/0 = NaN (never an
    error) and, as Spark orders NaN above every number, ranks first -
    the same behaviour for every single-query operator (the IVF ones
    probe every cell, so they see the whole frame)."""
    zero = spark.createDataFrame([(9, [0.0, 0.0, 0.0, 0.0])],
                                 ["vec_id", "embedding"])
    emb = embeddings.filter("vec_id != 0").unionByName(zero)
    q = [1.0, 0.0, 0.0, 0.0]
    n = len(_ZN_CENTS)
    if op == "topk_cosine":
        df = sim.topk_cosine(emb, q, k=4)
    elif op == "topk_cosine_ivf":
        df = sim.topk_cosine_ivf(emb, q, _ZN_CENTS, k=4, n_probe=n)
    else:
        path = str(tmp_path / "ivf_index")
        sim.ivf_build_index(emb, _ZN_CENTS, path)
        df = sim.topk_cosine_ivf_indexed(spark, path, q, _ZN_CENTS, k=4,
                                         n_probe=n)
    got = df.collect()
    assert [r["vec_id"] for r in got] == [9, 1, 4, 2]
    assert math.isnan(got[0]["cos_sim"])
    assert got[1]["cos_sim"] > 0.99


def test_cosine_near_dup_pairs(spark, embeddings):
    pairs = {(r["id_a"], r["id_b"]) for r in
             sim.cosine_near_dup_pairs(embeddings, threshold=0.95).collect()}
    assert (0, 1) in pairs
    assert (0, 3) not in pairs


def test_lsh_topk_recall(spark, embeddings):
    got = sim.topk_cosine_lsh(embeddings.filter("vec_id != 0"),
                              [1.0, 0.0, 0.0, 0.0], k=3, n_planes=2).collect()
    ids = [r["vec_id"] for r in got]
    assert 1 in ids                   # the nearest neighbour is in the bucket
    assert 3 not in ids               # the opposite vector is not


def test_multimodal_plumbing(spark):
    from livre_spark.functions.multimodal import (
        FEATURE_DIM, decode_image, extract_media_features,
    )

    media = spark.createDataFrame(
        [(1, "image", bytearray(b"\x00\x01" * 50)),
         (2, "image", bytearray(b"\xff" * 10))],
        "media_id long, kind string, content binary")
    got = {r["media_id"]: r for r in
           extract_media_features(media, fake=True).collect()}
    assert len(got[1]["features"]) == FEATURE_DIM
    assert abs(sum(got[1]["features"]) - 1.0) < 1e-6
    assert got[1]["error"] is None
    assert got[2]["features"][15] == 1.0  # all-0xff payload -> last bucket

    with pytest.raises(NotImplementedError):
        decode_image(b"xx", fake=False)


def test_scalar_pandas_udfs(spark):
    from livre_spark.functions.scalars import doc_kind, pdf_version

    df = spark.createDataFrame(
        [(1, bytearray(b"%PDF-1.7\nrest")),
         (2, bytearray(b"  <!DOCTYPE html><html>")),
         (3, bytearray(b"\x89PNG")),
         (4, None)],
        "id long, html binary")
    got = {r["id"]: (r["kind"], r["ver"]) for r in
           df.select("id", doc_kind("html").alias("kind"),
                     pdf_version("html").alias("ver")).collect()}
    assert got == {1: ("pdf", 7), 2: ("html", -1),
                   3: ("other", -1), 4: ("other", -1)}


def test_ivf_topk(spark, embeddings):
    cents = sim.ivf_centroids(embeddings, n_cells=2, iters=1)
    assert len(cents) == 2 and len(cents[0]) == 4
    got = sim.topk_cosine_ivf(embeddings.filter("vec_id != 0"),
                              [1.0, 0.0, 0.0, 0.0], cents, k=3, n_probe=1)
    ids = [r["vec_id"] for r in got.collect()]
    assert 1 in ids  # nearest neighbour is inside the probed cell


def test_simhash_hamming_pairs(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             dd.simhash_hamming_pairs(docs, k=1, bands=4,
                                      max_hamming=3).collect()}
    assert pairs.get((0, 3)) == 0     # exact dups: hamming 0
    assert (0, 2) not in pairs        # disjoint text is far in hamming
    # pigeonhole guarantee: every pair <= max_hamming is found (brute check)
    sigs = {r["doc_id"]: r["sh"] for r in docs.select(
        "doc_id", dd.simhash64(F.col("text"), k=1).alias("sh")).collect()}
    expected = {(a, b) for a in sigs for b in sigs if a < b
                and bin(sigs[a] ^ sigs[b]).count("1") <= 3}
    assert set(pairs) == expected


def test_simhash_hamming_pairs_bands_validation(spark, docs):
    with pytest.raises(ValueError):
        dd.simhash_hamming_pairs(docs, bands=3, max_hamming=3)


def test_ngram_jaccard_max_df_caps_hot_shingles(spark):
    # 12 docs share the hot shingle "aaa bbb ccc"; two real near-dups
    # share much more.  With max_df=5 the hot shingle is excluded from
    # the join, so the hot-only pairs disappear but the real pair stays.
    rows = [(i, f"aaa bbb ccc unique{i} word{i} token{i}") for i in range(12)]
    rows += [(100, "xxx yyy zzz www vvv uuu"),
             (101, "xxx yyy zzz www vvv ttt")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = {(r["id_a"], r["id_b"]) for r in
              dd.ngram_jaccard_pairs(df, k=3, threshold=0.1,
                                     max_df=5).collect()}
    assert (100, 101) in capped
    assert not any(a < 100 and b < 100 for a, b in capped)
    # uncapped finds the hot-shingle pairs (sanity that the cap did it)
    uncapped = {(r["id_a"], r["id_b"]) for r in
                dd.ngram_jaccard_pairs(df, k=3, threshold=0.1).collect()}
    assert any(a < 100 and b < 100 for a, b in uncapped)


def test_cosine_near_dup_pairs_lsh_recall(spark, embeddings):
    """Every LSH pair is an exact-twin pair with the SAME cos_sim bits.
    Pair (0, 5) has the raw cosine 0.9500005 exactly, a decimal tie
    that HALF_UP rounds up (numpy's half-even round would not).  The
    seeded dim-64 float32 set at threshold 0.3 sends hundreds of
    candidates through the vectorized rescore and its rounding."""
    toy = embeddings.unionByName(spark.createDataFrame(
        [(5, [0.9500005, 0.3122483786983527, 0.0, 0.0])],
        ["vec_id", "embedding"]))
    rnd = random.Random(64)
    wide = spark.createDataFrame(
        [(i, [rnd.gauss(0.0, 1.0) for _ in range(64)]) for i in range(240)],
        "vec_id long, embedding array<float>")
    found = {}
    for name, df, dim, t in (("toy", toy, 4, 0.95),
                             ("wide", wide, 64, 0.3)):
        lsh = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in
               sim.cosine_near_dup_pairs_lsh(
                   df, dim=dim, threshold=t, bands=4,
                   planes_per_band=2).collect()}
        exact = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in
                 sim.cosine_near_dup_pairs(df, threshold=t).collect()}
        assert set(lsh) <= set(exact)     # bucketing never invents pairs
        for pair, c in lsh.items():
            assert _bits(c) == _bits(exact[pair]), (name, pair, c)
        found[name] = lsh
    assert (0, 1) in found["toy"]         # the near-identical pair is found
    assert found["toy"][(0, 5)] == 0.950001
    assert len(found["wide"]) >= 100


def test_cosine_near_dup_lsh_bucket_caps(spark):
    """The bucket cap bounds a degenerate cluster: 40 identical vectors
    pile into one bucket per band (~87% of each band), far above 3x the
    uniform share, so their pairs are excluded while the well-spread
    near-dup pair survives (its buckets stay cold)."""
    rows = [(i, [1.0, 1.0, 1.0, 1.0]) for i in range(100, 140)]
    rows += [(0, [1.0, 0.05, 0.0, 0.0]), (1, [1.0, 0.0, 0.05, 0.0]),
             (2, [0.0, -1.0, 0.3, 0.0]), (3, [-1.0, 0.0, 0.0, 0.3]),
             (4, [0.0, 0.3, -1.0, 0.0]), (5, [0.3, 0.0, 0.0, -1.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def pairs(**caps):
        return {(r["id_a"], r["id_b"]) for r in
                sim.cosine_near_dup_pairs_lsh(
                    df, dim=4, threshold=0.95, bands=4,
                    planes_per_band=2, **caps).collect()}

    uncapped = pairs()
    hot_pairs = {(a, b) for a, b in uncapped if a >= 100 and b >= 100}
    assert len(hot_pairs) == 40 * 39 // 2    # the degenerate cluster
    capped = pairs(max_bucket_factor=3.0)
    assert not any(a >= 100 and b >= 100 for a, b in capped)
    assert capped <= uncapped                 # the cap never invents pairs
    assert (0, 1) in capped                   # cold-bucket pair survives


def test_cosine_near_dup_lsh_cap_is_lazy(spark):
    """Building the capped near-dup frame starts no Spark job: the hot
    buckets are dropped inside the plan, not collected while the frame
    is built."""
    rows = [(i, [1.0, float(i % 3), 0.0, -1.0]) for i in range(12)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    sc = spark.sparkContext
    group = "near-dup-cap-lazy"
    sc.setJobGroup(group, "build the capped near-dup frame")
    try:
        sim.cosine_near_dup_pairs_lsh(df, dim=4, threshold=0.95, bands=4,
                                      planes_per_band=2,
                                      max_bucket_factor=3.0)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()


@pytest.mark.parametrize("dim", [16, 256])
def test_embed_text_table_matches_column_fold(spark, dim):
    """The table-op embedding (the dim>=256 scale path: explode ->
    map-side-combined count -> map assembly) is value-identical to the
    Column fold at any dim, including the all-zero empty-text row."""
    rows = [(0, "the quick brown fox jumps over the lazy dog"),
            (1, "pack my box with five dozen liquor jugs"),
            (2, ""), (3, "a b"), (4, "the quick brown fox")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fold = {r["doc_id"]: r["v"] for r in df.select(
        "doc_id", sim.embed_text(F.col("text"), dim=dim, k=2).alias("v")
    ).collect()}
    table = {r["doc_id"]: r["embedding"] for r in
             sim.embed_text_table(df, dim=dim, k=2).collect()}
    assert table == fold
    assert table[2] == [0] * dim          # empty text -> zero vector


def test_ivf_indexed_search_partition_pruned(spark, tmp_path):
    """The materialized IVF index search reads ONLY the probed cells'
    partitions (PartitionFilters in the scan) and returns the same top-k
    as the unindexed cell-pruned search."""
    import pyspark.sql.functions as F

    rows = [(i, [float((i * 7 + j * 3) % 13) - 6.0 for j in range(8)])
            for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    cents = sim.ivf_centroids(emb, n_cells=4, iters=0)
    qv = [float(x) for x in rows[0][1]]

    path = str(tmp_path / "ivf_index")
    sim.ivf_build_index(emb, cents, path)
    indexed = sim.topk_cosine_ivf_indexed(spark, path, qv, cents, k=5)
    plain = sim.topk_cosine_ivf(emb, qv, cents, k=5)
    assert [r["vec_id"] for r in indexed.collect()] == \
           [r["vec_id"] for r in plain.collect()]

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), m.group(0) if m else plan


def test_topk_cosine_many_ivf(spark, tmp_path):
    """Batch IVF search: (a) with n_probe == n_cells it equals the
    exact batch path per query; (b) the scan is partition-pruned."""
    import pyspark.sql.functions as F

    rows = [(i, [float((i * 7 + j * 3) % 13) - 6.0 for j in range(8)])
            for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    cents = sim.ivf_centroids(emb, n_cells=4, iters=0)
    path = str(tmp_path / "ivf_index")
    sim.ivf_build_index(emb, cents, path)

    queries = (emb.filter("vec_id < 3")
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv")))
    exact = sim.topk_cosine_many(emb, queries, k=4)
    ivf_all = sim.topk_cosine_many_ivf(spark, path, queries, cents,
                                       k=4, n_probe=4)
    key = ["qid", "rank"]
    as_map = lambda df: {tuple(r[c] for c in key): (r["vec_id"],
                                                    r["cos_sim"])
                         for r in df.collect()}
    assert as_map(ivf_all) == as_map(exact)

    # n_probe < n_cells prunes partitions in the scan
    ivf_pruned = sim.topk_cosine_many_ivf(spark, path, queries, cents,
                                          k=4, n_probe=2)
    plan = ivf_pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), m.group(0) if m else plan


def test_connected_components_chain_and_nonconvergence(spark):
    """A 6-node chain converges to one component; an insufficient
    max_iter raises LOUDLY instead of returning intermediate labels."""
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(10, 11)],
        "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in dd.connected_components(pairs).collect()}
    assert all(got[n] == 0 for n in range(6))
    assert got[10] == got[11] == 10
    with _pytest.raises(ValueError, match="did not converge"):
        dd.connected_components(pairs, max_iter=2)


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches per-round state to reliable
    .checkpoint() (cluster-durable path): same labels, and round state
    actually lands in the checkpoint directory."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(10, 11)],
        "id_a long, id_b long")
    ckpt = str(tmp_path / "cc_ckpt")
    got = {r["node"]: r["component"]
           for r in dd.connected_components(
               pairs, checkpoint_dir=ckpt).collect()}
    assert all(got[n] == 0 for n in range(6))
    assert got[10] == got[11] == 10
    import os
    written = [os.path.join(dp, f)
               for dp, _, fs in os.walk(ckpt) for f in fs]
    assert written, "reliable checkpoint wrote nothing to checkpoint_dir"


def test_normalize_url_semantics(spark):
    """RFC 3986 canonicalization cases: case folding, default ports,
    userinfo, fragments, duplicate slashes, empty/bare-query paths,
    non-http schemes passed through."""
    import pyspark.sql.functions as F

    from livre_spark.functions.urls import host_of, normalize_url

    cases = {
        "HTTP://WWW.Example.COM:80//a//b/c#frag":
            ("http://www.example.com/a/b/c", "www.example.com"),
        "https://User:pw@Host.Net:443/x?q=1#s":
            ("https://host.net/x?q=1", "host.net"),
        "http://h:8080/p": ("http://h:8080/p", "h"),
        "http://h": ("http://h/", "h"),
        "http://h?": ("http://h/", "h"),
        "http://h?q=2": ("http://h/?q=2", "h"),
        # query string is OPAQUE: slashes inside it survive
        "http://h//a//b?next=https://a//b":
            ("http://h/a/b?next=https://a//b", "h"),
        "http://h/a?redirect=http://x":
            ("http://h/a?redirect=http://x", "h"),
        "mailto:a@b.c": ("mailto:a@b.c", ""),
    }
    df = spark.createDataFrame([(u,) for u in cases], "u string")
    got = {r["u"]: (r["n"], r["h"]) for r in df.select(
        "u", normalize_url(F.col("u")).alias("n"),
        host_of(F.col("u")).alias("h")).collect()}
    assert got == cases
    # pure codegen: no python stage in the plan
    plan = df.select(normalize_url(F.col("u")))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_minhash_lsh_hot_bucket_cap_both_engines(spark):
    """A synthetic hot bucket (60 identical docs > max_bucket=50) is
    dropped IDENTICALLY by the Spark operator and the registered DuckDB
    oracle, while cold-bucket near-dup pairs survive on both."""
    import duckdb

    import __spark_entry__ as em

    rows = [(i, "parked domain error page boilerplate text repeated")
            for i in range(100, 160)]                      # 60-doc hot clique
    rows += [(0, "the quick brown fox jumps over the lazy dog"),
             (1, "the quick brown fox jumps over the lazy dog"),
             (2, "completely different text with no overlap here at all")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    got_spark = {(r["id_a"], r["id_b"]) for r in dd.minhash_lsh_pairs(
        df, n_hashes=4, bands=2, k=3,
        max_bucket=em._MH_LSH_MAX_BUCKET).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got_duck = {(a, b) for a, b in
                con.execute(em.SQL_DEDUP_MINHASH_LSH).fetchall()}

    assert got_spark == got_duck
    assert (0, 1) in got_spark                 # cold pair survives
    assert not any(a >= 100 for a, b in got_spark)  # hot clique dropped
    # uncapped control: the clique would contribute 60*59/2 pairs
    uncapped = dd.minhash_lsh_pairs(df, n_hashes=4, bands=2, k=3).count()
    assert uncapped >= 60 * 59 // 2


# --- round-7 optimization pins: the restructured internals must stay
# value-identical to the fold-based forms they replaced -------------------


def test_simhash64_df_matches_fold_on_edge_docs(spark):
    """The Arrow vote kernel's signature equals the per-row fold at k=1
    and k=2 on every edge shape: normal text, empty string,
    whitespace-only, single word (a short text at k=2), null text (null
    sig), repeated and duplicate words, and non-ASCII text (md5 over the
    UTF-8 bytes).  Batches of two rows put batch boundaries inside the
    frame."""
    rows = [(0, "some plain words here"), (1, ""), (2, "   "),
            (3, "word"), (4, None),
            (5, "repeated repeated repeated unique"),
            (6, "É ünïcödé ß ẞ İ"), (7, "dup dup"), (8, "a b a b a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        for k in (1, 2):
            fold = {r["doc_id"]: r["s"] for r in df.select(
                "doc_id", dd.simhash64(F.col("text"), k=k).alias("s"))
                .collect()}
            table = {r["id"]: r["sig"] for r in
                     dd.simhash64_df(df, k=k).collect()}
            assert table == fold, k
            assert fold[4] is None and fold[6] != 0
        assert fold[3] == 0                     # one word: no 2-shingle
    finally:
        spark.conf.set(key, old)


def test_sign_keys_arrow_matches_fold(spark):
    """The Arrow sign-LSH keys equal the inline fold
    ``when(dot(v, plane) >= 0, 2**j)`` summed per plane group, on clean
    rows and on a zero vector (every dot 0: all bits set), a NaN element
    (NaN dot: bit set, as Spark orders NaN above every number), and the
    fold's null-dot rows - null vector, wrong length, null element -
    which get key 0."""
    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    rows += [(100, [0.0] * 8), (101, [1.0] * 7 + [float("nan")]),
             (102, None), (103, [1.0] * 7), (104, [1.0] * 7 + [None])]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    planes = sim.hyperplanes(8, 6, seed=3)
    groups = [planes[0:2], planes[2:5], planes[5:6]]

    def fold_key(group):
        key = F.lit(0).cast("long")
        for j, plane in enumerate(group):
            key = key + F.when(
                sim.dot(F.col("v"), F.array(*[F.lit(x) for x in plane])) >= 0,
                F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
        return key

    names = [f"k{g}" for g in range(len(groups))]
    want = {r["id"]: tuple(r[n] for n in names) for r in df.select(
        "id", *[fold_key(g).alias(n) for g, n in zip(groups, names)])
        .collect()}
    got = {r["id"]: tuple(r[n] for n in names) for r in
           sim._sign_keys_arrow(df, "v", groups, names).collect()}
    assert got == want
    assert got[100] == (3, 7, 1) and got[101] == (3, 7, 1)
    assert got[102] == got[103] == got[104] == (0, 0, 0)


def test_minhash_signature_df_matches_column_fold(spark):
    """The aggregate signatures equal the transform/array_min fold,
    including the -1 sentinel for sub-k and null texts."""
    rows = [(0, "the quick brown fox jumps"), (1, "too short"),
            (2, ""), (3, None), (4, "a b c d e f g h")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fold = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(4))
            for r in df.select(
                "doc_id", *dd.minhash_signature(F.col("text"), 4, 3))
            .collect()}
    table = {r["id"]: tuple(r[f"mh{i}"] for i in range(4))
             for r in dd.minhash_signature_df(df, "text", "doc_id", 4, 3)
             .collect()}
    assert table == fold


def test_near_dup_zero_norm_pairs_keep_nan_semantics(spark):
    """Zero vectors sign-hash into the same bucket and their cosine is
    NaN; Spark (and DuckDB) treat NaN as greater than any threshold, so
    the pair must be REPORTED with a NaN cos_sim - the Arrow scorer
    must preserve that, not apply Python/numpy NaN-comparison rules."""
    rows = [(0, [0.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.2, 0.0, 0.0]), (3, [1.0, 0.0, 0.2, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in
           sim.cosine_near_dup_pairs_lsh(
               df, dim=4, threshold=0.95, bands=4,
               planes_per_band=2).collect()}
    assert (0, 1) in got and math.isnan(got[(0, 1)])
    # the well-formed near-identical pair is still found and finite
    assert (2, 3) in got and got[(2, 3)] >= 0.95


def test_zero_norm_scores_nan_in_fold_operators(spark, tmp_path):
    """The SQL-fold operators (many-query top-k with and without IVF,
    all-pairs near-dup) score a zero-norm row NaN instead of failing the
    job with DIVIDE_BY_ZERO, matching topk_cosine and
    cosine_near_dup_pairs_lsh; nonzero rows are unchanged."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]), (9, [0.0, 0.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = [1.0, 0.0, 0.0, 0.0]
    single = [(r["vec_id"], _bits(r["cos_sim"])) for r in
              sim.topk_cosine(emb, q, k=4).collect()]
    assert single[0] == (9, b"NaN")
    queries = spark.createDataFrame([(0, q)], ["qid", "qv"])
    path = str(tmp_path / "ivf_index")
    sim.ivf_build_index(emb, _ZN_CENTS, path)
    for df in (sim.topk_cosine_many(emb, queries, k=4),
               sim.topk_cosine_many_ivf(spark, path, queries, _ZN_CENTS,
                                        k=4, n_probe=len(_ZN_CENTS))):
        assert [(r["vec_id"], _bits(r["cos_sim"]))
                for r in df.collect()] == single
    exact = {(r["id_a"], r["id_b"]): _bits(r["cos_sim"]) for r in
             sim.cosine_near_dup_pairs(emb, threshold=0.95).collect()}
    assert exact == {(0, 1): exact[(0, 1)], (0, 9): b"NaN",
                     (1, 9): b"NaN", (2, 9): b"NaN"}
    lsh = {(r["id_a"], r["id_b"]): _bits(r["cos_sim"]) for r in
           sim.cosine_near_dup_pairs_lsh(emb, dim=4, threshold=0.95,
                                         bands=4,
                                         planes_per_band=2).collect()}
    assert lsh.items() <= exact.items()
    assert any(9 in pair for pair in lsh)


def test_near_dup_malformed_vectors_excluded_not_fatal(spark):
    """Null, wrong-length or null-element vectors never pair (the SQL
    fold nulls their dot and the filter drops them); the Arrow scorer
    must exclude them without failing the task."""
    rows = [(0, [1.0, 0.1, 0.0, 0.0]), (1, [1.0, 0.0, 0.1, 0.0]),
            (2, None), (3, [1.0, 0.0]), (4, [1.0, 0.05, None, 0.05])]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"]) for r in
           sim.cosine_near_dup_pairs_lsh(
               df, dim=4, threshold=0.9, bands=4,
               planes_per_band=2).collect()}
    assert got == {(0, 1)}


def test_ensure_scan_parallelism_repartitions_only_when_starved(spark):
    from livre_spark.operators.skew import ensure_scan_parallelism

    cores = spark.sparkContext.defaultParallelism
    narrow = spark.createDataFrame(
        [(i,) for i in range(100)], "id long").coalesce(1)
    widened = ensure_scan_parallelism(narrow, "id")
    assert widened.rdd.getNumPartitions() > 1
    assert widened.count() == 100
    wide = spark.createDataFrame(
        [(i,) for i in range(100)], "id long").repartition(cores + 1)
    assert ensure_scan_parallelism(wide, "id") is wide  # no-op


def test_cosine_rows_arrow_matches_fold(spark):
    """The Arrow-vectorized cosine scorer must be BIT-identical to the
    interpreted zip_with/aggregate fold, on an all-clean frame (no
    nulls, uniform lengths) and on one that also holds the fold's null
    cases (null array, length mismatch, null element), which must come
    back as genuine nulls.  Zero-norm rows yield NaN on both sides,
    never an error."""
    rnd = random.Random(31)
    rows = [(i,
             [rnd.uniform(-2, 2) for _ in range(16)],
             [rnd.uniform(-1, 1) for _ in range(16)])
            for i in range(60)]
    edge = [
        (100, [1e30] * 16, [1e30] * 16),
        (101, [1e-30] * 16, [1e-30] * 16),
        (102, [1.0] * 15, [1.0] * 16),          # ragged -> null
        (103, None, [1.0] * 16),                # null array -> null
        (104, [1.0] * 15 + [None], [1.0] * 16),  # null element -> null
        (105, [float("nan")] * 16, [1.0] * 16),  # NaN propagates
        (106, [0.5] * 8, [2.0] * 8),            # second length, valid
        (107, [0.0] * 16, [1.0] * 16),          # zero norm -> NaN
        (108, [], []),                          # empty -> 0/0 = NaN
    ]
    qv = rows[0][2]
    for data in (rows, rows + edge):
        df = spark.createDataFrame(
            data, "id long, a array<float>, b array<float>")
        ref = {r["id"]: r["c"] for r in
               df.select("id", sim.cosine(F.col("a"), F.col("b")).alias("c"))
               .collect()}
        # both column-vs-column and column-vs-constant modes
        got_cols = {r["id"]: r["cos_raw"] for r in
                    sim.cosine_rows_arrow(df, "a", "b").select(
                        "id", "cos_raw").collect()}
        ref_const = {r["id"]: r["c"] for r in
                     df.select("id", sim.cosine(
                         F.col("a"), sim._query_literal(qv)).alias("c"))
                     .collect()}
        got_const = {r["id"]: r["cos_raw"] for r in
                     sim.cosine_rows_arrow(df, "a", const_b=qv).select(
                         "id", "cos_raw").collect()}
        for want, got in ((ref, got_cols), (ref_const, got_const)):
            assert set(want) == set(got)
            for k in want:
                assert _bits(want[k]) == _bits(got[k]), (k, want[k], got[k])
    assert math.isnan(got_cols[107]) and math.isnan(got_cols[108])
