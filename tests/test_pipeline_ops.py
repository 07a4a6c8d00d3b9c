"""Training-data pipeline operators: dedup (exact/jaccard/minhash/simhash),
similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from perl_data_validate_sanctions_spark.operators.dedup import (
    exact_dedup,
    exact_duplicate_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_dup_pairs,
)
from perl_data_validate_sanctions_spark.operators.multimodal import (
    extract_image_features,
    resize_images,
    sample_frames,
)
from perl_data_validate_sanctions_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_ann_topk,
)
from perl_data_validate_sanctions_spark.operators.text import (
    bpe_token_estimate,
    fingerprint_md5,
    lang_id,
    quality_score,
    rolling_fingerprints,
    token_count,
)
from perl_data_validate_sanctions_spark.sources.synth import synth_images

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog in the field"),
    (1, "the quick brown fox jumps over the lazy dog in the field"),  # exact dup
    (2, "The  Quick Brown fox jumps over the lazy dog in the field"),  # norm dup
    (3, "the quick brown fox jumps over the lazy cat in the field"),  # near dup
    (4, "completely different words about spark catalyst optimizer plans"),
    (5, "der hund und die katze sind ein gutes team mit den anderen"),
    (6, "le chat et le chien sont les amis de la maison pour tous"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup(spark, docs):
    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 3  # 0, 1, and whitespace/case-normalized 2
    assert groups[0]["keeper_id"] == 0
    kept = exact_dedup(docs)
    assert kept.count() == 5
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == {0, 3, 4, 5, 6}


def test_jaccard_and_minhash_agree(spark, docs):
    uniq = exact_dedup(docs)
    exact_pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(uniq, threshold=0.5).collect()
    }
    assert (0, 3) in exact_pairs  # one-word-change near-dup
    lsh_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(uniq, threshold=0.5).collect()
    }
    # LSH candidates ⊆ exact pairs after verification, and the strong
    # near-dup must be recalled
    assert lsh_pairs <= exact_pairs
    assert (0, 3) in lsh_pairs


def test_simhash(spark, docs):
    sigs = {r["doc_id"]: r["s"] for r in
            docs.select("doc_id", simhash64("text").alias("s")).collect()}
    assert sigs[0] == sigs[1]  # identical text → identical signature
    from perl_data_validate_sanctions_spark.operators.dedup import hamming64
    d = docs.sparkSession.createDataFrame(
        [(sigs[0], sigs[3]), (sigs[0], sigs[4])], "a long, b long"
    ).select(hamming64(F.col("a"), F.col("b")).alias("h")).collect()
    assert d[0]["h"] < d[1]["h"]  # near-dup closer than unrelated
    pairs = {(r["id_a"], r["id_b"])
             for r in simhash_near_dup_pairs(docs, max_hamming=16).collect()}
    assert (0, 1) in pairs


def test_simhash_blocking_is_exhaustive(spark, docs):
    """Pigeonhole blocking (n_blocks = max_hamming+1) must find EXACTLY
    the brute-force hamming≤k pair set — the round-1 single-prefix
    blocker missed pairs differing inside the prefix."""
    from perl_data_validate_sanctions_spark.operators.dedup import hamming64

    for max_h in (3, 8, 16):
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_dup_pairs(docs, max_hamming=max_h).collect()
        }
        sigs = docs.select("doc_id", simhash64("text").alias("s"))
        brute = {
            (r["id_a"], r["id_b"], r["h"])
            for r in (
                sigs.alias("a")
                .join(sigs.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
                .select(
                    F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"),
                    hamming64(F.col("a.s"), F.col("b.s")).alias("h"),
                )
                .filter(F.col("h") <= max_h)
            ).collect()
        }
        assert got == brute, f"max_hamming={max_h}"


def test_simhash_md5_variant_matches_duckdb(spark, docs):
    """The md5-60-bit simhash (the driver-gate oracle variant) must be
    bit-identical between Spark and DuckDB."""
    import duckdb

    from perl_data_validate_sanctions_spark.operators.dedup import md5_hash60

    pdf = docs.select("doc_id", "text").toPandas()
    spark_sigs = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id",
            simhash64("text", n_bits=60, token_hash=md5_hash60).alias("s"),
        ).collect()
    }
    hexparse = " + ".join(
        f"(strpos('0123456789abcdef', substr(m, {i + 1}, 1)) - 1) "
        f"* {16 ** (14 - i)}::BIGINT"
        for i in range(15)
    )
    sig_terms = " + ".join(
        f"CASE WHEN sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << j}::BIGINT ELSE 0::BIGINT END"
        for j in range(60)
    )
    con = duckdb.connect()
    con.register("docs", pdf)
    duck_sigs = dict(
        con.sql(
            f"""
            WITH tok AS (
              SELECT doc_id, unnest(list_filter(
                string_split_regex(lower(trim(text)), '\\s+'),
                t -> t <> '')) AS t FROM docs),
            hashed AS (SELECT doc_id, ({hexparse}) AS h
                       FROM (SELECT doc_id, md5(t) AS m FROM tok))
            SELECT doc_id, ({sig_terms}) FROM hashed GROUP BY doc_id
            """
        ).fetchall()
    )
    for doc_id, sig in duck_sigs.items():
        assert spark_sigs[doc_id] == sig, f"doc {doc_id}"


def test_text_analysis(spark, docs):
    rows = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            token_count("text").alias("tc"),
            lang_id("text").alias("lang"),
            quality_score("text").alias("q"),
            fingerprint_md5("text").alias("fp"),
            rolling_fingerprints("text").alias("rfp"),
        ).collect()
    }
    assert rows[0]["tc"] == 12
    assert rows[0]["lang"] == "en"
    assert rows[5]["lang"] == "de"
    assert rows[6]["lang"] == "fr"
    assert 0.0 <= rows[0]["q"] <= 1.0
    assert rows[0]["fp"] == rows[2]["fp"]  # normalized fingerprint
    assert rows[0]["rfp"] == rows[1]["rfp"]
    # winnowing sketches of near-dups share most hashes
    shared = set(rows[0]["rfp"]) & set(rows[3]["rfp"])
    assert len(shared) >= 4


def test_bpe_token_estimate(spark):
    """Hand-counted GPT-2 pretokens: "It's 42 dogs, isn't it?" →
    [It]['s][ 42][ dogs][,][ isn]['t][ it][?] = 9 matches (the space
    before each word folds into its pretoken; punctuation and digit
    runs stand alone)."""
    df = spark.createDataFrame(
        [("a", "It's 42 dogs, isn't it?"), ("b", ""), ("c", "   ")],
        "doc_id string, text string",
    )
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", bpe_token_estimate("text").alias("n")
        ).collect()
    }
    assert got == {"a": 9, "b": 0, "c": 1}


@pytest.fixture(scope="module")
def emb(spark):
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(7))
    vecs = rng.normal(size=(60, 16)).astype("float32")
    vecs[7] = vecs[3] + 0.001 * rng.normal(size=16).astype("float32")  # near-dup
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_brute_force_topk_and_lsh(spark, emb):
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(emb, queries, k=5)
    got = exact.collect()
    assert len(got) == 15
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        top = sorted(rs, key=lambda r: r["rank"])[0]
        assert top["vec_id"] == q and top["cosine"] == pytest.approx(1.0, abs=1e-5)

    ann = lsh_ann_topk(emb, queries, k=5, n_planes=4, dim=16).collect()
    # self-match always survives LSH (identical vector → identical bucket)
    self_hits = {r["query_id"] for r in ann if r["vec_id"] == r["query_id"]}
    assert self_hits == {0, 1, 2}


def test_ivf_indexed_partition_pruning(spark, emb, tmp_path_factory):
    """The written IVF index (partitioned by ivf_cluster) must (a) give
    identical results to the in-memory ivf_ann_topk at the same params
    and (b) show partition pruning in the physical plan — non-probed
    inverted lists never reach the scan."""
    from perl_data_validate_sanctions_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_ann_topk_indexed,
        train_ivf_centroids,
        write_ivf_index,
    )

    cents = train_ivf_centroids(emb, n_centroids=6, dim=16, iterations=1)
    path = str(tmp_path_factory.mktemp("ivf") / "index.parquet")
    write_ivf_index(emb, cents, path)

    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    mem = ivf_ann_topk(emb, queries, cents, k=5, n_probe=2)
    idx = ivf_ann_topk_indexed(spark, path, queries, cents, k=5, n_probe=2)
    mem_rows = {(r["query_id"], r["vec_id"], r["rank"]) for r in mem.collect()}
    idx_rows = {(r["query_id"], r["vec_id"], r["rank"]) for r in idx.collect()}
    assert mem_rows == idx_rows
    cos_m = {(r["query_id"], r["vec_id"]): r["cosine"] for r in mem.collect()}
    for r in idx.collect():
        assert cos_m[(r["query_id"], r["vec_id"])] == pytest.approx(
            r["cosine"], abs=1e-6
        )

    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cluster" in plan
    # pruning is real: fewer partition dirs scanned than exist on disk
    import os

    n_dirs = len([d for d in os.listdir(path) if d.startswith("ivf_cluster=")])
    assert n_dirs == 6


def test_embedding_near_dups(spark, emb):
    pairs = embedding_near_dup_pairs(emb, threshold=0.999, n_planes=6, dim=16)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (3, 7) in got


def test_multimodal_plumbing(spark):
    images = synth_images(spark, 300, num_partitions=2)
    feats = extract_image_features(images)
    rows = feats.collect()
    assert len(rows) == 300  # all payloads decodable
    r0 = rows[0]
    assert 100 < r0["mean_luma"] < 155 and r0["std_luma"] > 0
    thumbs = resize_images(images.limit(20), 32, 16).collect()
    assert all(len(t["thumb"]) == 32 * 16 for t in thumbs)
    frames = sample_frames(images.limit(10), every_n=4, n_frames=16).collect()
    assert len(frames) == 10 * 4  # 16 bands sampled every 4


def test_multimodal_real_format_rows(spark):
    """Real PNG and baseline-JPEG payloads flow through the feature /
    resize / frame-sample operators via the stdlib decodes; values
    check against the independently decoded pixels. A broken stream is
    skipped (the integrity check is where it gets flagged)."""
    import numpy as np

    from perl_data_validate_sanctions_spark.operators.multimodal import (
        extract_image_features,
        resize_images,
        sample_frames,
    )
    from perl_data_validate_sanctions_spark.sources import codec, jpeg, png

    w, h = 24, 16
    png_px = codec.render(1234, w, h)
    jpg_px = codec.render(5678, w, h)
    jpg_blob = jpeg.encode_jpeg_gray(jpg_px, quality=95)
    _, _, jpg_dec = jpeg.decode_jpeg_gray(jpg_blob)  # lossy: expect these
    bad = bytearray(png.encode_png_gray(png_px))
    bad[len(bad) // 2] ^= 0xFF
    rows = [
        ("real-png", bytearray(png.encode_png_gray(png_px)), w, h,
         "png", None, 0),
        ("real-jpg", bytearray(jpg_blob), w, h, "jpeg", None, 0),
        ("real-bad", bad, w, h, "png", None, 0),
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    feats = {r["image_id"]: r for r in extract_image_features(df).collect()}
    assert set(feats) == {"real-png", "real-jpg"}  # bad row skipped
    assert feats["real-png"]["fmt"] == "png"
    assert abs(feats["real-png"]["mean_luma"] - float(png_px.mean())) < 1e-9
    assert abs(feats["real-jpg"]["mean_luma"] - float(jpg_dec.mean())) < 1e-9
    thumbs = {r["image_id"]: r for r in resize_images(df, 8, 8).collect()}
    assert set(thumbs) == {"real-png", "real-jpg"}
    ys = (np.arange(8) * h // 8).clip(0, h - 1)
    xs = (np.arange(8) * w // 8).clip(0, w - 1)
    expect = png_px[ys[:, None], xs[None, :]].tobytes()
    assert bytes(thumbs["real-png"]["thumb"]) == expect
    frames = sample_frames(df, every_n=4, n_frames=16).collect()
    ids = {r["image_id"] for r in frames}
    assert ids == {"real-png", "real-jpg"}


def test_ivf_ann(spark, emb):
    from perl_data_validate_sanctions_spark.operators.similarity import (
        ivf_ann_topk,
        train_ivf_centroids,
    )

    centroids = train_ivf_centroids(emb, n_centroids=4, dim=16, iterations=2)
    assert len(centroids) == 4 and all(len(c) == 16 for c in centroids)
    # deterministic: retraining yields identical centroids
    again = train_ivf_centroids(emb, n_centroids=4, dim=16, iterations=2)
    assert centroids == again

    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # probing ALL buckets must reproduce exact brute-force results
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    full_probe = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_ann_topk(
            emb, queries, centroids, k=5, n_probe=4
        ).collect()
    }
    assert full_probe == exact
    # 1-probe search still finds each query's self-match at rank 1
    one_probe = ivf_ann_topk(emb, queries, centroids, k=5, n_probe=1)
    top1 = {r["query_id"]: r["vec_id"] for r in one_probe.collect()
            if r["rank"] == 1}
    assert top1 == {0: 0, 1: 1, 2: 2}


def _n_cache_entries(spark) -> int:
    """DataFrame-cache entries in the session CacheManager (private but
    stable API; the leak assertion the dedup operators are pinned on)."""
    return (
        spark._jsparkSession.sharedState().cacheManager().cachedData().size()
    )


def test_shared_shingle_cache_suite(spark, docs):
    """shingle_cache scopes ONE shingle build across both pair
    operators: results identical to standalone runs, and the
    CacheManager holds no extra entries once the context exits."""
    from perl_data_validate_sanctions_spark.operators.dedup import (
        shingle_cache,
    )

    uniq = exact_dedup(docs)
    standalone_nj = {(r["id_a"], r["id_b"], round(r["jaccard"], 6))
                     for r in ngram_jaccard_pairs(uniq, threshold=0.5).collect()}
    standalone_mh = {(r["id_a"], r["id_b"], round(r["jaccard"], 6))
                     for r in minhash_lsh_pairs(uniq, threshold=0.5).collect()}
    before = _n_cache_entries(spark)
    with shingle_cache(uniq, w=3) as sh:
        inside = _n_cache_entries(spark)
        nj = ngram_jaccard_pairs(uniq, threshold=0.5, shingles=sh)
        mh = minhash_lsh_pairs(uniq, threshold=0.5, shingles=sh)
    assert inside == before + 1
    assert _n_cache_entries(spark) == before
    # results were materialized under the cache and survive its release
    shared_nj = {(r["id_a"], r["id_b"], round(r["jaccard"], 6))
                 for r in nj.collect()}
    shared_mh = {(r["id_a"], r["id_b"], round(r["jaccard"], 6))
                 for r in mh.collect()}
    assert shared_nj == standalone_nj
    assert shared_mh == standalone_mh


def test_minhash_lazy_opt_out(spark, docs):
    """cache=False returns a fully lazy plan (no materialization inside
    the call, no cache entries created) with the same pair set."""
    uniq = exact_dedup(docs)
    before = _n_cache_entries(spark)
    lazy = minhash_lsh_pairs(uniq, threshold=0.5, cache=False)
    assert _n_cache_entries(spark) == before  # nothing cached or run yet
    eager = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(uniq, threshold=0.5).collect()}
    assert {(r["id_a"], r["id_b"]) for r in lazy.collect()} == eager
    assert _n_cache_entries(spark) == before


def _filter_conditions(df) -> list[str]:
    """The condition of every Filter in ``df``'s physical plan, before
    adaptive execution rewrites it."""
    out, stack = [], [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Filter":
            out.append(node.condition().toString())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def test_lazy_pair_plans_filter_without_the_tokenizer(spark, docs):
    """No Filter of a lazy (cache=False) pair plan evaluates the
    tokenizer. A plain explode of the shingle array makes Spark infer
    size(sh) > 0 and push it below the exchange, where the lazy shingle
    table inlines the whole split/transform chain into the condition."""
    uniq = exact_dedup(docs)
    for pairs in (ngram_jaccard_pairs(uniq, threshold=0.5, cache=False),
                  minhash_lsh_pairs(uniq, threshold=0.5, cache=False)):
        conds = _filter_conditions(pairs)
        assert conds  # the text IS NOT NULL filter at least
        for cond in conds:
            assert "transform(" not in cond and "split(" not in cond, cond


def test_phash_block_properties():
    """Pinned pHash laws (no Spark): deterministic, noise-robust
    (amp-16 variant stays within the near-dup band), discriminative
    (unrelated images land far apart), and dimension-robust (smaller-
    than-32 axes upsample by nearest-index without error)."""
    import numpy as np

    from perl_data_validate_sanctions_spark.operators.multimodal import (
        phash_block,
    )
    from perl_data_validate_sanctions_spark.sources import codec

    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    a = codec.render(4242, 64, 48)
    noise = codec.noise_batch(
        np.array([4242], dtype=np.uint64), 64 * 48, 16
    ).reshape(48, 64)
    b = np.clip(a.astype(np.int16) + noise, 0, 255).astype(np.uint8)
    c = codec.render(31337, 64, 48)
    ha, hb, hc = (int(v) for v in phash_block(np.stack([a, b, c])))
    assert int(phash_block(np.stack([a]))[0]) == ha  # deterministic
    assert ham(ha, hb) <= 6          # noisy variant is a near-dup
    assert ham(ha, hc) > 12          # unrelated image is far
    small = codec.render(7, 16, 12)  # upsample path
    assert isinstance(int(phash_block(small.reshape(1, 12, 16))[0]), int)


def test_phash_near_dups_through_spark(spark):
    """compute_phash + the shared pigeonhole hamming join find exactly
    the planted (clean, amp-16-noise) image pairs across payload kinds
    (synthetic and real PNG) and nothing across unrelated images."""
    import numpy as np

    from perl_data_validate_sanctions_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )
    from perl_data_validate_sanctions_spark.sources import codec, png

    rows = []
    planted = set()
    for i in range(6):
        seed = 6000 + 211 * i
        clean_id, noisy_id = f"pclean-{i}", f"pnoisy-{i}"
        planted.add(tuple(sorted((clean_id, noisy_id))))
        if i % 2 == 0:  # alternate payload kinds for the same pixels
            blob = f"PDVS1|png|64|48|{seed}|0".encode()
        else:
            blob = png.encode_png_gray(codec.render(seed, 64, 48))
        rows.append((clean_id, bytearray(blob)))
        rows.append((noisy_id,
                     bytearray(f"PDVS1|png|64|48|{seed}|16".encode())))
    for i in range(6):
        rows.append((f"pother-{i}",
                     bytearray(f"PDVS1|png|64|48|{77000 + 313 * i}|0".encode())))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    pairs = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in phash_near_dup_pairs(df, max_hamming=6).collect()
    }
    assert pairs == planted, pairs


def test_combo_blocking_matches_plain_pigeonhole(spark):
    """s=2 combination blocking (16-bit keys) returns EXACTLY the same
    pair set as the s=1 pigeonhole on random signatures — both are
    exhaustive, so any divergence is a bucketing bug."""
    import random

    from perl_data_validate_sanctions_spark.operators.dedup import (
        hamming_near_dup_pairs,
    )

    rng = random.Random(99)
    base = [rng.getrandbits(64) for _ in range(40)]
    sigs = list(base)
    for b in base[:15]:  # planted: flip 1-6 random bits
        v = b
        for _ in range(rng.randint(1, 6)):
            v ^= 1 << rng.randrange(64)
        sigs.append(v)

    def to_long(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    sig = spark.createDataFrame(
        [(f"s-{i:03d}", to_long(v)) for i, v in enumerate(sigs)],
        "id string, sig long",
    )
    pairs = lambda s: {  # noqa: E731
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_near_dup_pairs(sig, max_hamming=6, s=s).collect()
    }
    p1, p2 = pairs(1), pairs(2)
    assert p1 == p2 and len(p1) >= 10, (len(p1), len(p2))


def test_near_dup_groups_components(spark):
    """Connected components over near-dup pairs: chain, clique,
    separate pair, and non-paired ids excluded."""
    from perl_data_validate_sanctions_spark.operators.dedup import (
        near_dup_groups,
    )

    # components: {1,2,3,4} (a chain 1-2, 2-3, 3-4), {10,11,12} (a
    # triangle), {20,21}; 99 appears in no pair → absent from output
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a int, id_b int",
    )
    got = {r["id"]: r["group_id"] for r in near_dup_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_near_dup_groups_deep_chain_converges(spark):
    """A path graph of length 12 needs ~diameter rounds — converges
    and labels every vertex with the path head."""
    from perl_data_validate_sanctions_spark.operators.dedup import (
        near_dup_groups,
    )

    n = 13
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a int, id_b int"
    )
    got = {r["id"]: r["group_id"] for r in near_dup_groups(pairs).collect()}
    assert got == {i: 0 for i in range(n)}
    # and the max_iter guard raises instead of returning partial labels
    import pytest as _pytest

    with _pytest.raises(ValueError, match="did not converge"):
        near_dup_groups(pairs, max_iter=2)


def test_near_dup_groups_composes_with_jaccard(spark, docs):
    """End-to-end: jaccard pairs → groups; survivors via id==group."""
    from perl_data_validate_sanctions_spark.operators.dedup import (
        near_dup_groups,
    )

    uniq = exact_dedup(docs)
    pairs = ngram_jaccard_pairs(uniq, threshold=0.5)
    groups = near_dup_groups(pairs)
    got = {r["id"]: r["group_id"] for r in groups.collect()}
    # the (0, 3) near-dup pair forms one group keyed by min id 0
    assert got[0] == 0 and got[3] == 0
