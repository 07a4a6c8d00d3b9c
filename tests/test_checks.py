"""Checks layer: stats, uniqueness (salted), referential, drift, integrity,
schema, plus the statistics math."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from perl_data_validate_sanctions_spark.checks import (
    column_quantiles,
    column_stats,
    drift_check,
    duplicate_keys,
    integrity_violations,
    referential_violations,
    schema_violations,
    uniqueness_violations,
)
from perl_data_validate_sanctions_spark.checks._stat_math import (
    chi2_sf,
    gammainc_q,
    ks_pvalue,
)
from perl_data_validate_sanctions_spark.sources import codec
from perl_data_validate_sanctions_spark.sources.synth import (
    DRIFT_PARTS,
    HOT_PHASH,
    PLACES,
    expected_caption,
    logical_partition,
    synth_images,
)

N = 20_000


@pytest.fixture(scope="module")
def images(spark):
    df = synth_images(spark, N, num_partitions=8).cache()
    df.count()
    return df


def test_stat_math_reference_values():
    # chi2 sf pinned against published table values
    assert chi2_sf(3.841, 1) == pytest.approx(0.05, abs=2e-4)
    assert chi2_sf(5.991, 2) == pytest.approx(0.05, abs=2e-4)
    assert chi2_sf(0.0, 3) == 1.0
    assert gammainc_q(1.0, 0.0) == 1.0
    # Kolmogorov: Q(1.36) ≈ 0.049 (classic alpha=.05 critical value)
    assert ks_pvalue(1.358) == pytest.approx(0.05, abs=2e-3)
    assert ks_pvalue(0.0) == 1.0


def test_codec_roundtrip_and_psnr():
    iid = "img-000000000042"
    ref = codec.decode_reference(iid, 64, 48)
    assert ref.shape == (48, 64)
    seed = codec.ref_seed_py(iid)
    clean = f"PDVS1|png|64|48|{seed}|0".encode()
    lossy = f"PDVS1|jpeg|64|48|{seed}|1".encode()
    corrupt = f"PDVS1|png|64|48|{seed + 7777777}|0".encode()
    _, _, _, px = codec.decode(clean)
    assert codec.psnr(px, ref) == float("inf")
    _, _, _, px = codec.decode(lossy)
    assert 40.0 <= codec.psnr(px, ref) < 60.0
    _, _, _, px = codec.decode(corrupt)
    assert codec.psnr(px, ref) < 15.0
    # mid-band noise decodes fine but fails the 40 dB gate — the
    # threshold discriminates, not just separates extremes
    midband = f"PDVS1|jpeg|64|48|{seed}|{codec.MIDBAND_NOISE_AMP}".encode()
    _, _, _, px = codec.decode(midband)
    assert 30.0 < codec.psnr(px, ref) < 40.0
    with pytest.raises(ValueError):
        codec.decode(b"JUNKJUNKJUNK")


def test_codec_batch_matches_single():
    """render_batch / render_batch_at / noise_batch agree with decode()."""
    import numpy as np

    seeds = np.array([codec.ref_seed_py(f"img-{i:012d}") for i in range(5)],
                     dtype=np.uint64)
    full = codec.render_batch(seeds, 300)
    for i in range(5):
        single = codec.render(int(seeds[i]), 20, 15).ravel()
        assert (full[i] == single).all()
    idx = np.array([0, 1, 7, 8, 77, 299], dtype=np.uint64)
    assert (codec.render_batch_at(seeds, idx) == full[:, idx]).all()
    noise = codec.noise_batch(seeds, 300, 1)
    assert (codec.noise_batch_at(seeds, idx, 1) == noise[:, idx]).all()
    assert set(np.unique(noise)) <= {-1, 0, 1}
    # aligned-run sampling: word w covers pixels [8w, 8w+8)
    runs = np.array([0, 3, 36], dtype=np.uint64)
    px_cols = np.concatenate(
        [np.arange(8 * int(w), 8 * int(w) + 8) for w in runs]
    )
    assert (codec.render_batch_runs(seeds, runs) == full[:, px_cols]).all()
    assert (codec.noise_batch_runs(seeds, runs, 1) == noise[:, px_cols]).all()


def test_column_stats(spark, images):
    stats = {r["column"]: r for r in column_stats(images).collect()}
    assert set(stats) == {"image_id", "w", "h", "fmt", "caption", "phash"}
    cap = stats["caption"]
    assert cap["n_rows"] == N
    assert 0.005 < cap["null_fraction"] < 0.02  # ~1% planted nulls
    assert stats["image_id"]["n_nulls"] == 0
    w = stats["w"]
    assert int(w["min"]) >= 320 and int(w["max"]) <= 1024
    # HLL estimate of fmt distinct ≈ 3
    assert 2 <= stats["fmt"]["n_distinct"] <= 4


def test_uniqueness_image_id(spark, images):
    dups = duplicate_keys(images, "image_id").collect()
    # every dup_mod-th row duplicates its predecessor → N/1000 dup keys
    assert len(dups) == N // 1000
    assert all(r["n_occurrences"] == 2 for r in dups)
    v = uniqueness_violations(
        images, "image_id", partition_expr=logical_partition("image_id")
    )
    assert v.count() == 2 * (N // 1000)


def test_uniqueness_phash_hot_key(spark, images):
    dups = {r["key"]: r["n_occurrences"] for r in
            duplicate_keys(images, "phash").collect()}
    assert HOT_PHASH in dups
    assert dups[HOT_PHASH] > 50  # ~0.5% of N land on the hot key


def test_referential(spark, images):
    dim = spark.createDataFrame([(p,) for p in PLACES], "key string")
    v = referential_violations(
        images,
        F.when(F.regexp_extract("caption", r" in (\p{L}+)$", 1) != "",
               F.regexp_extract("caption", r" in (\p{L}+)$", 1)),
        dim,
        partition_expr=logical_partition("image_id"),
    )
    rows = v.collect()
    # only corrupted captions break the ' in <Place>' tail ⇒ tiny count,
    # and every flagged key is indeed outside the dimension
    assert all(r["check"] == "referential" for r in rows)
    for r in rows:
        assert r["detail"].startswith("dangling key: ")
        assert r["detail"].removeprefix("dangling key: ") not in PLACES


def test_drift_ks_and_chi2(spark, images):
    part = logical_partition("image_id")
    ks = drift_check(images, "w", part, kind="ks").collect()
    drifted = {r["partition_id"] for r in ks if r["drifted"]}
    assert drifted == set(DRIFT_PARTS), f"KS drift parts: {drifted}"
    chi = drift_check(images, "fmt", part, kind="chi2").collect()
    drifted_c = {r["partition_id"] for r in chi if r["drifted"]}
    assert drifted_c == set(DRIFT_PARTS), f"chi2 drift parts: {drifted_c}"
    # sane p-values on non-drifted partitions
    for r in ks:
        if r["partition_id"] not in DRIFT_PARTS:
            assert r["p_value"] > 1e-6


def test_integrity(spark, images):
    v = integrity_violations(
        images, logical_partition("image_id"), expected_caption("image_id")
    ).collect()
    psnr_bad = [r for r in v if "psnr" in r["detail"]]
    cap_bad = [r for r in v if "caption mismatch" in r["detail"]]
    # ~0.1% corrupted payloads, ~0.15% corrupted captions planted
    assert 0.0002 * N < len(psnr_bad) < 0.004 * N
    assert 0.0003 * N < len(cap_bad) < 0.005 * N
    # PSNR failures are real: recheck one in pure python
    row = images.filter(F.col("image_id") == psnr_bad[0]["image_id"]).first()
    _, _, _, px = codec.decode(row["bytes"])
    ref = codec.decode_reference(row["image_id"], row["w"], row["h"])
    assert codec.psnr(px, ref) < 40.0


def test_integrity_sampled_mode_matches_exact(spark, images):
    """pixel_sample + escalation finds the same violations as exact mode
    (violations are always confirmed full-pixel; see integrity.py)."""
    exact = integrity_violations(
        images, logical_partition("image_id"), expected_caption("image_id")
    ).collect()
    sampled = integrity_violations(
        images, logical_partition("image_id"), expected_caption("image_id"),
        pixel_sample=2048,
    ).collect()
    key = lambda r: (r["image_id"], r["column"], r["detail"])  # noqa: E731
    assert sorted(map(key, exact)) == sorted(map(key, sampled))


def test_integrity_flags_midband_lossy(spark, monkeypatch):
    """A lossy payload with PSNR in (30, 40) dB decodes fine but must be
    rejected by the 40 dB gate — and pass a 30 dB gate. A noise amp
    outside [0, 127] is an undecodable header, with the C kernel on and
    off (the two MSE paths only agree inside that range)."""
    iid = "img-midband-000001"
    seed = codec.ref_seed_py(iid)
    payload = f"PDVS1|jpeg|16|12|{seed}|{codec.MIDBAND_NOISE_AMP}".encode()
    df = spark.createDataFrame(
        [(iid, bytearray(payload), 16, 12, "jpeg", "a photo", 1)],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    v40 = integrity_violations(
        df, logical_partition("image_id"), F.lit("a photo")
    ).collect()
    assert len(v40) == 1 and "psnr" in v40[0]["detail"]
    v30 = integrity_violations(
        df, logical_partition("image_id"), F.lit("a photo"),
        psnr_threshold=30.0,
    ).collect()
    assert v30 == []

    amps = (-1, 128, 300)
    bad = [(f"img-badamp-{amp}", bytearray(f"PDVS1|jpeg|16|12|{seed}|{amp}".encode()),
            16, 12, "jpeg", "a photo", 1) for amp in amps]
    bad_df = spark.createDataFrame(bad, df.schema)

    def verdicts():
        return {r["image_id"]: r["detail"] for r in integrity_violations(
            bad_df, logical_partition("image_id"), F.lit("a photo")).collect()}

    on = verdicts()
    assert on == {f"img-badamp-{amp}": f"undecodable payload: noise amp {amp} "
                  "outside [0, 127]" for amp in amps}
    # Python workers get their environment from the SparkContext, not
    # from this process's os.environ
    monkeypatch.setitem(spark.sparkContext.environment, "PDVS_MSE_C", "0")
    assert verdicts() == on


def test_schema_violations_clean_and_dirty(spark, images):
    assert schema_violations(images).count() == 0
    dirty = images.limit(10).withColumn(
        "fmt", F.lit("bmp")
    ).unionByName(images.limit(5).withColumn("w", F.lit(-1).cast("int")))
    v = schema_violations(dirty).collect()
    assert sum(1 for r in v if r["column"] == "fmt") == 10
    assert sum(1 for r in v if r["column"] == "w") == 5
    assert len(v) == 15


def test_drift_chi2_single_partition_degenerate(spark):
    """When one partition IS the whole table, the rest-of-table holdout
    is empty: every observed count sits on a zero-expected category, so
    the statistic is the capped penalty (n · 1e6) with dof 0 → p = 1.0,
    drifted False. Pinned so the contract is chosen, not accidental
    (chi2_from_counts returns (stat, 1.0, 0) when the mask is empty)."""
    df = spark.createDataFrame(
        [("a",)] * 7 + [("b",)] * 3, "v string"
    )
    res = drift_check(df, "v", F.lit(0), kind="chi2").collect()
    assert len(res) == 1
    r = res[0]
    assert r["n"] == 10
    assert r["statistic"] == pytest.approx(10 * 1e6)
    assert r["p_value"] == 1.0
    assert r["drifted"] is False


def test_integrity_codec_unavailable_reason(spark):
    """A recognized real-image container with no bundled decoder (webp,
    gif, bmp, tiff) gets the DISTINCT codec_unavailable reason — not the
    generic undecodable-payload corruption detail (VERDICT r5 #4: the
    payload may be perfectly valid; triage must be able to separate
    missing-codec from bad data)."""
    webp = b"RIFF" + (1000).to_bytes(4, "little") + b"WEBPVP8 " + b"\x00" * 16
    gif = b"GIF89a" + b"\x00" * 20
    tiff = b"II*\x00" + b"\x00" * 20
    junk = b"not an image at all"
    rows = [
        ("img-webp-000001", bytearray(webp), 64, 48, "webp", "a photo", 1),
        ("img-gif-0000002", bytearray(gif), 64, 48, "webp", "a photo", 2),
        ("img-tiff-000003", bytearray(tiff), 64, 48, "webp", "a photo", 3),
        ("img-junk-000004", bytearray(junk), 64, 48, "webp", "a photo", 4),
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    v = {
        r["image_id"]: r["detail"]
        for r in integrity_violations(
            df, logical_partition("image_id"), F.lit("a photo")
        ).collect()
    }
    from perl_data_validate_sanctions_spark.sources import webp_sys

    if webp_sys.available():
        # with the system libwebp loadable, the garbage VP8 chunk is
        # actually examined — a decoder verdict, not a missing codec
        assert v["img-webp-000001"].startswith("undecodable payload")
    else:  # pragma: no cover - container ships libwebp7
        assert v["img-webp-000001"].startswith(
            "codec_unavailable: recognized webp"
        )
    assert v["img-gif-0000002"].startswith("codec_unavailable: recognized gif")
    assert v["img-tiff-000003"].startswith(
        "codec_unavailable: recognized tiff"
    )
    # arbitrary junk stays a corruption-class detail, NOT codec_unavailable
    assert v["img-junk-000004"].startswith("undecodable payload")


def test_drift_psi_flags_shifted_partition(spark):
    """PSI flags the partition whose value mix departs from the
    rest-of-table holdout, stays quiet on the stable ones, carries a
    NULL p_value (a divergence, not a test), and matches the numpy
    recomputation of its own definition exactly."""
    import math

    from perl_data_validate_sanctions_spark.checks.drift import (
        _PSI_EPS,
        drift_check,
    )

    rows = []
    for pid in range(3):  # stable partitions: 60/40 a/b
        rows += [(pid, "a")] * 60 + [(pid, "b")] * 40
    rows += [(3, "a")] * 5 + [(3, "b")] * 95  # shifted partition
    df = spark.createDataFrame(rows, "pid int, v string")
    res = {r["partition_id"]: r
           for r in drift_check(df, "v", F.col("pid"), kind="psi").collect()}
    assert {p for p, r in res.items() if r["drifted"]} == {3}
    for r in res.values():
        assert r["kind"] == "psi" and r["p_value"] is None
        assert r["n"] == 100

    # exact-value pin for the shifted partition vs the definition
    own = {"a": 5.0, "b": 95.0}
    rest = {"a": 60.0 * 3, "b": 40.0 * 3}
    psi = 0.0
    for v in ("a", "b"):
        p = max(own[v] / 100.0, _PSI_EPS)
        q = max(rest[v] / 300.0, _PSI_EPS)
        psi += (p - q) * math.log(p / q)
    assert res[3]["statistic"] == pytest.approx(psi, rel=1e-12)


def test_drift_psi_single_partition_degenerate(spark):
    """One partition = whole table → empty holdout: every rest
    proportion floors at eps, so PSI is large and the partition flags —
    the 'this holdout is meaningless' signal, division-free under ANSI
    (pinned like the chi2 degenerate case above)."""
    df = spark.createDataFrame([("a",)] * 7 + [("b",)] * 3, "v string")
    res = drift_check(df, "v", F.lit(0), kind="psi").collect()
    assert len(res) == 1
    r = res[0]
    assert r["n"] == 10 and r["drifted"] and r["statistic"] > 5.0


def test_drift_holdout_counts_absent_values_as_zero(spark):
    """A value present in one partition only reaches every other
    partition's chi-square and PSI as an own count of 0, and a
    partition whose column is all null gets no row. Hand-computed."""
    import math

    from perl_data_validate_sanctions_spark.checks._stat_math import chi2_sf
    from perl_data_validate_sanctions_spark.checks.drift import _PSI_EPS

    rows = ([(0, "a")] * 6 + [(0, "b")] * 4 + [(1, "a")] * 5 + [(1, "b")] * 5
            + [(2, "a")] * 3 + [(2, "b")] * 3 + [(2, "c")] * 4 + [(3, None)] * 5)
    df = spark.createDataFrame(rows, "pid int, v string")
    chi = {r["partition_id"]: r
           for r in drift_check(df, "v", F.col("pid"), kind="chi2").collect()}
    psi = {r["partition_id"]: r
           for r in drift_check(df, "v", F.col("pid"), kind="psi").collect()}
    assert set(chi) == set(psi) == {0, 1, 2}
    assert [chi[p]["n"] for p in (0, 1, 2)] == [10, 10, 10]
    # partition 0: own (a, b, c) = (6, 4, 0), rest = (8, 8, 4) → expected
    # proportions (0.4, 0.4, 0.2) → expected counts (4, 4, 2)
    stat = (6 - 4) ** 2 / 4 + (4 - 4) ** 2 / 4 + (0 - 2) ** 2 / 2
    assert chi[0]["statistic"] == pytest.approx(stat, rel=1e-12)
    assert chi[0]["p_value"] == pytest.approx(chi2_sf(stat, 2), rel=1e-12)
    own, rest = (0.6, 0.4, 0.0), (0.4, 0.4, 0.2)
    want = 0.0
    for o, q in zip(own, rest):
        o, q = max(o, _PSI_EPS), max(q, _PSI_EPS)
        want += (o - q) * math.log(o / q)
    assert psi[0]["statistic"] == pytest.approx(want, rel=1e-12)


def test_drift_fused_specs_match_single_spec_calls(spark):
    """One drift_from_hist call over several (column, kind) specs gives,
    per spec, exactly the rows of a call with that spec alone."""
    from perl_data_validate_sanctions_spark.checks.drift import drift_from_hist

    hist = spark.createDataFrame(
        [(0, "a", 1, 7), (0, "b", 2, 3), (1, "a", 1, 2), (1, "b", 3, 9),
         (2, "c", None, 4), (2, "a", None, 1)],
        "partition_id int, v string, u int, n long",
    )
    specs = [("v", "chi2"), ("v", "psi"), ("u", "ks")]

    def key(r):
        return r["column"], r["kind"], r["partition_id"]

    fused = sorted(drift_from_hist(hist, specs).collect(), key=key)
    alone = sorted((r for spec in specs
                    for r in drift_from_hist(hist, [spec]).collect()), key=key)
    assert fused == alone
    # partition 2 holds no u value, so KS has no row for it
    assert {r["partition_id"] for r in fused if r["column"] == "u"} == {0, 1}


def test_column_quantiles_exact_and_approx(spark):
    """exact=True matches numpy's linear interpolation (the
    quantile_cont definition the oracle uses); the default mergeable
    percentile_approx sketch lands on a neighboring data value."""
    import numpy as np

    vals = [float(i) for i in range(100)]
    df = spark.createDataFrame([(v, 2.0 * v) for v in vals], "x double, y double")
    exact = {
        (r["column"], r["p"]): r["value"]
        for r in column_quantiles(df, ["x", "y"], exact=True).collect()
    }
    for c, mult in (("x", 1.0), ("y", 2.0)):
        for p in (0.5, 0.95, 0.99):
            want = float(np.percentile(np.array(vals) * mult, p * 100))
            assert exact[(c, p)] == pytest.approx(want, rel=1e-12)
    approx = {
        (r["column"], r["p"]): r["value"]
        for r in column_quantiles(df, ["x"], exact=False).collect()
    }
    for p in (0.5, 0.95, 0.99):
        assert abs(approx[("x", p)] - exact[("x", p)]) <= 1.5

    with pytest.raises(ValueError):
        column_quantiles(df, [])


def test_phash_column_violations(spark):
    """The phash-column check flags only rows whose stored hash differs
    from the recomputed one beyond the band; an undecodable payload is
    SKIPPED (integrity flags those), never double-reported."""
    import numpy as np

    from perl_data_validate_sanctions_spark.checks import (
        phash_column_violations,
    )
    from perl_data_validate_sanctions_spark.operators.multimodal import (
        phash_block,
    )

    def correct_hash(seed):
        return int(phash_block(
            codec.render(seed, 64, 48).reshape(1, 48, 64))[0])

    rows = [
        (f"phc-ok-{i}", bytearray(f"PDVS1|png|64|48|{5000 + i}|0".encode()),
         correct_hash(5000 + i))
        for i in range(4)
    ]
    rows.append(("phc-bad-1",
                 bytearray(b"PDVS1|png|64|48|6000|0"),
                 correct_hash(6000) ^ (1 << 5)))
    rows.append(("phc-undec",
                 bytearray(b"not an image"),
                 12345))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, phash long"
    )
    v = phash_column_violations(df, F.lit(0)).collect()
    assert {r["image_id"] for r in v} == {"phc-bad-1"}
    assert v[0]["detail"] == "stored phash differs from recomputed by 1 bits"
    # a one-bit tolerance band clears it
    assert phash_column_violations(df, F.lit(0), max_hamming=1).count() == 0


def test_embedding_drift_check(spark):
    """The mean-embedding cosine screen flags a partition whose vectors
    point AWAY from the corpus (planted: negated embeddings ⇒ cosine vs
    the rest ≈ -1) and passes partitions drawn from the same
    distribution; p_value is NULL (a banded divergence, like PSI)."""
    import numpy as np

    from perl_data_validate_sanctions_spark.checks.drift import (
        embedding_drift_check,
    )

    rng = np.random.default_rng(17)
    base = rng.normal(1.0, 0.05, size=(90, 8))  # strongly aligned corpus
    rows = []
    for i, v in enumerate(base):
        pid = i % 3  # partitions 0-2: same distribution
        rows.append((pid, [float(x) for x in v]))
    for i in range(30):  # partition 3: negated ⇒ centroid flipped
        rows.append((3, [float(-x) for x in base[i]]))
    df = spark.createDataFrame(rows, "pid int, embedding array<float>")
    res = {r["partition_id"]: r for r in embedding_drift_check(
        df, "embedding", F.col("pid")).collect()}
    assert {p for p, r in res.items() if r["drifted"]} == {3}
    assert res[3]["statistic"] < -0.9
    for p in (0, 1, 2):
        assert res[p]["statistic"] > 0.9
        assert res[p]["p_value"] is None
        assert res[p]["kind"] == "embedding_cosine"
    assert res[3]["n"] == 30 and res[0]["n"] == 30
