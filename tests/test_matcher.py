"""Golden verdict tests ported from the reference suite
(t/03_oo.t:98-190, t/01_basic.t:14-57, t/05_sanctions_redis.t:499-537).

Every expected verdict below is the reference's literal expected output
for the same probe against the same entry fixtures.
"""

from __future__ import annotations

import calendar

import pytest
from pyspark.sql import functions as F

from perl_data_validate_sanctions_spark.operators.matcher import (
    ProbeIndex,
    build_name_dim,
    build_token_index,
    match_captions,
    match_probes,
)
from perl_data_validate_sanctions_spark.operators.matcher_arrow import (
    match_captions_arrow,
)
from perl_data_validate_sanctions_spark.sources.synth import (
    synth_entries,
    synth_images,
    synth_probes,
)


def _epoch(y, m, d):
    return calendar.timegm((y, m, d, 0, 0, 0))


@pytest.fixture(scope="module")
def verdicts(spark):
    out = match_probes(synth_probes(spark), synth_entries(spark, n_extra=50))
    rows = out.select("probe_id", "verdict").collect()
    return {r["probe_id"]: r["verdict"] for r in rows}


def _args(verdict):
    """matched_args with nulls dropped — the reference's sparse hashref."""
    if verdict["matched_args"] is None:
        return None
    return {k: v for k, v in verdict["matched_args"].asDict().items() if v is not None}


def test_neverov_epoch_match(verdicts):
    v = verdicts["neverov_dob"]
    assert v["matched"] == 1
    assert v["list"] == "EU-Sanctions"
    assert _args(v) == {
        "name": "Sergei Ivanovich Neverov",
        "dob_epoch": -253411200,
    }


def test_neverov_no_dob_matches_on_name(verdicts):
    # t/01_basic.t:15 — no date_of_birth ⇒ name+fields alone match
    v = verdicts["neverov_nodob"]
    assert v["matched"] == 1
    assert _args(v) == {"name": "Sergei Ivanovich Neverov"}


def test_neverov_wrong_dob_no_match(verdicts):
    # t/01_basic.t:16 — wrong DOB ⇒ {matched: 0} (entry has epoch+year,
    # so no dob_text fallback)
    v = verdicts["neverov_wrongdob"]
    assert v["matched"] == 0
    assert v["list"] is None and v["matched_args"] is None


def test_good_guy(verdicts):
    assert verdicts["chris"]["matched"] == 0


def test_zaki_no_dob(verdicts):
    # t/03_oo.t:95 "searched without dob"
    assert verdicts["zaki_nodob"]["matched"] == 1


def test_zaki_year_golden_struct(verdicts):
    # t/03_oo.t:98-108 verbatim golden
    v = verdicts["zaki_year"]
    assert v["matched"] == 1
    assert v["list"] == "EU-Sanctions"
    assert v["comment"] is None
    assert _args(v) == {"name": "Zaki Izzat Zaki AHMAD", "dob_year": 1999}


def test_single_word_entity(verdicts):
    # t/03_oo.t:96 / xt/20_update.t:65 — one-word name in sanction list
    v = verdicts["atom"]
    assert v["matched"] == 1
    assert _args(v) == {"name": "Atom", "dob_year": 1999}


def test_dob_text_fallback_with_comment(verdicts):
    # t/03_oo.t:120-127 verbatim golden
    v = verdicts["trump_dobtext"]
    assert v["matched"] == 1
    assert v["list"] == "OFAC-SDN"
    assert v["comment"] == "dob raw text: circa-1951"
    assert _args(v) == {"name": "Donald Trump"}


def test_optional_fields_empty_entry_side_ignored(verdicts):
    # t/03_oo.t:129-136 — entry has all optional fields, probe gives none
    # except dob → matched on name via dob_text/no-dob-entry fallback…
    # actually Bandit Outlaw has NO dob fields at all ⇒ fallback tier.
    v = verdicts["bandit_plain"]
    assert v["matched"] == 1
    assert v["comment"] is None  # no dob_text on the entry
    assert _args(v) == {"name": "Bandit Outlaw"}


def test_all_optional_fields_matched(verdicts):
    # t/03_oo.t:150-166 verbatim golden
    v = verdicts["bandit_full"]
    assert v["matched"] == 1
    assert _args(v) == {
        "name": "Bandit Outlaw",
        "place_of_birth": "ir",
        "residence": "fr",
        "nationality": "de",
        "citizen": "ru",
        "postal_code": "123321",
        "national_id": "321123",
        "passport_no": "asdffdsa",
    }


def test_single_wrong_field_kills_match(verdicts):
    # t/03_oo.t:168-171 matrix (residence case)
    assert verdicts["bandit_wrong_field"]["matched"] == 0


def test_abu_epoch(verdicts):
    # t/03_oo.t:16-19
    v = verdicts["abu_epoch"]
    assert v["matched"] == 1
    a = _args(v)
    assert a["dob_epoch"] == -306028800
    assert "ABU" in a["name"].upper() and "USAMA" in a["name"].upper()


def test_dob_epoch_zero_is_valid(verdicts):
    # Fetcher.pm:246 / Sanctions.pm:280 — epoch 0 must match 1970-01-01
    v = verdicts["majid_epoch0"]
    assert v["matched"] == 1
    assert _args(v)["dob_epoch"] == 0


def test_noise_probe_no_match(verdicts):
    assert verdicts["ewaz_noise"]["matched"] == 0


def test_field_mismatch_matrix(spark):
    """t/03_oo.t:168-190 — each of the 7 optional fields wrong ⇒ mismatch;
    each absent ⇒ ignored."""
    from perl_data_validate_sanctions_spark.schema import (
        OPTIONAL_MATCH_FIELDS,
        PROBE_SCHEMA,
    )

    base = dict(
        probe_id="x", first_name="Bandit", last_name="Outlaw",
        date_of_birth=None, place_of_birth="Iran", residence="France",
        nationality="Germany", citizen="Russia", postal_code="123321",
        national_id="321123", passport_no="asdffdsa",
    )
    wrong_value = {f: ("Israel" if f in ("place_of_birth", "residence",
                                         "nationality", "citizen") else "WRONG")
                   for f in OPTIONAL_MATCH_FIELDS}
    rows = []
    for f in OPTIONAL_MATCH_FIELDS:
        rows.append({**base, "probe_id": f"wrong_{f}", f: wrong_value[f]})
        rows.append({**base, "probe_id": f"absent_{f}", f: None})
    cols = PROBE_SCHEMA.fieldNames()
    df = spark.createDataFrame([tuple(r[c] for c in cols) for r in rows], PROBE_SCHEMA)
    out = match_probes(df, synth_entries(spark, n_extra=0))
    got = {r["probe_id"]: r["verdict"] for r in out.collect()}
    for f in OPTIONAL_MATCH_FIELDS:
        assert got[f"wrong_{f}"]["matched"] == 0, f"wrong {f} must kill the match"
        v = got[f"absent_{f}"]
        assert v["matched"] == 1, f"absent {f} must be ignored"
        expect = {
            "name": "Bandit Outlaw",
            "place_of_birth": "ir", "residence": "fr", "nationality": "de",
            "citizen": "ru", "postal_code": "123321",
            "national_id": "321123", "passport_no": "asdffdsa",
        }
        expect.pop(f)
        assert _args(v) == expect


def _probe_rows(spark, *probes):
    """A probe table from (probe_id, first_name, last_name) triples."""
    from perl_data_validate_sanctions_spark.schema import PROBE_SCHEMA

    cols = PROBE_SCHEMA.fieldNames()
    rows = []
    for pid, first, last in probes:
        row = {c: None for c in cols}
        row.update(probe_id=pid, first_name=first, last_name=last)
        rows.append(tuple(row[c] for c in cols))
    return spark.createDataFrame(rows, PROBE_SCHEMA)


def test_match_probes_one_verdict_per_row(spark):
    """The reference verdicts per call, so each probe ROW gets its own
    verdict: rows sharing a probe_id never take each other's, identical
    rows both come out, and a row with no name token is one miss."""
    from collections import Counter

    probes = _probe_rows(
        spark,
        ("shared", "Nora", "Quinn"),
        ("shared", "Bandit", "Outlaw"),
        ("twin", "Hamza", None),
        ("twin", "Hamza", None),
        ("digits", "123", None),
    )
    out = match_probes(probes, synth_entries(spark, n_extra=0))
    got = Counter(
        (r["probe_id"], r["first_name"], r["verdict"]["matched"], r["verdict"]["list"])
        for r in out.collect()
    )
    assert got == Counter([
        ("shared", "Nora", 0, None),
        ("shared", "Bandit", 1, "OFAC-Consolidated"),
        ("twin", "Hamza", 1, "UNSC-Sanctions"),
        ("twin", "Hamza", 1, "UNSC-Sanctions"),
        ("digits", "123", 0, None),
    ])


def test_probe_plan_shape(spark, tmp_path):
    """Pre-AQE physical plan of one screening against a prepared index:
    the probe side joins the broadcast index and is aggregated once —
    no sort-merge join back to the probe table, one hash exchange, and
    no rescan of the snapshot the index was built from."""
    path = str(tmp_path / "entries.parquet")
    synth_entries(spark, n_extra=0).write.parquet(path)
    table = build_token_index(build_name_dim(spark.read.parquet(path)))
    index = ProbeIndex(table.localCheckpoint(eager=True))
    out = match_probes(_probe_rows(spark, ("p", "Bandit", "Outlaw")), index)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert "FileScan" not in plan, plan
    assert out.collect()[0]["verdict"]["list"] == "OFAC-Consolidated"


def test_caption_match_native_and_arrow_agree(spark):
    # dup_mod=200 plants duplicate image_ids (every 200th physical row
    # clones the previous id): the pinned contract is ONE verdict row
    # per matched PHYSICAL row, so both paths must agree as multisets,
    # duplicates included (the round-2 native/arrow divergence)
    images = synth_images(spark, 4000, num_partitions=4, dup_mod=200)
    entries = synth_entries(spark, n_extra=20)
    native = sorted(
        (r["image_id"], r["list"], r["matched_name"])
        for r in match_captions(images, entries).collect()
    )
    arrow = sorted(
        (r["image_id"], r["list"], r["matched_name"])
        for r in match_captions_arrow(images, entries).collect()
    )
    assert native == arrow
    assert len(native) > 0  # personas are planted in ~2% of captions
    # spot-check: every match's name tokens appear in its caption
    by_id = dict((iid, (lst, name)) for iid, lst, name in native)
    sample = images.filter(
        F.col("image_id").isin(*list(by_id.keys())[:20])
    ).collect()
    caps = {r["image_id"]: r["caption"] for r in sample}
    for iid, (_, name) in list(by_id.items())[:20]:
        if iid in caps and caps[iid]:
            first_tok = name.split()[0].upper()
            assert first_tok in caps[iid].upper()


def test_caption_matchers_share_one_dim_collect(spark, monkeypatch):
    """Both caption matchers, called in turn on one entries frame, read
    the dimension through one snapshot: it is collected once."""
    from perl_data_validate_sanctions_spark.operators import matcher

    calls: list[int] = []
    real = matcher.build_name_dim

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(matcher, "build_name_dim", spy)
    images = synth_images(spark, 1000, num_partitions=4)
    entries = synth_entries(spark, n_extra=20)
    outs = [sorted(m(images, entries).collect())
            for m in (match_captions, match_captions_arrow, match_captions)]
    assert len(calls) == 1
    assert outs[0] == outs[1] == outs[2] and outs[0]


def test_arrow_broadcast_files_do_not_accumulate(spark):
    """Repeat Arrow screens of one entries frame share one broadcast, and
    a new frame releases the old one, so the driver's broadcast temp
    files never pile up."""
    import os

    from py4j.protocol import Py4JJavaError

    tmp = spark.sparkContext._temp_dir
    before = set(os.listdir(tmp))

    def new_files() -> set[str]:
        return set(os.listdir(tmp)) - before

    images = synth_images(spark, 500, num_partitions=2)
    a = synth_entries(spark, n_extra=20)
    for _ in range(6):
        match_captions_arrow(images, a).count()
    assert len(new_files()) <= 1
    stale = match_captions_arrow(images, a)
    b = synth_entries(spark, n_extra=21)
    match_captions_arrow(images, b).count()
    assert len(new_files()) <= 1
    # a plan built on the released snapshot fails; it never returns a miss
    with pytest.raises(Py4JJavaError, match="destroyed"):
        stale.count()


def test_caption_match_dup_id_rows_each_get_a_verdict(spark):
    """Explicit dup-id fixture: the same image_id on two physical rows
    with a sanctioned caption → exactly two verdict rows on BOTH paths
    (each physical duplicate is its own violation)."""
    images = spark.createDataFrame(
        [
            ("img-dup", "A photo of Abu Salem in Rivertown"),
            ("img-dup", "A photo of Abu Salem in Rivertown"),
            ("img-other", "An ordinary landscape"),
        ],
        "image_id string, caption string",
    )
    entries = synth_entries(spark)
    for matcher in (match_captions, match_captions_arrow):
        rows = matcher(images, entries).collect()
        assert len(rows) == 2, matcher.__name__
        assert all(r["image_id"] == "img-dup" for r in rows)
        assert len({r["matched_name"] for r in rows}) == 1


def test_caption_match_file_backed_key_is_deterministic(spark, tmp_path):
    """File-backed inputs take the _metadata (file_path, row_index) row
    key — deterministic under task retry (the ADVICE r3 hazard with
    monotonically_increasing_id). Duplicate physical rows in a parquet
    file still each get a verdict, and the prepared plan really carries
    file provenance (non-empty __rfile)."""
    from perl_data_validate_sanctions_spark.operators.matcher import (
        _with_physical_row_key,
    )

    p = str(tmp_path / "imgs.parquet")
    spark.createDataFrame(
        [
            ("img-dup", "A photo of Abu Salem in Rivertown"),
            ("img-dup", "A photo of Abu Salem in Rivertown"),
            ("img-other", "An ordinary landscape"),
        ],
        "image_id string, caption string",
    ).repartition(1).write.parquet(p)
    images = spark.read.parquet(p)
    keyed = _with_physical_row_key(images, "image_id", "caption")
    rows = keyed.collect()
    assert all(r["__rfile"].startswith("file:") for r in rows)
    assert len({(r["__rfile"], r["__rid"]) for r in rows}) == 3
    entries = synth_entries(spark)
    out = match_captions(images, entries).collect()
    assert len(out) == 2
    assert all(r["image_id"] == "img-dup" for r in out)


def test_caption_match_df_cap_rescue_classes(spark):
    """Adversarial fixture for the prefix-filter DF cap (round 5).

    Dimension: three names sharing high-DF token AL (so AL is each
    name's dropped token), plus a single-token name. Probes cover every
    retrieval class the cap could miss:
      - dup-token probe whose only overlap is the dropped token ("al al")
      - single-token probe hitting only the dropped token ("al")
      - kept hit + dropped hit summing to 2 ("qaeda al")
      - kept hit alone, n_hits==1 vs multi-token name → NO match
      - single-token NAME hit (any hit matches)
    Both matcher paths must agree with the hand-computed reference rule.
    """
    from perl_data_validate_sanctions_spark.schema import ENTRY_SCHEMA

    entries = spark.createDataFrame(
        [
            (1, "src", ["Al Qaeda"]) + (None,) * 10,
            (2, "src", ["Al Nusra"]) + (None,) * 10,
            (3, "src", ["Al Shabab"]) + (None,) * 10,
            (4, "src", ["Xi"]) + (None,) * 10,
        ],
        ENTRY_SCHEMA,
    )
    images = spark.createDataFrame(
        [
            ("p-dup-dropped", "al al"),
            ("p-single-dropped", "al"),
            ("p-kept-plus-dropped", "qaeda al"),
            ("p-kept-single-hit", "qaeda unrelated"),
            ("p-single-token-name", "xi somewhere"),
            ("p-no-match", "nothing here"),
        ],
        "image_id string, caption string",
    )
    expect = {
        "p-dup-dropped": "Al Nusra",        # min name among the three
        "p-single-dropped": "Al Nusra",
        "p-kept-plus-dropped": "Al Qaeda",  # n_hits=2 only for Qaeda
        "p-single-token-name": "Xi",
        # p-kept-single-hit: n_hits=1, min_size=2 → no match
        # p-no-match: no shared token
    }
    for matcher in (match_captions, match_captions_arrow):
        got = {
            r["image_id"]: r["matched_name"]
            for r in matcher(images, entries).collect()
        }
        assert got == expect, matcher.__name__


def test_caption_match_randomized_vs_bruteforce(spark):
    """Randomized stress for the both-sides prefix filter: a tiny token
    alphabet forces heavy DF collisions, duplicate tokens, single-token
    probes and single-token names. Native and Arrow must both equal a
    brute-force evaluation of the reference rule (Sanctions.pm:421-437:
    multiplicity n_hits > 1, or == 1 with min(|p|,|n|) == 1; verdict =
    lexicographic min over (source, name, entry_id))."""
    import random

    from perl_data_validate_sanctions_spark.schema import ENTRY_SCHEMA

    rng = random.Random(20260817)
    alphabet = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    entries_rows = []
    for eid in range(40):
        names = []
        for _ in range(rng.randint(1, 3)):
            k = rng.randint(1, 4)
            names.append(" ".join(rng.choices(alphabet, k=k)))
        entries_rows.append((eid, f"src-{eid % 3}", names) + (None,) * 10)
    entries = spark.createDataFrame(entries_rows, ENTRY_SCHEMA)

    captions = []
    for i in range(400):
        k = rng.randint(1, 6)
        captions.append((f"c{i:04d}", " ".join(rng.choices(alphabet, k=k))))
    images = spark.createDataFrame(captions, "image_id string, caption string")

    # brute force over the same cleaned-token space
    from perl_data_validate_sanctions_spark.operators.matcher_arrow import (
        _clean_tokens_py,
    )

    dim = []
    for eid, src, names, *_ in entries_rows:
        for nm in names:
            pretty = nm[:1].upper() + nm[1:]
            dim.append((src, pretty, eid, _clean_tokens_py(pretty)))
    expect = {}
    for cid, cap in captions:
        ptoks = _clean_tokens_py(cap)
        best = None
        for src, pretty, eid, ntoks in dim:
            hits = sum(1 for t in ptoks if t in ntoks)
            if hits > 1 or (hits == 1 and min(len(ptoks), len(ntoks)) == 1):
                key = (src, pretty, eid)
                if best is None or key < best:
                    best = key
        if best is not None:
            expect[cid] = (best[0], best[1])

    for matcher in (match_captions, match_captions_arrow):
        got = {
            r["image_id"]: (r["list"], r["matched_name"])
            for r in matcher(images, entries).collect()
        }
        assert got == expect, (
            matcher.__name__,
            {k: (got.get(k), expect.get(k))
             for k in set(got) ^ set(expect) | {k for k in got
                                               if got.get(k) != expect.get(k)}},
        )
    assert len(expect) > 50  # the fixture must actually exercise matches
