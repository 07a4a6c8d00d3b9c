"""Deterministic synthetic data (seed-free: everything is a pure function
of the row id / image_id via JVM-side hashes, so generation is fully
distributed, reproducible at any scale, and never ships data from the
driver).

``synth_images(spark, n)`` produces the BASELINE.json ``input_hint``
table with planted violations (FIXTURES.md §1):

- ~0.1% duplicate ``image_id`` and a hot ``phash`` key repeated across
  partitions (uniqueness / skew checks),
- ~1% NULL captions (null-fraction stats),
- drifted logical partitions for w/h (KS) and fmt (chi-square),
- ~0.1% corrupted payloads (PSNR < 40 dB) and ~0.15% corrupted
  captions (reference-equality violations),
- ~2% captions that name a sanctioned persona (match-tier violations).

``synth_entries`` / ``synth_probes`` are small driver-side dimensions
holding the canonical reference-test personas
(/root/reference/t/01_basic.t:22-48, t/03_oo.t:36-88) so the golden
verdict tests port directly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import ENTRY_SCHEMA, PROBE_SCHEMA
from ..session import local_frame
from .codec import LOSSY_NOISE_AMP, MAGIC

# logical partitioning of the keyspace: checks aggregate per
# pmod(xxhash64(image_id), N_LOGICAL_PARTS) — stable under any physical
# layout (FIXTURES.md §1 "per-partition verdicts key off partition metadata")
N_LOGICAL_PARTS = 32
DRIFT_PARTS = (3, 17)  # partitions generated from shifted distributions

HOT_PHASH = 3735928559  # planted hot key (0xDEADBEEF)

# --- vocabularies (token-disjoint from the sanctioned personas below) ---
FIRST_NAMES = [
    "Alice", "Brian", "Carla", "Derek", "Elena", "Felix", "Grace", "Henry",
    "Irene", "Jonas", "Karen", "Louis", "Maria", "Nora", "Oscar", "Paula",
    "Quentin", "Rosa", "Simon", "Tessa", "Ulric", "Vera", "Walter", "Xenia",
    "Yusuf", "Zora", "Amber", "Boris", "Celine", "Dmitri", "Esther", "Frank",
]
LAST_NAMES = [
    "Anders", "Bennett", "Castillo", "Dawson", "Eriksen", "Fletcher",
    "Garcia", "Holloway", "Ibrahim", "Jensen", "Keller", "Lindgren",
    "Moreau", "Novak", "Ortega", "Petrov", "Quinn", "Rossi", "Sawyer",
    "Tanaka", "Ueda", "Vasquez", "Whitfield", "Xu", "Yamamoto", "Zimmer",
]
PLACES = [
    "Paris", "Tokyo", "Nairobi", "Lima", "Oslo", "Cairo", "Sydney",
    "Toronto", "Mumbai", "Seoul", "Vienna", "Lagos", "Quito", "Helsinki",
    "Dublin", "Prague",
]

# sanctioned personas — names appear in ~2% of captions AND in the
# reference dimension, so every match tier fires on the images table
PERSONAS = [
    "Sergei Ivanovich Neverov",
    "Zaki Izzat Zaki Ahmad",
    "Atom",
    "Hamza",
    "Donald Trump",
    "Bandit Outlaw",
    "Mohammad Ewaz Mohammad Wali",
    "Lucky Luke",
    "Abu Salem",
    "Ali Hassan Majid",
    "Viktor Anatolyevich Bout",
    "Osama Moustafa Hassan",
]

SOURCES = [
    "EU-Sanctions",
    "HMT-Sanctions",
    "OFAC-Consolidated",
    "OFAC-SDN",
    "UNSC-Sanctions",
    "MOHA-Sanctions",
]

FMT_CHOICES = ["png", "jpeg", "webp"]
W_CHOICES = [320, 480, 512, 640, 800, 1024]
H_CHOICES = [240, 360, 480, 512, 768, 1024]
# cumulative percentage cut-points over a uniform 0..99 draw
W_CUM_BASE = [10, 30, 55, 80, 95, 100]
W_CUM_DRIFT = [2, 6, 12, 25, 55, 100]  # shifted right → KS positive
FMT_CUM_BASE = [50, 90, 100]
FMT_CUM_DRIFT = [20, 50, 100]  # webp-heavy → chi-square positive


def _h(col: Column, stream: int) -> Column:
    """64-bit hash stream ``stream`` of a column (JVM-side xxhash64)."""
    return F.xxhash64(col, F.lit(stream))


def _pct(col: Column, stream: int) -> Column:
    """uniform draw in 0..99 from a hash stream."""
    return F.pmod(_h(col, stream), F.lit(100))


def _pick(col: Column, stream: int, choices: list, cum: list[int]) -> Column:
    """weighted categorical pick via cumulative cut-points."""
    draw = _pct(col, stream)
    expr = F.lit(choices[-1])
    c = None
    for cut, choice in zip(cum[:-1], choices[:-1]):
        cond = draw < cut
        c = F.when(cond, F.lit(choice)) if c is None else c.when(cond, F.lit(choice))
    return c.otherwise(expr) if c is not None else expr


def _elem(arr: list[str], idx: Column) -> Column:
    return F.element_at(F.array(*[F.lit(x) for x in arr]), (idx + 1).cast("int"))


def logical_partition(image_id: Column | str) -> Column:
    """Stable logical partition of a row (drift/verdict granularity)."""
    c = F.col(image_id) if isinstance(image_id, str) else image_id
    return F.pmod(F.xxhash64(c, F.lit(0)), F.lit(N_LOGICAL_PARTS)).cast("int")


def ref_pixel_seed(image_id: Column | str) -> Column:
    """crc32(image_id) — the Python-replicable pixel seed (codec.ref_seed_py)."""
    c = F.col(image_id) if isinstance(image_id, str) else image_id
    return F.crc32(F.encode(c, "UTF-8"))


def expected_caption(image_id: Column | str) -> Column:
    """The ground-truth caption for an image_id (pure Column expression —
    the integrity check compares the stored caption against this, the
    same way the reference compares a probe against the entry record)."""
    c = F.col(image_id) if isinstance(image_id, str) else image_id
    selector = _pct(c, 1)
    persona = _elem(PERSONAS, F.pmod(_h(c, 2), F.lit(len(PERSONAS))))
    first = _elem(FIRST_NAMES, F.pmod(_h(c, 3), F.lit(len(FIRST_NAMES))))
    last = _elem(LAST_NAMES, F.pmod(_h(c, 4), F.lit(len(LAST_NAMES))))
    place = _elem(PLACES, F.pmod(_h(c, 5), F.lit(len(PLACES))))
    benign = F.concat(
        F.lit("a photo of "), first, F.lit(" "), last, F.lit(" in "), place
    )
    sanctioned = F.concat(F.lit("a portrait of "), persona)
    return F.when(selector < 2, sanctioned).otherwise(benign)


def synth_images(
    spark: SparkSession,
    n: int,
    num_partitions: int | None = None,
    dup_mod: int = 1000,
) -> DataFrame:
    """The image+caption input table, generated distributed + seeded."""
    df = spark.range(0, n, 1, num_partitions or spark.sparkContext.defaultParallelism)
    rid = F.col("id")

    # duplicates: every dup_mod-th row clones the previous row's image_id
    base_id = F.when(
        (F.pmod(rid, F.lit(dup_mod)) == dup_mod - 1) & (rid > 0), rid - 1
    ).otherwise(rid)
    image_id = F.format_string("img-%012d", base_id)
    df = df.withColumn("image_id", image_id)
    iid = F.col("image_id")

    part = logical_partition(iid)
    drifted = part.isin(*DRIFT_PARTS)

    w = F.when(drifted, _pick(iid, 10, W_CHOICES, W_CUM_DRIFT)).otherwise(
        _pick(iid, 10, W_CHOICES, W_CUM_BASE)
    )
    h = F.when(drifted, _pick(iid, 11, H_CHOICES, W_CUM_DRIFT)).otherwise(
        _pick(iid, 11, H_CHOICES, W_CUM_BASE)
    )
    fmt = F.when(drifted, _pick(iid, 12, FMT_CHOICES, FMT_CUM_DRIFT)).otherwise(
        _pick(iid, 12, FMT_CHOICES, FMT_CUM_BASE)
    )

    # phash: mostly unique, with a planted hot key on ~0.5% of rows
    phash = F.when(F.pmod(_h(iid, 13), F.lit(200)) == 0, F.lit(HOT_PHASH)).otherwise(
        F.pmod(_h(iid, 14), F.lit(1 << 48))
    )

    # captions: 1% NULL, ~0.15% corrupted (reference-mismatch), else expected
    exp_cap = expected_caption(iid)
    cap_sel = F.pmod(_h(rid, 15), F.lit(2000))
    caption = (
        F.when(cap_sel < 20, F.lit(None).cast("string"))
        .when(cap_sel.between(20, 22), F.concat(exp_cap, F.lit(" (alternate)")))
        .otherwise(exp_cap)
    )

    # payload: fake-codec bytes; ~0.1% rows carry a wrong pixel seed
    corrupt_pixels = F.pmod(_h(rid, 16), F.lit(977)) == 13
    seed = ref_pixel_seed(iid)
    stored_seed = F.when(corrupt_pixels, seed + 7777777).otherwise(seed)
    amp = F.when(fmt != "png", F.lit(LOSSY_NOISE_AMP)).otherwise(F.lit(0))
    payload = F.encode(
        F.concat_ws(
            "|",
            F.lit(MAGIC.decode()),
            fmt,
            w.cast("string"),
            h.cast("string"),
            stored_seed.cast("string"),
            amp.cast("string"),
        ),
        "UTF-8",
    )

    return df.select(
        iid,
        payload.alias("bytes"),
        w.cast("int").alias("w"),
        h.cast("int").alias("h"),
        fmt.alias("fmt"),
        caption.alias("caption"),
        phash.cast("long").alias("phash"),
    )


# --- reference dimension (canonical test personas + generated bulk) ---

def _persona_entries() -> list[dict]:
    """The reference suite's inline YAML fixtures, verbatim semantics
    (t/03_oo.t:36-75, t/01_basic.t:22-38)."""
    return [
        dict(source="EU-Sanctions", names=["Sergei Ivanovich Neverov"],
             dob_epoch=[-253411200], dob_year=[1961]),
        dict(source="EU-Sanctions", names=["Zaki Izzat Zaki AHMAD"],
             dob_year=[1999], dob_text=["other info"]),
        dict(source="HMT-Sanctions", names=["Atom"], dob_year=[1999]),
        dict(source="UNSC-Sanctions", names=["Hamza"]),
        dict(source="OFAC-SDN", names=["Donald Trump"], dob_text=["circa-1951"]),
        dict(source="OFAC-Consolidated", names=["Bandit Outlaw"],
             place_of_birth=["ir"], residence=["fr", "us"],
             nationality=["de", "gb"], citizen=["ru"],
             postal_code=["123321"], national_id=["321123"],
             passport_no=["asdffdsa"]),
        dict(source="MOHA-Sanctions", names=["MOHAMMAD EWAZ Mohammad Wali"]),
        dict(source="HMT-Sanctions", names=["Lucky Luke", "Unlucky Luke"],
             dob_year=[1996, 2000]),
        dict(source="OFAC-SDN", names=["Abu Salem", "Abu Usama"],
             dob_epoch=[-306028800], dob_year=[1948]),
        dict(source="UNSC-Sanctions", names=["Ali Hassan Majid"],
             dob_epoch=[0]),  # dob_epoch 0 is a valid value (Fetcher.pm:246)
        dict(source="EU-Sanctions", names=["Viktor Anatolyevich Bout"],
             dob_year=[1967], residence=["ru"]),
        dict(source="OFAC-Consolidated", names=["Osama Moustafa Hassan"],
             dob_text=["approximately 1962"]),
    ]


def synth_entries(spark: SparkSession, n_extra: int = 200) -> DataFrame:
    """Reference dimension: canonical personas + n_extra generated entries."""
    rows = []
    for i, e in enumerate(_persona_entries()):
        rows.append(
            (
                i,
                e["source"],
                e["names"],
                [int(x) for x in e.get("dob_epoch", [])] or None,
                e.get("dob_year") or None,
                e.get("dob_text") or None,
                e.get("place_of_birth") or None,
                e.get("residence") or None,
                e.get("nationality") or None,
                e.get("citizen") or None,
                e.get("postal_code") or None,
                e.get("national_id") or None,
                e.get("passport_no") or None,
            )
        )
    base = len(rows)
    import zlib as _z

    for i in range(n_extra):
        h0 = _z.crc32(f"entry:{i}".encode())
        first = FIRST_NAMES[h0 % len(FIRST_NAMES)]
        # generated entries use a reserved surname so they never collide
        # with benign captions (token GEN<i> is unique)
        name = f"{first} Genersson{i}"
        rows.append(
            (
                base + i,
                SOURCES[h0 % len(SOURCES)],
                [name],
                None,
                [1950 + (h0 % 60)],
                None,
                None, None, None, None, None, None, None,
            )
        )
    return local_frame(spark, rows, ENTRY_SCHEMA)


def synth_probes(spark: SparkSession) -> DataFrame:
    """Probe records for the golden verdict tests (FIXTURES.md §3)."""
    cols = PROBE_SCHEMA.fieldNames()

    def p(probe_id, first, last=None, dob=None, **kw):
        row = {c: None for c in cols}
        row.update(probe_id=probe_id, first_name=first, last_name=last,
                   date_of_birth=dob, **kw)
        return tuple(row[c] for c in cols)

    rows = [
        p("neverov_dob", "NEVEROV", "Sergei Ivanovich", "-253411200"),
        p("neverov_nodob", "Sergei", "Neverov"),
        p("neverov_wrongdob", "NEVEROV", "Sergei Ivanovich", "1999-01-01"),
        p("chris", "chris", "down"),
        p("zaki_nodob", "Zaki", "Ahmad"),
        p("zaki_year", "Zaki", "Ahmad", "1999-01-05"),
        p("atom", "atom", "test", "1999-01-05"),
        p("trump_dobtext", "Donald", "Trump", "1999-01-05"),
        p("bandit_plain", "Bandit", "Outlaw", "1999-01-05"),
        p("bandit_full", "Bandit", "Outlaw", None,
          place_of_birth="Iran", residence="France", nationality="Germany",
          citizen="Russia", postal_code="123321", national_id="321123",
          passport_no="asdffdsa"),
        p("bandit_wrong_field", "Bandit", "Outlaw", None, residence="Israel"),
        p("abu_epoch", "abu", "usama", "-306028800"),
        p("majid_epoch0", "Ali Hassan", "Majid", "1970-01-01"),
        p("ewaz_noise", "Mohammad reere yuyuy", "wqwqw  qqqqq"),
    ]
    return local_frame(spark, rows, PROBE_SCHEMA)
