"""Seeded benchmark inputs: the mixed-payload image table, the
reference-sized sanctions snapshot and the screening probe mix.

Every input is a pure function of (seed, size). Generated tables are
cached under the work directory by (seed, size), so a repeated seed
skips generation; the cache keeps only the newest few tables."""

from __future__ import annotations

import json
import os
import random
import shutil
import time

from stats import seed_window

# the reference's share/sanctions.yml holds 15,664 entries: 12 persona
# entries plus this many generated ones
N_EXTRA_ENTRIES = 15_652
# 1 in REAL_MOD rows per codec becomes a real PNG, JPEG or lossy WebP
REAL_MOD = 20
REAL_W, REAL_H = 64, 48
KEEP_TABLES = 4


class _WindowedRange:
    """Stands in for the session inside ``synth_images`` so its
    ``spark.range(0, n)`` draws the seed's window of row ids instead;
    synth_images is a pure function of the row id, so each seed gets
    its own rows with the same planted patterns."""

    def __init__(self, spark, start: int):
        self._spark = spark
        self._start = start

    def range(self, start, end, step=1, numPartitions=None):
        return self._spark.range(
            self._start + start, self._start + end, step, numPartitions
        )


def _publish_dir(build, path: str) -> None:
    """Build into a temporary directory and rename it into place, so an
    interrupted build never leaves a table that looks finished."""
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        build(tmp)
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _prune(cache_dir: str, prefix: str, keep: int) -> None:
    olds = sorted(
        (p for p in os.listdir(cache_dir)
         if p.startswith(prefix) and p.endswith(".parquet")),
        key=lambda p: os.path.getmtime(os.path.join(cache_dir, p)),
        reverse=True,
    )
    for p in olds[keep:]:
        shutil.rmtree(os.path.join(cache_dir, p), ignore_errors=True)
        if os.path.exists(os.path.join(cache_dir, p + ".oracle.json")):
            os.remove(os.path.join(cache_dir, p + ".oracle.json"))


def _is_real(with_webp: bool):
    from pyspark.sql import functions as F

    residue = F.pmod(F.xxhash64("image_id"), F.lit(REAL_MOD))
    return residue, residue <= (2 if with_webp else 1)


def _planted(iid: str) -> bool:
    return int(iid.rsplit("-", 1)[1]) % 100 == 0


def image_table(spark, seed: int, n_rows: int, cache_dir: str) -> str:
    """Path of the seed's mixed-payload table of ``n_rows`` images.

    Rows come from ``synth_images`` (planted duplicates, NULL and wrong
    captions, drifted partitions, corrupted synthetic payloads, ~2%
    sanctioned captions). About 5% each become real 64x48 PNG, JPEG and
    lossy WebP payloads of the same reference pixels; every real row
    whose numeric id is a multiple of 100 is corrupted (a flipped IDAT
    byte, or a truncated JPEG / VP8 stream)."""
    from perl_data_validate_sanctions_spark.sources import webp_sys

    with_webp = webp_sys.available()
    path = os.path.join(
        cache_dir, f"images_s{seed}_n{n_rows}_{'pjw' if with_webp else 'pj'}.parquet"
    )
    if os.path.isdir(path):
        os.utime(path)
        return path
    os.makedirs(cache_dir, exist_ok=True)
    _publish_dir(lambda tmp: _write_images(spark, seed, n_rows, with_webp, tmp), path)
    _prune(cache_dir, "images_", KEEP_TABLES)
    return path


def _write_images(spark, seed, n_rows, with_webp, out_path) -> None:
    import pandas as pd

    from perl_data_validate_sanctions_spark.sources.synth import synth_images

    start, _ = seed_window(seed, n_rows)
    n_parts = 4 * spark.sparkContext.defaultParallelism
    base = synth_images(_WindowedRange(spark, start), n_rows, num_partitions=n_parts)
    residue, is_real = _is_real(with_webp)

    def encode(batches):
        from perl_data_validate_sanctions_spark.sources import codec, jpeg, png, webp_sys

        for pdf in batches:
            rows = []
            for iid, cap, ph, res in zip(
                pdf["image_id"], pdf["caption"], pdf["phash"], pdf["residue"]
            ):
                ref = codec.decode_reference(iid, REAL_W, REAL_H)
                bad = _planted(iid)
                if res == 0:
                    blob = bytearray(png.encode_png_gray(ref))
                    if bad:
                        blob[len(blob) // 2] ^= 0xFF
                    fmt = "png"
                elif res == 1:
                    blob = bytearray(jpeg.encode_jpeg_gray(ref, quality=95))
                    if bad:
                        del blob[-10:]
                    fmt = "jpeg"
                else:
                    blob = bytearray(webp_sys.encode_lossy_gray(ref, quality=95))
                    if bad:
                        del blob[-15:]
                    fmt = "webp"
                rows.append((iid, bytes(blob), REAL_W, REAL_H, fmt,
                             None if cap is None else cap,
                             None if pd.isna(ph) else int(ph)))
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h",
                                              "fmt", "caption", "phash"])

    real = base.filter(is_real).select(
        "image_id", "caption", "phash", residue.alias("residue")
    ).mapInPandas(
        encode,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    base.filter(~is_real).unionByName(real).write.parquet(out_path)


def table_oracle(spark, path: str) -> dict:
    """Expected check outcomes of the table at ``path``, derived from the
    generator's planted patterns with plain queries (no package check
    code), cached as JSON beside the table:

    - ``counts``: exact violation counts of the row-level checks. A
      duplicated key flags each of its rows; a sanctioned caption is one
      that names a persona; integrity flags each caption that is not the
      reference caption, each synthetic payload whose stored pixel seed
      is not the reference seed, and each corrupted real payload.
    - ``planted``: ids of the corrupted real-codec rows, each of which
      must be among the integrity violations."""
    cached = path + ".oracle.json"
    if os.path.exists(cached):
        with open(cached) as f:
            return json.load(f)
    from pyspark.sql import functions as F

    from perl_data_validate_sanctions_spark.sources import webp_sys
    from perl_data_validate_sanctions_spark.sources.codec import MAGIC
    from perl_data_validate_sanctions_spark.sources.synth import expected_caption

    df = spark.read.parquet(path)

    def n_duplicated(col: str) -> int:
        dups = df.groupBy(col).count().filter("count > 1").select(col)
        return df.join(dups, col, "left_semi").count()

    text = F.col("bytes").cast("string")
    seed_bad = text.startswith(MAGIC.decode() + "|") & (
        F.split(text, r"\|").getItem(4).cast("long")
        != F.crc32(F.encode("image_id", "UTF-8")))
    caption_bad = F.col("caption").isNotNull() & (
        F.col("caption") != expected_caption("image_id"))
    sanctioned = F.col("caption").startswith("a portrait of ")
    row = df.select(*[F.sum(c.cast("int")).alias(n) for n, c in (
        ("seed_bad", seed_bad), ("caption_bad", caption_bad), ("sanctioned", sanctioned))]
    ).collect()[0]
    _, is_real = _is_real(webp_sys.available())
    number = F.regexp_extract("image_id", r"(\d+)$", 1).cast("long")
    planted = sorted({r["image_id"] for r in df.filter(
        is_real & (F.pmod(number, F.lit(100)) == 0)).select("image_id").collect()})
    oracle = {
        "counts": {
            "unique_image_id": n_duplicated("image_id"),
            "unique_phash": n_duplicated("phash"),
            "sanctioned": row["sanctioned"],
            "integrity": row["seed_bad"] + row["caption_bad"] + len(planted),
        },
        "planted": planted,
    }
    tmp = f"{cached}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(oracle, f)
    os.rename(tmp, cached)
    return oracle


def snapshot(spark, cache_dir: str) -> str:
    """Path of the reference-sized sanctions snapshot (seed-free)."""
    from perl_data_validate_sanctions_spark.sources.synth import synth_entries

    path = os.path.join(cache_dir, f"entries_{N_EXTRA_ENTRIES}.parquet")
    if not os.path.isdir(path):
        os.makedirs(cache_dir, exist_ok=True)
        _publish_dir(
            lambda tmp: synth_entries(spark, n_extra=N_EXTRA_ENTRIES).write.parquet(tmp),
            path,
        )
    return path


def snapshot_rows(spark, path: str) -> list[dict]:
    """The snapshot's entries as plain dicts, cached as JSON beside it."""
    cached = path + ".json"
    if os.path.exists(cached):
        with open(cached) as f:
            return json.load(f)
    rows = [r.asDict() for r in spark.read.parquet(path).orderBy("entry_id").collect()]
    tmp = f"{cached}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(rows, f)
    os.rename(tmp, cached)
    return rows


# --- screening probes ------------------------------------------------------

PROBE_KINDS = ("exact_name", "name_dob", "dob_mismatch", "optional_field", "miss")

# the reference suite's all-fields probe for its "Bandit Outlaw" entry
# (t/03_oo.t:150-166); each value matches the entry after country coding
_BANDIT_FIELDS = {
    "place_of_birth": "Iran", "residence": "France", "nationality": "Germany",
    "citizen": "Russia", "postal_code": "123321", "national_id": "321123",
    "passport_no": "asdffdsa",
}
_BANDIT_WRONG = {
    f: ("Israel" if f in ("place_of_birth", "residence", "nationality", "citizen")
        else "WRONG")
    for f in _BANDIT_FIELDS
}


def _split(name: str) -> tuple[str, str | None]:
    parts = name.split()
    return (" ".join(parts[:-1]), parts[-1]) if len(parts) > 1 else (name, None)


def _years(e: dict) -> set[int]:
    ys = set(e.get("dob_year") or ())
    ys |= {time.gmtime(x).tm_year for x in (e.get("dob_epoch") or ())}
    return ys


def probe_mix(rows: list[dict], seed: int, n: int) -> list[dict]:
    """``n`` probes drawn with ``seed`` from the five kinds in
    PROBE_KINDS, each with the verdict the reference's rules give:
    ``{"kwargs": ..., "kind": ..., "matched": 0|1, "list": source|None}``.

    Generated entries are "<First> Genersson<i>"; digits are stripped
    when names are tokenized, so a generated-name probe is a candidate
    for every entry with that first name, and the verdict's list is the
    least source among the candidates that pass the DOB rule."""
    from perl_data_validate_sanctions_spark.sources.synth import (
        FIRST_NAMES,
        LAST_NAMES,
    )

    rng = random.Random(seed)
    personas = [r for r in rows if not r["names"][0].split()[-1].startswith("Genersson")]
    by_first: dict[str, list[dict]] = {}
    for r in rows:
        first, last = r["names"][0].split()[0], r["names"][0].split()[-1]
        if last.startswith("Genersson"):
            by_first.setdefault(first, []).append(r)
    # single-alias personas with a DOB and no dob_text: a wrong year
    # leaves neither a direct nor a fallback candidate
    dated = [p for p in personas if _years(p) and not p.get("dob_text")
             and len(p["names"]) == 1]
    undated_names = [p for p in personas if len(p["names"]) == 1 and not p.get("dob_text")]

    out = []
    for _ in range(n):
        kind = PROBE_KINDS[rng.randrange(len(PROBE_KINDS))]
        if kind == "exact_name":
            if rng.random() < 0.5:
                p = rng.choice(undated_names)
                first, last = _split(p["names"][0])
                exp = (1, p["source"])
            else:
                first = rng.choice(sorted(by_first))
                last = f"Genersson{rng.randrange(100_000)}"
                exp = (1, min(e["source"] for e in by_first[first]))
            kw = {"first_name": first, "last_name": last}
        elif kind == "name_dob":
            first = rng.choice(sorted(by_first))
            e = rng.choice(by_first[first])
            year = rng.choice(sorted(_years(e)))
            kw = {"first_name": first, "last_name": e["names"][0].split()[-1],
                  "date_of_birth": f"{year}-0{rng.randrange(1, 10)}-1{rng.randrange(10)}"}
            exp = (1, min(c["source"] for c in by_first[first] if year in _years(c)))
        elif kind == "dob_mismatch":
            p = rng.choice(dated)
            first, last = _split(p["names"][0])
            year = rng.choice([y for y in range(1920, 2011) if y not in _years(p)])
            kw = {"first_name": first, "last_name": last,
                  "date_of_birth": f"{year}-0{rng.randrange(1, 10)}-1{rng.randrange(10)}"}
            exp = (0, None)
        elif kind == "optional_field":
            fields = [f for f in _BANDIT_FIELDS if rng.random() < 0.6] or ["residence"]
            kw = {"first_name": "Bandit", "last_name": "Outlaw",
                  **{f: _BANDIT_FIELDS[f] for f in fields}}
            if rng.random() < 0.4:
                wrong = rng.choice(fields)
                kw[wrong] = _BANDIT_WRONG[wrong]
                exp = (0, None)
            else:
                exp = (1, "OFAC-Consolidated")
        else:
            kw = {"first_name": rng.choice(FIRST_NAMES),
                  "last_name": rng.choice(LAST_NAMES)}
            exp = (0, None)
        out.append({"kind": kind, "kwargs": kw, "matched": exp[0], "list": exp[1]})
    return out
