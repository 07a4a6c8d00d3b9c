"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship tiered-match query on sf0.001.
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2 over the driver-provided testdata tables; ``oracle_sql()``
gives the DuckDB-equivalent SQL for EVERY query — including the
MinHash/SimHash/LSH ones (banding-recall argument, md5-bit-parity
signature, literal hyperplanes respectively; see each query docstring).

Column names/aliases are kept identical between each Spark query and its
oracle; float outputs are rounded on both sides; money is emitted in
integer cents so value hashes can't drift on double formatting.
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from perl_data_validate_sanctions_spark.session import local_frame

SF_DEFAULT = "/root/testdata/sf0.001"

# --- inline reference dimension for the document-matching queries ---
# (names drawn from the documents vocabulary so every tier fires)
DOC_ENTRY_ROWS = [
    (1, "demo-list-A", ["Hash Join", "Sort Merge Join"]),
    (2, "demo-list-B", ["Spark Window"]),
    (3, "demo-list-B", ["Vector"]),  # single-token entity rule
]

COUNTRY_PROBES = [
    "Iran", "France", "Germany", "Russia", "Israel", "IR", "us",
    "United Kingdom", "Narnia", "Viet Nam", "Vietnam", "Saudi Arabia",
    "China", "United States", "korea",
]
# expected codes, pinned (get_country_code semantics: known code → lc,
# known name → code, unknown → '')
COUNTRY_EXPECT = ["ir", "fr", "de", "ru", "il", "ir", "us", "gb", "",
                  "vn", "vn", "sa", "cn", "us", "kr"]

DOB_PROBES = [
    "1999", "0-0-1999", "00/00/1999", "1999-00-12", "Mar-1984",
    "1950 to 1953", "1999-01-05", "circa 1951", "04/02/2025",
    "2025-02-04T17:53:20+08:00", "29/02/2024", "29/02/2023", "invalid-date",
]
# (epoch, years-joined, text) goldens for each probe, from the reference
# semantics (Fetcher.pm:205-226 + t/04_fetcher.t truth table)
DOB_EXPECT = [
    (None, "1999", None), (None, "1999", None), (None, "1999", None),
    (None, "1999", None), (None, "1984", None),
    (None, "1950,1951,1952,1953", None), (915494400, None, None),
    (None, None, "circa-1951"), (1738627200, None, None),
    (1738627200, None, None), (1709164800, None, None),
    (None, None, "29-02-2023"), (None, None, "invalid-date"),
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _doc_entries(spark: SparkSession) -> DataFrame:
    from perl_data_validate_sanctions_spark.schema import ENTRY_SCHEMA

    rows = [
        (eid, src, names) + (None,) * 10
        for eid, src, names in DOC_ENTRY_ROWS
    ]
    return local_frame(spark, rows, ENTRY_SCHEMA)


# ---------------------------------------------------------------- queries ---

def q_match_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: J1+J2+J5 tier cascade, document text as the probe name."""
    from perl_data_validate_sanctions_spark.operators.matcher import (
        match_captions,
    )

    docs = _t(spark, sf_dir, "documents")
    out = match_captions(
        docs, _doc_entries(spark), id_col="doc_id", caption_col="text"
    )
    return out.select("doc_id", "list", "matched_name")


def q_match_documents_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cascade through the zero-shuffle Arrow path (must agree)."""
    from perl_data_validate_sanctions_spark.operators.matcher_arrow import (
        match_captions_arrow,
    )

    docs = _t(spark, sf_dir, "documents")
    out = match_captions_arrow(
        docs, _doc_entries(spark), id_col="doc_id", caption_col="text"
    )
    return out.select("doc_id", "list", "matched_name")


_MATCH_ORACLE = """
WITH docs AS (
  SELECT doc_id,
         list_filter(string_split_regex(upper(regexp_replace(text, '[^a-zA-Z ]', '', 'g')), '\\s+'),
                     t -> t <> '') AS ptoks
  FROM documents
),
cands(source, name, ntoks) AS (
  VALUES ('demo-list-A', 'Hash Join',       ['HASH','JOIN']),
         ('demo-list-A', 'Sort Merge Join', ['SORT','MERGE','JOIN']),
         ('demo-list-B', 'Spark Window',    ['SPARK','WINDOW']),
         ('demo-list-B', 'Vector',          ['VECTOR'])
),
scored AS (
  SELECT d.doc_id, c.source, c.name,
         len(list_filter(d.ptoks, t -> list_contains(c.ntoks, t))) AS hits,
         least(len(d.ptoks), len(c.ntoks)) AS msize
  FROM docs d CROSS JOIN cands c
),
matched AS (
  SELECT doc_id, source, name,
         row_number() OVER (PARTITION BY doc_id ORDER BY source, name) AS rn
  FROM scored WHERE hits > 1 OR (hits = 1 AND msize = 1)
)
SELECT doc_id, source AS list, name AS matched_name FROM matched WHERE rn = 1
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style aggregation (reference §2.5 A1-A4 coverage).
    Decimal sums so the oracle hashes identically."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1997-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_PRICING_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1997-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source entry counts (change-detection unit, Sanctions.pm:73-75)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_entries"))
        .orderBy("source")
    )


def q_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column stats (exact distinct for the oracle; the HLL
    variant is checks.stats default)."""
    from perl_data_validate_sanctions_spark.checks.stats import column_stats

    out = column_stats(
        _t(spark, sf_dir, "documents"),
        columns=["doc_id", "lang", "source", "n_chars"],
        exact_distinct=True,
    )
    return out.select(
        "column", "min", "max", "n_nulls", "n_rows", "n_distinct"
    )


_STATS_ORACLE = """
WITH s AS (SELECT * FROM documents)
SELECT 'doc_id' AS "column", CAST(min(doc_id) AS VARCHAR) AS min,
       CAST(max(doc_id) AS VARCHAR) AS max,
       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       count(*) AS n_rows, count(DISTINCT doc_id) AS n_distinct FROM s
UNION ALL
SELECT 'lang', CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR),
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(*),
       count(DISTINCT lang) FROM s
UNION ALL
SELECT 'source', CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR),
       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(*),
       count(DISTINCT source) FROM s
UNION ALL
SELECT 'n_chars', CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR),
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(*),
       count(DISTINCT n_chars) FROM s
"""


def q_unique_userid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase uniqueness (duplicate detection) on events.user_id."""
    from perl_data_validate_sanctions_spark.checks.unique import duplicate_keys

    out = duplicate_keys(_t(spark, sf_dir, "events"), "user_id")
    return out.select(F.col("key").alias("user_id"), "n_occurrences")


_UNIQUE_ORACLE = """
SELECT user_id, count(*) AS n_occurrences
FROM events GROUP BY user_id HAVING count(*) > 1
"""


def q_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast anti-join referential check: orders → customer."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey")),
            orders["o_custkey"] == customer["c_custkey"],
            "left_anti",
        )
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )


_REFERENTIAL_ORACLE = """
SELECT o_custkey, count(*) AS n_orphans
FROM orders WHERE NOT EXISTS (
  SELECT 1 FROM customer WHERE c_custkey = o_custkey)
GROUP BY o_custkey
"""


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price (sorts/top-k, §2.6); money in
    integer cents so doubles never hit the value hash."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
            "rank",
        )
    )


_TOPK_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, rank
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders) WHERE rank <= 3
"""


def q_dob_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P5 date pipeline over event timestamps rendered DD/MM/YYYY."""
    from perl_data_validate_sanctions_spark.functions.dates import date_to_epoch

    ev = _t(spark, sf_dir, "events")
    raw = F.date_format("ts", "dd/MM/yyyy")
    return ev.select(
        "event_id",
        raw.alias("dob_raw"),
        date_to_epoch(raw).alias("dob_epoch"),
    )


_DOB_PARSE_ORACLE = """
SELECT event_id, strftime(ts, '%d/%m/%Y') AS dob_raw,
       CAST(epoch(strptime(strftime(ts, '%d/%m/%Y'), '%d/%m/%Y')) AS BIGINT)
         AS dob_epoch
FROM events
"""


def q_dob_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOB classification truth table (epoch / year-expansion / text)."""
    from perl_data_validate_sanctions_spark.functions.dates import classify_dob

    df = local_frame(spark, [(s,) for s in DOB_PROBES], "raw string")
    c = classify_dob("raw")
    return df.select(
        "raw",
        c.getField("epoch").alias("epoch"),
        F.array_join(c.getField("years"), ",").alias("years"),
        c.getField("text").alias("text"),
    )


def _dob_classify_oracle() -> str:
    rows = []
    for raw, (epoch, years, text) in zip(DOB_PROBES, DOB_EXPECT):
        e = "NULL" if epoch is None else str(epoch)
        y = "NULL" if years is None else f"'{years}'"
        t = "NULL" if text is None else f"'{text}'"
        rows.append(f"('{raw}', {e}, {y}, {t})")
    return (
        "SELECT raw, CAST(epoch AS BIGINT) AS epoch, years, text FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(raw, epoch, years, text)"
    )


def q_country_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Country normalization (P3/J8) over a pinned probe list."""
    from perl_data_validate_sanctions_spark.functions.country import country_code

    df = local_frame(spark, [(s,) for s in COUNTRY_PROBES], "value string")
    return df.select("value", country_code("value").alias("code"))


def _country_oracle() -> str:
    rows = ", ".join(
        f"('{v}', '{c}')" for v, c in zip(COUNTRY_PROBES, COUNTRY_EXPECT)
    )
    return f"SELECT value, code FROM (VALUES {rows}) AS t(value, code)"


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + chars/4 + GPT-2-style BPE pretoken
    regex) + md5 fingerprint per document."""
    from perl_data_validate_sanctions_spark.operators.text import (
        bpe_token_estimate,
        fingerprint_md5,
        subword_estimate,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        subword_estimate("text").alias("n_subwords"),
        bpe_token_estimate("text").alias("n_bpe"),
        fingerprint_md5("text").alias("fingerprint"),
    )


_TOKEN_ORACLE = r"""
SELECT doc_id,
       len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                       t -> t <> '')) AS n_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subwords,
       len(regexp_extract_all(text,
           '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'
       )) AS n_bpe,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID heuristic."""
    from perl_data_validate_sanctions_spark.operators.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id("text").alias("lang_guess"))


def _lang_oracle() -> str:
    from perl_data_validate_sanctions_spark.operators.text import STOPWORDS

    ratio_exprs = {}
    for lang, ws in STOPWORDS.items():
        lst = "[" + ", ".join(f"'{w}'" for w in ws) + "]"
        ratio_exprs[lang] = (
            f"CASE WHEN len(toks) > 0 THEN "
            f"len(list_filter(toks, t -> list_contains({lst}, t))) * 1.0 / len(toks) "
            f"ELSE 0.0 END"
        )
    langs = list(STOPWORDS)
    best = "greatest(" + ", ".join(f"r_{L}" for L in langs) + ")"
    pick = "CASE "
    for L in langs:
        pick += f"WHEN best > 0 AND r_{L} = best THEN '{L}' "
    pick += "ELSE 'und' END"
    ratios = ", ".join(f"{e} AS r_{L}" for L, e in ratio_exprs.items())
    return f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents
), r AS (SELECT doc_id, {ratios} FROM tok),
b AS (SELECT doc_id, *, {best} AS best FROM r)
SELECT doc_id, {pick} AS lang_guess FROM b
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from perl_data_validate_sanctions_spark.operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(quality_score("text"), 6).alias("quality")
    )


_QUALITY_ORACLE = """
WITH tok AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents
), m AS (
  SELECT doc_id, text, toks, len(toks) AS n,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
         length(array_to_string(toks, '')) AS tok_chars,
         len(list_distinct(toks)) AS n_distinct
  FROM tok
)
SELECT doc_id, round(
    0.25 * (CASE WHEN n >= 10 AND n <= 5000 THEN 1.0 ELSE 0.3 END)
  + 0.25 * (CASE WHEN length(text) > 0 THEN alpha_chars * 1.0 / length(text) ELSE 0.0 END)
  + 0.25 * (CASE WHEN n > 0 AND tok_chars * 1.0 / n >= 2.0 AND tok_chars * 1.0 / n <= 12.0 THEN 1.0 ELSE 0.4 END)
  + 0.25 * (CASE WHEN n > 0 THEN n_distinct * 1.0 / n ELSE 0.0 END), 6) AS quality
FROM m
"""


def q_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprints (operators/text.py:
    rolling_fingerprints — w=5 token shingles, keep the 8 smallest
    hashes), exploded to (doc_id, fp) rows. Uses the md5_60 portable
    hash so the DuckDB oracle reproduces the ENTIRE pipeline
    bit-for-bit: tokenize → shingle → hash → distinct → min-8.
    Production callers default to xxhash64 (same sketch semantics,
    JVM-native speed); the only difference is the hash function."""
    from perl_data_validate_sanctions_spark.operators.text import (
        rolling_fingerprints,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.explode(
            rolling_fingerprints("text", w=5, keep=8, hash="md5_60")
        ).alias("fp"),
    )


def _rolling_fp_oracle(w: int = 5, keep: int = 8) -> str:
    hexparse = " + ".join(
        f"(strpos('0123456789abcdef', substr(m, {i + 1}, 1)) - 1) "
        f"* {16 ** (14 - i)}::BIGINT"
        for i in range(15)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents
), pos AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - {w - 1}, 1) + 1)) AS i
  FROM t
), sh AS (
  SELECT doc_id,
         md5(array_to_string(toks[i:i + {w - 1}], ' ')) AS m
  FROM pos
), h AS (
  SELECT DISTINCT doc_id, ({hexparse}) AS fp FROM sh
), ranked AS (
  SELECT doc_id, fp,
         row_number() OVER (PARTITION BY doc_id ORDER BY fp) AS rn
  FROM h
)
SELECT doc_id, fp FROM ranked WHERE rn <= {keep}
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (threshold 0.35 — documents
    share a 31-word vocabulary, so real pairs exist at small SF);
    3-gram shingles keep the candidate join sparse."""
    from perl_data_validate_sanctions_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, w=3, threshold=0.3)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# shared CTE prefix: 3-gram shingles + candidate pair arithmetic — the
# single source of truth for BOTH the pair oracle and the groups oracle
# (threshold / tokenization tweaks cannot diverge between them)
_JACCARD_CTES = """tok AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents
), sh AS (
  SELECT id, list_distinct(
           [array_to_string(toks[i:i+2], ' ')
            for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS s
  FROM tok
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         len(list_intersect(a.s, b.s)) AS inter,
         len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
  FROM sh a JOIN sh b ON a.id < b.id
)"""

_JACCARD_ORACLE = f"""
WITH {_JACCARD_CTES}
SELECT id_a, id_b, round(inter * 1.0 / uni, 6) AS jaccard
FROM pairs WHERE uni > 0 AND inter * 1.0 / uni >= 0.3
"""


def q_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group formation over the n-gram Jaccard pair set:
    operators/dedup.py::near_dup_groups (min-label-propagation
    connected components; group_id = min doc_id of the component, the
    same deterministic-survivor rule as exact_duplicate_groups).
    Reference analog: candidate-set union + first-hit dedup in the
    query path (Sanctions.pm:253-258) generalized to transitive
    closure over near-dup evidence."""
    from perl_data_validate_sanctions_spark.operators.dedup import (
        near_dup_groups,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, w=3, threshold=0.3)
    out = near_dup_groups(pairs)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("group_id").cast("long").alias("group_id"),
    )


# transitive closure via recursive CTE over the SAME pair definition
# (_JACCARD_CTES); min(b) covers the self label because every edge
# (a, b) also closes a→b→a
_NEAR_DUP_GROUPS_ORACLE = f"""
WITH RECURSIVE {_JACCARD_CTES}, p AS (
  SELECT id_a, id_b FROM pairs WHERE uni > 0 AND inter * 1.0 / uni >= 0.3
), edges AS (
  SELECT id_a AS a, id_b AS b FROM p
  UNION ALL SELECT id_b, id_a FROM p
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS id, min(b) AS group_id FROM reach GROUP BY a
"""


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups on normalized text md5."""
    from perl_data_validate_sanctions_spark.operators.dedup import (
        exact_duplicate_groups,
    )

    return exact_duplicate_groups(_t(spark, sf_dir, "documents"))


_EXACT_DUP_ORACLE = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       count(*) AS n_docs, min(doc_id) AS keeper_id
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 4 vectors as queries."""
    from perl_data_validate_sanctions_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 5).alias("cosine"), "rank"
    )


_ANN_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 4),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                CAST(q.qv AS DOUBLE[])) AS c
  FROM embeddings e CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY c DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, round(c, 5) AS cosine, rank
FROM ranked WHERE rank <= 5
"""


def q_drift_chi2_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square drift of event_type mix per day-of-week partition vs
    the rest of the table (statistic parity; p-value/drift flag are
    engine-side extras the oracle can't express)."""
    from perl_data_validate_sanctions_spark.checks.drift import drift_check

    ev = _t(spark, sf_dir, "events")
    res = drift_check(ev, "event_type", F.dayofweek("ts"), kind="chi2")
    return res.select(
        "partition_id", F.round("statistic", 4).alias("statistic"), "n"
    )


_DRIFT_ORACLE = """
WITH obs AS (
  SELECT dayofweek(ts) + 1 AS pid, event_type AS v,
         CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2
), tot AS (SELECT v, sum(n) AS gn FROM obs GROUP BY v),
pids AS (SELECT DISTINCT pid FROM obs),
-- full (pid × value) grid, absent values as own n=0: mirrors the
-- engine's holdout construction (checks/drift.py drift_from_hist)
grid AS (
  SELECT p.pid, t.v, t.gn, COALESCE(o.n, 0) AS n
  FROM pids p CROSS JOIN tot t
  LEFT JOIN obs o ON o.pid = p.pid AND o.v = t.v
),
rest AS (SELECT pid, v, n, gn - n AS rn FROM grid),
rt AS (SELECT pid, sum(rn) AS rtot FROM rest GROUP BY pid),
own AS (SELECT pid, sum(n) AS no FROM grid GROUP BY pid)
SELECT r.pid AS partition_id,
       -- both engine terms (chi2_from_counts): regular cells use
       -- (obs-exp)^2/exp; observed mass on zero-expected cells gets
       -- the capped n*1e6 penalty (summing n*1e6 over cells equals
       -- the engine's extra*1e6). The CASE also keeps the degenerate
       -- all-zero-rest (single-partition) case division-free.
       round(sum(CASE WHEN r.rn = 0 THEN r.n * 1e6
                 ELSE pow(r.n - (r.rn / rt.rtot) * ow.no, 2)
                      / ((r.rn / rt.rtot) * ow.no) END), 4) AS statistic,
       CAST(ow.no AS BIGINT) AS n
FROM rest r JOIN rt USING (pid) JOIN own ow USING (pid)
GROUP BY r.pid, ow.no
"""


def q_drift_psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift of event_type mix per
    day-of-week partition vs the rest of the table — the third drift
    statistic next to KS and chi-square, computed in the same
    mapInPandas pass over the value histogram (checks/drift.py
    drift_from_hist); the oracle recomputes the full definition
    (eps-floored proportions, rest-of-table holdout, 0.25 major-shift
    band) in pure SQL."""
    from perl_data_validate_sanctions_spark.checks.drift import drift_check

    ev = _t(spark, sf_dir, "events")
    res = drift_check(ev, "event_type", F.dayofweek("ts"), kind="psi")
    return res.select(
        "partition_id", F.round("statistic", 6).alias("statistic"), "n",
        "drifted",
    )


_DRIFT_PSI_ORACLE = """
WITH obs AS (
  SELECT dayofweek(ts) + 1 AS pid, event_type AS v,
         CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2
), tot AS (SELECT v, sum(n) AS gn FROM obs GROUP BY v),
pids AS (SELECT DISTINCT pid FROM obs),
-- same full (pid × value) grid as the engine's holdout construction
grid AS (
  SELECT p.pid, t.v, t.gn, COALESCE(o.n, 0) AS n
  FROM pids p CROSS JOIN tot t
  LEFT JOIN obs o ON o.pid = p.pid AND o.v = t.v
),
tots AS (SELECT pid, sum(n) AS own_tot, sum(gn - n) AS rest_tot
         FROM grid GROUP BY pid),
cells AS (
  SELECT g.pid, g.n,
         greatest(g.n / t.own_tot, 1e-6) AS p,
         greatest(CASE WHEN t.rest_tot > 0
                       THEN (g.gn - g.n) / t.rest_tot
                       ELSE 0 END, 1e-6) AS q
  FROM grid g JOIN tots t USING (pid)
)
SELECT pid AS partition_id,
       round(sum((p - q) * ln(p / q)), 6) AS statistic,
       CAST(sum(n) AS BIGINT) AS n,
       (sum((p - q) * ln(p / q)) > 0.25) AS drifted
FROM cells GROUP BY pid
"""

def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-dimensional drift: per-partition mean-embedding cosine vs
    the rest-of-table mean (checks/drift.py::embedding_drift_check —
    posexplode + two HashAggregates, shuffle carries |partitions|×dim
    rows, JVM-native throughout). The oracle recomputes the full
    definition in SQL via UNNEST WITH ORDINALITY."""
    from perl_data_validate_sanctions_spark.checks.drift import (
        embedding_drift_check,
    )

    emb = _t(spark, sf_dir, "embeddings")
    res = embedding_drift_check(
        emb, "embedding", F.pmod(F.col("vec_id"), F.lit(7))
    )
    return res.select(
        "partition_id", F.round("statistic", 6).alias("statistic"), "n",
        "drifted",
    )


_EMBEDDING_DRIFT_ORACLE = """
WITH e AS (
  SELECT CAST(vec_id % 7 AS INT) AS pid,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings
),
per AS (SELECT pid, d, sum(x) AS sx, count(*) AS n FROM e GROUP BY 1, 2),
gtot AS (SELECT d, sum(sx) AS gx, sum(n) AS gn FROM per GROUP BY d),
m AS (
  SELECT pid, n, sx / n AS mo,
         CASE WHEN gn - n > 0 THEN (gx - sx) / (gn - n)
              ELSE 0 END AS mr
  FROM per JOIN gtot USING (d)
)
SELECT pid AS partition_id,
       round(CASE WHEN sqrt(sum(mo*mo)) * sqrt(sum(mr*mr)) > 0
             THEN sum(mo*mr) / (sqrt(sum(mo*mo)) * sqrt(sum(mr*mr)))
             ELSE 0 END, 6) AS statistic,
       CAST(max(n) AS BIGINT) AS n,
       (CASE WHEN sqrt(sum(mo*mo)) * sqrt(sum(mr*mr)) > 0
             THEN sum(mo*mr) / (sqrt(sum(mo*mo)) * sqrt(sum(mr*mr)))
             ELSE 0 END < 0.5) AS drifted
FROM m GROUP BY pid
"""

QUANTILE_COLUMNS = ["l_quantity", "l_extendedprice", "l_discount"]
QUANTILE_PROBS = (0.5, 0.95, 0.99)


def q_stats_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column quantiles (p50/p95/p99) in one aggregation pass
    (checks/stats.py column_quantiles). exact=True here so the oracle
    can mirror it with ANSI quantile_cont — the production default is
    the mergeable percentile_approx sketch (one sketch per column on
    the shuffle, never rows), pinned against this exact path by
    tests/test_checks.py."""
    from perl_data_validate_sanctions_spark.checks.stats import (
        column_quantiles,
    )

    li = _t(spark, sf_dir, "lineitem")
    res = column_quantiles(li, QUANTILE_COLUMNS,
                           probabilities=QUANTILE_PROBS, exact=True)
    return res.select(
        "column", "p", F.round("value", 6).alias("value")
    )


def _stats_quantiles_oracle() -> str:
    parts = [
        f"SELECT '{c}' AS \"column\", {p} AS p, "
        f"round(quantile_cont(CAST({c} AS DOUBLE), {p}), 6) AS value "
        f"FROM lineitem"
        for c in QUANTILE_COLUMNS
        for p in QUANTILE_PROBS
    ]
    return " UNION ALL ".join(parts)


def q_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source canonical content hash (A5, Fetcher.pm:966-979 —
    order-insensitive sha256-of-sorted-row-hashes)."""
    docs = _t(spark, sf_dir, "documents")
    row_h = F.sha2(F.col("text").cast("binary"), 256)
    return (
        docs.select("source", row_h.alias("h"))
        .groupBy("source")
        .agg(
            F.sha2(
                F.concat_ws("", F.sort_array(F.collect_list("h"))).cast("binary"),
                256,
            ).alias("content_hash"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_CONTENT_HASH_ORACLE = """
WITH h AS (SELECT source, sha256(text) AS h FROM documents)
SELECT source, sha256(string_agg(h, '' ORDER BY h)) AS content_hash,
       count(*) AS n_rows
FROM h GROUP BY source
"""


def q_content_hash_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O(1)-aggregation-state content hash (hashing.py
    content_hash_agg_scalable, 'hexslice' mixer): sha256 over
    (count, Σ slice1, Σ slice2) of per-row sha256 hashes — the variant
    per-partition lineage uses at 10^12 rows, where the sorted
    collect_list of q_content_hash would materialize billions of
    strings per group. Order-insensitive by construction; the mixer's
    hex slices are SQL-reproducible, so this one is fully
    oracle-checked too."""
    from perl_data_validate_sanctions_spark.functions.hashing import (
        content_hash_agg_scalable,
    )

    docs = _t(spark, sf_dir, "documents")
    row_h = F.sha2(F.col("text").cast("binary"), 256)
    return (
        docs.select("source", row_h.alias("h"))
        .groupBy("source")
        .agg(
            content_hash_agg_scalable("h", mixer="hexslice").alias(
                "content_hash"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_HEXSLICE_1 = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) "
    f"* {16 ** (14 - i)}::BIGINT"
    for i in range(15)
)
_HEXSLICE_2 = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {i + 16}, 1)) - 1) "
    f"* {16 ** (14 - i)}::BIGINT"
    for i in range(15)
)
_CONTENT_HASH_SCALABLE_ORACLE = f"""
WITH h AS (SELECT source, sha256(text) AS h FROM documents),
s AS (SELECT source, ({_HEXSLICE_1}) AS a, ({_HEXSLICE_2}) AS b FROM h)
SELECT source,
       sha256(count(*)::VARCHAR || '|' || sum(a)::VARCHAR || '|'
              || sum(b)::VARCHAR) AS content_hash,
       count(*) AS n_rows
FROM s GROUP BY source
"""


def q_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 merge/diff semantics as a queryable operator: current state =
    sources excluding doc_id % 7 == 0 rows, fetched = full table →
    per-source changed/take_new decisions."""
    from perl_data_validate_sanctions_spark.streaming.incremental import (
        merge_source_states,
    )

    docs = _t(spark, sf_dir, "documents")
    cur = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_entries"))
        .select(
            "source",
            F.lit(100).cast("long").alias("updated"),
            "n_entries",
            F.lit(None).cast("string").alias("content_hash"),
            F.lit(None).cast("string").alias("error"),
        )
    )
    new = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_entries"))
        .select(
            "source",
            F.lit(100).cast("long").alias("updated"),
            "n_entries",
            F.lit(None).cast("string").alias("content_hash"),
            F.lit(None).cast("string").alias("error"),
        )
    )
    out = merge_source_states(cur, new, now=1234567890)
    return out.select("source", "n_entries", "changed", "take_new")


_MERGE_ORACLE = """
WITH cur AS (SELECT source, count(*) AS n FROM documents
             WHERE doc_id % 7 <> 0 GROUP BY source),
new AS (SELECT source, count(*) AS n FROM documents GROUP BY source)
SELECT n.source AS source,
       CASE WHEN n.n <> coalesce(c.n, -1) THEN n.n ELSE c.n END AS n_entries,
       (c.n IS NULL OR n.n <> c.n) AS changed,
       (c.n IS NULL OR n.n <> c.n) AS take_new
FROM new n LEFT JOIN cur c USING (source)
"""


def _simhash_oracle(max_hamming: int = 12, n_bits: int = 60) -> str:
    """DuckDB SQL replicating the md5-60-bit simhash pipeline of
    q_simhash_near_dups end-to-end: tokenize, md5-derived 60-bit token
    hash (15 hex chars parsed positionally — DuckDB has no hex→int
    cast), ±1 sign votes per bit over the token MULTISET, signature
    assembly, brute-force hamming join (the Spark side's blocking is
    exhaustive at n_blocks=max_hamming+1, so brute force is the
    equivalent spec)."""
    hexparse = " + ".join(
        f"(strpos('0123456789abcdef', substr(m, {i + 1}, 1)) - 1) "
        f"* {16 ** (14 - i)}::BIGINT"
        for i in range(15)
    )
    sig_terms = " + ".join(
        f"CASE WHEN sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << j}::BIGINT ELSE 0::BIGINT END"
        for j in range(n_bits)
    )
    return f"""
WITH tok AS (
  SELECT doc_id AS id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            t -> t <> '')) AS t
  FROM documents
), hashed AS (
  SELECT id, ({hexparse}) AS h
  FROM (SELECT id, md5(t) AS m FROM tok)
), sigs AS (
  SELECT id, ({sig_terms}) AS sig FROM hashed GROUP BY id
)
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.sig, b.sig))::INTEGER AS hamming
FROM sigs a JOIN sigs b ON a.id < b.id
WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
"""


def _lsh_ann_oracle(k: int = 5, n_planes: int = 6, dim: int = 64) -> str:
    """DuckDB SQL replicating q_lsh_ann_topk: the SAME crc32-derived ±1
    Rademacher hyperplanes (data-independent, inlined as literals here
    exactly as Spark constant-folds them), bucket = sign bits MSB-first,
    candidates = bucket-mates, cosine rank within bucket."""
    import zlib

    def plane_lits(p: int) -> str:
        signs = [
            "1.0" if zlib.crc32(f"{p}:{j}".encode()) & 1 else "-1.0"
            for j in range(dim)
        ]
        return "[" + ", ".join(signs) + "]"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"{plane_lits(p)}) >= 0 THEN {1 << (n_planes - 1 - p)} ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding, ({bucket}) AS bucket FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, bucket
  FROM e WHERE vec_id < 4
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                CAST(q.qv AS DOUBLE[])) AS c
  FROM e JOIN q USING (bucket)
), ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY c DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, round(c, 5) AS cosine, rank
FROM ranked WHERE rank <= {k}
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified.

    Oracle = the exact-Jaccard pair set (_JACCARD_ORACLE): banding at
    bands=32 × rows=2 misses a true pair with J≥s with probability
    (1-s²)^32 — the corpus's near-dup pairs sit at J≥0.9 (miss prob
    < 1e-22) with nothing else above 0.3, so the LSH output provably
    equals the exact pair set on this data family and the equality is
    re-checked by the driver gate every round."""
    from perl_data_validate_sanctions_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    out = minhash_lsh_pairs(docs, w=3, k=64, bands=32, threshold=0.3)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with EXHAUSTIVE pigeonhole blocking
    (n_blocks = max_hamming+1 ⇒ every qualifying pair shares a block),
    built on the md5-derived 60-bit token hash so DuckDB can replicate
    the signature bit-for-bit (_simhash_oracle re-derives sign votes,
    signature and hamming in plain SQL). xxhash64 remains the scale
    default; the operator and blocking are identical either way."""
    from perl_data_validate_sanctions_spark.operators.dedup import (
        md5_hash60,
        simhash_near_dup_pairs,
    )
    from perl_data_validate_sanctions_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents").filter(token_count("text") > 0)
    out = simhash_near_dup_pairs(
        docs, max_hamming=6, n_bits=60, token_hash=md5_hash60
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k. The hyperplanes are
    data-independent ±1 literals (crc32-derived Rademacher), so the
    oracle inlines the SAME planes and replicates bucket assignment +
    in-bucket cosine ranking exactly (_lsh_ann_oracle)."""
    from perl_data_validate_sanctions_spark.operators.similarity import (
        lsh_ann_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = lsh_ann_topk(emb, queries, k=5, n_planes=6, dim=64)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 5).alias("cosine"), "rank"
    )


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (deterministic mini-kmeans coarse quantizer, full-probe —
    reproduces brute force; kmeans is not SQL-expressible → rows-only,
    recall asserted vs brute force in pytest)."""
    from perl_data_validate_sanctions_spark.operators.similarity import (
        ivf_ann_topk,
        train_ivf_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    centroids = train_ivf_centroids(emb, n_centroids=8, dim=64, iterations=1)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_ann_topk(emb, queries, centroids, k=5, n_probe=8)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 5).alias("cosine"), "rank"
    )


def q_ivf_ann_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN against a WRITTEN index (operators/similarity.py:
    write_ivf_index / ivf_ann_topk_indexed): the embeddings table is
    materialized partitioned by ``ivf_cluster`` and the probe union is
    pushed as a partition predicate — the physical-pruning path
    (PartitionFilters; pruning ratio pinned by
    tests/test_pipeline_ops.py::test_ivf_indexed_partition_pruning).
    Full probe here so results ≡ brute force and the exact-cosine SQL
    is the oracle; the index is rewritten per call (500-row table) into
    the bench cache of the checkout this file lives in."""
    import os

    from perl_data_validate_sanctions_spark.operators.similarity import (
        ivf_ann_topk_indexed,
        train_ivf_centroids,
        write_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    centroids = train_ivf_centroids(emb, n_centroids=8, dim=64, iterations=1)
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = str(Path(__file__).parent / ".bench_cache" / f"ivf_index_{sf_tag}.parquet")
    write_ivf_index(emb, centroids, path)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_ann_topk_indexed(
        spark, path, queries, centroids, k=5, n_probe=8
    )
    return out.select(
        "query_id", "vec_id", F.round("cosine", 5).alias("cosine"), "rank"
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (hyperplane-bucketed,
    cosine-verified, operators/similarity.py:embedding_near_dup_pairs).

    The testdata embeddings contain NO near-dup pairs (verified: zero
    off-diagonal cosines ≥ 0.98), so the query plants them
    deterministically: every vector with vec_id < 40 is re-inserted
    scaled ×2 under vec_id + 100000. Scaling preserves direction, so a
    planted copy shares EVERY hyperplane sign with its original
    (sign(<2v, r>) = sign(<v, r>)) — the LSH bucket collision is
    PROVABLE, not probabilistic, recall on this fixture is exactly 1,
    and the exact all-pairs cosine join is therefore a sound oracle."""
    from perl_data_validate_sanctions_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    base = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = base.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    aug = base.unionByName(planted)
    out = embedding_near_dup_pairs(aug, threshold=0.999, n_planes=8, dim=64)
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


_EMB_NEAR_DUP_ORACLE = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), aug AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x * 2.0) AS v
  FROM base WHERE vec_id < 40
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM aug a JOIN aug b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.999
"""


# pinned payload parameter set for the multimodal feature oracle —
# covers lossless (amp=0), lossy-in-spec (amp=1, PSNR≈48dB) and
# mid-band lossy (amp=9, PSNR≈33dB) over three aspect shapes
IMG_FEATURE_PARAMS = [
    (
        f"img-feat-{i:03d}",
        ("png", "jpg", "bmp")[i % 3],
        (16, 32, 17)[i % 3],
        (8, 16, 9)[(i // 3) % 3],
        1000 + 7 * i,
        (0, 1, 9)[(i // 9) % 3],
    )
    for i in range(27)
]


def _img_payload(fmt: str, w: int, h: int, seed: int, amp: int) -> bytes:
    return f"PDVS1|{fmt}|{w}|{h}|{seed}|{amp}".encode()


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction (operators/multimodal.py:
    extract_image_features — batched per-(w,h,amp) group render) over a
    pinned payload set. The oracle is the independent SIMPLE reference
    path: per-row ``codec.decode`` + plain numpy mean/std/|diff| over
    the full-resolution image, precomputed at oracle-build time and
    inlined as VALUES (the q:dob_classify golden pattern) — so the
    grouped/chunked vectorized engine path is checked value-for-value
    against the obviously-correct per-row implementation."""
    from perl_data_validate_sanctions_spark.operators.multimodal import (
        extract_image_features,
    )

    rows = [
        (iid, bytearray(_img_payload(fmt, w, h, seed, amp)))
        for iid, fmt, w, h, seed, amp in IMG_FEATURE_PARAMS
    ]
    df = local_frame(spark, rows, "image_id string, bytes binary")
    out = extract_image_features(df)
    return out.select(
        "image_id", "fmt", "w", "h",
        F.round("mean_luma", 4).alias("mean_luma"),
        F.round("std_luma", 4).alias("std_luma"),
        F.round("edge_energy", 4).alias("edge_energy"),
    )


def _image_features_oracle() -> str:
    import numpy as np

    from perl_data_validate_sanctions_spark.sources import codec

    vals = []
    for iid, fmt, w, h, seed, amp in IMG_FEATURE_PARAMS:
        _, _, _, px = codec.decode(_img_payload(fmt, w, h, seed, amp))
        p16 = px.astype(np.int16)  # uint8 diff would wrap mod 256
        gx = float(np.abs(np.diff(p16, axis=1)).mean()) if w > 1 else 0.0
        gy = float(np.abs(np.diff(p16, axis=0)).mean()) if h > 1 else 0.0
        vals.append(
            f"('{iid}', '{fmt}', {w}, {h}, {float(px.mean())!r}, "
            f"{float(px.std())!r}, {gx + gy!r})"
        )
    return (
        "SELECT image_id, fmt, w, h, "
        "round(mean_luma, 4) AS mean_luma, "
        "round(std_luma, 4) AS std_luma, "
        "round(edge_energy, 4) AS edge_energy FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, fmt, w, h, mean_luma, std_luma, edge_energy)"
    )


def q_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail resize (operators/multimodal.py resize_images — one
    fancy-index gather per (w,h,amp) group) over the pinned payload
    set, verified by thumb-bytes md5 against the independent per-row
    decode + per-image nearest-neighbor gather (golden VALUES)."""
    from perl_data_validate_sanctions_spark.operators.multimodal import (
        resize_images,
    )

    rows = [
        (iid, bytearray(_img_payload(fmt, w, h, seed, amp)))
        for iid, fmt, w, h, seed, amp in IMG_FEATURE_PARAMS
    ]
    df = local_frame(spark, rows, "image_id string, bytes binary")
    out = resize_images(df, target_w=8, target_h=6)
    return out.select(
        "image_id", "w", "h", F.md5("thumb").alias("thumb_md5")
    )


def _resize_images_oracle() -> str:
    import hashlib

    import numpy as np

    from perl_data_validate_sanctions_spark.sources import codec

    tw, th = 8, 6
    vals = []
    for iid, fmt, w, h, seed, amp in IMG_FEATURE_PARAMS:
        _, _, _, px = codec.decode(_img_payload(fmt, w, h, seed, amp))
        ys = (np.arange(th) * h // th).clip(0, h - 1)
        xs = (np.arange(tw) * w // tw).clip(0, w - 1)
        thumb = px[np.ix_(ys, xs)]
        vals.append(
            f"('{iid}', {tw}, {th}, "
            f"'{hashlib.md5(thumb.tobytes()).hexdigest()}')"
        )
    return (
        "SELECT image_id, w, h, thumb_md5 FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, w, h, thumb_md5)"
    )


def q_sample_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (operators/multimodal.py sample_frames — per-band
    group-wide reductions) over the pinned payload set, verified
    against the independent per-row decode + np.array_split band means
    (golden VALUES)."""
    from perl_data_validate_sanctions_spark.operators.multimodal import (
        sample_frames,
    )

    rows = [
        (iid, bytearray(_img_payload(fmt, w, h, seed, amp)))
        for iid, fmt, w, h, seed, amp in IMG_FEATURE_PARAMS
    ]
    df = local_frame(spark, rows, "image_id string, bytes binary")
    out = sample_frames(df, every_n=4, n_frames=16)
    return out.select(
        "image_id", "frame_idx",
        F.round("frame_mean", 4).alias("frame_mean"),
    )


def _sample_frames_oracle() -> str:
    import numpy as np

    from perl_data_validate_sanctions_spark.sources import codec

    every_n, n_frames = 4, 16
    vals = []
    for iid, fmt, w, h, seed, amp in IMG_FEATURE_PARAMS:
        _, _, _, px = codec.decode(_img_payload(fmt, w, h, seed, amp))
        bands = np.array_split(px, min(n_frames, h), axis=0)
        for bi in range(0, len(bands), every_n):
            vals.append(f"('{iid}', {bi}, {float(bands[bi].mean())!r})")
    return (
        "SELECT image_id, frame_idx, round(frame_mean, 4) AS frame_mean "
        "FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, frame_idx, frame_mean)"
    )


# pinned real-codec parameter set (id, fmt, w, h, seed): payloads are
# REAL stdlib-encoded PNG (lossless) and q95 baseline JPEG (lossy)
# streams of the deterministic renders
REAL_FEATURE_PARAMS = [
    (f"real-feat-{i:03d}", ("png", "jpeg")[i % 2],
     (16, 32, 17)[i % 3], (8, 16, 9)[i % 3], 7000 + 11 * i)
    for i in range(12)
]


def _real_payload(fmt: str, w: int, h: int, seed: int) -> bytes:
    from perl_data_validate_sanctions_spark.sources import codec, jpeg, png

    img = codec.render(seed, w, h)
    if fmt == "png":
        return png.encode_png_gray(img)
    return jpeg.encode_jpeg_gray(img, quality=95)


def q_real_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features over REAL PNG/JPEG payloads — the stdlib codecs
    (sources/png.py, sources/jpeg.py) exercised END-TO-END through the
    Spark mapInPandas path. The oracle is golden VALUES computed
    independently in the driver: PNG expectations come from the
    ORIGINAL pixels (lossless round-trip proven through the whole
    engine path, fully codec-independent), JPEG expectations from a
    driver-side decode of the same stream (lossy — the exact decoded
    pixels are the spec)."""
    from perl_data_validate_sanctions_spark.operators.multimodal import (
        extract_image_features,
    )

    rows = [
        (rid, bytearray(_real_payload(fmt, w, h, seed)))
        for rid, fmt, w, h, seed in REAL_FEATURE_PARAMS
    ]
    df = local_frame(spark, rows, "image_id string, bytes binary")
    out = extract_image_features(df)
    return out.select(
        "image_id", "fmt", "w", "h",
        F.round("mean_luma", 4).alias("mean_luma"),
        F.round("std_luma", 4).alias("std_luma"),
        F.round("edge_energy", 4).alias("edge_energy"),
    )


def _real_decode_features_oracle() -> str:
    import numpy as np

    from perl_data_validate_sanctions_spark.sources import codec, jpeg

    vals = []
    for rid, fmt, w, h, seed in REAL_FEATURE_PARAMS:
        if fmt == "png":
            px = codec.render(seed, w, h)  # lossless: original pixels
        else:
            _, _, px = jpeg.decode_jpeg_gray(_real_payload(fmt, w, h, seed))
        p16 = px.astype(np.int16)
        gx = float(np.abs(np.diff(p16, axis=1)).mean()) if w > 1 else 0.0
        gy = float(np.abs(np.diff(p16, axis=0)).mean()) if h > 1 else 0.0
        vals.append(
            f"('{rid}', '{fmt}', {w}, {h}, {float(px.mean())!r}, "
            f"{float(px.std())!r}, {gx + gy!r})"
        )
    return (
        "SELECT image_id, fmt, w, h, "
        "round(mean_luma, 4) AS mean_luma, "
        "round(std_luma, 4) AS std_luma, "
        "round(edge_energy, 4) AS edge_energy FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, fmt, w, h, mean_luma, std_luma, edge_energy)"
    )


WEBP_FEATURE_PARAMS = [
    (f"webp-feat-{i:03d}", (16, 32, 17, 21)[i % 4], (8, 16, 9, 24)[i % 4],
     8100 + 13 * i)
    for i in range(10)
]


def q_webp_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features over REAL WebP-lossless payloads — the
    from-scratch VP8L codec (sources/webp.py) exercised END-TO-END
    through the Spark mapInPandas path. Golden-VALUES oracle from the
    ORIGINAL pixels: VP8L is lossless, so equality proves the whole
    engine path (RIFF walk, prefix decode, inverse transforms, feature
    math) codec-independently — the same device as the PNG leg of
    q:real_decode_features. Conformance of the codec itself is pinned
    separately against the system libwebp (tests/test_webp.py)."""
    from perl_data_validate_sanctions_spark.operators.multimodal import (
        extract_image_features,
    )
    from perl_data_validate_sanctions_spark.sources import codec, webp

    rows = [
        (rid, bytearray(webp.encode_webp_gray(codec.render(seed, w, h))))
        for rid, w, h, seed in WEBP_FEATURE_PARAMS
    ]
    df = local_frame(spark, rows, "image_id string, bytes binary")
    return extract_image_features(df).select(
        "image_id", "fmt", "w", "h",
        F.round("mean_luma", 4).alias("mean_luma"),
        F.round("std_luma", 4).alias("std_luma"),
        F.round("edge_energy", 4).alias("edge_energy"),
    )


def _webp_decode_features_oracle() -> str:
    import numpy as np

    from perl_data_validate_sanctions_spark.sources import codec

    vals = []
    for rid, w, h, seed in WEBP_FEATURE_PARAMS:
        px = codec.render(seed, w, h)  # lossless: original pixels
        p16 = px.astype(np.int16)
        gx = float(np.abs(np.diff(p16, axis=1)).mean()) if w > 1 else 0.0
        gy = float(np.abs(np.diff(p16, axis=0)).mean()) if h > 1 else 0.0
        vals.append(
            f"('{rid}', 'webp', {w}, {h}, {float(px.mean())!r}, "
            f"{float(px.std())!r}, {gx + gy!r})"
        )
    return (
        "SELECT image_id, fmt, w, h, "
        "round(mean_luma, 4) AS mean_luma, "
        "round(std_luma, 4) AS std_luma, "
        "round(edge_energy, 4) AS edge_energy FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, fmt, w, h, mean_luma, std_luma, edge_energy)"
    )


WEBP_LOSSY_FEATURE_PARAMS = [
    (f"vp8-feat-{i:03d}", (64, 48, 33, 24)[i % 4], (48, 32, 17, 24)[i % 4],
     8600 + 29 * i)
    for i in range(10)
]


def q_webp_lossy_decode_features(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Image features over REAL LOSSY-WebP (VP8) payloads — the
    system-libwebp ctypes codec (sources/webp_sys.py) exercised
    END-TO-END through the Spark mapInPandas path: container sniff →
    lossy dispatch in sources/webp.py → feature math. Golden-VALUES
    oracle from an independent driver-side decode of the SAME payloads
    (lossy, so the invariant is payload-identical pixels, the same
    device as q:real_decode_features' JPEG leg — the encode and both
    decodes are the deterministic system library). Requires libwebp,
    which this container ships; on a libwebp-free machine the same
    payloads surface as the distinct codec_unavailable violation
    (tests/test_webp_lossy.py pins that contract)."""
    from perl_data_validate_sanctions_spark.operators.multimodal import (
        extract_image_features,
    )
    from perl_data_validate_sanctions_spark.sources import codec, webp_sys

    rows = [
        (rid, bytearray(webp_sys.encode_lossy_gray(
            codec.render(seed, w, h), quality=95)))
        for rid, w, h, seed in WEBP_LOSSY_FEATURE_PARAMS
    ]
    df = local_frame(spark, rows, "image_id string, bytes binary")
    return extract_image_features(df).select(
        "image_id", "fmt", "w", "h",
        F.round("mean_luma", 4).alias("mean_luma"),
        F.round("std_luma", 4).alias("std_luma"),
        F.round("edge_energy", 4).alias("edge_energy"),
    )


def _webp_lossy_decode_features_oracle() -> str:
    import numpy as np

    from perl_data_validate_sanctions_spark.sources import codec, webp_sys

    vals = []
    for rid, w, h, seed in WEBP_LOSSY_FEATURE_PARAMS:
        blob = webp_sys.encode_lossy_gray(codec.render(seed, w, h),
                                          quality=95)
        _, _, px = webp_sys.decode_gray(blob)  # lossy: decoded pixels
        p16 = px.astype(np.int16)
        gx = float(np.abs(np.diff(p16, axis=1)).mean()) if w > 1 else 0.0
        gy = float(np.abs(np.diff(p16, axis=0)).mean()) if h > 1 else 0.0
        vals.append(
            f"('{rid}', 'webp', {w}, {h}, {float(px.mean())!r}, "
            f"{float(px.std())!r}, {gx + gy!r})"
        )
    return (
        "SELECT image_id, fmt, w, h, "
        "round(mean_luma, 4) AS mean_luma, "
        "round(std_luma, 4) AS std_luma, "
        "round(edge_energy, 4) AS edge_energy FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, fmt, w, h, mean_luma, std_luma, edge_energy)"
    )


# pinned phash fixture: one row per payload kind the engine decodes
# (synthetic PDVS1 clean + noisy, real PNG, baseline JPEG, VP8L
# lossless, lossy VP8) so the hash query exercises EVERY codec leg
PHASH_PARAMS = [
    (f"ph-{kind}-{i:02d}", kind, (64, 48, 33)[i % 3], (48, 32, 24)[i % 3],
     8800 + 37 * i + j * 1000)
    for j, kind in enumerate(
        ["synth", "synthnoise", "png", "jpeg", "vp8l", "vp8"])
    for i in range(3)
]


def _phash_payload(kind: str, w: int, h: int, seed: int) -> bytes:
    from perl_data_validate_sanctions_spark.sources import (
        codec, jpeg, png, webp, webp_sys,
    )

    px = codec.render(seed, w, h)
    if kind == "synth":
        return f"PDVS1|png|{w}|{h}|{seed}|0".encode()
    if kind == "synthnoise":
        return f"PDVS1|png|{w}|{h}|{seed}|16".encode()
    if kind == "png":
        return png.encode_png_gray(px)
    if kind == "jpeg":
        return jpeg.encode_jpeg_gray(px, quality=95)
    if kind == "vp8l":
        return webp.encode_webp_gray(px)
    return webp_sys.encode_lossy_gray(px, quality=95)


def _phash_pixels(kind: str, w: int, h: int, seed: int):
    """Driver-side decode of the SAME payload the query feeds Spark."""
    from perl_data_validate_sanctions_spark.sources import codec

    payload = _phash_payload(kind, w, h, seed)
    if kind in ("synth", "synthnoise"):
        _, _, _, px = codec.decode(payload)
        return px
    return codec.real_decode(payload)


def _phash_ref(px) -> int:
    """INDEPENDENT recompute of the pinned pHash definition
    (operators/multimodal.py::phash_block docstring): area-mean resize
    by explicit slice means (nearest-index upsample), direct-formula
    DCT-II via two transposed tensordots, median of the 63 non-DC
    coefficients, bit k = coef k > median. Different code path from the
    engine's reduceat/einsum pipeline on purpose — a shared bug can't
    hide."""
    import numpy as np

    t, blk = 32, 8
    h, w = px.shape
    img = np.empty((t, t), dtype=np.float64)
    x = px.astype(np.float64)
    rows = ([slice((r * h) // t, ((r + 1) * h) // t) for r in range(t)]
            if h >= t else [slice((r * h) // t, (r * h) // t + 1)
                            for r in range(t)])
    cols = ([slice((c * w) // t, ((c + 1) * w) // t) for c in range(t)]
            if w >= t else [slice((c * w) // t, (c * w) // t + 1)
                            for c in range(t)])
    for r, rs in enumerate(rows):
        for c, cs in enumerate(cols):
            img[r, c] = x[rs, cs].mean()
    i = np.arange(t)
    basis = np.cos(np.pi * np.outer(np.arange(t), 2 * i + 1) / (2 * t))
    basis[0] *= np.sqrt(1.0 / t)
    basis[1:] *= np.sqrt(2.0 / t)
    coefs = np.tensordot(np.tensordot(img, basis, axes=([0], [1])),
                         basis, axes=([0], [1]))
    c64 = coefs[:blk, :blk].reshape(-1)
    med = float(np.median(c64[1:]))
    out = 0
    for k, v in enumerate(c64):
        if v > med:
            out |= 1 << k
    return out - (1 << 64) if out >= (1 << 63) else out


def q_phash_64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual hashes (classic 32×32-DCT pHash, 64 bits) over a
    fixture spanning every decode leg — synthetic clean+noisy, real
    PNG, baseline JPEG, VP8L and lossy VP8. The engine path is
    operators/multimodal.py::compute_phash (batched mapInPandas decode
    → vectorized reduceat/einsum hash); the oracle recomputes each hash
    with an independently-coded implementation (_phash_ref) on a
    driver-side decode of the same payloads."""
    from perl_data_validate_sanctions_spark.operators.multimodal import (
        compute_phash,
    )

    rows = [
        (rid, bytearray(_phash_payload(kind, w, h, seed)))
        for rid, kind, w, h, seed in PHASH_PARAMS
    ]
    df = local_frame(spark, rows, "image_id string, bytes binary")
    return compute_phash(df)


def _phash_64_oracle() -> str:
    vals = [
        f"('{rid}', CAST({_phash_ref(_phash_pixels(kind, w, h, seed))} "
        "AS BIGINT))"
        for rid, kind, w, h, seed in PHASH_PARAMS
    ]
    return (
        "SELECT image_id, phash64 FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, phash64)"
    )


# planted phash-column corruption: image index → XOR mask applied to
# the stored hash (1, 3 and 17 wrong bits)
PHASH_COLUMN_FLIPS = {2: 1 << 7, 7: (1 << 3) | (1 << 40) | (1 << 63),
                      11: (1 << 17) - 1}


def q_phash_column_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phash COLUMN integrity (checks/phash_check.py): recompute the
    pHash from the payload and flag rows whose stored column disagrees.
    The fixture stores the INDEPENDENTLY-coded reference hash
    (_phash_ref) for clean rows — so the check passing also re-proves
    engine ≡ reference bit-for-bit — and three planted corruptions (1,
    3, 17 flipped bits); the oracle lists exactly those three violation
    rows."""
    from perl_data_validate_sanctions_spark.checks.phash_check import (
        phash_column_violations,
    )

    rows = []
    for i, (rid, kind, w, h, seed) in enumerate(PHASH_PARAMS):
        stored = _phash_ref(_phash_pixels(kind, w, h, seed))
        if i in PHASH_COLUMN_FLIPS:
            u = (stored & ((1 << 64) - 1)) ^ PHASH_COLUMN_FLIPS[i]
            stored = u - (1 << 64) if u >= (1 << 63) else u
        rows.append((rid, bytearray(_phash_payload(kind, w, h, seed)),
                     stored))
    df = local_frame(spark, rows, "image_id string, bytes binary, phash long")
    return phash_column_violations(df, F.lit(0)).select(
        "image_id", "column", "detail"
    )


def _phash_column_check_oracle() -> str:
    vals = []
    for i, (rid, _kind, _w, _h, _seed) in enumerate(PHASH_PARAMS):
        if i in PHASH_COLUMN_FLIPS:
            nbits = bin(PHASH_COLUMN_FLIPS[i]).count("1")
            vals.append(
                f"('{rid}', 'phash', 'stored phash differs from "
                f"recomputed by {nbits} bits')"
            )
    return (
        "SELECT image_id, \"column\", detail FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, \"column\", detail)"
    )


# pinned near-dup fixture: 8 base images each in a clean and an
# amp-16-noise variant (planted near-dups, hamming ≤ 6 empirically 0-6)
# plus 8 unrelated images (pairwise hamming ~25-40)
PHASH_NEAR_DUP_PARAMS = (
    [(f"phnd-base-{i}", "synth", 64, 48, 7100 + 97 * i) for i in range(8)]
    + [(f"phnd-noisy-{i}", "synthnoise", 64, 48, 7100 + 97 * i)
       for i in range(8)]
    + [(f"phnd-other-{i}", "synth", 64, 48, 9900 + 131 * i)
       for i in range(8)]
)


def q_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image pairs by perceptual hash — compute_phash
    feeding the SAME pigeonhole-blocked hamming join as text SimHash
    (operators/dedup.py::hamming_near_dup_pairs, exhaustive for
    n_blocks = max_hamming+1, id-only candidates). The oracle is the
    exhaustive driver-side recompute over the independently-coded
    hashes — every planted (base, noisy) pair must surface and nothing
    else comes close."""
    from perl_data_validate_sanctions_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    rows = [
        (rid, bytearray(_phash_payload(kind, w, h, seed)))
        for rid, kind, w, h, seed in PHASH_NEAR_DUP_PARAMS
    ]
    df = local_frame(spark, rows, "image_id string, bytes binary")
    return phash_near_dup_pairs(df, max_hamming=6).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _phash_near_dups_oracle() -> str:
    hashes = {
        rid: _phash_ref(_phash_pixels(kind, w, h, seed))
        for rid, kind, w, h, seed in PHASH_NEAR_DUP_PARAMS
    }
    ids = sorted(hashes)
    vals = []
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
            if d <= 6:
                vals.append(f"('{a}', '{b}', {d})")
    return (
        "SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming "
        "FROM (VALUES " + ", ".join(vals)
        + ") AS t(id_a, id_b, hamming)"
    )


# pinned video parameter set (id, seed, n_frames, fps): frames are the
# deterministic codec renders, MJPEG-encoded at q95 into an AVI clip
VIDEO_SAMPLE_PARAMS = [
    (f"vid-feat-{i:03d}", 9000 + 31 * i, (6, 10, 3)[i % 3],
     (10, 24, 5)[i % 3])
    for i in range(6)
]


def _video_clip(seed: int, n_frames: int, fps: int) -> bytes:
    from perl_data_validate_sanctions_spark.sources import avi, codec

    frames = [codec.render(seed + i, 32, 24) for i in range(n_frames)]
    return avi.encode_avi_mjpeg(frames, fps=fps, quality=95)


def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-video frame sampling (operators/multimodal.py:sample_frames
    over AVI/MJPEG clips — sources/avi.py RIFF walk + per-frame T.81
    decode). The oracle is golden VALUES from an independent driver-side
    decode of the same clips (container walk + jpeg decode + numpy mean
    per frame, no Spark plumbing), so the mapInPandas fan-out path is
    checked value-for-value."""
    from perl_data_validate_sanctions_spark.operators.multimodal import (
        sample_frames,
    )

    rows = [
        (vid, bytearray(_video_clip(seed, n, fps)))
        for vid, seed, n, fps in VIDEO_SAMPLE_PARAMS
    ]
    df = local_frame(spark, rows, "image_id string, bytes binary")
    out = sample_frames(df, every_n=2, n_frames=8)
    return out.select(
        F.col("image_id").alias("video_id"),
        "frame_idx",
        F.round("frame_mean", 4).alias("frame_mean"),
    )


def _video_frame_sample_oracle() -> str:
    from perl_data_validate_sanctions_spark.sources import avi

    vals = []
    for vid, seed, n, fps in VIDEO_SAMPLE_PARAMS:
        _, frames = avi.decode_avi_mjpeg(_video_clip(seed, n, fps))
        for fi in range(0, min(8, len(frames)), 2):
            vals.append(
                f"('{vid}', {fi}, {float(frames[fi].mean())!r})"
            )
    return (
        "SELECT video_id, frame_idx, round(frame_mean, 4) AS frame_mean "
        "FROM (VALUES " + ", ".join(vals)
        + ") AS t(video_id, frame_idx, frame_mean)"
    )


# pinned audio parameter set (id, seed, n_samples, rate): deterministic
# int16 clips from integer arithmetic only (no float generation, so the
# Spark path and the oracle build identical inputs bit-for-bit)
AUDIO_FEATURE_PARAMS = [
    (f"aud-feat-{i:03d}", 500 + 13 * i, (480, 1600, 333)[i % 3],
     (16_000, 8_000, 44_100)[i % 3])
    for i in range(9)
]


def _audio_clip(seed: int, n: int):
    import numpy as np

    return (
        ((np.arange(n, dtype=np.int64) * 2654435761 + seed) % 65536)
        - 32768
    ).astype(np.int16)


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over REAL RIFF/WAVE PCM16 payloads
    (operators/multimodal.py:extract_audio_features; codec
    sources/wav.py — stdlib decode, zero-copy frombuffer). The oracle
    is golden VALUES from an independent plain-numpy recomputation on
    the same deterministic integer-built clips (the q:image_features
    pattern), so the whole encode→Spark→decode→feature path is checked
    value-for-value."""
    from perl_data_validate_sanctions_spark.operators.multimodal import (
        extract_audio_features,
    )
    from perl_data_validate_sanctions_spark.sources import wav

    rows = [
        (aid, bytearray(wav.encode_wav_pcm16(_audio_clip(seed, n), rate)))
        for aid, seed, n, rate in AUDIO_FEATURE_PARAMS
    ]
    df = local_frame(spark, rows, "audio_id string, bytes binary")
    out = extract_audio_features(df)
    return out.select(
        "audio_id", "rate", "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 4).alias("rms"),
        "peak",
        F.round("zero_cross_rate", 6).alias("zero_cross_rate"),
    )


def _audio_features_oracle() -> str:
    import numpy as np

    vals = []
    for aid, seed, n, rate in AUDIO_FEATURE_PARAMS:
        s = _audio_clip(seed, n)
        x = s.astype(np.float64)
        signs = np.signbit(s)
        zcr = (
            int(np.count_nonzero(signs[1:] != signs[:-1])) / (n - 1)
            if n > 1 else 0.0
        )
        vals.append(
            f"('{aid}', {rate}, {n}, {n / rate!r}, "
            f"{float(np.sqrt(np.mean(x * x)))!r}, "
            f"{int(np.max(np.abs(x)))}, {zcr!r})"
        )
    return (
        "SELECT audio_id, rate, n_samples, "
        "round(duration_s, 6) AS duration_s, round(rms, 4) AS rms, peak, "
        "round(zero_cross_rate, 6) AS zero_cross_rate FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(audio_id, rate, n_samples, duration_s, rms, peak, "
        "zero_cross_rate)"
    )


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation pipeline: quality gate →
    exact dedup (normalized-md5, min-id survivor) → near-dup removal
    (3-gram Jaccard ≥ 0.5; the larger id of every pair is dropped) →
    clean corpus with token counts. One deterministic pass composed
    entirely of the engine's operators."""
    from perl_data_validate_sanctions_spark.operators.dedup import (
        exact_dedup,
        ngram_jaccard_pairs,
        shingle_cache,
    )
    from perl_data_validate_sanctions_spark.operators.text import (
        quality_score,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    gated = docs.filter(F.round(quality_score("text"), 6) >= 0.8)
    uniq = exact_dedup(gated)
    # suite-scoped shingle cache: ONE shingle build feeds every dedup
    # stage of the pipeline (pairs are materialized inside the call, so
    # releasing the cache on exit never recomputes shingles); add e.g.
    # minhash_lsh_pairs(uniq, shingles=sh) stages without a second build
    with shingle_cache(uniq, w=3) as sh:
        pairs = ngram_jaccard_pairs(uniq, w=3, threshold=0.5, shingles=sh)
    dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    clean = uniq.join(dropped, "doc_id", "left_anti")
    return clean.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.round(quality_score("text"), 6).alias("quality"),
    )


_CURATE_ORACLE = """
WITH tok AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents
), m AS (
  SELECT doc_id, text, toks, len(toks) AS n,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
         length(array_to_string(toks, '')) AS tok_chars,
         len(list_distinct(toks)) AS n_distinct
  FROM tok
), q AS (
  SELECT doc_id, text, toks, n, round(
      0.25 * (CASE WHEN n >= 10 AND n <= 5000 THEN 1.0 ELSE 0.3 END)
    + 0.25 * (CASE WHEN length(text) > 0 THEN alpha_chars * 1.0 / length(text) ELSE 0.0 END)
    + 0.25 * (CASE WHEN n > 0 AND tok_chars * 1.0 / n >= 2.0 AND tok_chars * 1.0 / n <= 12.0 THEN 1.0 ELSE 0.4 END)
    + 0.25 * (CASE WHEN n > 0 THEN n_distinct * 1.0 / n ELSE 0.0 END), 6) AS quality
  FROM m
), gated AS (SELECT * FROM q WHERE quality >= 0.8),
uniq AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
      ORDER BY doc_id) AS rn
    FROM gated) WHERE rn = 1
), sh AS (
  SELECT doc_id, list_distinct(
           [array_to_string(toks[i:i+2], ' ')
            for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS s
  FROM uniq
), dropped AS (
  SELECT DISTINCT b.doc_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s)) * 1.0
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
)
SELECT u.doc_id, len(u.toks) AS n_tokens, u.quality
FROM uniq u WHERE u.doc_id NOT IN (SELECT doc_id FROM dropped)
"""


_SINK_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXY"  # one per nationkey 0..24


def _sink_images(spark: SparkSession, sf_dir: str):
    """Images-shaped table derived deterministically from orders ×
    customer × nation, with planted violations for every SQL-expressible
    check: duplicate image_ids (orderkey mod 14000), duplicate/null
    phash, w=0 / h=0 rows, a 'bmp' fmt stripe, null bytes, and captions
    whose trailing key points at nations ≥ 20 — absent from the ref_keys
    dimension (nations < 20). Every derivation is mirrored 1:1 in the
    DuckDB oracle CTE."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey")
    letter = F.substring(
        F.lit(_SINK_LETTERS), F.col("n_nationkey").cast("int") + 1, 1
    )
    ref_key = F.concat(F.lit("NATION"), letter)
    images = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "left")
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "left")
        .select(
            F.concat(
                F.lit("img-"),
                F.lpad((F.col("o_orderkey") % 14000).cast("string"), 12, "0"),
            ).alias("image_id"),
            F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
            .otherwise(F.encode(F.col("o_orderpriority"), "UTF-8"))
            .alias("bytes"),
            (F.col("o_orderkey") % 100).cast("int").alias("w"),
            ((F.col("o_orderkey") + 37) % 100).cast("int").alias("h"),
            F.element_at(
                F.array(F.lit("png"), F.lit("jpeg"), F.lit("webp"),
                        F.lit("bmp")),
                (F.col("o_orderkey") % 4).cast("int") + 1,
            ).alias("fmt"),
            F.concat(F.lit("photo in "), ref_key).alias("caption"),
            F.when(F.col("o_orderkey") % 89 == 0, F.lit(None))
            .otherwise((F.col("o_orderkey") % 6000).cast("long"))
            .alias("phash"),
        )
    )
    ref_keys = n.filter(F.col("n_nationkey") < 20).select(
        F.concat(F.lit("NATION"), letter).alias("key")
    )
    return images, ref_keys


def q_validate_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production sink path, oracle-gated end-to-end (VERDICT r5
    #3): run the validation suite with ``sink_dir`` set, then read the
    WRITTEN violations.parquet back and roll it up per (check,
    partition_id) — asserting along the way that the written
    check_summary and partition_verdicts parquet agree with the written
    violations table. Reference analog: xt/20_update.t:53-65 asserts
    the FILE update_sanctions_csv wrote, not its stdout."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from perl_data_validate_sanctions_spark.plans.runner import (
        run_validation,
    )
    from perl_data_validate_sanctions_spark.schema import VIOLATION_SCHEMA

    images, ref_keys = _sink_images(spark, sf_dir)
    # mirrorable partition rule (the default logical_partition hashes
    # with Spark's xxhash64, which DuckDB cannot reproduce)
    pexpr = F.pmod(
        F.substring("image_id", 5, 12).cast("long"), F.lit(32)
    ).cast("int")

    sink = _tempfile.mkdtemp(prefix="pdvs_q_sink_")
    try:
        run_validation(
            images,
            ref_keys=ref_keys,
            checks=("schema", "unique_image_id", "unique_phash",
                    "referential"),
            partition_expr=pexpr,
            with_stats=False,
            sink_dir=sink,
        )
        viol = spark.read.schema(VIOLATION_SCHEMA).parquet(
            _os.path.join(sink, "violations.parquet")
        )
        rollup = (
            viol.groupBy("check", "partition_id")
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .collect()
        )
        # written summary == written violations
        summary = {
            r["check"]: r["n_violations"]
            for r in spark.read.parquet(
                _os.path.join(sink, "check_summary.parquet")
            ).collect()
        }
        by_check: dict[str, int] = {}
        by_part: dict[int, int] = {}
        for r in rollup:
            by_check[r["check"]] = by_check.get(r["check"], 0) + r["n_violations"]
            by_part[r["partition_id"]] = (
                by_part.get(r["partition_id"], 0) + r["n_violations"]
            )
        assert summary == by_check, (summary, by_check)
        # written verdicts == written violations + full row coverage
        verdicts = spark.read.parquet(
            _os.path.join(sink, "partition_verdicts.parquet")
        ).collect()
        assert {
            r["partition_id"]: r["n_violations"] for r in verdicts
            if r["n_violations"]
        } == by_part
        assert all(
            (not r["passed"]) == (r["n_violations"] > 0) for r in verdicts
        )
        assert sum(r["n_rows"] for r in verdicts) == images.count()
    finally:
        _shutil.rmtree(sink, ignore_errors=True)
    out = local_frame(
        spark,
        [(r["check"], r["partition_id"], r["n_violations"]) for r in rollup],
        "check string, partition_id int, n_violations long",
    )
    return out.orderBy("check", "partition_id")


_VALIDATE_SINK_ORACLE = """
WITH img AS (
  SELECT
    CAST(o.o_orderkey % 14000 AS BIGINT) % 32 AS partition_id,
    'img-' || lpad(CAST(o.o_orderkey % 14000 AS VARCHAR), 12, '0')
      AS image_id,
    (o.o_orderkey % 97 = 0) AS bytes_null,
    CAST(o.o_orderkey % 100 AS INT) AS w,
    CAST((o.o_orderkey + 37) % 100 AS INT) AS h,
    CASE CAST(o.o_orderkey % 4 AS INT)
      WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'webp'
      ELSE 'bmp' END AS fmt,
    CASE WHEN n.n_nationkey IS NULL THEN NULL
      ELSE 'NATION' || substr('ABCDEFGHIJKLMNOPQRSTUVWXY',
                              CAST(n.n_nationkey AS INT) + 1, 1)
      END AS ref_key,
    CASE WHEN o.o_orderkey % 89 = 0 THEN NULL
      ELSE CAST(o.o_orderkey % 6000 AS BIGINT) END AS phash
  FROM orders o
  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
),
schema_v AS (
  SELECT 'schema' AS "check", CAST(partition_id AS INT) AS partition_id,
    CAST(SUM(
        CASE WHEN w IS NULL OR w <= 0 OR w >= 65536 THEN 1 ELSE 0 END
      + CASE WHEN h IS NULL OR h <= 0 OR h >= 65536 THEN 1 ELSE 0 END
      + CASE WHEN fmt IS NULL OR fmt NOT IN ('png','jpeg','webp')
             THEN 1 ELSE 0 END
      + CASE WHEN phash IS NULL THEN 1 ELSE 0 END
      + CASE WHEN bytes_null THEN 1 ELSE 0 END
    ) AS BIGINT) AS n_violations
  FROM img GROUP BY partition_id
),
uid AS (
  SELECT 'unique_image_id' AS "check", CAST(partition_id AS INT)
      AS partition_id, count(*) AS n_violations
  FROM (SELECT partition_id,
               count(*) OVER (PARTITION BY image_id) AS c FROM img) t
  WHERE c > 1 GROUP BY partition_id
),
uph AS (
  SELECT 'unique_phash' AS "check", CAST(partition_id AS INT)
      AS partition_id, count(*) AS n_violations
  FROM (SELECT partition_id, phash,
               count(*) OVER (PARTITION BY phash) AS c FROM img
        WHERE phash IS NOT NULL) t
  WHERE c > 1 GROUP BY partition_id
),
refv AS (
  SELECT 'referential' AS "check", CAST(partition_id AS INT)
      AS partition_id, count(*) AS n_violations
  FROM img
  WHERE ref_key IS NOT NULL AND ref_key NOT IN (
    SELECT 'NATION' || substr('ABCDEFGHIJKLMNOPQRSTUVWXY',
                              CAST(n_nationkey AS INT) + 1, 1)
    FROM nation WHERE n_nationkey < 20)
  GROUP BY partition_id
)
SELECT * FROM (
  SELECT * FROM schema_v WHERE n_violations > 0
  UNION ALL SELECT * FROM uid
  UNION ALL SELECT * FROM uph
  UNION ALL SELECT * FROM refv
) ORDER BY "check", partition_id
"""


# ------------------------------------------------------------- contract ---

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_match_documents(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "match_documents": q_match_documents,
        "match_documents_arrow": q_match_documents_arrow,
        "pricing_summary": q_pricing_summary,
        "source_counts": q_source_counts,
        "stats_documents": q_stats_documents,
        "unique_userid": q_unique_userid,
        "referential_orphans": q_referential_orphans,
        "window_topk": q_window_topk,
        "dob_parse": q_dob_parse,
        "dob_classify": q_dob_classify,
        "country_code": q_country_code,
        "token_stats": q_token_stats,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "rolling_fingerprints": q_rolling_fingerprints,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "near_dup_groups": q_near_dup_groups,
        "exact_dup_groups": q_exact_dup_groups,
        "ann_topk": q_ann_topk,
        "drift_chi2_events": q_drift_chi2_events,
        "drift_psi_events": q_drift_psi_events,
        "embedding_drift": q_embedding_drift,
        "stats_quantiles": q_stats_quantiles,
        "content_hash": q_content_hash,
        "content_hash_scalable": q_content_hash_scalable,
        "incremental_merge": q_incremental_merge,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_near_dups": q_simhash_near_dups,
        "lsh_ann_topk": q_lsh_ann_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "ivf_ann_topk_indexed": q_ivf_ann_topk_indexed,
        "embedding_near_dups": q_embedding_near_dups,
        "image_features": q_image_features,
        "resize_images": q_resize_images,
        "sample_frames": q_sample_frames,
        "audio_features": q_audio_features,
        "video_frame_sample": q_video_frame_sample,
        "real_decode_features": q_real_decode_features,
        "curate_corpus": q_curate_corpus,
        "validate_sink": q_validate_sink,
        "webp_decode_features": q_webp_decode_features,
        "webp_lossy_decode_features": q_webp_lossy_decode_features,
        "phash_64": q_phash_64,
        "phash_near_dups": q_phash_near_dups,
        "phash_column_check": q_phash_column_check,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "match_documents": _MATCH_ORACLE,
        "match_documents_arrow": _MATCH_ORACLE,
        "pricing_summary": _PRICING_ORACLE,
        "source_counts": (
            "SELECT source, count(*) AS n_entries FROM documents "
            "GROUP BY source ORDER BY source"
        ),
        "stats_documents": _STATS_ORACLE,
        "unique_userid": _UNIQUE_ORACLE,
        "referential_orphans": _REFERENTIAL_ORACLE,
        "window_topk": _TOPK_ORACLE,
        "dob_parse": _DOB_PARSE_ORACLE,
        "dob_classify": _dob_classify_oracle(),
        "country_code": _country_oracle(),
        "token_stats": _TOKEN_ORACLE,
        "lang_id": _lang_oracle(),
        "quality_score": _QUALITY_ORACLE,
        "rolling_fingerprints": _rolling_fp_oracle(),
        "ngram_jaccard_pairs": _JACCARD_ORACLE,
        "near_dup_groups": _NEAR_DUP_GROUPS_ORACLE,
        "exact_dup_groups": _EXACT_DUP_ORACLE,
        "ann_topk": _ANN_ORACLE,
        "drift_chi2_events": _DRIFT_ORACLE,
        "drift_psi_events": _DRIFT_PSI_ORACLE,
        "embedding_drift": _EMBEDDING_DRIFT_ORACLE,
        "stats_quantiles": _stats_quantiles_oracle(),
        "content_hash": _CONTENT_HASH_ORACLE,
        "content_hash_scalable": _CONTENT_HASH_SCALABLE_ORACLE,
        "incremental_merge": _MERGE_ORACLE,
        "ivf_ann_topk": _ANN_ORACLE,  # full-probe IVF ≡ brute force
        "ivf_ann_topk_indexed": _ANN_ORACLE,  # same, via the written index
        "curate_corpus": _CURATE_ORACLE,
        # LSH banding at these params provably recalls every J≥0.3 pair
        # of this corpus family (see q_minhash_lsh_pairs docstring), so
        # the exact-Jaccard set IS its oracle
        "minhash_lsh_pairs": _JACCARD_ORACLE,
        "simhash_near_dups": _simhash_oracle(max_hamming=6, n_bits=60),
        "lsh_ann_topk": _lsh_ann_oracle(k=5, n_planes=6, dim=64),
        # recall on the planted-scaled-copy fixture is provably 1 (sign
        # bits are scale-invariant), so exact all-pairs cosine IS the
        # oracle — see q_embedding_near_dups docstring
        "embedding_near_dups": _EMB_NEAR_DUP_ORACLE,
        # golden VALUES from the independent per-row decode path
        "image_features": _image_features_oracle(),
        "resize_images": _resize_images_oracle(),
        "sample_frames": _sample_frames_oracle(),
        "audio_features": _audio_features_oracle(),
        "video_frame_sample": _video_frame_sample_oracle(),
        "real_decode_features": _real_decode_features_oracle(),
        "webp_decode_features": _webp_decode_features_oracle(),
        "webp_lossy_decode_features": _webp_lossy_decode_features_oracle(),
        "phash_64": _phash_64_oracle(),
        "phash_near_dups": _phash_near_dups_oracle(),
        "phash_column_check": _phash_column_check_oracle(),
        # recomputes the suite's violation rollup straight from the
        # testdata tables; the Spark side reads it back from the WRITTEN
        # violations.parquet (the sink path under test)
        "validate_sink": _VALIDATE_SINK_ORACLE,
    }
