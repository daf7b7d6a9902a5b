"""Wave-85 driver queries: (1) RFC 3986 syntax-based URL
normalization (operators/webtext.rfc3986_normalize) — the crawl-dedup
canonical form with percent-decoding of unreserved octets, hex
uppercasing of surviving escapes, default-port stripping, dot-segment
resolution and slash collapse — plus the canonical-collision
histogram (how many raw spellings collapse per canonical URL); (2)
American Soundex per the full NARA rules (functions/phonetic.py,
H/W transparency + first-letter code suppression) and phonetic
blocking quality for record linkage: pair completeness and reduction
ratio of a soundex-key block join over two deterministically
perturbed surname sets.

Oracles: step-by-step DuckDB replays of the same string algebra
(split_part/strpos/list_transform/list_reduce with fresh-value
branches), including the same percent-decode fold and dot-segment
fold. Everything is string/integer — exact parity.

Ref parity: the reference canonicalizes addresses and street names
with fixed rewrite tables before matching (bano/core.py,
bano/sources/*.py); rfc3986_normalize is that step for URLs and
Soundex the classical phonetic key for its spelling-variant blocking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark.registry import registrar

QUERIES, ORACLES, register = registrar()


def _pick(dialect: str, idx: str, items: list[str]) -> str:
    lits = ", ".join("'" + s + "'" for s in items)
    if dialect == "spark":
        return f"element_at(array({lits}), CAST(({idx}) + 1 AS INT))"
    return f"(list_value({lits}))[CAST(({idx}) + 1 AS INT)]"


# ---------------------------------------------------------------------------
# un01/un02 — messy deterministic URLs: mixed-case scheme/host,
# default and explicit ports, %-escapes (unreserved %61/%63, reserved
# %2f with lowercase hex, %20), dot-segments, duplicate slashes,
# tracking params, unsorted query, fragments.
# ---------------------------------------------------------------------------

_SCHEMES = ["http", "HTTP", "https", "HTTPS"]
_HOST_PRE = ["www.site", "WWW.Site", "site"]
_HOST_SUF = [".example.com", ".Example.COM", ".EXAMPLE.com"]
_PORTS = ["", ":80", ":443", ":8080"]
_PATHS = ["/a/b/c", "/a/./b//c", "/a/x/../b/c", "/%61/b/%63",
          "/a/%2fb/c", "/p%20q/r"]
_QUERIES = ["", "?b=2&a=1", "?utm_source=x&a=1&b=2",
            "?a=1&utm_campaign=y&b=2"]
_FRAGS = ["", "#sec"]


def _url_fix(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    u = "(doc_id * 2654435761 + 103) % 2147483648"
    return f"""
SELECT doc_id,
       {_pick(dialect, 'u % 4', _SCHEMES)} || '://'
       || {_pick(dialect, f'(u{d}4) % 3', _HOST_PRE)}
       || CAST((u{d}12) % 37 AS {cast})
       || {_pick(dialect, f'(u{d}444) % 3', _HOST_SUF)}
       || {_pick(dialect, f'(u{d}3) % 4', _PORTS)}
       || {_pick(dialect, f'(u{d}5) % 6', _PATHS)}
       || {_pick(dialect, f'(u{d}7) % 4', _QUERIES)}
       || {_pick(dialect, f'(u{d}11) % 2', _FRAGS)} AS url
FROM (SELECT doc_id, {u} AS u FROM documents WHERE doc_id % 2 = 0)
"""


_TRACK_RE = "^(utm_[a-z]+|fbclid|gclid|ref)="

# DuckDB replay of rfc3986_normalize, step by step.
_D_SCHEME = "lower(split_part(url, '://', 1))"
_D_REST = "split_part(regexp_replace(url, '^[^:]+://', ''), '#', 1)"
_D_HP = f"split_part(split_part({_D_REST}, '/', 1), '?', 1)"
_D_HOST = f"lower(split_part({_D_HP}, ':', 1))"
_D_PORT = (f"CASE WHEN strpos({_D_HP}, ':') > 0 "
           f"THEN split_part({_D_HP}, ':', 2) ELSE '' END")
_D_PORTN = (f"CASE WHEN ({_D_SCHEME} = 'http' AND {_D_PORT} = '80') "
            f"OR ({_D_SCHEME} = 'https' AND {_D_PORT} = '443') "
            f"OR {_D_PORT} = '' THEN '' ELSE ':' || {_D_PORT} END")
_D_PATHQ = (f"CASE WHEN strpos({_D_REST}, '/') > 0 "
            f"THEN substr({_D_REST}, strpos({_D_REST}, '/')) "
            f"ELSE '' END")
_D_PATH0 = f"split_part({_D_PATHQ}, '?', 1)"
_D_QUERY0 = (f"CASE WHEN strpos({_D_PATHQ}, '?') > 0 "
             f"THEN split_part({_D_PATHQ}, '?', 2) ELSE '' END")

_D_HH = "substr(p, 1, 2)"
_D_CODE = f"CAST(concat('0x', {_D_HH}) AS INT)"
_D_UNRES = (f"(({_D_CODE} BETWEEN 48 AND 57) "
            f"OR ({_D_CODE} BETWEEN 65 AND 90) "
            f"OR ({_D_CODE} BETWEEN 97 AND 122) "
            f"OR {_D_CODE} IN (45, 46, 95, 126))")
_D_PIECE = (f"CASE WHEN NOT regexp_matches({_D_HH}, "
            f"'^[0-9A-Fa-f]{{2}}$') THEN '%' || p "
            f"WHEN {_D_UNRES} THEN chr({_D_CODE}) || substr(p, 3) "
            f"ELSE '%' || upper({_D_HH}) || substr(p, 3) END")
_D_PARTS = f"string_split({_D_PATH0}, '%')"
# COALESCE: DuckDB's array_to_string([], '') is NULL, not ''.
_D_DEC = (f"({_D_PARTS})[1] || coalesce(array_to_string("
          f"list_transform(({_D_PARTS})[2:], p -> {_D_PIECE}), ''), '')")
_D_PATHN = (f"list_reduce(list_prepend('', string_split({_D_DEC}, '/')), "
            f"(acc, s) -> CASE WHEN s = '' OR s = '.' "
            f"THEN concat(acc, '') "
            f"WHEN s = '..' THEN regexp_replace(acc, '/[^/]*$', '') "
            f"ELSE concat(acc, '/', s) END)")
_D_PATHF = f"CASE WHEN {_D_PATHN} = '' THEN '/' ELSE {_D_PATHN} END"
_D_KEPT = (f"coalesce(array_to_string(list_sort(list_filter("
           f"string_split({_D_QUERY0}, '&'), "
           f"p -> p != '' AND NOT regexp_matches(p, '{_TRACK_RE}'))), "
           f"'&'), '')")
_D_CANON = (f"{_D_SCHEME} || '://' || {_D_HOST} || {_D_PORTN} "
            f"|| {_D_PATHF} || CASE WHEN {_D_KEPT} = '' THEN '' "
            f"ELSE '?' || {_D_KEPT} END")

_UN01_ORACLE = f"""
WITH raw AS ({_url_fix('duckdb')})
SELECT doc_id, url, {_D_CANON} AS canon_url
FROM raw ORDER BY doc_id
"""


@register("url_rfc3986_normalize", _UN01_ORACLE)
def q_url_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import rfc3986_normalize

    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("documents")
    raw = spark.sql(_url_fix("spark"))
    return (raw.select("doc_id", "url",
                       rfc3986_normalize("url").alias("canon_url"))
            .orderBy("doc_id"))


_UN02_ORACLE = f"""
WITH raw AS ({_url_fix('duckdb')}),
n AS (SELECT doc_id, url, {_D_CANON} AS canon_url FROM raw),
g AS (SELECT canon_url, CAST(count(*) AS BIGINT) AS n_urls,
             CAST(count(DISTINCT url) AS BIGINT) AS n_variants
      FROM n GROUP BY canon_url)
SELECT n_variants, CAST(count(*) AS BIGINT) AS n_canonicals,
       CAST(sum(n_urls) AS BIGINT) AS n_urls_total
FROM g GROUP BY n_variants ORDER BY n_variants
"""


@register("url_canonical_collisions", _UN02_ORACLE)
def q_url_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import rfc3986_normalize

    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .createOrReplaceTempView("documents")
    raw = spark.sql(_url_fix("spark"))
    n = raw.select("url", rfc3986_normalize("url").alias("canon_url"))
    g = (n.groupBy("canon_url")
         .agg(F.count("*").cast("bigint").alias("n_urls"),
              F.countDistinct("url").cast("bigint").alias("n_variants")))
    return (g.groupBy("n_variants")
            .agg(F.count("*").cast("bigint").alias("n_canonicals"),
                 F.sum("n_urls").cast("bigint").alias("n_urls_total"))
            .orderBy("n_variants"))


# ---------------------------------------------------------------------------
# sx01/sx02 — Soundex codes + phonetic blocking quality. 8 surname
# families x 3 spelling variants; A and B draw variants independently
# (salts 107/109), so blocking recall < 1 only where a family spans
# codes (Pfister vs Fister/Phister on the first letter; Washington
# W252 vs Washinton W253) and the candidate set sees cross-family
# collisions by construction (Smith and Schmidt both code to S530).
# ---------------------------------------------------------------------------

_FAMS = [
    ["Smith", "Smyth", "Smithe"],
    ["Meyer", "Maier", "Myer"],
    ["Johnson", "Jonson", "Johnsen"],
    ["Ashcraft", "Ashcroft", "Ashkraft"],
    ["Schmidt", "Schmitt", "Schmit"],
    ["Tymczak", "Timczak", "Tymcak"],
    ["Pfister", "Fister", "Phister"],
    ["Washington", "Washinton", "Wasington"],
]
_FLAT = [v for fam in _FAMS for v in fam]


def _names_fix(dialect: str, salt: int, key_filter: str) -> str:
    u = f"(c_custkey * 2654435761 + {salt}) % 2147483648"
    idx = f"(c_custkey % 8) * 3 + u % 3"
    return f"""
SELECT c_custkey AS id, CAST(c_custkey % 8 AS BIGINT) AS fam,
       {_pick(dialect, idx, _FLAT)} AS surname
FROM (SELECT c_custkey, {u} AS u FROM customer WHERE {key_filter})
"""


def _sx01_oracle() -> str:
    from bano_spark.functions.phonetic import soundex_duckdb_sql
    return f"""
WITH n AS ({_names_fix('duckdb', 107, 'c_custkey % 5 = 0')})
SELECT id, fam, surname, {soundex_duckdb_sql('surname')} AS code
FROM n ORDER BY id
"""


@register("soundex_codes", _sx01_oracle())
def q_soundex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.functions.phonetic import soundex_expr

    spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .createOrReplaceTempView("customer")
    n = spark.sql(_names_fix("spark", 107, "c_custkey % 5 = 0"))
    return (n.select("id", "fam", "surname",
                     soundex_expr("surname").alias("code"))
            .orderBy("id"))


def _sx02_oracle() -> str:
    from bano_spark.functions.phonetic import soundex_duckdb_sql
    code = soundex_duckdb_sql("surname")
    return f"""
WITH a AS (
  SELECT id, {code} AS code
  FROM ({_names_fix('duckdb', 107, 'c_custkey % 2 = 0')})),
b AS (
  SELECT id, {code} AS code
  FROM ({_names_fix('duckdb', 109, 'c_custkey % 2 = 0')})),
cand AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates
         FROM a JOIN b ON a.code = b.code),
tpq AS (SELECT CAST(count(*) AS BIGINT) AS tp
        FROM a JOIN b ON a.id = b.id AND a.code = b.code),
na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM a),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM b)
SELECT n_a, n_b, n_candidates, n_a AS n_true, tp,
       round(CAST(tp AS DOUBLE) / n_a, 6) AS pair_completeness,
       round(1.0 - CAST(n_candidates AS DOUBLE) / (n_a * n_b), 6)
         AS reduction_ratio
FROM cand CROSS JOIN tpq CROSS JOIN na CROSS JOIN nb
"""


@register("soundex_blocking_quality", _sx02_oracle())
def q_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.functions.phonetic import soundex_expr

    spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .createOrReplaceTempView("customer")
    a = (spark.sql(_names_fix("spark", 107, "c_custkey % 2 = 0"))
         .select("id", soundex_expr("surname").alias("code")))
    b = (spark.sql(_names_fix("spark", 109, "c_custkey % 2 = 0"))
         .select(F.col("id").alias("id_b"),
                 soundex_expr("surname").alias("code_b")))
    cand = (a.join(b, a["code"] == b["code_b"])
            .agg(F.count("*").cast("bigint").alias("n_candidates")))
    tp = (a.join(b, (a["id"] == b["id_b"]) & (a["code"] == b["code_b"]))
          .agg(F.count("*").cast("bigint").alias("tp")))
    na = a.agg(F.count("*").cast("bigint").alias("n_a"))
    nb = b.agg(F.count("*").cast("bigint").alias("n_b"))
    return (cand.crossJoin(tp).crossJoin(F.broadcast(na))
            .crossJoin(F.broadcast(nb))
            .select("n_a", "n_b", "n_candidates",
                    F.col("n_a").alias("n_true"), "tp",
                    F.round(F.col("tp") / F.col("n_a"), 6)
                    .alias("pair_completeness"),
                    F.round(F.lit(1.0) - F.col("n_candidates")
                            / (F.col("n_a") * F.col("n_b")), 6)
                    .alias("reduction_ratio")))
