"""Wave-69 driver queries: (1) Benford first-significant-digit
conformity per event type (chi-square vs the log10(1+1/d) null plus
Nigrini's MAD — the forensic screen for fabricated numeric fields);
(2) SAX symbolic encoding of each user's measurement series (PAA
segment means lettered against mean +- sd/2 bands — the level-shift
fixture encodes as a..a -> d..d words); (3) Grubbs' max-studentized-
deviate outlier statistic per event type with the offending row id.

Float parity: Benford's first digit comes from the BIGINT decimal
string (no float log extraction); the only transcendental is the
9-constant log10 null, absorbed at 6 dp. SAX letters compare
exact-integer-sum segment means against band edges that are
bit-identical functions of exact moments, so letters cannot flip on
accumulation order. Grubbs is exact moments + one deterministic
argmax (ties -> min id)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# cb01 — Benford first digit: integer amounts spanning four decades.
# ---------------------------------------------------------------------------

def _amounts_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT event_type AS g, event_id,
       CAST((k % 9000 + 1) * (CASE (k{d}9000) % 4
            WHEN 0 THEN 1 WHEN 1 THEN 10
            WHEN 2 THEN 100 ELSE 1000 END) AS BIGINT) AS v
FROM (SELECT event_type, event_id,
             (event_id * 2654435761 + 23) % 2147483648 AS k
      FROM events)
"""


_CB01_ORACLE = f"""
WITH x AS ({_amounts_sql('duckdb')}),
c AS (
  SELECT g, CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS d,
         count(*) AS cc
  FROM x WHERE v > 0 GROUP BY g, d),
dg AS (SELECT DISTINCT g FROM c),
nine AS (SELECT unnest(generate_series(1, 9)) AS dd),
fl AS (
  SELECT dg.g, nine.dd, CAST(coalesce(cc, 0) AS DOUBLE) AS cc
  FROM dg CROSS JOIN nine
  LEFT JOIN c ON c.g = dg.g AND c.d = nine.dd),
t AS (SELECT g, sum(cc) AS n FROM fl GROUP BY g),
f AS (
  SELECT fl.g, dd, cc, n, n * log10(1 + 1.0 / dd) AS expd
  FROM fl JOIN t ON fl.g = t.g)
SELECT g AS event_type, CAST(n AS BIGINT) AS n,
       round(sum((cc - expd) * (cc - expd) / expd), 6) AS chi2,
       round(avg(abs(cc / n - log10(1 + 1.0 / dd))), 6) AS mad
FROM f GROUP BY g, n ORDER BY event_type
"""


@register("benford_first_digit", _CB01_ORACLE)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import benford_first_digit

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    x = spark.sql(_amounts_sql("spark"))
    return benford_first_digit(x, "g", "v").withColumnRenamed(
        "g", "event_type")


# ---------------------------------------------------------------------------
# cb02 — SAX words over the level-shift series.
# ---------------------------------------------------------------------------

_CB02_ORACLE = f"""
WITH s AS ({synth.series_select_sql('duckdb')}),
b AS (SELECT user_id AS g, v, seq FROM s),
mom AS (
  SELECT g, count(*) AS nl, sum(v) AS sv, sum(v * v) AS ss
  FROM b GROUP BY g),
mm AS (
  SELECT g, nl, CAST(nl AS DOUBLE) AS n, sv / CAST(nl AS DOUBLE) AS m,
         sqrt((ss - sv * sv / CAST(nl AS DOUBLE))
              / (CAST(nl AS DOUBLE) - 1)) AS sd
  FROM mom),
r AS (
  SELECT g, v,
         row_number() OVER (PARTITION BY g ORDER BY seq) AS i
  FROM b),
sg AS (
  SELECT r.g, ((i - 1) * 8) // mm.nl AS seg,
         sum(v) / count(*) AS pm,
         any_value(mm.m) AS m, any_value(mm.sd) AS sd
  FROM r JOIN mm ON r.g = mm.g
  GROUP BY r.g, ((i - 1) * 8) // mm.nl),
lt AS (
  SELECT g, seg,
         CASE WHEN pm < m - sd / 2 THEN 'a'
              WHEN pm < m THEN 'b'
              WHEN pm < m + sd / 2 THEN 'c'
              ELSE 'd' END AS L
  FROM sg)
SELECT g AS user_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       string_agg(L, '' ORDER BY seg) AS sax_word
FROM lt GROUP BY g ORDER BY user_id
"""


@register("sax_user_words", _CB02_ORACLE)
def q_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import sax_words

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    s = spark.sql(synth.series_select_sql("spark"))
    return sax_words(s, "user_id", ["seq"], "v", n_segments=8)


# ---------------------------------------------------------------------------
# cb03 — Grubbs statistic per event type.
# ---------------------------------------------------------------------------

_CB03_ORACLE = """
WITH x AS (
  SELECT event_type AS g, event_id AS rid,
         CAST(k % 1000 AS DOUBLE) AS x
  FROM (SELECT event_type, event_id,
               (event_id * 2654435761 + 29) % 2147483648 AS k
        FROM events)),
m AS (
  SELECT g, CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS s, sum(x * x) AS ss
  FROM x GROUP BY g),
mm AS (
  SELECT g, n, s / n AS mean,
         sqrt((ss - s * s / n) / (n - 1)) AS sd
  FROM m),
dv AS (
  SELECT x.g, rid, abs(x.x - mm.mean) AS ad, mm.n, mm.sd,
         row_number() OVER (PARTITION BY x.g
                            ORDER BY abs(x.x - mm.mean) DESC, rid) AS rk
  FROM x JOIN mm ON x.g = mm.g)
SELECT g AS event_type, CAST(n AS BIGINT) AS n,
       round(ad / sd, 6) AS g_stat, rid AS outlier_id
FROM dv WHERE rk = 1 ORDER BY event_type
"""


@register("grubbs_outlier", _CB03_ORACLE)
def q_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import grubbs_statistic

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    x = spark.sql("""
SELECT event_type AS g, event_id AS rid,
       CAST(k % 1000 AS DOUBLE) AS x
FROM (SELECT event_type, event_id,
             (event_id * 2654435761 + 29) % 2147483648 AS k
      FROM events)""")
    return grubbs_statistic(x, "g", "x", "rid").withColumnRenamed(
        "g", "event_type")
