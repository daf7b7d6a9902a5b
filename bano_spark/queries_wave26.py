"""Wave-26 driver queries: Strahler stream order (the stream-network
classifier completing the hydrology family), bivariate cross-K
(attraction/repulsion BETWEEN point types), length-2 sequential
pattern mining (discovered A-then-B patterns with Apriori pruning),
rolling OLS trend slope (local trend between EWMA and Mann-Kendall),
and cross-host quotation detection (shared 8-gram spans per host
pair — syndication/plagiarism at host granularity).

Reference anchors: Strahler joins direction/accumulation/basins/
length over the wave-15 DEM; cross-K extends ripley_k to marked
point processes; sequence mining extends event_funnel/transitions;
rolling slope extends the temporal family; quotations extend
dup-span/host-mirror dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.queries_wave15 import _dem_cte
from bano_spark.queries_wave16 import _D8_DIR_CTES
from bano_spark.registry import read as _read, registrar

QUERIES, ORACLES, register = registrar()


# ---------------------------------------------------------------------------
# al01 — Strahler order over the wave-15 DEM (flow depth 2 at gate
# scale: junctions with multiple order-1 children step to 2, sinks
# collecting several order-2 children step to 3 — the m/m+1 rule
# exercises at every depth present). Oracle: the synchronous
# iteration unrolled 6 rounds (>= depth + 1, fixpoint attained).
# ---------------------------------------------------------------------------


def _al01_oracle(rounds: int = 6) -> str:
    parts = [f"""
WITH {_dem_cte('duckdb')},
{_D8_DIR_CTES},
edges AS (
  SELECT d.gx, d.gy, d.gx + o.dx AS tx, d.gy + o.dy AS ty
  FROM dirs d JOIN offs o ON o.code = d.dir
  WHERE d.dir <> 0
),
o0 AS (SELECT gx, gy, CAST(1 AS BIGINT) AS o FROM dirs)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
w{k} AS (SELECT e.tx AS gx, e.ty AS gy, o.o AS co
         FROM edges e JOIN o{k - 1} o ON o.gx = e.gx AND o.gy = e.gy),
m{k} AS (SELECT gx, gy, max(co) AS m FROM w{k} GROUP BY gx, gy),
t{k} AS (SELECT w.gx, w.gy, m.m, count(*) AS t
         FROM w{k} w JOIN m{k} m ON m.gx = w.gx AND m.gy = w.gy
                                AND w.co = m.m
         GROUP BY w.gx, w.gy, m.m),
o{k} AS (SELECT d.gx, d.gy,
                CAST(coalesce(CASE WHEN t.t > 1 THEN t.m + 1
                                   ELSE t.m END, 1) AS BIGINT) AS o
         FROM dirs d LEFT JOIN t{k} t ON t.gx = d.gx AND t.gy = d.gy)""")
    parts.append(f"""
SELECT gx, gy, o AS strahler FROM o{rounds} ORDER BY gx, gy""")
    return "".join(parts)


@register("strahler_stream_order", _al01_oracle())
def al_strahler(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import strahler_order

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    dem = spark.sql("WITH " + _dem_cte("spark") + " SELECT * FROM dem")
    return strahler_order(dem).orderBy("gx", "gy")


# ---------------------------------------------------------------------------
# al02 — cross-K between the two halves of the clustered Ripley
# point set (ptype = event_id parity): co-located clusters pull
# K_ab(r) above pi r^2. Oracle: the brute typed cross join.
# ---------------------------------------------------------------------------

_XK_RS = [100.0, 250.0, 500.0]
_XK_AREA = 4000.0 * 4000.0

_AL02_ORACLE = f"""
WITH p0 AS ({synth.dense_points_select_sql('duckdb')}),
p AS (SELECT event_id, x, y,
             CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS ptype
      FROM p0),
pa AS (SELECT * FROM p WHERE ptype = 'a'),
pb AS (SELECT * FROM p WHERE ptype = 'b'),
na AS (SELECT CAST(count(*) AS DOUBLE) AS na FROM pa),
nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM pb),
d AS (
  SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
  FROM pa a, pb b
),
c AS (
  {" UNION ALL ".join(
    f"SELECT CAST({r} AS DOUBLE) AS r, "
    f"CAST(sum(CASE WHEN d2 <= {r * r} THEN 1 ELSE 0 END) AS BIGINT) "
    f"AS n_pairs FROM d"
    for r in _XK_RS)}
)
SELECT r, round({_XK_AREA} * n_pairs / (na.na * nb.nb), 6) AS k_ab,
       n_pairs
FROM c, na, nb ORDER BY r
"""


@register("cross_k_function", _AL02_ORACLE)
def al_cross_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import cross_k

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = (spark.sql(synth.dense_points_select_sql("spark"))
           .withColumn("ptype", F.when(F.col("event_id") % 2 == 0, "a")
                       .otherwise("b")))
    return (cross_k(pts, _XK_RS, _XK_AREA)
            .orderBy("r"))


# ---------------------------------------------------------------------------
# al03 — length-2 sequential patterns (A then B within 6 h,
# support >= 105 users): Apriori prune on single types first,
# distinct (user, A, B) support semantics.
# ---------------------------------------------------------------------------

_SP_GAP = 21600
_SP_MIN = 105

_AL03_ORACLE = f"""
WITH e AS (
  SELECT user_id AS u, event_type AS ty,
         CAST(epoch(CAST(ts AS DATE)) + hour(ts) * 3600
              + minute(ts) * 60
              + CAST(date_part('second', ts) AS BIGINT) AS BIGINT) AS ep
  FROM events
),
nu AS (SELECT CAST(count(DISTINCT u) AS DOUBLE) AS n FROM e),
l1 AS (SELECT ty FROM (SELECT ty, count(DISTINCT u) AS c FROM e
                       GROUP BY ty) WHERE c >= {_SP_MIN}),
fe AS (SELECT e.* FROM e JOIN l1 USING (ty)),
prs AS (
  SELECT DISTINCT a.u, a.ty AS type_a, b.ty AS type_b
  FROM fe a JOIN fe b ON b.u = a.u AND b.ep > a.ep
                     AND b.ep - a.ep <= {_SP_GAP}
),
sup AS (SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS support
        FROM prs GROUP BY 1, 2 HAVING count(*) >= {_SP_MIN})
SELECT type_a, type_b, support,
       round(support / nu.n, 6) AS share
FROM sup CROSS JOIN nu ORDER BY type_a, type_b
"""


@register("sequence_patterns", _AL03_ORACLE)
def al_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.eventflow import sequence_patterns

    ev = _read(spark, sf_dir, "events")
    return (sequence_patterns(ev, _SP_GAP, _SP_MIN)
            .orderBy("type_a", "type_b"))


# ---------------------------------------------------------------------------
# al04 — rolling 24-bucket OLS trend slope per event type. x is
# centered on the per-key min bucket (raw epoch-hour indices would
# cancel 10 orders of magnitude inside n*Sxy - Sx*Sy and the two
# engines' window-sum trees would disagree past round-6).
# ---------------------------------------------------------------------------

_RT_W = 24

_AL04_ORACLE = f"""
WITH b AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bk,
         sum(value) AS y
  FROM events GROUP BY 1, 2
),
b0 AS (SELECT event_type, min(bk) AS bk0 FROM b GROUP BY 1),
c AS (SELECT b.event_type, b.bk,
             CAST(b.bk - b0.bk0 AS DOUBLE) AS x, b.y
      FROM b JOIN b0 USING (event_type)),
s AS (
  SELECT event_type, bk,
         count(*) OVER w AS n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * x) OVER w AS sxx, sum(x * y) OVER w AS sxy
  FROM c
  WINDOW w AS (PARTITION BY event_type ORDER BY bk
               ROWS BETWEEN {_RT_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, bk AS bucket, CAST(n AS BIGINT) AS n_in_frame,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope
FROM s WHERE n >= 3 ORDER BY event_type, bucket
"""


@register("rolling_trend_slope", _AL04_ORACLE)
def al_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import rolling_trend_slope

    ev = _read(spark, sf_dir, "events")
    return (rolling_trend_slope(ev, "event_type", "ts", "value",
                                window=_RT_W)
            .orderBy("event_type", "bucket"))


# ---------------------------------------------------------------------------
# al05 — cross-host quotations: hosts = doc_id % 6; every 7th doc
# carries a planted syndicated sentence, so its 8-grams recur across
# all six hosts while organic text stays host-local. Oracle: the
# inverted shared-gram join in SQL.
# ---------------------------------------------------------------------------

_CQ_N = 8
_CQ_QUOTE = ("breaking wire syndicated update republished verbatim "
             "across partner networks tonight")


def _al05_corpus(dialect: str) -> str:
    c = "STRING" if dialect == "spark" else "VARCHAR"
    return (f"corpus AS (SELECT 'h' || CAST(doc_id % 6 AS {c}) AS host, "
            f"CASE WHEN doc_id % 7 = 0 "
            f"THEN text || ' ' || '{_CQ_QUOTE}' "
            f"ELSE text END AS text FROM documents)")


_AL05_ORACLE = rf"""
WITH {_al05_corpus('duckdb')},
tk AS (SELECT host, string_split_regex(trim(lower(text)), '\s+') AS t
       FROM corpus),
grams AS (
  SELECT DISTINCT host, md5(g) AS k
  FROM (SELECT host,
               array_to_string(list_slice(t, CAST(i AS INT),
                               CAST(i + {_CQ_N - 1} AS INT)), ' ') AS g
        FROM (SELECT host, t,
                     unnest(generate_series(1, len(t) - {_CQ_N - 1})) AS i
              FROM tk WHERE len(t) >= {_CQ_N}))
),
sz AS (SELECT host, CAST(count(*) AS BIGINT) AS s FROM grams GROUP BY 1),
inter AS (
  SELECT a.host AS host_a, b.host AS host_b,
         CAST(count(*) AS BIGINT) AS i
  FROM grams a JOIN grams b ON b.k = a.k AND a.host < b.host
  GROUP BY 1, 2
)
SELECT host_a, host_b, i AS shared_grams,
       round(i / CAST(sa.s + sb.s - i AS DOUBLE), 6) AS jaccard
FROM inter JOIN sz sa ON sa.host = host_a
JOIN sz sb ON sb.host = host_b
ORDER BY host_a, host_b
"""


@register("cross_host_quotations", _AL05_ORACLE)
def al_quotations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import cross_host_quotations

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    corpus = spark.sql("WITH " + _al05_corpus("spark")
                       + " SELECT * FROM corpus")
    return (cross_host_quotations(corpus, "host", _CQ_N)
            .orderBy("host_a", "host_b"))
