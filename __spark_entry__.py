"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship ISS rollup pipeline on sf0.001.
``queries()`` exposes 50 callables covering every operator family from
SURVEY.md §2 (all ISS semirings incl. arctic-argmax and bayesian,
EXTENDED prefix CSE, chained ISS, CosWISS, every preparateur incl. the
DIM/NEW wrappers, every sieve incl. INC/INT wrappers and the AVG->CUR
quirk, all weightings, generic-letter words, negative letters,
multivariate tensors, coquantiles, tier rollups batch/streaming
+ coarser-from-finer re-agg, gap-fill, forward-fill, as-of join, codec
roundtrips doc- and tier-level, resolution ops (downsample/upsample/
lengthen/implant_stuttering), dedup exact/jaccard/minhash-LSH/simhash/
embedding-LSH, ANN brute+two-phase-top-k+IVF, text stats / lang-id /
fingerprint, multimodal FRB1 binary frame decode); ``oracle_sql()``
gives the DuckDB-runnable ANSI-SQL equivalent for ALL 50 — minhash/
simhash run a portable integer hash for the oracle (xxhash64 stays the
prod default, pinned by a from-spec pure-Python XXH64 reference in
tests/test_hash_reference.py).  Related operators are grouped into one
query per family (multi-slice plans or per-doc joins) so the whole
surface fits the driver's 50-query gate.  The full map: COVERAGE.md.

Determinism/exactness strategy for the oracle comparison:
  * the token table is DERIVED deterministically from ``documents`` with
    pure int64 arithmetic (``token = ((doc_id+1)*48271 + pos*16807) %
    101``), so both engines see identical integers;
  * oracle-checked ISS/rollup outputs stay in the integer-exact float64
    domain (tokens <= 100, words of weight <= 3, doc lengths <= 32) or
    are ROUND(.., 6)-ed identically on both sides;
  * sequential scans (cumsum / running max) are order-identical across
    engines; unordered SUM aggregates are only used on integer values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

# ---------------------------------------------------------------------------
# derived token table (both engines)
# ---------------------------------------------------------------------------

TOK_MOD = 101
LEN_MOD = 29
LEN_MIN = 4

_TOKENS_EXPR = (
    f"transform(sequence(0, n_tok - 1), "
    f"i -> cast(((doc_id + 1) * 48271 + i * 16807) % {TOK_MOD} as int))"
)

# DuckDB CTE producing one row per (doc, pos) with the same tokens
SQL_TOKS = f"""
toks AS (
    SELECT doc_id, source, n_tok, pos,
           (((doc_id + 1) * 48271 + pos * 16807) % {TOK_MOD}) AS x
    FROM (
        SELECT d.doc_id, d.source,
               ((d.doc_id % {LEN_MOD}) + {LEN_MIN}) AS n_tok,
               unnest(range(0, (d.doc_id % {LEN_MOD}) + {LEN_MIN})) AS pos
        FROM documents d
    )
)"""

# per-doc running streams shared by several oracles
SQL_STREAMS = f"""
streams AS (
    SELECT doc_id, source, n_tok, pos, x,
           SUM(x) OVER w AS run1,
           SUM(x * x) OVER w AS run2,
           COALESCE(x - LAG(x) OVER w, 0) AS d1
    FROM toks
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)"""


def token_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select("doc_id", "source")
        .withColumn(
            "n_tok", ((F.col("doc_id") % LEN_MOD) + LEN_MIN).cast("int")
        )
        .withColumn("tokens", F.expr(_TOKENS_EXPR))
    )


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# ISS queries (engine kernels vs SQL window oracles)
# ---------------------------------------------------------------------------

def _iss_features(spark, sf_dir, fplan):
    from fruits_spark.engine.executor import extract_features

    toks = token_table(spark, sf_dir)
    return extract_features(
        toks, fplan, keep=("doc_id", "source", "n_tok")
    )


def q_iss_reals_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END sieve of Reals ISS streams [1], [11], [1][1], [11][1]."""
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W

    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1]"), W("[11]"), W("[1][1]"), W("[11][1]"))),
                sieves=(Sieve("end"),),
            ),
        )
    )
    from fruits_spark.engine.executor import feature_columns

    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id",
        F.col(fc[0]).cast("long").alias("end_1"),
        F.col(fc[1]).cast("long").alias("end_11"),
        F.col(fc[2]).cast("long").alias("end_1_1"),
        F.col(fc[3]).cast("long").alias("end_11_1"),
    )


SQL_ISS_REALS_END = f"""
WITH {SQL_TOKS}, {SQL_STREAMS}
SELECT doc_id,
       CAST(SUM(x) AS BIGINT) AS end_1,
       CAST(SUM(x * x) AS BIGINT) AS end_11,
       CAST(SUM(x * (run1 - x)) AS BIGINT) AS end_1_1,
       CAST(SUM(x * (run2 - x * x)) AS BIGINT) AS end_11_1
FROM streams
GROUP BY doc_id
"""


def q_iss_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTENDED mode on [1][11][111]: ENDs of all three prefixes from one
    scan (exercises the prefix-CSE plan)."""
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns

    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1][11][111]"),), mode="extended"),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id",
        F.col(fc[0]).cast("long").alias("end_p1"),
        F.col(fc[1]).cast("long").alias("end_p2"),
        F.col(fc[2]).cast("long").alias("end_p3"),
    )


SQL_ISS_EXTENDED = f"""
WITH {SQL_TOKS}, {SQL_STREAMS},
lvl2 AS (
    SELECT doc_id, pos, x, run1, n_tok,
           SUM(x * x * (run1 - x)) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_l2
    FROM streams
)
SELECT doc_id,
       CAST(SUM(x) AS BIGINT) AS end_p1,
       CAST(SUM(x * x * (run1 - x)) AS BIGINT) AS end_p2,
       CAST(SUM(x * x * x * (run_l2 - x * x * (run1 - x))) AS BIGINT) AS end_p3
FROM lvl2
GROUP BY doc_id
"""


def q_iss_arctic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arctic (max-plus) semiring family in one 3-slice plan:
      * END of [1][1] and [11][1] (plain arctic);
      * index-weighted arctic [1][1] (additive penalty in max-plus,
        semiring.py:296-311 + weighting.py:69-110): END =
        max_j( max_(i<=j)(x_i + a*g_i) + x_j - a*g_j ), g rel. index;
      * NEGATIVE letters [1][(-1)] / [(-1)][1] (alternate_sign words,
        creation.py:53-83): in max-plus the -1 exponent subtracts, so
        END = max drawdown / max run-up of the token series."""
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns

    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1][1]"), W("[11][1]")), semiring="arctic"),
                sieves=(Sieve("end"),),
            ),
            Slice(
                iss=ISSSpec(
                    (W("[1][1]"),),
                    semiring="arctic",
                    weighting="indices",
                    weighting_params={"relative": True, "scale": 1.0},
                ),
                sieves=(Sieve("end"),),
            ),
            Slice(
                iss=ISSSpec(
                    (W("[1][(-1)]"), W("[(-1)][1]")), semiring="arctic"
                ),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id",
        F.col(fc[0]).cast("long").alias("arc_1_1"),
        F.col(fc[1]).cast("long").alias("arc_11_1"),
        F.round(F.col(fc[2]), 6).alias("warc_end_r6"),
        F.col(fc[3]).cast("long").alias("max_drawdown"),
        F.col(fc[4]).cast("long").alias("max_runup"),
    )


SQL_ISS_ARCTIC = f"""
WITH {SQL_TOKS},
s AS (
    SELECT doc_id, pos, x,
           MAX(x) OVER w AS rmax1,
           MAX(2 * x) OVER w AS rmax2,
           MIN(x) OVER w AS rmin
    FROM toks
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
base AS (
    SELECT doc_id,
           CAST(MAX(rmax1 + x) AS BIGINT) AS arc_1_1,
           CAST(MAX(rmax2 + x) AS BIGINT) AS arc_11_1,
           CAST(MAX(rmax1 - x) AS BIGINT) AS max_drawdown,
           CAST(MAX(x - rmin) AS BIGINT) AS max_runup
    FROM s
    GROUP BY doc_id
),
gw AS (
    SELECT doc_id, pos, CAST(x AS DOUBLE) AS xv,
           ((CAST(pos + 1 AS DOUBLE) / n_tok) - (CAST(1 AS DOUBLE) / n_tok))
               / (1.0 - (CAST(1 AS DOUBLE) / n_tok)) AS gi
    FROM toks
),
wl AS (
    SELECT doc_id, pos, xv, gi,
           MAX(xv + gi) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmaxw
    FROM gw
),
warc AS (
    SELECT doc_id, ROUND(MAX(rmaxw + xv - gi), 6) AS warc_end_r6
    FROM wl
    GROUP BY doc_id
)
SELECT base.doc_id, arc_1_1, arc_11_1, warc_end_r6, max_drawdown, max_runup
FROM base JOIN warc ON base.doc_id = warc.doc_id
"""


def q_iss_inc_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INC preparateur (zero-padded increments) then END of [11] and NPI
    / MPI sieves on the raw series."""
    from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns

    fplan = FruitPlan(
        (
            Slice(
                preps=(Prep("inc"),),
                iss=ISSSpec((W("[11]"),)),
                sieves=(Sieve("end"),),
            ),
            Slice(
                iss=ISSSpec((W("[1]"),)),
                sieves=(
                    Sieve("npi", {"q": (0.0, 1.0), "inc": 1}),
                    Sieve("mpi", {"q": (0.0, 1.0), "inc": 1}),
                ),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id",
        F.col(fc[0]).cast("long").alias("inc_sq_end"),
        F.col(fc[1]).cast("long").alias("npi_run1"),
        F.round(F.col(fc[2]), 6).alias("mpi_run1_r6"),
    )


SQL_ISS_INC = f"""
WITH {SQL_TOKS}, {SQL_STREAMS},
i2 AS (
    SELECT doc_id, pos, d1, run1,
           COALESCE(run1 - LAG(run1) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS dr1
    FROM streams
)
SELECT doc_id,
       CAST(SUM(d1 * d1) AS BIGINT) AS inc_sq_end,
       CAST(SUM(CASE WHEN dr1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS npi_run1,
       ROUND(SUM(CASE WHEN dr1 > 0 THEN dr1 ELSE 0 END)
             / GREATEST(SUM(CASE WHEN dr1 > 0 THEN 1 ELSE 0 END), 1), 6)
           AS mpi_run1_r6
FROM i2
GROUP BY doc_id
"""


def q_iss_sieves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX / MIN / PPV / coquantile-cut END sieves on the [1] stream."""
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns

    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1]"),)),
                sieves=(
                    Sieve("max"),
                    Sieve("min"),
                    Sieve("ppv", {"quantiles": [500.0], "constant": [True]}),
                    Sieve("end", {"cuts": [0.5]}),
                ),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id",
        F.col(fc[0]).cast("long").alias("max_run1"),
        F.col(fc[1]).cast("long").alias("min_run1"),
        F.round(F.col(fc[2]), 6).alias("ppv500_r6"),
        F.col(fc[3]).cast("long").alias("end_cq50"),
    )


SQL_ISS_SIEVES = f"""
WITH {SQL_TOKS}, {SQL_STREAMS},
cq AS (
    SELECT doc_id,
           SUM(CASE WHEN l2run <= 0.5 * l2tot THEN 1 ELSE 0 END) AS cut
    FROM (
        SELECT doc_id, pos,
               SUM(d1 * d1) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l2run,
               SUM(d1 * d1) OVER (PARTITION BY doc_id) AS l2tot
        FROM streams
    )
    GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(MAX(s.run1) AS BIGINT) AS max_run1,
       CAST(MIN(s.run1) AS BIGINT) AS min_run1,
       ROUND(CAST(SUM(CASE WHEN s.run1 >= 500 THEN 1 ELSE 0 END) AS DOUBLE)
             / MAX(s.n_tok), 6) AS ppv500_r6,
       CAST(MAX(CASE WHEN s.pos = cq.cut - 1 THEN s.run1 END) AS BIGINT)
           AS end_cq50
FROM streams s JOIN cq ON s.doc_id = cq.doc_id
GROUP BY s.doc_id
"""


def q_iss_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighting family in one 3-slice plan, all END of [1][1] on tokens
    scaled by 0.01:
      * Indices (exponential time penalty, weighting.py:69-110),
        alpha=1, relative scale;
      * Custom (user callable g, weighting.py:41-66): g(i) = sqrt(i);
      * Plateaus (step function g, weighting.py:213-256): 3 plateaus,
        g(pos) = min(floor(pos/floor(l/3)), 2)/2."""
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import extract_features, feature_columns

    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec(
                    (W("[1][1]"),),
                    weighting="indices",
                    weighting_params={"relative": True, "scale": 1.0},
                ),
                sieves=(Sieve("end"),),
            ),
            Slice(
                iss=ISSSpec(
                    (W("[1][1]"),),
                    weighting="custom",
                    weighting_params={"fn": _custom_g},
                ),
                sieves=(Sieve("end"),),
            ),
            Slice(
                iss=ISSSpec(
                    (W("[1][1]"),),
                    weighting="plateaus",
                    weighting_params={"nplateaus": 3, "scale": 1.0},
                ),
                sieves=(Sieve("end"),),
            ),
            # bayesian + weighted + TOTAL (round 5: pins the flat-path
            # fix — this combo used to fall through to the non-total
            # recurrence; oracle is the two-level windowed-max chain
            # with exp(±g) folded per level, non-strict indices)
            Slice(
                iss=ISSSpec(
                    (W("[1][1]"),),
                    semiring="bayesian",
                    weighting="indices",
                    weighting_params={"relative": True, "scale": 1.0},
                    total=True,
                ),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    toks = token_table(spark, sf_dir)
    out = extract_features(
        toks, fplan, keep=("doc_id", "source", "n_tok"), cast_scale=0.01
    )
    return out.select(
        "doc_id",
        F.round(F.col(fc[0]), 6).alias("wend_r6"),
        F.round(F.col(fc[1]), 6).alias("wcust_end_r6"),
        F.round(F.col(fc[2]), 6).alias("wplat_end_r6"),
        F.round(F.col(fc[3]), 6).alias("bayw_tot_r6"),
    )


SQL_ISS_WEIGHTED = f"""
WITH {SQL_TOKS},
g AS (
    SELECT doc_id, pos, x * 0.01 AS xb, n_tok,
           ((CAST(pos + 1 AS DOUBLE) / n_tok) - (CAST(1 AS DOUBLE) / n_tok))
               / (1.0 - (CAST(1 AS DOUBLE) / n_tok)) AS gi,
           SQRT(CAST(pos AS DOUBLE)) AS gc,
           LEAST(FLOOR(pos / GREATEST(FLOOR(n_tok / 3), 1)), 2) / 2.0 AS gp
    FROM toks
),
lvl1 AS (
    SELECT doc_id, pos, xb, gi, gc, gp, n_tok,
           SUM(xb * EXP(gi * 1.0)) OVER w AS runw,
           SUM(xb * EXP(gc)) OVER w AS runc,
           SUM(xb * EXP(gp)) OVER w AS runp,
           MAX(xb * EXP(gi * 1.0)) OVER w AS bm1
    FROM g
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
lvl2 AS (
    SELECT doc_id, pos, xb, gi, gp, gc, n_tok, runw, runc, runp,
           MAX(((bm1 * EXP(-gi * 1.0)) * xb) * EXP(gi * 1.0)) OVER w AS bm2
    FROM lvl1
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT doc_id,
       ROUND(SUM(((runw - xb * EXP(gi * 1.0)) * xb) * EXP(-gi * 1.0)), 6)
           AS wend_r6,
       ROUND(SUM(((runc - xb * EXP(gc)) * xb) * EXP(-gc)), 6)
           AS wcust_end_r6,
       ROUND(SUM(((runp - xb * EXP(gp)) * xb) * EXP(-gp)), 6)
           AS wplat_end_r6,
       ROUND(MAX(CASE WHEN pos = n_tok - 1
                 THEN bm2 * EXP(-gi * 1.0) END), 6) AS bayw_tot_r6
FROM lvl2
GROUP BY doc_id
"""


def q_prep_mav_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAV (window-4 moving average) and DOT (every-3rd-point) preps:
    END of [1] over MAV output (quarter-exact floats) and END of [11]
    over DOT output (integer-exact)."""
    from fruits_spark.engine.executor import feature_columns
    from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
    from fruits_spark.words import W

    fplan = FruitPlan(
        (
            Slice(
                preps=(Prep("mav", {"width": 4}),),
                iss=ISSSpec((W("[1]"),)),
                sieves=(Sieve("end"),),
            ),
            Slice(
                preps=(Prep("dot", {"n": 3}),),
                iss=ISSSpec((W("[11]"),)),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id",
        F.col(fc[0]).alias("mav_sum"),  # quarters: exact doubles
        F.col(fc[1]).cast("long").alias("dot_sq_sum"),
    )


SQL_PREP_MAV_DOT = f"""
WITH {SQL_TOKS},
m AS (
    SELECT doc_id, pos, x,
           CASE WHEN pos >= 3 THEN
               CAST(SUM(x) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) / 4
           ELSE 0.0 END AS mavg
    FROM toks
)
SELECT doc_id,
       SUM(mavg) AS mav_sum,
       CAST(SUM(CASE WHEN pos % 3 = 2 THEN x * x ELSE 0 END) AS BIGINT)
           AS dot_sq_sum
FROM m
GROUP BY doc_id
"""


def q_prep_nrm_ppv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NRM preparateur (per-series min-max to [0,1]) then PPV(>=0.5) on
    the normalized series itself (word [1] stream's increments aren't
    used — PPV applies to the [1] cumsum; we sieve with END too)."""
    from fruits_spark.engine.executor import feature_columns
    from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
    from fruits_spark.words import W

    fplan = FruitPlan(
        (
            Slice(
                preps=(Prep("nrm"),),
                iss=ISSSpec((W("[1]"),)),
                sieves=(
                    Sieve("end"),
                    # threshold deliberately NOT a reachable rational of
                    # the normalized sums: run1 values are sums of
                    # small-denominator fractions and can land exactly
                    # ON a round threshold, where the flat path's
                    # documented ~1-ulp carry drift vs per-row cumsum
                    # flips the comparison (seen at sf0.1 with 5.0)
                    Sieve("ppv", {"quantiles": [4.7500001],
                                  "constant": [True]}),
                ),
            ),
            # PPV plain + segments mode (implicit.py:114-129) on the raw
            # [1] stream: proportion >= q and within the band [20, 80)
            Slice(
                iss=ISSSpec((W("[1]"),)),
                sieves=(
                    Sieve("ppv", {"quantiles": [100.0, 1000.0]}),
                    Sieve(
                        "ppv",
                        {"quantiles": [20.0, 80.0], "segments": True},
                    ),
                ),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id",
        F.round(F.col(fc[0]), 6).alias("nrm_sum_r6"),
        F.round(F.col(fc[1]), 6).alias("nrm_ppv5_r6"),
        F.round(F.col(fc[2]), 6).alias("ppv100_r6"),
        F.round(F.col(fc[3]), 6).alias("ppv1000_r6"),
        F.round(F.col(fc[4]), 6).alias("ppvseg_r6"),
    )


SQL_PREP_NRM_PPV = f"""
WITH {SQL_TOKS}, {SQL_STREAMS},
n AS (
    SELECT doc_id, pos, n_tok,
           CASE WHEN MAX(x) OVER d = MIN(x) OVER d THEN 0.0
                ELSE CAST(x - MIN(x) OVER d AS DOUBLE)
                     / (MAX(x) OVER d - MIN(x) OVER d) END AS xn
    FROM toks
    WINDOW d AS (PARTITION BY doc_id)
),
r AS (
    SELECT doc_id, pos, n_tok, xn,
           SUM(xn) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run1
    FROM n
),
nrm AS (
    SELECT doc_id,
           ROUND(MAX(CASE WHEN pos = n_tok - 1 THEN run1 END), 6)
               AS nrm_sum_r6,
           ROUND(CAST(SUM(CASE WHEN run1 >= 4.7500001 THEN 1 ELSE 0 END)
                 AS DOUBLE) / MAX(n_tok), 6) AS nrm_ppv5_r6
    FROM r
    GROUP BY doc_id
),
seg AS (
    SELECT doc_id,
           ROUND(SUM(CASE WHEN run1 >= 100 THEN 1 ELSE 0 END) * 1.0
                 / n_tok, 6) AS ppv100_r6,
           ROUND(SUM(CASE WHEN run1 >= 1000 THEN 1 ELSE 0 END) * 1.0
                 / n_tok, 6) AS ppv1000_r6,
           ROUND(SUM(CASE WHEN run1 >= 20 AND run1 < 80 THEN 1 ELSE 0 END)
                 * 1.0 / n_tok, 6) AS ppvseg_r6
    FROM streams
    GROUP BY doc_id, n_tok
)
SELECT nrm.doc_id, nrm_sum_r6, nrm_ppv5_r6, ppv100_r6, ppv1000_r6, ppvseg_r6
FROM nrm JOIN seg ON nrm.doc_id = seg.doc_id
"""


def q_iss_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arctic argmax: final value of max_(i<=j)(x_i + x_j) plus the
    maximizing indices (i*, j*) with earliest-tie semantics."""
    from fruits_spark.engine.executor import feature_columns
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W

    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1][1]"),), semiring="arctic", argmax=True),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    # layout: [val1, idx1, val2, idx2_i, idx2_j]
    return out.select(
        "doc_id",
        F.col(fc[2]).cast("long").alias("amax_val"),
        F.col(fc[3]).cast("long").alias("amax_i"),
        F.col(fc[4]).cast("long").alias("amax_j"),
    )


SQL_ISS_ARGMAX = f"""
WITH {SQL_TOKS},
s AS (
    SELECT doc_id, pos, x,
           MAX(x) OVER w AS rmax1,
           MAX(x) OVER w + x AS comb
    FROM toks
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
mx AS (SELECT doc_id, MAX(comb) AS amax_val FROM s GROUP BY doc_id),
jstar AS (
    SELECT s.doc_id, MIN(s.pos) AS j
    FROM s JOIN mx ON s.doc_id = mx.doc_id AND s.comb = mx.amax_val
    GROUP BY s.doc_id
),
istar AS (
    SELECT s.doc_id, MIN(s.pos) AS i
    FROM s
    JOIN jstar ON s.doc_id = jstar.doc_id AND s.pos <= jstar.j
    JOIN (SELECT s2.doc_id, jstar.j, MAX(s2.x) AS mxx
          FROM s s2 JOIN jstar ON s2.doc_id = jstar.doc_id
          WHERE s2.pos <= jstar.j GROUP BY s2.doc_id, jstar.j) pm
      ON s.doc_id = pm.doc_id
    WHERE s.x = pm.mxx
    GROUP BY s.doc_id
)
SELECT mx.doc_id,
       CAST(mx.amax_val AS BIGINT) AS amax_val,
       CAST(istar.i AS BIGINT) AS amax_i,
       CAST(jstar.j AS BIGINT) AS amax_j
FROM mx JOIN jstar ON mx.doc_id = jstar.doc_id
JOIN istar ON mx.doc_id = istar.doc_id
"""


def q_iss_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained ISS: streams of ISS([1]) feed ISS([1][1]) — END of the
    composed stream (integer-exact)."""
    from fruits_spark.engine.executor import feature_columns
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W

    fplan = FruitPlan(
        (
            Slice(
                iss=(ISSSpec((W("[1]"),)), ISSSpec((W("[1][1]"),))),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id", F.col(fc[0]).cast("long").alias("chain_end")
    )


SQL_ISS_CHAINED = f"""
WITH {SQL_TOKS}, {SQL_STREAMS},
lvl2 AS (
    SELECT doc_id, run1,
           SUM(run1) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runs
    FROM streams
)
SELECT doc_id,
       CAST(SUM(run1 * (runs - run1)) AS BIGINT) AS chain_end
FROM lvl2
GROUP BY doc_id
"""


def q_iss_coswiss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-weighted ISS (CosWISS): END of word [1][1] at freq 0.5,
    exponent 2, on tokens scaled to [0,1]."""
    from fruits_spark.engine.executor import extract_features, feature_columns
    from fruits_spark.plan import CosWISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W

    fplan = FruitPlan(
        (
            Slice(
                iss=CosWISSSpec((W("[1][1]"),), (0.5,), exponent=2),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    toks = token_table(spark, sf_dir)
    out = extract_features(toks, fplan, cast_scale=0.01)
    return out.select("doc_id", F.round(F.col(fc[0]), 6).alias("cos_end_r6"))


# binomial expansion of cos^2(g_j - g_i):  sin^2 sin^2 + 2 sincos sincos
# + cos^2 cos^2, with multiplication order mirroring the kernel
SQL_ISS_COSWISS = f"""
WITH {SQL_TOKS},
t AS (
    SELECT doc_id, pos, n_tok, x / 100.0 AS xs,
           sin(pi() * pos / (0.5 * (n_tok - 1))) AS sg,
           cos(pi() * pos / (0.5 * (n_tok - 1))) AS cg
    FROM toks
),
r AS (
    SELECT doc_id, pos, xs, sg, cg,
           SUM((xs * sg) * sg) OVER w AS r1,
           SUM((xs * sg) * cg) OVER w AS r2,
           SUM((xs * cg) * cg) OVER w AS r3
    FROM t
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT doc_id,
       ROUND(SUM(
           1 * ((((r1 - (xs * sg) * sg) * xs) * sg) * sg)
         + 2 * ((((r2 - (xs * sg) * cg) * xs) * sg) * cg)
         + 1 * ((((r3 - (xs * cg) * cg) * xs) * cg) * cg)
       ), 6) AS cos_end_r6
FROM r
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# rollup / gap-fill
# ---------------------------------------------------------------------------

N_BUCKETS = 8


def _bucket_expr():
    return (F.col("doc_id") % N_BUCKETS).cast("int")


def q_rollup_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier rollup: per (source, doc bucket) — doc count, token volume,
    sum/max of END([11]).  Rows with bucket + 100 are the REAL-TIME
    continuous-aggregate view (rollup.realtime_tier) of the same tier
    rebuilt from cells materialized only for buckets <= 3 plus an
    on-the-fly rollup of the tail past each source's watermark — it
    must reproduce the full rollup exactly (the oracle recomputes those
    rows straight from the tokens), which gates the watermark join and
    the null-watermark (no materialized cells) path.  Rows with bucket
    + 200 are the same tier built through ``rollup_tier_salted``."""
    from fruits_spark.engine import rollup as RU
    from fruits_spark.engine.executor import extract_features, feature_columns
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W

    fplan = FruitPlan(
        (Slice(iss=ISSSpec((W("[11]"),)), sieves=(Sieve("end"),)),)
    )
    fc = feature_columns(fplan)
    toks = token_table(spark, sf_dir).withColumn(
        "doc_idx", F.col("doc_id")
    )
    feats = extract_features(
        toks, fplan, keep=("doc_id", "source", "n_tok")
    )
    tier = RU.Tier("t1k", 1_000)
    rolled = RU.rollup_tier(feats, tier, N_BUCKETS, fc,
                            bucket_expr=_bucket_expr())

    def band(cells, offset):
        return cells.select(
            "source",
            (F.col("bucket") + offset).cast("int").alias("bucket"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("sum_tok").cast("long").alias("sum_tok"),
            F.col(f"sum_{fc[0]}").cast("long").alias("sum_end_11"),
            F.col(f"max_{fc[0]}").cast("long").alias("max_end_11"),
        )

    materialized = rolled.where(F.col("bucket") <= 3)
    rt = RU.realtime_tier(materialized, feats, tier, N_BUCKETS, fc,
                          bucket_expr=_bucket_expr())
    salted = RU.rollup_tier_salted(feats, tier, N_BUCKETS, fc,
                                   bucket_expr=_bucket_expr())
    return band(rolled, 0).unionByName(band(rt, 100)).unionByName(
        band(salted, 200))


SQL_ROLLUP = f"""
WITH {SQL_TOKS}, {SQL_STREAMS},
perdoc AS (
    SELECT doc_id, source,
           MAX(n_tok) AS n_tok,
           (doc_id % {N_BUCKETS}) AS bucket,
           SUM(x * x) AS end_11
    FROM streams
    GROUP BY doc_id, source
)
SELECT source,
       CAST(bucket AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       CAST(SUM(end_11) AS BIGINT) AS sum_end_11,
       CAST(MAX(end_11) AS BIGINT) AS max_end_11
FROM perdoc
GROUP BY source, bucket
"""

# rollup_tier additionally emits the realtime_tier reconstruction as
# bucket+100 sentinel rows and the rollup_tier_salted build as bucket+200
# rows (see q_rollup_tier); both must equal the plain 40-row oracle above.
SQL_ROLLUP_RT = SQL_ROLLUP + "".join(f"""
UNION ALL
SELECT source,
       CAST(bucket + {offset} AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       CAST(SUM(end_11) AS BIGINT) AS sum_end_11,
       CAST(MAX(end_11) AS BIGINT) AS max_end_11
FROM perdoc
GROUP BY source, bucket
""" for offset in (100, 200))


def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill: full (source x bucket) spine over a 16-bucket tier built
    from only bucket < 10 docs; missing cells emitted with zeros and a
    filled flag."""
    from fruits_spark.engine import rollup as RU
    from fruits_spark.engine.executor import extract_features, feature_columns
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W

    nb = 16
    fplan = FruitPlan(
        (Slice(iss=ISSSpec((W("[1]"),)), sieves=(Sieve("end"),)),)
    )
    fc = feature_columns(fplan)
    toks = token_table(spark, sf_dir).where((F.col("doc_id") % nb) < 10)
    feats = extract_features(toks, fplan)
    rolled = RU.rollup_tier(
        feats, RU.Tier("t1k", 1000), nb, fc,
        bucket_expr=(F.col("doc_id") % nb).cast("int"),
    )
    spine = RU.bucket_spine(token_table(spark, sf_dir), nb)
    filled = RU.gap_fill(rolled, spine, fill_cols={f"sum_{fc[0]}": 0})
    return filled.select(
        "source",
        "bucket",
        F.col("filled").alias("filled"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col(f"sum_{fc[0]}").cast("long").alias("sum_end_1"),
    )


SQL_GAPFILL = f"""
WITH {SQL_TOKS}, {SQL_STREAMS},
perdoc AS (
    SELECT doc_id, source, (doc_id % 16) AS bucket, SUM(x) AS end_1
    FROM streams
    GROUP BY doc_id, source
    HAVING (doc_id % 16) < 10
),
cells AS (
    SELECT source, bucket, COUNT(*) AS n_docs, SUM(end_1) AS s1
    FROM perdoc GROUP BY source, bucket
),
spine AS (
    SELECT s.source, b.bucket
    FROM (SELECT DISTINCT source FROM documents) s,
         (SELECT unnest(range(0, 16)) AS bucket) b
)
SELECT sp.source,
       CAST(sp.bucket AS INT) AS bucket,
       (c.n_docs IS NULL) AS filled,
       CAST(COALESCE(c.n_docs, 0) AS BIGINT) AS n_docs,
       CAST(COALESCE(c.s1, 0) AS BIGINT) AS sum_end_1
FROM spine sp LEFT JOIN cells c
  ON sp.source = c.source AND sp.bucket = c.bucket
"""


# ---------------------------------------------------------------------------
# event-stream ops
# ---------------------------------------------------------------------------

def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly continuous aggregate per event_type with gap-filled hour
    spine (count + min/max value; integer-exact)."""
    ev = _read(spark, sf_dir, "events")
    hours = ev.select(
        (F.unix_timestamp("ts") / F.lit(3600)).cast("long").alias("hour"),
        "event_type",
        "value",
    )
    agg = hours.groupBy("hour", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )
    bounds = hours.agg(
        F.min("hour").alias("lo"), F.max("hour").alias("hi")
    )
    spine = (
        bounds.select(
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("hour")
        )
        .crossJoin(ev.select("event_type").distinct())
    )
    out = spine.join(agg, ["hour", "event_type"], "left")
    return out.select(
        "hour",
        "event_type",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        F.col("min_value").alias("min_value"),
        F.col("max_value").alias("max_value"),
    )


SQL_EVENTS_ROLLUP = """
WITH h AS (
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour, event_type, value
    FROM events
),
agg AS (
    SELECT hour, event_type, COUNT(*) AS n_events,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value
    FROM h GROUP BY hour, event_type
),
spine AS (
    SELECT t.hour, e.event_type
    FROM (SELECT unnest(range((SELECT MIN(hour) FROM h),
                              (SELECT MAX(hour) FROM h) + 1)) AS hour) t,
         (SELECT DISTINCT event_type FROM h) e
)
SELECT s.hour, s.event_type,
       CAST(COALESCE(a.n_events, 0) AS BIGINT) AS n_events,
       a.min_value AS min_value,
       a.max_value AS max_value
FROM spine s LEFT JOIN agg a
  ON s.hour = a.hour AND s.event_type = a.event_type
"""


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each 'error' event, the timestamp of the user's
    most recent 'purchase' at or before it (union+window implementation)."""
    from fruits_spark.pipeline import asof_join

    ev = _read(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase")
    out = asof_join(
        errors, purchases, on="user_id", right_val="ts", alias="asof_ts"
    )
    # events ts is TIMESTAMP_NTZ; with a UTC session (engine default) the
    # cast makes unix_micros agree with DuckDB's naive epoch_us
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("asof_ts").cast("timestamp")).alias("purchase_us"),
    )


SQL_EVENTS_ASOF = """
SELECT e.event_id, e.user_id,
       (SELECT epoch_us(MAX(p.ts)) FROM events p
        WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
          AND p.ts <= e.ts) AS purchase_us
FROM events e
WHERE e.event_type = 'error'
"""


# ---------------------------------------------------------------------------
# dedup / similarity / text ops
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: per doc, its content hash, the copy count of that
    content, and the canonical doc to keep (min doc_id)."""
    from fruits_spark.pipeline import exact_dedup_assignment

    return exact_dedup_assignment(_read(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "content_hash",
        F.col("n_copies").cast("long").alias("n_copies"),
        F.col("keep_doc_id").cast("long").alias("keep_doc_id"),
        "is_duplicate",
    )


SQL_DEDUP_EXACT = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(text) AS content_hash,
       CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS n_copies,
       CAST(MIN(doc_id) OVER (PARTITION BY md5(text)) AS BIGINT)
           AS keep_doc_id,
       (doc_id != MIN(doc_id) OVER (PARTITION BY md5(text))) AS is_duplicate
FROM documents
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard >= 0.4 (docs 0..149)."""
    from fruits_spark.pipeline import jaccard_pairs

    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    out = jaccard_pairs(docs, threshold=0.4)
    return out.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("n_common").cast("long").alias("n_common"),
        F.round("jaccard", 6).alias("jaccard_r6"),
    )


SQL_DEDUP_JACCARD = """
WITH sh AS (
    SELECT DISTINCT doc_id,
           array_to_string(ws[i + 1 : i + 3], ' ') AS shingle
    FROM (
        SELECT doc_id, ws,
               unnest(range(0, GREATEST(len(ws) - 2, 0))) AS i
        FROM (
            SELECT doc_id, string_split(lower(text), ' ') AS ws
            FROM documents WHERE doc_id < 150
        )
    )
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(doc_a AS BIGINT) AS doc_a,
       CAST(doc_b AS BIGINT) AS doc_b,
       CAST(n_common AS BIGINT) AS n_common,
       ROUND(n_common / (sa.n + sb.n - n_common), 6) AS jaccard_r6
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / (sa.n + sb.n - n_common) >= 0.4
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (scale path for near-dedup), run with
    the portable integer hash (pipeline.PORTABLE_MOD) so DuckDB computes
    the identical banded signatures — full value check; production
    default stays xxhash64 (pinned by tests/test_hash_reference.py)."""
    from fruits_spark.pipeline import minhash_lsh_candidates

    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    return minhash_lsh_candidates(
        docs, n_hashes=16, bands=8, hash_fn="portable"
    ).select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
    )


_MH_SIG_COLS = ",\n        ".join(
    f"MIN((48271 * a + {(k + 1) * 16807} * b) % 2147483647) AS mh{k}"
    for k in range(16)
)
_MH_BAND_ROWS = "\n    UNION ALL\n".join(
    f"    SELECT doc_id, {b} AS band, "
    f"(mh{2 * b} * 48271 + mh{2 * b + 1} * 96542) % 2147483647 AS bhash "
    f"FROM sig"
    for b in range(8)
)

SQL_MINHASH_LSH = f"""
WITH sh AS (
    SELECT DISTINCT doc_id,
           array_to_string(ws[i + 1 : i + 3], ' ') AS shingle
    FROM (
        SELECT doc_id, ws,
               unnest(range(0, GREATEST(len(ws) - 2, 0))) AS i
        FROM (
            SELECT doc_id, string_split(lower(text), ' ') AS ws
            FROM documents WHERE doc_id < 150
        )
    )
),
ab AS (
    SELECT doc_id, shingle,
           list_sum(list_transform(range(1, length(shingle) + 1),
               i -> ord(substr(shingle, i, 1)) * i)) AS a,
           list_sum(list_transform(range(1, length(shingle) + 1),
               i -> ord(substr(shingle, i, 1)))) AS b
    FROM sh
),
sig AS (
    SELECT doc_id,
        {_MH_SIG_COLS}
    FROM ab GROUP BY doc_id
),
banded AS (
{_MH_BAND_ROWS}
)
SELECT DISTINCT CAST(x.doc_id AS BIGINT) AS doc_a,
       CAST(y.doc_id AS BIGINT) AS doc_b
FROM banded x JOIN banded y
  ON x.band = y.band AND x.bhash = y.bhash AND x.doc_id < y.doc_id
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints with the portable 31-bit hash (16 bits used)
    — full value check vs DuckDB; xxhash64 stays the prod default."""
    from fruits_spark.pipeline import simhash

    return simhash(
        _read(spark, sf_dir, "documents"), bits=16, hash_fn="portable"
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "simhash")


SQL_SIMHASH = """
WITH words AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
),
wh AS (
    SELECT doc_id,
           (48271 * list_sum(list_transform(range(1, length(w) + 1),
                i -> ord(substr(w, i, 1)) * i))
            + 16807 * list_sum(list_transform(range(1, length(w) + 1),
                i -> ord(substr(w, i, 1))))) % 2147483647 AS h
    FROM words
),
bits AS (
    SELECT doc_id, bit,
           SUM(CASE WHEN (h >> bit) % 2 != 0 THEN 1 ELSE -1 END) AS s
    FROM wh, (SELECT unnest(range(0, 16)) AS bit) b
    GROUP BY doc_id, bit
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
            AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine similarity (quantized-int dot products) of the
    first 5 embedding vectors against all, sim > 0.2."""
    from fruits_spark.pipeline import cosine_pairs

    return cosine_pairs(_read(spark, sf_dir, "embeddings")).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("cand_id").cast("long").alias("cand_id"),
        "cosine_r6",
    )


SQL_ANN_COSINE = """
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS qvec
    FROM embeddings
),
n AS (
    SELECT vec_id, qvec,
           CAST(list_dot_product(qvec, qvec) AS BIGINT) AS qnorm
    FROM q
),
pairs AS (
    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
           CAST(list_dot_product(a.qvec, b.qvec) AS BIGINT) AS dot,
           a.qnorm AS na, b.qnorm AS nb
    FROM n a, n b
    WHERE a.vec_id < 5 AND a.vec_id != b.vec_id
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(cand_id AS BIGINT) AS cand_id,
       ROUND(dot / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS cosine_r6
FROM pairs
WHERE na > 0 AND nb > 0
  AND dot / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) > 0.2
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality features (char/word/BPE-ish token counts, type-token
    ratio, stopword count) joined with the positional rolling-hash
    document fingerprint (order-sensitive, integer-exact) and benchmark
    decontamination (docs sharing any 5-gram with the synthetic
    "benchmark" slice doc_id % 101 == 7 are flagged; the benchmark
    shingle set is broadcast — pipeline.decontaminate)."""
    from fruits_spark.pipeline import decontaminate, fingerprint, text_stats

    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 101 == 7)
    out = (
        text_stats(docs)
        .join(fingerprint(docs), "doc_id")
        .join(decontaminate(docs, bench, n=5), "doc_id")
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars_calc").cast("long").alias("n_chars_calc"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_tokens_bpeish").cast("long").alias("n_tokens_bpeish"),
        F.col("n_distinct_words").cast("long").alias("n_distinct_words"),
        F.round("ttr", 6).alias("ttr_r6"),
        F.col("n_stopwords").cast("long").alias("n_stopwords"),
        F.col("fingerprint").cast("long").alias("fingerprint"),
        F.col("n_contaminated_ngrams").cast("long")
        .alias("n_contaminated_ngrams"),
        F.col("contaminated").cast("long").alias("contaminated"),
    )


SQL_TEXT_STATS = """
WITH fp AS (
    SELECT doc_id,
           SUM(ord(substr(text, i, 1)) * i) % 2147483648 AS fingerprint
    FROM (
        SELECT doc_id, text,
               unnest(range(1, length(text) + 1)) AS i
        FROM documents
    )
    GROUP BY doc_id
),
bsh AS (
    SELECT DISTINCT array_to_string(ws[i + 1 : i + 5], ' ') AS shingle
    FROM (
        SELECT ws, unnest(range(0, GREATEST(len(ws) - 4, 0))) AS i
        FROM (SELECT string_split(lower(text), ' ') AS ws
              FROM documents WHERE doc_id % 101 = 7)
    )
),
dsh AS (
    SELECT DISTINCT doc_id,
           array_to_string(ws[i + 1 : i + 5], ' ') AS shingle
    FROM (
        SELECT doc_id, ws,
               unnest(range(0, GREATEST(len(ws) - 4, 0))) AS i
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
              FROM documents)
    )
),
contam AS (
    SELECT doc_id, COUNT(*) AS n_contam
    FROM dsh JOIN bsh USING (shingle)
    GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
            AS BIGINT) AS n_tokens_bpeish,
       CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT)
           AS n_distinct_words,
       ROUND(len(list_distinct(string_split(lower(text), ' ')))
             / len(string_split(lower(text), ' ')), 6) AS ttr_r6,
       CAST(len(list_filter(string_split(lower(text), ' '),
            w -> w IN ('the','a','of','and','to','in','is'))) AS BIGINT)
           AS n_stopwords,
       CAST(fp.fingerprint AS BIGINT) AS fingerprint,
       CAST(COALESCE(c.n_contam, 0) AS BIGINT) AS n_contaminated_ngrams,
       CAST(COALESCE(c.n_contam, 0) > 0 AS BIGINT) AS contaminated
FROM documents d
JOIN fp ON d.doc_id = fp.doc_id
LEFT JOIN contam c ON d.doc_id = c.doc_id
"""


# deterministic non-latin injections: every 13th document is replaced
# by a Russian / Chinese / Japanese sentence (same CASE in the oracle),
# so the script-range detector stage is exercised by the gate
_LANG_RU = "синтаксис потока данных и проверка качества текста"
_LANG_ZH = "数据质量检查与流水线处理系统的并行计算"
_LANG_JA = "データの品質を検査するシステムです"
_LANG_KO = "데이터 품질 검사 시스템 파이프라인 처리"
_LANG_AR = "نظام فحص جودة البيانات ومعالجة التدفق"


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage language id: unicode script-range detector (Han/kana ->
    zh/ja, Cyrillic -> ru, integer 3/10-of-chars threshold) in front of
    the 6-language latin marker table with priority tie-break and
    marker-density confidence.  Every 13th doc is deterministically
    replaced with a ru/zh/ja sentence so the non-latin stage is value-
    checked, not just present."""
    from fruits_spark.pipeline import lang_id

    docs = _read(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(F.col("doc_id") % 13 == 0, F.lit(_LANG_RU))
        .when(F.col("doc_id") % 13 == 1, F.lit(_LANG_ZH))
        .when(F.col("doc_id") % 13 == 2, F.lit(_LANG_JA))
        .when(F.col("doc_id") % 13 == 3, F.lit(_LANG_KO))
        .when(F.col("doc_id") % 13 == 4, F.lit(_LANG_AR))
        .otherwise(F.col("text")),
    )
    out = lang_id(docs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "labelled_lang",
        F.col("s_en").cast("long").alias("s_en"),
        F.col("s_es").cast("long").alias("s_es"),
        F.col("s_it").cast("long").alias("s_it"),
        F.col("s_nl").cast("long").alias("s_nl"),
        "pred_lang",
        "conf_r6",
    )


SQL_LANG_ID = f"""
WITH d AS (
    SELECT doc_id, lang,
        CASE WHEN doc_id % 13 = 0 THEN '{_LANG_RU}'
             WHEN doc_id % 13 = 1 THEN '{_LANG_ZH}'
             WHEN doc_id % 13 = 2 THEN '{_LANG_JA}'
             WHEN doc_id % 13 = 3 THEN '{_LANG_KO}'
             WHEN doc_id % 13 = 4 THEN '{_LANG_AR}'
             ELSE text END AS text
    FROM documents
),
s AS (
    SELECT doc_id, lang AS labelled_lang,
        len(string_split(lower(text), ' ')) AS nw,
        length(text) AS nc,
        length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS n_han,
        length(regexp_replace(text, '[^぀-ヿ]', '', 'g')) AS n_kana,
        length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g')) AS n_cyr,
        length(regexp_replace(text, '[^가-힣]', '', 'g')) AS n_hang,
        length(regexp_replace(text, '[^؀-ۿ]', '', 'g')) AS n_arab,
        len(list_filter(string_split(lower(text), ' '),
            w -> w IN ('the','a','of','and','is'))) AS s_en,
        len(list_filter(string_split(lower(text), ' '),
            w -> w IN ('el','la','de','que','los'))) AS s_es,
        len(list_filter(string_split(lower(text), ' '),
            w -> w IN ('der','die','das','und','ist'))) AS s_de,
        len(list_filter(string_split(lower(text), ' '),
            w -> w IN ('le','les','des','et','est'))) AS s_fr,
        len(list_filter(string_split(lower(text), ' '),
            w -> w IN ('il','che','di','per','sono'))) AS s_it,
        len(list_filter(string_split(lower(text), ' '),
            w -> w IN ('het','een','van','dat','niet'))) AS s_nl
    FROM d
),
best AS (
    SELECT doc_id,
           list_sort([
               {{'neg': -s_en, 'pri': 0, 'lang': 'en'}},
               {{'neg': -s_es, 'pri': 1, 'lang': 'es'}},
               {{'neg': -s_de, 'pri': 2, 'lang': 'de'}},
               {{'neg': -s_fr, 'pri': 3, 'lang': 'fr'}},
               {{'neg': -s_it, 'pri': 4, 'lang': 'it'}},
               {{'neg': -s_nl, 'pri': 5, 'lang': 'nl'}}
           ])[1] AS b
    FROM s
)
SELECT CAST(s.doc_id AS BIGINT) AS doc_id, labelled_lang,
       CAST(s_en AS BIGINT) AS s_en,
       CAST(s_es AS BIGINT) AS s_es,
       CAST(s_it AS BIGINT) AS s_it,
       CAST(s_nl AS BIGINT) AS s_nl,
       CASE WHEN (n_han + n_kana) * 10 > nc * 3 AND n_kana > 0 THEN 'ja'
            WHEN (n_han + n_kana) * 10 > nc * 3 THEN 'zh'
            WHEN n_hang * 10 > nc * 3 THEN 'ko'
            WHEN n_arab * 10 > nc * 3 THEN 'ar'
            WHEN n_cyr * 10 > nc * 3 THEN 'ru'
            ELSE b.lang END AS pred_lang,
       CASE WHEN (n_han + n_kana) * 10 > nc * 3
                THEN ROUND(CAST(n_han + n_kana AS DOUBLE) / nc, 6)
            WHEN n_hang * 10 > nc * 3
                THEN ROUND(CAST(n_hang AS DOUBLE) / nc, 6)
            WHEN n_arab * 10 > nc * 3
                THEN ROUND(CAST(n_arab AS DOUBLE) / nc, 6)
            WHEN n_cyr * 10 > nc * 3
                THEN ROUND(CAST(n_cyr AS DOUBLE) / nc, 6)
            ELSE ROUND(CAST(-b.neg AS DOUBLE) / nw, 6) END AS conf_r6
FROM s JOIN best ON s.doc_id = best.doc_id
"""




def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary columns, end to end, over THREE container
    formats: (a) deterministic FRB1 frame containers (synthetic video
    stand-in; batched decode — one frombuffer + one add.reduceat per
    Arrow batch), (b) REAL RIFF/WAVE PCM16 files (public audio format,
    byte-compatible with any WAV reader), and (c) REAL 24-bit BI_RGB
    BMP files (public image format; bottom-up rows, BGR channels and
    4-byte row padding all undone by the decode).  Each decode emits a
    typed-metadata row + an integer series (per-frame pixel sums /
    int16 samples / per-row luminance sums) fed through the same ISS
    engine ([1] and [1][1] ENDs); results are unioned with a ``fmt``
    tag.  Two more rows per doc gate the media TRANSFORM ops: every-2nd
    frame-sampling (``frb1_s2``, a JVM array projection) and 2x2
    nearest-neighbor resize (``frb1_rz``, batched pixel gather).  The
    oracle recomputes everything from the integer formulas, so any byte
    error in any container, decode, slicing, or index mapping fails the
    value match."""
    from fruits_spark.multimodal import (
        decode_bmp, decode_frames, decode_wav, resize_frames,
        sample_frames, synth_bmp_blobs, synth_frame_blobs,
        synth_wav_blobs,
    )
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import extract_features, feature_columns

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    fplan = FruitPlan(
        (Slice(iss=ISSSpec((W("[1]"), W("[1][1]"))), sieves=(Sieve("end"),)),)
    )
    fc = feature_columns(fplan)

    dec = decode_frames(synth_frame_blobs(docs)).withColumn(
        "n_tok", F.col("n_frames")
    )
    frb = extract_features(
        dec, fplan, tokens_col="frame_sums",
        keep=("doc_id", "n_frames", "width", "height", "n_bytes"),
    ).select(
        F.lit("frb1").alias("fmt"),
        "doc_id",
        F.col("n_frames").cast("int").alias("n_units"),
        F.col("width").cast("int").alias("meta1"),
        F.col("height").cast("int").alias("meta2"),
        F.col("n_bytes").cast("int").alias("n_bytes"),
        F.col(fc[0]).cast("long").alias("frame_end_1"),
        F.col(fc[1]).cast("long").alias("frame_end_1_1"),
    )

    wdec = decode_wav(synth_wav_blobs(docs)).withColumn(
        "n_tok", F.col("n_samples")
    )
    wav = extract_features(
        wdec, fplan, tokens_col="samples",
        keep=("doc_id", "n_samples", "sample_rate", "bits", "n_bytes"),
    ).select(
        F.lit("wav").alias("fmt"),
        "doc_id",
        F.col("n_samples").cast("int").alias("n_units"),
        F.col("sample_rate").cast("int").alias("meta1"),
        F.col("bits").cast("int").alias("meta2"),
        F.col("n_bytes").cast("int").alias("n_bytes"),
        F.col(fc[0]).cast("long").alias("frame_end_1"),
        F.col(fc[1]).cast("long").alias("frame_end_1_1"),
    )

    # third container, second REAL format: 24-bit BI_RGB BMP — per-row
    # luminance-sum series (top-down, padding stripped, BGR undone)
    bdec = decode_bmp(synth_bmp_blobs(docs)).withColumn(
        "n_tok", F.col("height")
    )
    bmp = extract_features(
        bdec, fplan, tokens_col="row_sums",
        keep=("doc_id", "width", "height", "n_bytes", "pixel_sum"),
    ).select(
        F.lit("bmp").alias("fmt"),
        "doc_id",
        F.col("height").cast("int").alias("n_units"),
        F.col("width").cast("int").alias("meta1"),
        F.col("pixel_sum").cast("int").alias("meta2"),
        F.col("n_bytes").cast("int").alias("n_bytes"),
        F.col(fc[0]).cast("long").alias("frame_end_1"),
        F.col(fc[1]).cast("long").alias("frame_end_1_1"),
    )
    # frame-sampling (every 2nd frame, JVM array projection) and
    # nearest-neighbor 2x2 resize (batched gather) — the keyframe /
    # downscale steps of a media feature pipeline, through the same ISS
    # plan; the oracle replays both from the integer pixel formula
    sdec = sample_frames(
        decode_frames(synth_frame_blobs(docs)), 2
    ).withColumn("n_tok", F.col("n_frames"))
    s2 = extract_features(
        sdec, fplan, tokens_col="frame_sums",
        keep=("doc_id", "n_frames", "width", "height", "n_bytes"),
    ).select(
        F.lit("frb1_s2").alias("fmt"),
        "doc_id",
        F.col("n_frames").cast("int").alias("n_units"),
        F.col("width").cast("int").alias("meta1"),
        F.col("height").cast("int").alias("meta2"),
        F.col("n_bytes").cast("int").alias("n_bytes"),
        F.col(fc[0]).cast("long").alias("frame_end_1"),
        F.col(fc[1]).cast("long").alias("frame_end_1_1"),
    )
    rdec = resize_frames(synth_frame_blobs(docs), 2, 2).withColumn(
        "n_tok", F.col("n_frames")
    )
    rz = extract_features(
        rdec, fplan, tokens_col="frame_sums",
        keep=("doc_id", "n_frames", "width", "height"),
    ).select(
        F.lit("frb1_rz").alias("fmt"),
        "doc_id",
        F.col("n_frames").cast("int").alias("n_units"),
        F.col("width").cast("int").alias("meta1"),
        F.col("height").cast("int").alias("meta2"),
        (F.lit(4) + F.col("n_frames") * 4).cast("int").alias("n_bytes"),
        F.col(fc[0]).cast("long").alias("frame_end_1"),
        F.col(fc[1]).cast("long").alias("frame_end_1_1"),
    )
    return (
        frb.unionByName(wav).unionByName(bmp)
        .unionByName(s2).unionByName(rz)
    )


SQL_MULTIMODAL_FRAMES = """
WITH dims AS (
    SELECT doc_id,
           doc_id % 7 + 2 AS nf,
           doc_id % 5 + 2 AS w,
           doc_id % 3 + 2 AS h
    FROM documents
),
fs AS (
    SELECT doc_id, nf, w, h, f,
           SUM(((doc_id + 1) * 31 + f * 7 + p * 3) % 251) AS fsum
    FROM (
        SELECT doc_id, nf, w, h, f, unnest(range(0, w * h)) AS p
        FROM (SELECT doc_id, nf, w, h, unnest(range(0, nf)) AS f FROM dims)
    )
    GROUP BY doc_id, nf, w, h, f
),
runs AS (
    SELECT doc_id, nf, w, h, f, fsum,
           SUM(fsum) OVER (PARTITION BY doc_id ORDER BY f
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run1
    FROM fs
),
wavs AS (
    SELECT doc_id, ns, i,
           ((doc_id + 1) * 17 + i * 13) % 65536 - 32768 AS v
    FROM (
        SELECT doc_id, doc_id % 50 + 20 AS ns,
               unnest(range(0, doc_id % 50 + 20)) AS i
        FROM documents
    )
),
wruns AS (
    SELECT doc_id, ns, i, v,
           SUM(v) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run1
    FROM wavs
)
SELECT 'frb1' AS fmt,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(nf AS INT) AS n_units,
       CAST(w AS INT) AS meta1,
       CAST(h AS INT) AS meta2,
       CAST(4 + nf * w * h AS INT) AS n_bytes,
       CAST(SUM(fsum) AS BIGINT) AS frame_end_1,
       CAST(SUM(fsum * (run1 - fsum)) AS BIGINT) AS frame_end_1_1
FROM runs
GROUP BY doc_id, nf, w, h
UNION ALL
SELECT 'wav' AS fmt,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(ns AS INT) AS n_units,
       8000 AS meta1,
       16 AS meta2,
       CAST(44 + 2 * ns AS INT) AS n_bytes,
       CAST(SUM(v) AS BIGINT) AS frame_end_1,
       CAST(SUM(v * (run1 - v)) AS BIGINT) AS frame_end_1_1
FROM wruns
GROUP BY doc_id, ns
UNION ALL
SELECT 'frb1_s2' AS fmt,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS INT) AS n_units,
       CAST(w AS INT) AS meta1,
       CAST(h AS INT) AS meta2,
       CAST(4 + nf * w * h AS INT) AS n_bytes,
       CAST(SUM(fsum) AS BIGINT) AS frame_end_1,
       CAST(SUM(fsum * (srun - fsum)) AS BIGINT) AS frame_end_1_1
FROM (
    SELECT doc_id, nf, w, h, f, fsum,
           SUM(fsum) OVER (PARTITION BY doc_id ORDER BY f
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS srun
    FROM fs WHERE f % 2 = 0
)
GROUP BY doc_id, nf, w, h
UNION ALL
SELECT 'frb1_rz' AS fmt,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(nf AS INT) AS n_units,
       2 AS meta1,
       2 AS meta2,
       CAST(4 + nf * 4 AS INT) AS n_bytes,
       CAST(SUM(rsum) AS BIGINT) AS frame_end_1,
       CAST(SUM(rsum * (rrun - rsum)) AS BIGINT) AS frame_end_1_1
FROM (
    SELECT doc_id, nf, f, rsum,
           SUM(rsum) OVER (PARTITION BY doc_id ORDER BY f
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rrun
    FROM (
        SELECT doc_id, nf, f,
               SUM(((doc_id + 1) * 31 + f * 7
                    + (((y2 * h) // 2) * w + ((x2 * w) // 2)) * 3) % 251
               ) AS rsum
        FROM (
            SELECT doc_id, nf, w, h, f, y2, unnest(range(0, 2)) AS x2
            FROM (
                SELECT doc_id, nf, w, h, f, unnest(range(0, 2)) AS y2
                FROM (SELECT doc_id, nf, w, h,
                             unnest(range(0, nf)) AS f FROM dims)
            )
        )
        GROUP BY doc_id, nf, f
    )
)
GROUP BY doc_id, nf
UNION ALL
SELECT 'bmp' AS fmt,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(h AS INT) AS n_units,
       CAST(w AS INT) AS meta1,
       CAST(SUM(rsum) AS INT) AS meta2,
       CAST(54 + h * (((w * 3 + 3) // 4) * 4) AS INT) AS n_bytes,
       CAST(SUM(rsum) AS BIGINT) AS frame_end_1,
       CAST(SUM(rsum * (brun - rsum)) AS BIGINT) AS frame_end_1_1
FROM (
    SELECT doc_id, w, h, y, rsum,
           SUM(rsum) OVER (PARTITION BY doc_id ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS brun
    FROM (
        SELECT doc_id, w, h, y,
               SUM(((doc_id + 1) * 29 + y * 11 + x * 5 + c) % 256) AS rsum
        FROM (
            SELECT doc_id, w, h, y, x, unnest(range(0, 3)) AS c
            FROM (
                SELECT doc_id, w, h, y, unnest(range(0, w)) AS x
                FROM (
                    SELECT doc_id,
                           doc_id % 5 + 2 AS w,
                           doc_id % 4 + 2 AS h,
                           unnest(range(0, doc_id % 4 + 2)) AS y
                    FROM documents
                )
            )
        )
        GROUP BY doc_id, w, h, y
    )
)
GROUP BY doc_id, w, h
"""


# ---------------------------------------------------------------------------
# round-1 widening: bayesian semiring, sieve wrappers, CPV/CUR, codec
# roundtrip, CTS/QTC preps, LSH near-dup, ANN top-k, forward-fill
# ---------------------------------------------------------------------------

def q_iss_bayesian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian semiring (max-times, semiring.py:466-601): END of
    [1][1] and [11][1].  Indices are NON-strict (i1<=i2 — the reference
    kernel has no shift between levels), so the oracle is
    MAX_j(runmax(x^e1)_j * x_j^e2)."""
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns

    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec(
                    (W("[1][1]"), W("[11][1]")), semiring="bayesian"
                ),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id",
        F.col(fc[0]).cast("long").alias("bay_1_1"),
        F.col(fc[1]).cast("long").alias("bay_11_1"),
    )


SQL_ISS_BAYESIAN = f"""
WITH {SQL_TOKS},
rm AS (
    SELECT doc_id, pos, x,
           MAX(x) OVER w AS rm1,
           MAX(x * x) OVER w AS rm2
    FROM toks
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT doc_id,
       CAST(MAX(rm1 * x) AS BIGINT) AS bay_1_1,
       CAST(MAX(rm2 * x) AS BIGINT) AS bay_11_1
FROM rm
GROUP BY doc_id
"""


def q_sieve_wrappers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INC / INT sieve wrappers (sieving/wrapper.py:9-104): MAX on the
    1-fold increments (pre=1) and END on the cumulative sum (pre=-1) of
    the [1] and [11] ISS streams."""
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns

    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1]"), W("[11]"))),
                sieves=(
                    Sieve("max", {"pre": 1}),
                    Sieve("end", {"pre": -1}),
                ),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id",
        F.col(fc[0]).cast("long").alias("wrap_max_1"),
        F.col(fc[1]).cast("long").alias("wrap_int_1"),
        F.col(fc[2]).cast("long").alias("wrap_max_11"),
        F.col(fc[3]).cast("long").alias("wrap_int_11"),
    )


# increments of run1 are x (zero-padded at pos 0); cumsum of a run
# stream telescopes to SUM of the running values
SQL_SIEVE_WRAPPERS = f"""
WITH {SQL_TOKS}, {SQL_STREAMS}
SELECT doc_id,
       CAST(MAX(CASE WHEN pos > 0 THEN x ELSE 0 END) AS BIGINT)
           AS wrap_max_1,
       CAST(SUM(run1) AS BIGINT) AS wrap_int_1,
       CAST(MAX(CASE WHEN pos > 0 THEN x * x ELSE 0 END) AS BIGINT)
           AS wrap_max_11,
       CAST(SUM(run2) AS BIGINT) AS wrap_int_11
FROM streams
GROUP BY doc_id
"""


def q_sieve_cpv_cur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CPV (connected components above a constant threshold, on the
    pre=1 increments of the [1] stream = the raw tokens zero-padded at
    pos 0), CUR (sum of squared 2nd-order increments), and the
    reference's AVG bug (segment.py:309: AVG._transform calls
    CUR._backend) reproduced behind ``faithful``: faithful=True returns
    curvature (= cur_sum), faithful=False the actual mean."""
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns

    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1]"),)),
                sieves=(
                    Sieve("cpv", {"quantiles": [50.0], "pre": 1}),
                    Sieve("cur"),
                    Sieve("avg", {"faithful": True}),
                    Sieve("avg", {"faithful": False}),
                ),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id",
        F.round(F.col(fc[0]), 6).alias("cpv_r6"),
        F.col(fc[1]).cast("long").alias("cur_sum"),
        F.col(fc[2]).cast("long").alias("avg_quirk_cur"),
        F.round(F.col(fc[3]), 6).alias("avg_true_r6"),
    )


SQL_SIEVE_CPV_CUR = f"""
WITH {SQL_TOKS},
d AS (
    SELECT doc_id, n_tok, pos,
           CASE WHEN pos = 0 THEN 0 ELSE x END AS dd1,
           SUM(x) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run1
    FROM toks
),
e AS (
    SELECT doc_id, n_tok, run1,
           CASE WHEN dd1 >= 50 THEN 1 ELSE 0 END AS ind,
           COALESCE(CASE WHEN LAG(dd1) OVER w >= 50 THEN 1 ELSE 0 END, 1)
               AS prev_ind,
           COALESCE(dd1 - LAG(dd1) OVER w, 0) AS d2
    FROM d
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
)
SELECT doc_id,
       ROUND(2.0 * SUM(CASE WHEN ind = 1 AND prev_ind = 0 THEN 1 ELSE 0 END)
             / (n_tok + n_tok % 2), 6) AS cpv_r6,
       CAST(SUM(d2 * d2) AS BIGINT) AS cur_sum,
       CAST(SUM(d2 * d2) AS BIGINT) AS avg_quirk_cur,
       ROUND(SUM(run1) * 1.0 / n_tok, 6) AS avg_true_r6
FROM e
GROUP BY doc_id, n_tok
"""


def q_prep_cts_qtc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTS / QTC preparateur family in one query (all END of [1]):
      * CTS (constant time shift, transform.py:910-958) then QTC
        (quantile/bound clip, transform.py:961-1015);
      * DOT with explicit ``first`` (filter.py:123-194), on [11];
      * QTC lower clip (transform.py:1004);
      * CTS pseudo_shift (transform.py:936-940);
      * QTC with a FITTED dataset-level quantile (q=0.9 resolved by
        np.quantile over the deterministic first-1024-docs fit sample;
        DuckDB's quantile_cont uses the same linear interpolation)."""
    from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import extract_features, feature_columns
    from fruits_spark.fit import fit_plan

    fplan = FruitPlan(
        (
            Slice(
                preps=(Prep("cts", {"s": 2}), Prep("qtc", {"q_value": 75.0})),
                iss=ISSSpec((W("[1]"),)),
                sieves=(Sieve("end"),),
            ),
            Slice(
                preps=(Prep("dot", {"n": 4, "first": 1}),),
                iss=ISSSpec((W("[11]"),)),
                sieves=(Sieve("end"),),
            ),
            Slice(
                preps=(Prep("qtc", {"q_value": 25.0, "lower": True}),),
                iss=ISSSpec((W("[1]"),)),
                sieves=(Sieve("end"),),
            ),
            Slice(
                preps=(Prep("cts", {"s": 3, "pseudo_shift": True}),),
                iss=ISSSpec((W("[1]"),)),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    base = _iss_features(spark, sf_dir, fplan).select(
        "doc_id",
        F.col(fc[0]).cast("long").alias("cts_qtc_end"),
        F.col(fc[1]).cast("long").alias("dot_first_end"),
        F.col(fc[2]).cast("long").alias("qtc_lower_end"),
        F.col(fc[3]).cast("long").alias("cts_pseudo_end"),
    )
    fitted_plan = FruitPlan(
        (
            Slice(
                preps=(Prep("qtc", {"q": 0.9}),),
                iss=ISSSpec((W("[1]"),)),
                sieves=(Sieve("end"),),
            ),
        )
    )
    toks = token_table(spark, sf_dir)
    fitted = fit_plan(toks, fitted_plan, sample_size=1024)
    ffc = feature_columns(fitted)
    fit_out = extract_features(
        toks, fitted, keep=("doc_id", "source", "n_tok")
    ).select("doc_id", F.round(F.col(ffc[0]), 6).alias("qtc_fitted_end_r6"))
    return base.join(fit_out, "doc_id")


SQL_PREP_CTS_QTC = f"""
WITH {SQL_TOKS},
sh AS (
    SELECT doc_id,
           COALESCE(LEAD(x, 2) OVER w,
                    LAST_VALUE(x) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING)) AS y
    FROM toks
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
qv AS (
    SELECT quantile_cont(x, 0.9) AS v
    FROM toks
    WHERE doc_id IN (SELECT doc_id FROM documents ORDER BY doc_id
                     LIMIT 1024)
),
shifted AS (
    SELECT doc_id, CAST(SUM(LEAST(y, 75)) AS BIGINT) AS cts_qtc_end
    FROM sh
    GROUP BY doc_id
)
SELECT t.doc_id,
       MAX(s.cts_qtc_end) AS cts_qtc_end,
       CAST(SUM(CASE WHEN pos % 4 = 1 THEN x * x ELSE 0 END) AS BIGINT)
           AS dot_first_end,
       CAST(SUM(GREATEST(x, 25)) AS BIGINT) AS qtc_lower_end,
       CAST(SUM(CASE WHEN pos < n_tok - 3 THEN x ELSE 0 END) AS BIGINT)
           AS cts_pseudo_end,
       ROUND(SUM(LEAST(CAST(x AS DOUBLE), qv.v)), 6) AS qtc_fitted_end_r6
FROM toks t
JOIN shifted s ON t.doc_id = s.doc_id
CROSS JOIN qv
GROUP BY t.doc_id
"""


def q_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla XOR (floats) and delta-of-delta (ints) codec roundtrip:
    encode each doc's [1] run stream / raw tokens, decode, and emit the
    decoded sums — the oracle recomputes the sums from the raw tokens,
    so a single flipped bit anywhere in either codec fails the match."""
    import pandas as pd
    from fruits_spark.kernels.codec import (
        dod_decode, dod_encode, gorilla_decode, gorilla_encode,
    )

    toks = token_table(spark, sf_dir)
    schema = "doc_id long, gorilla_sum long, dod_sum long"

    def run(batches):
        import numpy as np

        for pdf in batches:
            g, d = [], []
            for t in pdf["tokens"]:
                x = np.asarray(t, dtype=np.float64)
                run1 = np.cumsum(x)
                dec = gorilla_decode(gorilla_encode(run1), len(run1))
                g.append(int(dec.sum()))
                ti = np.asarray(t, dtype=np.int64)
                ddec = dod_decode(dod_encode(ti), len(ti))
                d.append(int(ddec.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "gorilla_sum": g,
                    "dod_sum": d,
                }
            )

    return toks.mapInPandas(run, schema)


SQL_CODEC_ROUNDTRIP = f"""
WITH {SQL_TOKS}, {SQL_STREAMS}
SELECT doc_id,
       CAST(SUM(run1) AS BIGINT) AS gorilla_sum,
       CAST(SUM(x) AS BIGINT) AS dod_sum
FROM streams
GROUP BY doc_id
"""


def _lsh_planes(dim: int = 64, bits: int = 6):
    """Deterministic ±1 hyperplanes shared by the Spark query and the
    DuckDB oracle (sign of an integer dot product is exact on both)."""
    import numpy as np

    rng = np.random.default_rng(42)
    return rng.choice(np.array([-1.0, 1.0]), size=(bits, dim))


def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH hyperplane blocking
    (the 100 TB scale path: bucket-join instead of N^2 cross join) +
    exact quantized-int cosine verify within bucket."""
    from fruits_spark.pipeline import embedding_near_dups

    return embedding_near_dups(
        _read(spark, sf_dir, "embeddings"), _lsh_planes(), threshold=0.4
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "cosine_r6",
    )


def _sql_dedup_embed() -> str:
    H = _lsh_planes()
    bucket_terms = []
    for b in range(H.shape[0]):
        lit = "[" + ",".join(str(int(c)) for c in H[b]) + "]"
        bucket_terms.append(
            f"(CASE WHEN list_dot_product(qvec, {lit}) > 0 "
            f"THEN {1 << b} ELSE 0 END)"
        )
    bucket = " + ".join(bucket_terms)
    return f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS qvec
    FROM embeddings
),
n AS (
    SELECT vec_id, qvec,
           CAST(list_dot_product(qvec, qvec) AS BIGINT) AS qnorm,
           ({bucket}) AS bucket
    FROM q
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(list_dot_product(a.qvec, b.qvec) AS BIGINT) AS dot,
           a.qnorm AS na, b.qnorm AS nb
    FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT CAST(id_a AS BIGINT) AS id_a,
       CAST(id_b AS BIGINT) AS id_b,
       ROUND(dot / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS cosine_r6
FROM pairs
WHERE na > 0 AND nb > 0
  AND dot / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) > 0.4
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k per query (window rank over broadcast
    brute-force scores — the ANN baseline; q_dedup_embed is the
    LSH-bucketed scale path)."""
    from fruits_spark.pipeline import cosine_topk

    return cosine_topk(
        _read(spark, sf_dir, "embeddings"), n_queries=5, k=10, shards=32
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("cand_id").cast("long").alias("cand_id"),
        "cosine_r6",
        F.col("rank").cast("int").alias("rank"),
    )


SQL_ANN_TOPK = """
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS qvec
    FROM embeddings
),
n AS (
    SELECT vec_id, qvec,
           CAST(list_dot_product(qvec, qvec) AS BIGINT) AS qnorm
    FROM q
),
scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
           ROUND(CAST(list_dot_product(a.qvec, b.qvec) AS BIGINT)
                 / sqrt(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE)), 6) AS cosine_r6
    FROM n a, n b
    WHERE a.vec_id < 5 AND a.vec_id != b.vec_id
      AND a.qnorm > 0 AND b.qnorm > 0
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(cand_id AS BIGINT) AS cand_id,
       cosine_r6,
       CAST(rn AS INT) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine_r6 DESC, cand_id) AS rn
    FROM scored
)
WHERE rn <= 10
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the third similarity-search path next to brute
    force and LSH buckets), now with a TRAINED coarse quantizer: 2
    deterministic Lloyd k-means iterations (integer floor-div centroids,
    assignment as an inlined-literal projection, update as one d-sum
    hash aggregate — pipeline.train_ivf_centroids) refine the first-8
    seed, then every vector coarse-quantizes to its nearest centroid
    (projection — no shuffle), each query probes its top-2 lists, and
    exact quantized cosine + two-phase top-5 ranks the survivors.  The
    oracle replays the identical training as nested CTEs, so the match
    is value-exact through the train step itself."""
    from fruits_spark.pipeline import ivf_topk

    return ivf_topk(
        _read(spark, sf_dir, "embeddings"),
        n_centroids=8, n_queries=4, nprobe=2, k=5, train_iters=2,
        shards=32,
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("cand_id").cast("long").alias("cand_id"),
        "cosine_r6",
        F.col("rank").cast("int").alias("rank"),
    )


def _ivf_train_ctes(n_cent: int, iters: int, d: int = 64) -> tuple[str, str]:
    """DuckDB CTE chain replaying pipeline.train_ivf_centroids exactly:
    cent0 = first-N seed; each Lloyd iteration is assign (argmax cosine,
    ties to smaller cid) -> per-dimension integer sums -> floor-division
    centroid components (``(s - ((s % cnt) + cnt) % cnt) / cnt`` is pure
    integer floor-div, identical to Python's ``//``) -> recomputed
    integer norms, with empty clusters keeping the previous centroid."""
    parts = [
        f"cent0 AS (SELECT vec_id AS cid, qvec AS cvec, qnorm AS cnorm "
        f"FROM n WHERE vec_id < {n_cent})"
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(f"""a{i} AS (
    SELECT vec_id, cid FROM (
        SELECT n.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
                   CAST(list_dot_product(n.qvec, c.cvec) AS BIGINT)
                   / sqrt(CAST(c.cnorm AS DOUBLE)) DESC, c.cid) AS rn
        FROM n CROSS JOIN cent{p} c
    ) WHERE rn = 1
)""")
        parts.append(f"""s{i} AS (
    SELECT a{i}.cid, t.range AS j,
           SUM(list_extract(n.qvec, CAST(t.range AS INT))) AS s,
           COUNT(*) AS cnt
    FROM a{i} JOIN n USING (vec_id) CROSS JOIN range(1, {d + 1}) t
    GROUP BY 1, 2
)""")
        parts.append(f"""v{i} AS (
    SELECT cid, list(CAST((s - ((s % cnt) + cnt) % cnt) / cnt AS BIGINT)
                     ORDER BY j) AS cvec
    FROM s{i} GROUP BY cid
)""")
        parts.append(f"""cent{i} AS (
    SELECT c.cid, COALESCE(v.cvec, c.cvec) AS cvec,
           CAST(list_dot_product(COALESCE(v.cvec, c.cvec),
                                 COALESCE(v.cvec, c.cvec)) AS BIGINT) AS cnorm
    FROM cent{p} c LEFT JOIN v{i} v USING (cid)
)""")
    return ",\n".join(parts), f"cent{iters}"


_IVF_CTES, _IVF_FINAL = _ivf_train_ctes(8, 2)

SQL_ANN_IVF = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS qvec
    FROM embeddings
),
n AS (
    SELECT vec_id, qvec,
           CAST(list_dot_product(qvec, qvec) AS BIGINT) AS qnorm
    FROM q
),
{_IVF_CTES},
scored AS (
    SELECT n.vec_id, c.cid,
           CAST(list_dot_product(n.qvec, c.cvec) AS BIGINT)
               / sqrt(CAST(c.cnorm AS DOUBLE)) AS s
    FROM n CROSS JOIN {_IVF_FINAL} c
),
assign AS (
    SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY s DESC, cid) AS rn
        FROM scored
    ) WHERE rn = 1
),
probe AS (
    SELECT vec_id AS query_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY s DESC, cid) AS rn
        FROM scored WHERE vec_id < 4
    ) WHERE rn <= 2
),
pairs AS (
    SELECT p.query_id, a.vec_id AS cand_id,
           ROUND(CAST(list_dot_product(nq.qvec, nc.qvec) AS BIGINT)
                 / sqrt(CAST(nq.qnorm AS DOUBLE) * CAST(nc.qnorm AS DOUBLE)), 6) AS cosine_r6
    FROM probe p
    JOIN assign a ON a.cid = p.cid AND a.vec_id != p.query_id
    JOIN n nq ON nq.vec_id = p.query_id AND nq.qnorm > 0
    JOIN n nc ON nc.vec_id = a.vec_id AND nc.qnorm > 0
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(cand_id AS BIGINT) AS cand_id,
       cosine_r6,
       CAST(rn AS INT) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine_r6 DESC, cand_id) AS rn
    FROM pairs
)
WHERE rn <= 5
"""


def q_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (nan repair, reference corbeille data.py:126-147 as
    a window analytic): null out every 5th event's value, fill with the
    last non-null per user ordered by time."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    v = F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
        F.col("value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ev.withColumn("v", v)
        .withColumn(
            "filled",
            F.round(
                F.coalesce(
                    F.last("v", ignorenulls=True).over(w), F.lit(0.0)
                ),
                6,
            ),
        )
        .select(F.col("event_id").cast("long").alias("event_id"), "filled")
    )


SQL_FFILL = """
WITH e AS (
    SELECT event_id, user_id, ts,
           CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
    FROM events
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       ROUND(COALESCE(LAST_VALUE(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0), 6)
           AS filled
FROM e
"""


def q_sieve_npi_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The increment-sieve family NPI/MPI/XPI/LPI (increment.py:101-239)
    with a constant band 10 < d <= 60 on the [1] stream's increments
    (= the raw tokens, zero-padded at pos 0)."""
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns

    band = {"q_values": [10.0, 60.0]}
    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1]"),)),
                sieves=(
                    Sieve("npi", dict(band)),
                    Sieve("mpi", dict(band)),
                    Sieve("xpi", dict(band)),
                    Sieve("lpi", dict(band)),
                ),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id",
        F.col(fc[0]).cast("long").alias("npi"),
        F.round(F.col(fc[1]), 6).alias("mpi_r6"),
        F.round(F.col(fc[2]), 6).alias("xpi_r6"),
        F.col(fc[3]).cast("long").alias("lpi"),
    )


SQL_SIEVE_NPI_FAMILY = f"""
WITH {SQL_TOKS},
d AS (
    SELECT doc_id, pos,
           CASE WHEN pos = 0 THEN 0 ELSE x END AS dd,
           CASE WHEN pos > 0 AND x > 10 AND x <= 60 THEN 1 ELSE 0 END AS m
    FROM toks
),
runs AS (
    SELECT doc_id, COUNT(*) AS run_len
    FROM (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM d WHERE m = 1
    )
    GROUP BY doc_id, grp
)
SELECT d.doc_id,
       CAST(SUM(m) AS BIGINT) AS npi,
       ROUND(COALESCE(SUM(CASE WHEN m = 1 THEN dd END) * 1.0
                      / NULLIF(SUM(m), 0), 0.0), 6) AS mpi_r6,
       ROUND(COALESCE(SUM(CASE WHEN m = 1 THEN pos END) * 1.0
                      / NULLIF(SUM(m), 0), 0.0), 6) AS xpi_r6,
       CAST(COALESCE(MAX(r.max_run), 0) AS BIGINT) AS lpi
FROM d
LEFT JOIN (SELECT doc_id, MAX(run_len) AS max_run FROM runs GROUP BY doc_id)
    r ON d.doc_id = r.doc_id
GROUP BY d.doc_id
"""




def q_prep_win(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIN preparateur (coquantile window, filter.py:71-108): keep only
    [coquantile(.25)-1, coquantile(.75)) of cumulative L2 increment
    mass, zero outside; END of the [1] run over the windowed series."""
    from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns

    fplan = FruitPlan(
        (
            Slice(
                preps=(Prep("win", {"start": 0.25, "end": 0.75}),),
                iss=ISSSpec((W("[1]"),)),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id", F.col(fc[0]).cast("long").alias("win_end")
    )


SQL_PREP_WIN = f"""
WITH {SQL_TOKS}, {SQL_STREAMS},
mass AS (
    SELECT doc_id, pos, x,
           SUM(d1 * d1) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l2run,
           SUM(d1 * d1) OVER (PARTITION BY doc_id) AS l2tot
    FROM streams
),
cq AS (
    SELECT doc_id,
           SUM(CASE WHEN l2run <= 0.25 * l2tot THEN 1 ELSE 0 END) AS cut_s,
           SUM(CASE WHEN l2run <= 0.75 * l2tot THEN 1 ELSE 0 END) AS cut_e
    FROM mass
    GROUP BY doc_id
)
SELECT m.doc_id,
       CAST(SUM(CASE WHEN m.pos >= cq.cut_s - 1 AND m.pos < cq.cut_e
                THEN m.x ELSE 0 END) AS BIGINT) AS win_end
FROM mass m JOIN cq ON m.doc_id = cq.doc_id
GROUP BY m.doc_id
"""


def q_prep_lag_iss12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG lead-lag embedding (transform.py:277-298) + the 2-dim word
    [12]: END = sum over lead-lag steps of lead*lag = sum(x_t^2) +
    sum(x_(t+1)*x_t) — the classic lead-lag signature term."""
    from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns

    fplan = FruitPlan(
        (
            Slice(
                preps=(Prep("lag"),),
                iss=ISSSpec((W("[12]"),)),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id", F.col(fc[0]).cast("long").alias("leadlag_end")
    )


SQL_PREP_LAG = f"""
WITH {SQL_TOKS},
ll AS (
    SELECT doc_id, x,
           COALESCE(LAG(x) OVER (PARTITION BY doc_id ORDER BY pos), 0)
               AS xprev
    FROM toks
)
SELECT doc_id,
       CAST(SUM(x * x) + SUM(x * xprev) AS BIGINT) AS leadlag_end
FROM ll
GROUP BY doc_id
"""




def q_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming ingest, BOTH maintainers oracle-gated: the
    token table arrives as parquet files and is rolled into tier cells
    (a) by the default foreachBatch partials + compaction path and
    (b) by the custom stateful ``applyInPandasWithState`` maintainer
    (final state per key = the update row with max n_docs — monotone
    per key).  Each path's cells are tagged (``path`` column) and
    unioned; the DuckDB oracle computes the batch rollup once and
    duplicates it per path, so a divergence in EITHER maintainer is a
    hash mismatch (round-2 verdict: the stateful path was pytest-pinned
    only)."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import Window

    from fruits_spark import streaming as ST
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns

    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1]"), W("[11]"))),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    base = tempfile.mkdtemp(prefix="stream_rollup_")
    inp = os.path.join(base, "in")
    token_table(spark, sf_dir).repartition(4).write.mode(
        "overwrite"
    ).parquet(inp)
    q = ST.start_stream_rollup(
        spark, inp, base, fplan, n_buckets=8,
        bucket_expr=(F.col("doc_id") % 8).cast("int"),
        schema="doc_id long, tokens array<int>, n_tok int, source string",
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("stream_rollup: availableNow batch not done "
                           "in 600s — refusing to compact partial data")

    def _cells(df, path):
        return df.select(
            F.lit(path).alias("path"),
            "source",
            F.col("bucket").cast("int").alias("bucket"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("sum_tok").cast("long").alias("sum_tok"),
            F.col(f"sum_{fc[0]}").cast("long").alias("sum_end_1"),
            F.col(f"max_{fc[1]}").cast("long").alias("max_end_11"),
        )

    tier = _cells(ST.compact_tier(spark, base, fc), "compact")

    updates = ST.stateful_tier_updates(
        spark, inp, fplan, n_buckets=8,
        bucket_expr=(F.col("doc_id") % 8).cast("int"),
        max_files_per_trigger=2,
        schema="doc_id long, tokens array<int>, n_tok int, source string",
    )
    mem_name = f"stateful_cells_{uuid.uuid4().hex[:8]}"
    sq = (
        updates.writeStream.format("memory").queryName(mem_name)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(base, "_ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    if not sq.awaitTermination(600):
        sq.stop()
        raise TimeoutError("stream_rollup: stateful availableNow run "
                           "not done in 600s")
    w = Window.partitionBy("source", "bucket").orderBy(F.desc("n_docs"))
    final = (
        spark.sql(f"select * from {mem_name}")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    both = tier.unionByName(_cells(final, "stateful"))
    # materialize (tiny: one row per tier cell per path) so the temp dir
    # holding the token copy + partials + checkpoints can be removed
    pdf = both.toPandas()
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    spark.catalog.dropTempView(mem_name)
    return spark.createDataFrame(pdf, schema=both.schema)


SQL_STREAM_ROLLUP = f"""
WITH {SQL_TOKS},
per_doc AS (
    SELECT doc_id, source,
           MAX(n_tok) AS n_tok,
           SUM(x) AS end_1,
           SUM(x * x) AS end_11
    FROM toks
    GROUP BY doc_id, source
),
cells AS (
    SELECT source,
           CAST(doc_id % 8 AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
           CAST(SUM(end_1) AS BIGINT) AS sum_end_1,
           CAST(MAX(end_11) AS BIGINT) AS max_end_11
    FROM per_doc
    GROUP BY source, doc_id % 8
)
SELECT p.path, cells.*
FROM cells CROSS JOIN (VALUES ('compact'), ('stateful')) AS p(path)
"""


def q_iss_weighted_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-mass-weighted ISS (weighting.py:163-210): END of [1][1] with
    g = minmax(cumsum((dx)^2)) * 1.0 — the exponential penalty follows
    accumulated quadratic variation instead of the index."""
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import extract_features, feature_columns

    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec(
                    (W("[1][1]"),),
                    weighting="l2",
                    weighting_params={"scale": 1.0},
                ),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    toks = token_table(spark, sf_dir)
    out = extract_features(
        toks, fplan, keep=("doc_id", "source", "n_tok"), cast_scale=0.01
    )
    return out.select(
        "doc_id", F.round(F.col(fc[0]), 6).alias("w2end_r6")
    )


# xs = x * 0.01 (same op as the engine's cast_scale multiply, NOT /100);
# g = L2 cumsum min-max-normalized per doc: min = first entry = 0
SQL_ISS_WEIGHTED_L2 = f"""
WITH {SQL_TOKS},
sc AS (
    SELECT doc_id, pos, x * 0.01 AS xs
    FROM toks
),
dm AS (
    SELECT doc_id, pos, xs,
           COALESCE(xs - LAG(xs) OVER (PARTITION BY doc_id ORDER BY pos),
                    0.0) AS dx
    FROM sc
),
mass AS (
    SELECT doc_id, pos, xs,
           SUM(dx * dx) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
           SUM(dx * dx) OVER (PARTITION BY doc_id) AS stot
    FROM dm
),
g AS (
    SELECT doc_id, pos, xs,
           CASE WHEN stot = 0 THEN 0.0 ELSE s / stot END AS gi
    FROM mass
),
lvl1 AS (
    SELECT doc_id, pos, xs, gi,
           SUM(xs * EXP(gi)) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runw
    FROM g
)
SELECT doc_id,
       ROUND(SUM(((runw - xs * EXP(gi)) * xs) * EXP(-gi)), 6) AS w2end_r6
FROM lvl1
GROUP BY doc_id
"""


def q_prep_rin_ffn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIN + FFN preparateurs in one 2-slice plan, both END of [1]:
      * RIN with an explicit convolution kernel [2, -1]
        (transform.py:391-568): y_t = x_t - 2 x_(t-1) + x_(t-2), first
        width entries zeroed;
      * FFN with explicit integer weights (2-layer ReLU MLP per time
        step, transform.py:312-388; center=False keeps the algebra
        integer-exact): h = relu([2,-3]x + [1,5]), o = [1,2]h - 4."""
    from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns
    import numpy as np

    fplan = FruitPlan(
        (
            Slice(
                preps=(Prep("rin", {"kernel": np.array([2.0, -1.0])}),),
                iss=ISSSpec((W("[1]"),)),
                sieves=(Sieve("end"),),
            ),
            Slice(
                preps=(
                    Prep(
                        "ffn",
                        {
                            "w1": np.array([[2.0], [-3.0]]),
                            "b1": np.array([1.0, 5.0]),
                            "w2": np.array([[1.0, 2.0]]),
                            "b2": np.array([-4.0]),
                            "center": False,
                        },
                    ),
                ),
                iss=ISSSpec((W("[1]"),)),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id",
        F.col(fc[0]).cast("long").alias("rin_end"),
        F.col(fc[1]).cast("long").alias("ffn_end"),
    )


SQL_PREP_RIN_FFN = f"""
WITH {SQL_TOKS},
y AS (
    SELECT doc_id, x,
           CASE WHEN pos < 2 THEN 0
                ELSE x - 2 * LAG(x, 1) OVER w + LAG(x, 2) OVER w
           END AS yv
    FROM toks
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
)
SELECT doc_id,
       CAST(SUM(yv) AS BIGINT) AS rin_end,
       CAST(SUM(GREATEST(2 * x + 1, 0) + 2 * GREATEST(-3 * x + 5, 0) - 4)
            AS BIGINT) AS ffn_end
FROM y
GROUP BY doc_id
"""


def q_prep_dil_pdd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIL (zero slice [2,5), filter.py:11-62) composed with PDD (zero
    strip [8,10), filter.py:209-258), both with explicit fitted indices;
    END of [11] over the masked series."""
    from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns
    import numpy as np

    fplan = FruitPlan(
        (
            Slice(
                preps=(
                    Prep(
                        "dil",
                        {
                            "indices": np.array([2]),
                            "lengths": np.array([3]),
                        },
                    ),
                    Prep("pdd", {"indices": np.array([8]), "width": 2}),
                ),
                iss=ISSSpec((W("[11]"),)),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id", F.col(fc[0]).cast("long").alias("dil_pdd_end")
    )


SQL_PREP_DIL_PDD = f"""
WITH {SQL_TOKS}
SELECT doc_id,
       CAST(SUM(CASE WHEN (pos >= 2 AND pos < 5) OR (pos >= 8 AND pos < 10)
                THEN 0 ELSE x * x END) AS BIGINT) AS dil_pdd_end
FROM toks
GROUP BY doc_id
"""


def q_prep_spe_rdw_jld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three more preparateurs, one slice each: SPE (sinusoidal
    positional embedding x_t*sin(t/l^f), transform.py:749-835), RDW
    (per-dim exponent x^w, transform.py:571-613) and JLD (explicit
    projection, transform.py:616-746); END of [1] over each."""
    from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns
    import numpy as np

    mk = lambda p: Slice(  # noqa: E731
        preps=(p,), iss=ISSSpec((W("[1]"),)), sieves=(Sieve("end"),)
    )
    fplan = FruitPlan(
        (
            mk(Prep("spe", {"freq": 0.5})),
            mk(Prep("rdw", {"weights": np.array([2.0])})),
            mk(Prep("jld", {"proj": np.array([[3.0]])})),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id",
        F.round(F.col(fc[0]), 6).alias("spe_end_r6"),
        F.col(fc[1]).cast("long").alias("rdw_end"),
        F.col(fc[2]).cast("long").alias("jld_end"),
    )


SQL_PREP_SPE_RDW_JLD = f"""
WITH {SQL_TOKS}
SELECT doc_id,
       ROUND(SUM(x * SIN(pos / SQRT(CAST(n_tok AS DOUBLE)))), 6)
           AS spe_end_r6,
       CAST(SUM(x * x) AS BIGINT) AS rdw_end,
       CAST(3 * SUM(x) AS BIGINT) AS jld_end
FROM toks
GROUP BY doc_id
"""


def q_prep_rpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RPE rotational positional embedding (RoPE-style,
    transform.py:838-907) over the LAG lead-lag pair: dim0 becomes
    lead*cos(ang) - lag*sin(ang) with ang = k/(2l-1)^f; END of [1]."""
    from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns

    fplan = FruitPlan(
        (
            Slice(
                preps=(Prep("lag"), Prep("rpe", {"freq": 0.5})),
                iss=ISSSpec((W("[1]"),)),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id", F.round(F.col(fc[0]), 6).alias("rpe_end_r6")
    )


# lead-lag at step k of 0..2l-2: lead = x[(k+1)//2], lag = x[k//2]
SQL_PREP_RPE = f"""
WITH {SQL_TOKS},
steps AS (
    SELECT doc_id, n_tok,
           unnest(range(0, 2 * n_tok - 1)) AS k
    FROM (SELECT DISTINCT doc_id, n_tok FROM toks)
),
ll AS (
    SELECT s.doc_id, s.k, s.n_tok,
           a.x AS lead_v, b.x AS lag_v
    FROM steps s
    JOIN toks a ON a.doc_id = s.doc_id AND a.pos = (s.k + 1) // 2
    JOIN toks b ON b.doc_id = s.doc_id AND b.pos = s.k // 2
)
SELECT doc_id,
       ROUND(SUM(lead_v * COS(k / SQRT(CAST(2 * n_tok - 1 AS DOUBLE)))
                 - lag_v * SIN(k / SQRT(CAST(2 * n_tok - 1 AS DOUBLE)))),
             6) AS rpe_end_r6
FROM ll
GROUP BY doc_id
"""




def q_prep_std(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STD preparateur (per-series standardize, transform.py:92-158):
    END of [11] over (x-mu)/(sd+1e-5) — the sum of squares of the
    z-scores (n_tok * population variance / (sd+eps)^2)."""
    from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns

    fplan = FruitPlan(
        (
            Slice(
                preps=(Prep("std"),),
                iss=ISSSpec((W("[11]"),)),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = _iss_features(spark, sf_dir, fplan)
    return out.select(
        "doc_id", F.round(F.col(fc[0]), 6).alias("std_sq_end_r6")
    )


SQL_PREP_STD = f"""
WITH {SQL_TOKS},
mu AS (
    SELECT doc_id, SUM(x) * 1.0 / MAX(n_tok) AS m, MAX(n_tok) AS n
    FROM toks GROUP BY doc_id
),
sd AS (
    SELECT t.doc_id,
           SQRT(SUM((t.x - mu.m) * (t.x - mu.m)) / mu.n) AS s
    FROM toks t JOIN mu ON t.doc_id = mu.doc_id
    GROUP BY t.doc_id, mu.n
)
SELECT t.doc_id,
       ROUND(SUM(((t.x - mu.m) / (sd.s + 1e-5))
                 * ((t.x - mu.m) / (sd.s + 1e-5))), 6) AS std_sq_end_r6
FROM toks t
JOIN mu ON t.doc_id = mu.doc_id
JOIN sd ON t.doc_id = sd.doc_id
GROUP BY t.doc_id
"""


def q_events_iss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: gap-filled hourly event-count series per event_type
    (sequence()+explode spine, zero fill) fed through the ISS kernels —
    END of [1] (= total events) and [1][1] (2nd-order signature of the
    count series).  Demonstrates the engine on irregular timestamped
    data, not just pre-tokenized sequences."""
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import extract_features, feature_columns

    ev = _read(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).alias("hour"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    spine = bounds.select(
        "event_type", F.explode(F.expr("sequence(h0, h1)")).alias("hour")
    )
    filled = spine.join(hourly, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    series = filled.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(hour, cnt))),"
            " s -> cast(s.cnt as int))"
        ).alias("tokens"),
        F.count(F.lit(1)).cast("int").alias("n_tok"),
    ).withColumn("source", F.col("event_type"))

    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1]"), W("[1][1]"))),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    out = extract_features(
        series, fplan, keep=("event_type", "n_tok")
    )
    return out.select(
        "event_type",
        F.col("n_tok").cast("int").alias("n_hours"),
        F.col(fc[0]).cast("long").alias("total_events"),
        F.col(fc[1]).cast("long").alias("sig_1_1"),
    )


SQL_EVENTS_ISS = """
WITH hourly AS (
    SELECT event_type,
           CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour,
           COUNT(*) AS cnt
    FROM events
    GROUP BY event_type, hour
),
spine AS (
    SELECT event_type, unnest(range(h0, h1 + 1)) AS hour
    FROM (SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
          FROM hourly GROUP BY event_type)
),
filled AS (
    SELECT s.event_type, s.hour, COALESCE(h.cnt, 0) AS cnt
    FROM spine s LEFT JOIN hourly h
        ON s.event_type = h.event_type AND s.hour = h.hour
),
runs AS (
    SELECT event_type, hour, cnt,
           SUM(cnt) OVER w AS run1
    FROM filled
    WINDOW w AS (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       CAST(COUNT(*) AS INT) AS n_hours,
       CAST(SUM(cnt) AS BIGINT) AS total_events,
       CAST(SUM(cnt * (run1 - cnt)) AS BIGINT) AS sig_1_1
FROM runs
GROUP BY event_type
"""


def q_iss_multivariate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct multivariate input (array<array<double>>, dims x steps —
    the reference's (n, d, l) tensor): a second derived channel
    y = (7x+3) mod 101, words [12] (product letter) and [1][2]
    (cross-channel two-letter), END sieve."""
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import extract_features, feature_columns

    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[12]"), W("[1][2]"))),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    toks = token_table(spark, sf_dir).withColumn(
        "mv",
        F.array(
            F.expr("transform(tokens, t -> cast(t as double))"),
            F.expr(
                "transform(tokens, t -> cast((t * 7 + 3) % 101 as double))"
            ),
        ),
    )
    out = extract_features(
        toks, fplan, tokens_col="mv",
        keep=("doc_id", "source", "n_tok"), multivariate=True,
    )
    return out.select(
        "doc_id",
        F.col(fc[0]).cast("long").alias("end_12"),
        F.col(fc[1]).cast("long").alias("end_1_2"),
    )


SQL_ISS_MULTIVARIATE = f"""
WITH {SQL_TOKS},
m AS (
    SELECT doc_id, pos, x, ((x * 7) + 3) % 101 AS y,
           SUM(x) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runx
    FROM toks
)
SELECT doc_id,
       CAST(SUM(x * y) AS BIGINT) AS end_12,
       CAST(SUM((runx - x) * y) AS BIGINT) AS end_1_2
FROM m
GROUP BY doc_id
"""


def q_iss_mv_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted MULTIVARIATE ISS through the flat mv prefix-CSE trie
    (round 5): 2-channel input (x, y = (7x+3) mod 101, both scaled
    0.01), indices weighting (relative, scale 1), EXTENDED [1][2] plus
    the product letter [12]; END sieve.  Streams: the [1] prefix
    (weight-free at level 1 -> plain sum), the cross-channel weighted
    [1][2], and [12] (single letter -> weighting cancels)."""
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import extract_features, feature_columns

    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec(
                    (W("[1][2]"), W("[12]")),
                    mode="extended",
                    weighting="indices",
                    weighting_params={"relative": True, "scale": 1.0},
                ),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    toks = token_table(spark, sf_dir).withColumn(
        "mv",
        F.array(
            F.expr("transform(tokens, t -> cast(t as double))"),
            F.expr(
                "transform(tokens, t -> cast((t * 7 + 3) % 101 as double))"
            ),
        ),
    )
    out = extract_features(
        toks, fplan, tokens_col="mv", keep=("doc_id", "source", "n_tok"),
        multivariate=True, cast_scale=0.01,
    )
    return out.select(
        "doc_id",
        F.round(F.col(fc[0]), 6).alias("mvw_end_1_r6"),
        F.round(F.col(fc[1]), 6).alias("mvw_end_1_2_r6"),
        F.round(F.col(fc[2]), 6).alias("mvw_end_12_r6"),
    )


SQL_ISS_MV_WEIGHTED = f"""
WITH {SQL_TOKS},
g AS (
    SELECT doc_id, pos, x * 0.01 AS xb, ((x * 7) + 3) % 101 * 0.01 AS yb,
           ((CAST(pos + 1 AS DOUBLE) / n_tok) - (CAST(1 AS DOUBLE) / n_tok))
               / (1.0 - (CAST(1 AS DOUBLE) / n_tok)) AS gi
    FROM toks
),
lvl1 AS (
    SELECT doc_id, pos, xb, yb, gi,
           SUM(xb * EXP(gi * 1.0)) OVER w AS runw
    FROM g
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT doc_id,
       ROUND(SUM(xb), 6) AS mvw_end_1_r6,
       ROUND(SUM(((runw - xb * EXP(gi * 1.0)) * yb) * EXP(-gi * 1.0)), 6)
           AS mvw_end_1_2_r6,
       ROUND(SUM(xb * yb), 6) AS mvw_end_12_r6
FROM lvl1
GROUP BY doc_id
"""


def q_iss_negative_exp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative exponents + the generic-word slow path, joined per doc:
      * Reals division (semiring.py:104-106) on z = x+1 (FUN prep keeps
        z > 0): END of [(-1)] (= sum of reciprocals) and [(-1)][1];
      * generic LETTERS-registry kernel (letters.py:96-206 /
        semiring.py:54-75): word [ABS(1)][DIM(1)] over centered tokens
        z = x-50 — END = sum_(i<j) |z_i| * z_j, via iss_generic over
        length-bucketed batches."""
    from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import feature_columns

    fplan = FruitPlan(
        (
            Slice(
                preps=(Prep("fun", {"f": lambda Z: Z + 1.0}),),
                iss=ISSSpec((W("[(-1)]"), W("[(-1)][1]"))),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    neg = _iss_features(spark, sf_dir, fplan).select(
        "doc_id",
        F.round(F.col(fc[0]), 6).alias("end_neg_r6"),
        F.round(F.col(fc[1]), 6).alias("end_neg_1_r6"),
    )
    gen = _generic_abs_features(spark, sf_dir)
    return neg.join(gen, "doc_id")


def _generic_abs_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    toks = token_table(spark, sf_dir)
    schema = "doc_id long, gen_abs_end long"

    def run(batches):
        import numpy as np

        from fruits_spark.kernels.iss import iss_generic

        word = [[("ABS", 0)], [("DIM", 0)]]
        for pdf in batches:
            rows = [np.asarray(t, dtype=np.float64) - 50.0
                    for t in pdf["tokens"]]
            out = np.zeros(len(rows))
            lengths = np.fromiter((len(r) for r in rows), dtype=np.int64,
                                  count=len(rows))
            for ln in np.unique(lengths):
                idx = np.nonzero(lengths == ln)[0]
                Z = np.stack([rows[i] for i in idx])[:, np.newaxis, :]
                out[idx] = iss_generic(Z, word)[:, 0, -1]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"),
                 "gen_abs_end": out.astype("int64")}
            )

    return toks.mapInPandas(run, schema)


SQL_ISS_NEGATIVE_EXP = f"""
WITH {SQL_TOKS},
z AS (
    SELECT doc_id, pos, CAST(x + 1 AS DOUBLE) AS zv,
           x - 50 AS cz, ABS(x - 50) AS az
    FROM toks
),
r AS (
    SELECT doc_id, zv, cz, az,
           SUM(1.0 / zv) OVER w AS runinv,
           SUM(az) OVER w AS runa
    FROM z
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT doc_id,
       ROUND(SUM(1.0 / zv), 6) AS end_neg_r6,
       ROUND(SUM((runinv - 1.0 / zv) * zv), 6) AS end_neg_1_r6,
       CAST(SUM((runa - az) * cz) AS BIGINT) AS gen_abs_end
FROM r
GROUP BY doc_id
"""


def _custom_g(Z):
    """User weighting g(i) = sqrt(i) (Custom weighting,
    weighting.py:41-66: any callable on the batch)."""
    import numpy as np

    n, _, length = Z.shape
    return np.broadcast_to(
        np.sqrt(np.arange(length, dtype=np.float64)), (n, length)
    ).copy()


def q_codec_tier_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-level codec path: rollup cells -> chunked Gorilla/DoD blobs
    (encode_streams, chunk=16) -> decode -> per-source totals.  The
    oracle recomputes the totals straight from the raw tokens, so any
    bit error in pack/unpack or chunk reassembly fails the match."""
    import pandas as pd
    from fruits_spark.engine import rollup as RU
    from fruits_spark.engine.codec_udf import encode_streams
    from fruits_spark.engine.executor import extract_features, feature_columns
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W

    fplan = FruitPlan(
        (Slice(iss=ISSSpec((W("[1]"),)), sieves=(Sieve("end"),)),)
    )
    fc = feature_columns(fplan)
    toks = token_table(spark, sf_dir)
    feats = extract_features(toks, fplan)
    rolled = RU.rollup_tier(
        feats, RU.Tier("t1k", 1000), 64, fc,
        bucket_expr=(F.col("doc_id") % 64).cast("int"),
    )
    enc = encode_streams(rolled, f"sum_{fc[0]}", chunk=16)
    schema = "source string, n_cells long, gorilla_sum long, bucket_sum long"

    def dec(batches):
        import numpy as np

        from fruits_spark.kernels.codec import dod_decode, gorilla_decode

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                vals = gorilla_decode(bytes(r["gorilla_blob"]), r["n"])
                bks = dod_decode(bytes(r["dod_blob"]), r["n"])
                rows.append((r["source"], int(r["n"]),
                             int(vals.sum()), int(bks.sum())))
            yield pd.DataFrame(
                rows,
                columns=["source", "n_cells", "gorilla_sum", "bucket_sum"],
            )

    per_chunk = enc.mapInPandas(dec, schema)
    return per_chunk.groupBy("source").agg(
        F.sum("n_cells").cast("long").alias("n_cells"),
        F.sum("gorilla_sum").cast("long").alias("gorilla_sum"),
        F.sum("bucket_sum").cast("long").alias("bucket_sum"),
    )


SQL_CODEC_TIER_ROUNDTRIP = f"""
WITH {SQL_TOKS},
cells AS (
    SELECT source, doc_id % 64 AS bucket, SUM(x) AS cell_sum
    FROM toks
    GROUP BY source, doc_id % 64
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(cell_sum) AS BIGINT) AS gorilla_sum,
       CAST(SUM(bucket) AS BIGINT) AS bucket_sum
FROM cells
GROUP BY source
"""




def q_resolution_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolution ops (reference corbeille/data.py:311-417) on the token
    arrays, one row per doc:
      * downsample(0.5): stride-2 slice — count + sum;
      * upsample: midpoint interpolation to 2l-1 — count + doubled sum
        (x2 keeps the halves integer-exact);
      * lengthen(0.25): tail-pad with the last value — count + sum;
      * implant_stuttering(0.1): the reference's random repeat loop with
        a per-doc seeded RNG.  The source token stream has no
        consecutive duplicates (adjacent tokens differ by 41 mod 101),
        so collapsing consecutive duplicates must recover the original
        series exactly — checked via the positional fingerprint
        sum(x_i * (i+1)) and the stuttered length l + floor(l/10)."""
    from fruits_spark import resolution as RS

    toks = token_table(spark, sf_dir)
    st = RS.implant_stuttering(toks, seed=7)
    collapsed = F.expr(
        "filter(transform(stuttered, (v, i) -> "
        "CASE WHEN i = 0 OR v != element_at(stuttered, i) THEN v "
        "ELSE NULL END), v -> v IS NOT NULL)"
    )
    out = (
        st.withColumn("down", RS.downsample("tokens", 0.5))
        .withColumn("up", RS.upsample("tokens"))
        .withColumn("lng", RS.lengthen("tokens", 0.25))
        .withColumn("coll", collapsed)
    )
    arr_sum = lambda c: F.expr(
        f"aggregate({c}, 0L, (acc, v) -> acc + v)"
    )
    return out.select(
        "doc_id",
        F.size("down").cast("long").alias("down_n"),
        arr_sum("down").alias("down_sum"),
        F.size("up").cast("long").alias("up_n"),
        F.expr("cast(aggregate(up, 0.0D, (acc, v) -> acc + 2.0 * v) as long)")
            .alias("up_sum2"),
        F.size("lng").cast("long").alias("len_n"),
        arr_sum("lng").alias("len_sum"),
        F.size("stuttered").cast("long").alias("stut_n"),
        F.expr(
            "aggregate(transform(coll, (v, i) -> cast(v as bigint) * (i + 1)), "
            "0L, (acc, v) -> acc + v)"
        ).alias("stut_fp"),
    )


SQL_RESOLUTION_OPS = f"""
WITH {SQL_TOKS},
nx AS (
    SELECT doc_id, n_tok, pos, x,
           LEAD(x) OVER (PARTITION BY doc_id ORDER BY pos) AS xn
    FROM toks
)
SELECT doc_id,
       CAST(SUM(CASE WHEN pos % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS down_n,
       CAST(SUM(CASE WHEN pos % 2 = 0 THEN x ELSE 0 END) AS BIGINT)
           AS down_sum,
       CAST(2 * n_tok - 1 AS BIGINT) AS up_n,
       CAST(SUM(2 * x) + SUM(CASE WHEN pos < n_tok - 1 THEN x + xn ELSE 0 END)
            AS BIGINT) AS up_sum2,
       CAST(n_tok + n_tok // 4 AS BIGINT) AS len_n,
       CAST(SUM(x) + (n_tok // 4)
            * MAX(CASE WHEN pos = n_tok - 1 THEN x END) AS BIGINT) AS len_sum,
       CAST(n_tok + n_tok // 10 AS BIGINT) AS stut_n,
       CAST(SUM(x * (pos + 1)) AS BIGINT) AS stut_fp
FROM nx
GROUP BY doc_id, n_tok
"""


def q_prep_dim_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIM / NEW preparateur wrappers (reference wrapper.py:11-103) on a
    2-channel multivariate input (x, y = (7x+3) mod 101):
      * DIM(INC, dims=[1]): INC applied to the y channel only — output
        dims reorder to [rest..., transformed...] = [x, inc(y)], so
        END[1] = sum(x) and END[2] = y_last - y_0;
      * NEW(INC): appends inc channels — [x, y, inc(x), inc(y)], so
        END[3] = x_last - x_0 and END[1][4] = the strict cross-channel
        signature sum_j inc(y)_j * sum_(i<j) x_i."""
    from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
    from fruits_spark.words import W
    from fruits_spark.engine.executor import extract_features, feature_columns

    fplan = FruitPlan(
        (
            Slice(
                preps=(Prep("dim", {"prep": Prep("inc"), "dims": [1]}),),
                iss=ISSSpec((W("[1]"), W("[2]"))),
                sieves=(Sieve("end"),),
            ),
            Slice(
                preps=(Prep("new", {"prep": Prep("inc")}),),
                iss=ISSSpec((W("[3]"), W("[1][4]"))),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fc = feature_columns(fplan)
    toks = token_table(spark, sf_dir).withColumn(
        "mv",
        F.array(
            F.expr("transform(tokens, t -> cast(t as double))"),
            F.expr(
                "transform(tokens, t -> cast((t * 7 + 3) % 101 as double))"
            ),
        ),
    )
    out = extract_features(
        toks, fplan, tokens_col="mv",
        keep=("doc_id", "source", "n_tok"), multivariate=True,
    )
    return out.select(
        "doc_id",
        F.col(fc[0]).cast("long").alias("end_dim_rest"),
        F.col(fc[1]).cast("long").alias("end_dim_inc"),
        F.col(fc[2]).cast("long").alias("end_new_3"),
        F.col(fc[3]).cast("long").alias("end_new_14"),
    )


SQL_PREP_DIM_NEW = f"""
WITH {SQL_TOKS},
m AS (
    SELECT doc_id, pos, x, ((x * 7) + 3) % 101 AS y,
           SUM(x) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runx
    FROM toks
),
d AS (
    SELECT doc_id, x, y, runx,
           COALESCE(x - LAG(x) OVER w, 0) AS incx,
           COALESCE(y - LAG(y) OVER w, 0) AS incy
    FROM m
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
)
SELECT doc_id,
       CAST(SUM(x) AS BIGINT) AS end_dim_rest,
       CAST(SUM(incy) AS BIGINT) AS end_dim_inc,
       CAST(SUM(incx) AS BIGINT) AS end_new_3,
       CAST(SUM((runx - x) * incy) AS BIGINT) AS end_new_14
FROM d
GROUP BY doc_id
"""


def q_rollup_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarser-from-finer re-aggregation (rollup.reagg_exprs — the
    algebraic sums-of-sums / max-of-maxes path every coarser tier,
    stream compaction, and warmup uses): roll t1k cells (64 buckets)
    up to 8 coarse cells WITHOUT revisiting raw data; the oracle
    computes the coarse cells straight from the tokens, so any
    non-algebraic drift in the re-agg fails the match."""
    from fruits_spark.engine import rollup as RU
    from fruits_spark.engine.executor import extract_features, feature_columns
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W

    fplan = FruitPlan(
        (Slice(iss=ISSSpec((W("[1]"),)), sieves=(Sieve("end"),)),)
    )
    fc = feature_columns(fplan)
    toks = token_table(spark, sf_dir)
    feats = extract_features(toks, fplan)
    fine = RU.rollup_tier(
        feats, RU.Tier("t1k", 1000), 64, fc,
        bucket_expr=(F.col("doc_id") % 64).cast("int"),
    )
    coarse = RU.reagg_tier(
        fine, fc, bucket_expr=(F.col("bucket") % 8).cast("int")
    )
    out = coarse.select(
        "source",
        F.col("bucket").cast("int").alias("bucket"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("sum_tok").cast("long").alias("sum_tok"),
        F.col(f"sum_{fc[0]}").cast("long").alias("sum_end_1"),
        F.col(f"max_{fc[0]}").cast("long").alias("max_end_1"),
    )
    # continuous-aggregate query ROUTING (rollup.route_range): answer a
    # fine-bucket range query from whole coarse cells + fine edge cells
    # only; the oracle recomputes both ranges straight from the tokens,
    # so any off-by-one in the interior/edge split fails the hash.
    # bucket=-1: [5,53) exercises both edges + interior; bucket=-2:
    # [17,21) sits inside one coarse cell (degenerate all-fine path).
    coarse_div = RU.reagg_tier(
        fine, fc, bucket_expr=F.floor(F.col("bucket") / 8).cast("int")
    )
    for sentinel, (lo, hi) in ((-1, (5, 53)), (-2, (17, 21))):
        routed = RU.route_range(fine, coarse_div, 8, lo, hi, fc).select(
            "source",
            F.lit(sentinel).cast("int").alias("bucket"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("sum_tok").cast("long").alias("sum_tok"),
            F.col(f"sum_{fc[0]}").cast("long").alias("sum_end_1"),
            F.col(f"max_{fc[0]}").cast("long").alias("max_end_1"),
        )
        out = out.unionByName(routed)
    # ROUTED-READ JOB surface (rollup.route_query_cells — the exact
    # plan jobs/route_query.py serves): two runs PARTITION the corpus
    # (doc parity), one run's cells are appended TWICE (the
    # at-least-once data/manifest crash window commit_cells leaves),
    # and the routed per-source totals over [5,53) must still equal the
    # single-run direct recompute — any failure of the cell-key dedupe
    # or of cross-run aggregation fails the hash.  Sentinel bucket=-6.
    run_fines = []
    run_coarses = []
    for run_id, par in (("rA", 0), ("rB", 1)):
        rf = RU.rollup_tier(
            feats.where(F.col("doc_id") % 2 == par),
            RU.Tier("t1k", 1000), 64, fc,
            bucket_expr=(F.col("doc_id") % 64).cast("int"),
        ).withColumn("run", F.lit(run_id))
        run_fines.append(rf)
        run_coarses.append(
            RU.reagg_tier(
                rf, fc, bucket_expr=F.floor(F.col("bucket") / 8).cast("int")
            ).withColumn("run", F.lit(run_id))
        )
    fine_mr = run_fines[0].unionByName(run_fines[1]).unionByName(
        run_fines[0]  # rA's data rows re-appended (byte-identical)
    )
    coarse_mr = run_coarses[0].unionByName(run_coarses[1]).unionByName(
        run_coarses[1]
    )
    job_routed = RU.route_query_cells(fine_mr, coarse_mr, 8, 5, 53, fc).select(
        "source",
        F.lit(-6).cast("int").alias("bucket"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("sum_tok").cast("long").alias("sum_tok"),
        F.col(f"sum_{fc[0]}").cast("long").alias("sum_end_1"),
        F.col(f"max_{fc[0]}").cast("long").alias("max_end_1"),
    )
    out = out.unionByName(job_routed)
    # FRESH range query (rollup.route_range_realtime): the same kind of
    # range answered against a PARTIALLY MATERIALIZED tier — cells
    # committed only up to a per-source watermark (deliberately different
    # per source: 28 + last-source-digit % 7), the region past the
    # global watermark served from committed-ahead cells, and the tail
    # past each source's own watermark rolled up on the fly from raw
    # features.  The oracle is the plain direct recompute over the
    # range, so any document dropped or double-counted across the
    # routed / committed-ahead / live-tail split fails the hash.
    # Sentinels: -3 straddles the watermarks (all three parts live);
    # -4 sits entirely past the global watermark (no routed part);
    # -5 sits entirely below every watermark (pure routed, empty tail).
    wm = 28 + F.ascii(F.substring(F.col("source"), -1, 1)) % 7
    mat = fine.where(F.col("bucket") <= wm)
    mat_coarse = RU.reagg_tier(
        mat, fc, bucket_expr=F.floor(F.col("bucket") / 8).cast("int")
    )
    for sentinel, (lo, hi) in ((-3, (5, 53)), (-4, (40, 60)), (-5, (2, 20))):
        freshr = RU.route_range_realtime(
            mat, mat_coarse, 8, lo, hi, fc, feats, RU.Tier("t1k", 1000),
            64, bucket_expr=(F.col("doc_id") % 64).cast("int"),
        ).select(
            "source",
            F.lit(sentinel).cast("int").alias("bucket"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("sum_tok").cast("long").alias("sum_tok"),
            F.col(f"sum_{fc[0]}").cast("long").alias("sum_end_1"),
            F.col(f"max_{fc[0]}").cast("long").alias("max_end_1"),
        )
        out = out.unionByName(freshr)
    return out


SQL_ROLLUP_REAGG = f"""
WITH {SQL_TOKS},
per_doc AS (
    SELECT doc_id, source, MAX(n_tok) AS n_tok,
           (doc_id % 64) AS fb,
           SUM(x) AS e1
    FROM toks
    GROUP BY doc_id, source, doc_id % 64
)
SELECT source,
       CAST(fb % 8 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       CAST(SUM(e1) AS BIGINT) AS sum_end_1,
       CAST(MAX(e1) AS BIGINT) AS max_end_1
FROM per_doc
GROUP BY source, fb % 8
UNION ALL
SELECT source, CAST(-1 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       CAST(SUM(e1) AS BIGINT) AS sum_end_1,
       CAST(MAX(e1) AS BIGINT) AS max_end_1
FROM per_doc WHERE fb >= 5 AND fb < 53
GROUP BY source
UNION ALL
SELECT source, CAST(-2 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       CAST(SUM(e1) AS BIGINT) AS sum_end_1,
       CAST(MAX(e1) AS BIGINT) AS max_end_1
FROM per_doc WHERE fb >= 17 AND fb < 21
GROUP BY source
UNION ALL
SELECT source, CAST(-6 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       CAST(SUM(e1) AS BIGINT) AS sum_end_1,
       CAST(MAX(e1) AS BIGINT) AS max_end_1
FROM per_doc WHERE fb >= 5 AND fb < 53
GROUP BY source
UNION ALL
SELECT source, CAST(-3 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       CAST(SUM(e1) AS BIGINT) AS sum_end_1,
       CAST(MAX(e1) AS BIGINT) AS max_end_1
FROM per_doc WHERE fb >= 5 AND fb < 53
GROUP BY source
UNION ALL
SELECT source, CAST(-4 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       CAST(SUM(e1) AS BIGINT) AS sum_end_1,
       CAST(MAX(e1) AS BIGINT) AS max_end_1
FROM per_doc WHERE fb >= 40 AND fb < 60
GROUP BY source
UNION ALL
SELECT source, CAST(-5 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       CAST(SUM(e1) AS BIGINT) AS sum_end_1,
       CAST(MAX(e1) AS BIGINT) AS max_end_1
FROM per_doc WHERE fb >= 2 AND fb < 20
GROUP BY source
"""


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full ISS rollup pipeline (EXTENDED reals + arctic words,
    4 sieves, t1k rollup, gap-fill) on the sf0.001 token table."""
    from fruits_spark.engine import rollup as RU
    from fruits_spark.engine.executor import extract_features, feature_columns
    from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
    from fruits_spark.words import W, of_weight

    sf_dir = "/root/testdata/sf0.001"
    fplan = FruitPlan(
        (
            Slice(
                preps=(Prep("std"),),
                iss=ISSSpec(tuple(of_weight(3, 1)), mode="extended"),
                sieves=(
                    Sieve("end"),
                    Sieve("ppv", {"quantiles": [0.0], "constant": [True]}),
                ),
            ),
            Slice(
                preps=(Prep("std"),),
                iss=ISSSpec((W("[1][1]"), W("[11][1]")), semiring="arctic"),
                sieves=(Sieve("end"), Sieve("max")),
            ),
        )
    )
    fc = feature_columns(fplan)
    toks = token_table(spark, sf_dir)
    feats = extract_features(toks, fplan)
    rolled = RU.rollup_tier_salted(
        feats, RU.Tier("t1k", 1000), 8, fc,
        bucket_expr=(F.col("doc_id") % 8).cast("int"),
    )
    spine = RU.bucket_spine(toks, 8)
    return RU.gap_fill(rolled, spine)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "iss_reals_end": q_iss_reals_end,
        "iss_extended": q_iss_extended,
        "iss_arctic": q_iss_arctic,
        "iss_inc_prep": q_iss_inc_prep,
        "iss_sieves": q_iss_sieves,
        "iss_weighted": q_iss_weighted,
        "iss_coswiss": q_iss_coswiss,
        "iss_chained": q_iss_chained,
        "prep_mav_dot": q_prep_mav_dot,
        "prep_nrm_ppv": q_prep_nrm_ppv,
        "iss_argmax": q_iss_argmax,
        "rollup_tier": q_rollup_tier,
        "gapfill": q_gapfill,
        "events_rollup": q_events_rollup,
        "events_asof": q_events_asof,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_dedup_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "ann_cosine": q_ann_cosine,
        "text_stats": q_text_stats,
        "lang_id": q_lang_id,
        "iss_bayesian": q_iss_bayesian,
        "sieve_wrappers": q_sieve_wrappers,
        "sieve_cpv_cur": q_sieve_cpv_cur,
        "prep_cts_qtc": q_prep_cts_qtc,
        "codec_roundtrip": q_codec_roundtrip,
        "dedup_embed": q_dedup_embed,
        "ann_topk": q_ann_topk,
        "ann_ivf": q_ann_ivf,
        "ffill": q_ffill,
        "sieve_npi_family": q_sieve_npi_family,
        "prep_win": q_prep_win,
        "prep_lag_iss12": q_prep_lag_iss12,
        "stream_rollup": q_stream_rollup,
        "iss_weighted_l2": q_iss_weighted_l2,
        "prep_rin_ffn": q_prep_rin_ffn,
        "prep_dil_pdd": q_prep_dil_pdd,
        "prep_spe_rdw_jld": q_prep_spe_rdw_jld,
        "prep_rpe": q_prep_rpe,
        "prep_std": q_prep_std,
        "events_iss": q_events_iss,
        "iss_multivariate": q_iss_multivariate,
        "iss_mv_weighted": q_iss_mv_weighted,
        "iss_negative_exp": q_iss_negative_exp,
        "multimodal_frames": q_multimodal_frames,
        "codec_tier_roundtrip": q_codec_tier_roundtrip,
        "resolution_ops": q_resolution_ops,
        "prep_dim_new": q_prep_dim_new,
        "rollup_reagg": q_rollup_reagg,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "iss_reals_end": SQL_ISS_REALS_END,
        "iss_extended": SQL_ISS_EXTENDED,
        "iss_arctic": SQL_ISS_ARCTIC,
        "iss_inc_prep": SQL_ISS_INC,
        "iss_sieves": SQL_ISS_SIEVES,
        "iss_weighted": SQL_ISS_WEIGHTED,
        "iss_coswiss": SQL_ISS_COSWISS,
        "iss_chained": SQL_ISS_CHAINED,
        "prep_mav_dot": SQL_PREP_MAV_DOT,
        "prep_nrm_ppv": SQL_PREP_NRM_PPV,
        "iss_argmax": SQL_ISS_ARGMAX,
        "rollup_tier": SQL_ROLLUP_RT,
        "gapfill": SQL_GAPFILL,
        "events_rollup": SQL_EVENTS_ROLLUP,
        "events_asof": SQL_EVENTS_ASOF,
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_jaccard": SQL_DEDUP_JACCARD,
        "minhash_lsh": SQL_MINHASH_LSH,
        "simhash": SQL_SIMHASH,
        "ann_cosine": SQL_ANN_COSINE,
        "text_stats": SQL_TEXT_STATS,
        "lang_id": SQL_LANG_ID,
        "iss_bayesian": SQL_ISS_BAYESIAN,
        "sieve_wrappers": SQL_SIEVE_WRAPPERS,
        "sieve_cpv_cur": SQL_SIEVE_CPV_CUR,
        "prep_cts_qtc": SQL_PREP_CTS_QTC,
        "codec_roundtrip": SQL_CODEC_ROUNDTRIP,
        "dedup_embed": _sql_dedup_embed(),
        "ann_topk": SQL_ANN_TOPK,
        "ann_ivf": SQL_ANN_IVF,
        "ffill": SQL_FFILL,
        "sieve_npi_family": SQL_SIEVE_NPI_FAMILY,
        "prep_win": SQL_PREP_WIN,
        "prep_lag_iss12": SQL_PREP_LAG,
        "stream_rollup": SQL_STREAM_ROLLUP,
        "iss_weighted_l2": SQL_ISS_WEIGHTED_L2,
        "prep_rin_ffn": SQL_PREP_RIN_FFN,
        "prep_dil_pdd": SQL_PREP_DIL_PDD,
        "prep_spe_rdw_jld": SQL_PREP_SPE_RDW_JLD,
        "prep_rpe": SQL_PREP_RPE,
        "prep_std": SQL_PREP_STD,
        "events_iss": SQL_EVENTS_ISS,
        "iss_multivariate": SQL_ISS_MULTIVARIATE,
        "iss_mv_weighted": SQL_ISS_MV_WEIGHTED,
        "iss_negative_exp": SQL_ISS_NEGATIVE_EXP,
        "multimodal_frames": SQL_MULTIMODAL_FRAMES,
        "codec_tier_roundtrip": SQL_CODEC_TIER_ROUNDTRIP,
        "resolution_ops": SQL_RESOLUTION_OPS,
        "prep_dim_new": SQL_PREP_DIM_NEW,
        "rollup_reagg": SQL_ROLLUP_REAGG,
    }
