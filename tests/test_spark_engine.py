"""End-to-end Spark engine tests: datagen -> feature extraction ->
tier rollup -> gap-fill -> codecs -> lineage resume (FIXTURES.md F1/T1-T5).
"""

import numpy as np
import pandas as pd
import pytest

from fruits_spark import datagen
from fruits_spark.engine import executor as EX
from fruits_spark.engine import lineage as LI
from fruits_spark.engine import rollup as RU
from fruits_spark.kernels import iss as KI
from fruits_spark.plan import ISSSpec, Prep, Sieve, Slice, FruitPlan
from fruits_spark.words import W

PLAN = FruitPlan(
    (
        Slice(
            preps=(Prep("std"),),
            iss=ISSSpec((W("[11][1]"),), mode="extended"),
            sieves=(
                Sieve("end"),
                Sieve("ppv", {"quantiles": [0.0], "constant": [True]}),
                Sieve("max"),
            ),
        ),
    )
)


@pytest.fixture(scope="module")
def token_df(spark):
    pdf = datagen.generate_pandas(300, seed=7, max_len=64)
    return spark.createDataFrame(pdf).cache()


def test_datagen_spark_matches_pandas(spark):
    pdf_local = datagen.generate_pandas(100, seed=7, max_len=32)
    pdf_spark = (
        datagen.generate_spark(spark, 100, seed=7, partitions=4, max_len=32)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pdf_local = pdf_local.sort_values("doc_id").reset_index(drop=True)
    assert list(pdf_local["doc_id"]) == list(pdf_spark["doc_id"])
    for a, b in zip(pdf_local["tokens"], pdf_spark["tokens"]):
        np.testing.assert_array_equal(np.asarray(a), np.asarray(b))


def test_datagen_has_skew_and_edges():
    pdf = datagen.generate_pandas(2000, seed=7)
    counts = pdf["source"].value_counts()
    assert counts.iloc[0] > 3 * counts.iloc[min(5, len(counts) - 1)]
    assert set(pdf["n_tok"].head(3)) == {1, 2}


def test_extract_features_matches_local_kernels(spark, token_df):
    out = EX.extract_features(token_df, PLAN).toPandas()
    assert len(out) == 300
    fcols = EX.feature_columns(PLAN)
    assert PLAN.n_features() == 6 and len(fcols) == 6

    # local recomputation for a handful of docs
    sample = token_df.limit(50).toPandas()
    merged = out.set_index("doc_id")
    from fruits_spark.kernels import prep as KP
    from fruits_spark.kernels import sieve as KS

    for _, row in sample.iterrows():
        Z = np.asarray(row["tokens"], dtype=np.float64)[None, None, :]
        Zp = KP.std(Z)
        streams = KI.iss(Zp, W("[11][1]").matrix, extended=2)
        got = merged.loc[row["doc_id"]]
        # feature order: per stream (shortest prefix first) x sieves
        for s, lbl in [(0, "[11]"), (1, "[11][1]")]:
            st = streams[:, s, :]
            end = KS.sieve_end(st, KS.resolve_cuts(st, [-1], source=Zp))[0, 0]
            base = s * 3
            np.testing.assert_allclose(got[fcols[base]], end, rtol=1e-12)


def test_rollup_and_salted_rollup_agree(spark, token_df):
    feats = EX.extract_features(token_df, PLAN)
    fcols = EX.feature_columns(PLAN)
    tier = RU.Tier("t1k", 1_000)
    plain = RU.rollup_tier(feats, tier, 8, fcols).toPandas()
    salted = RU.rollup_tier_salted(feats, tier, 8, fcols, n_salts=4).toPandas()
    key = ["source", "bucket"]
    plain = plain.sort_values(key).reset_index(drop=True)
    salted = salted.sort_values(key).reset_index(drop=True)
    assert list(plain.columns) == list(salted.columns)
    pd.testing.assert_frame_equal(plain, salted, check_exact=False, rtol=1e-9)


# --- the tier rollup is one shuffle ------------------------------------------

def _jobs(spark, fn) -> int:
    """Spark jobs started by ``fn()``, counted through a job group and
    the status tracker (works with the UI off)."""
    import uuid

    sc = spark.sparkContext
    group = f"rollup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store hears of jobs through the listener bus: drain it
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _final_plan(df) -> str:
    """The physical plan ``df`` ran, after adaptive execution settled."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


def test_salted_rollup_runs_one_shuffle(spark, token_df):
    feats = EX.extract_features(token_df, PLAN)
    fcols = EX.feature_columns(PLAN)
    rolled = RU.rollup_tier_salted(feats, RU.Tier("t1k", 1_000), 8, fcols,
                                   n_salts=4)
    plan = _final_plan(rolled)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "_salt" not in plan


def test_salted_rollup_runs_as_many_jobs_as_plain(spark, token_df):
    feats = EX.extract_features(token_df, PLAN).cache()
    feats.count()
    fcols = EX.feature_columns(PLAN)
    tier = RU.Tier("t1k", 1_000)
    jobs = {}
    for name, fn in (("plain", RU.rollup_tier),
                     ("salted", RU.rollup_tier_salted)):
        cells = fn(feats, tier, 8, fcols).cache()
        jobs[name] = _jobs(spark, cells.count)
        cells.unpersist(blocking=True)
    feats.unpersist(blocking=True)
    assert jobs["salted"] == jobs["plain"], jobs


def test_salted_rollup_equals_plain_exactly(spark, token_df):
    feats = EX.extract_features(token_df, PLAN)
    fcols = EX.feature_columns(PLAN)
    tier = RU.Tier("t1k", 1_000)
    key = ["source", "bucket"]
    plain = RU.rollup_tier(feats, tier, 8, fcols).toPandas()
    salted = RU.rollup_tier_salted(feats, tier, 8, fcols).toPandas()
    pd.testing.assert_frame_equal(
        plain.sort_values(key).reset_index(drop=True),
        salted.sort_values(key).reset_index(drop=True),
        check_exact=True,
    )


def test_gap_fill_completes_spine(spark, token_df):
    feats = EX.extract_features(token_df, PLAN)
    fcols = EX.feature_columns(PLAN)
    rolled = RU.rollup_tier(feats, RU.Tier("t1k", 1_000), 16, fcols)
    spine = RU.bucket_spine(token_df, 16)
    filled = RU.gap_fill(rolled, spine).toPandas()
    n_sources = token_df.select("source").distinct().count()
    assert len(filled) == n_sources * 16
    assert filled["filled"].any()  # datagen guarantees real gaps
    assert (filled.loc[filled["filled"], "n_docs"] == 0).all()


def test_gap_fill_carry_forward(spark):
    """carry_cols: gap cells take the last observed value per source
    (LOCF window); cells before any observation stay null; zero-fill
    columns are untouched by the carry."""
    cells = spark.createDataFrame(
        [
            ("s0", 1, 5, 50, 1.5),
            ("s0", 3, 2, 20, 3.5),
            ("s1", 0, 1, 10, 9.0),
        ],
        "source string, bucket int, n_docs long, sum_tok long, sum_x double",
    )
    spine = spark.createDataFrame(
        [("s0", b) for b in range(5)] + [("s1", b) for b in range(3)],
        "source string, bucket int",
    )
    filled = RU.gap_fill(cells, spine, carry_cols=["sum_x"])
    got = {
        (r["source"], r["bucket"]): (r["sum_x"], r["n_docs"], r["filled"])
        for r in filled.collect()
    }
    assert got[("s0", 0)] == (None, 0, True)   # before first obs: null
    assert got[("s0", 1)] == (1.5, 5, False)
    assert got[("s0", 2)] == (1.5, 0, True)    # carried from bucket 1
    assert got[("s0", 3)] == (3.5, 2, False)
    assert got[("s0", 4)] == (3.5, 0, True)    # carried from bucket 3
    assert got[("s1", 1)] == (9.0, 0, True)
    assert got[("s1", 2)] == (9.0, 0, True)


def test_codec_roundtrip_on_rolled_streams(spark, token_df):
    from fruits_spark.engine.codec_udf import decode_stream, encode_streams
    from fruits_spark.kernels.codec import dod_decode

    feats = EX.extract_features(token_df, PLAN)
    fcols = EX.feature_columns(PLAN)
    rolled = RU.rollup_tier(feats, RU.Tier("t1k", 1_000), 16, fcols)
    enc = encode_streams(rolled, f"sum_{fcols[0]}").toPandas()
    raw = rolled.select("source", "bucket", f"sum_{fcols[0]}").toPandas()
    for _, row in enc.iterrows():
        expect = (
            raw[raw["source"] == row["source"]]
            .sort_values("bucket")[f"sum_{fcols[0]}"]
            .to_numpy()
        )
        got = decode_stream(bytes(row["gorilla_blob"]), row["n"])
        np.testing.assert_array_equal(got, expect)
        buckets = dod_decode(bytes(row["dod_blob"]), row["n"])
        np.testing.assert_array_equal(
            buckets,
            np.sort(raw[raw["source"] == row["source"]]["bucket"].to_numpy()),
        )


def test_lineage_resume(spark, token_df, tmp_path):
    base = str(tmp_path / "tiers")
    feats = EX.extract_features(token_df, PLAN)
    fcols = EX.feature_columns(PLAN)
    rolled = RU.rollup_tier(feats, RU.Tier("t1k", 1_000), 8, fcols).cache()

    # first attempt commits only a subset (simulated kill after k cells)
    part = rolled.where("bucket < 3")
    n1 = LI.commit_cells(
        LI.pending_cells(part, spark, base, "r1", "t1k"),
        spark, base, "r1", "t1k", n_points_per_doc=2,
    )
    assert n1 > 0
    # resume: pending excludes committed cells, commits the rest
    n2 = LI.commit_cells(
        LI.pending_cells(rolled, spark, base, "r1", "t1k"),
        spark, base, "r1", "t1k", n_points_per_doc=2,
    )
    total = rolled.count()
    assert n1 + n2 == total
    # third run is a no-op (idempotent)
    n3 = LI.commit_cells(
        LI.pending_cells(rolled, spark, base, "r1", "t1k"),
        spark, base, "r1", "t1k", n_points_per_doc=2,
    )
    assert n3 == 0
    # output identical to an uninterrupted run
    data = spark.read.parquet(f"{base}/tier=t1k/run=r1")
    assert data.count() == total
    got = data.toPandas().sort_values(["source", "bucket"]).reset_index(drop=True)
    expect = rolled.toPandas().sort_values(["source", "bucket"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[expect.columns], expect, check_exact=False, rtol=1e-9
    )
    m = LI.run_metrics(spark, base, "r1").toPandas()
    assert int(m["cells"].iloc[0]) == total


def test_multivariate_x1_goldens_through_spark(spark):
    """Reference X_1 fixture end-to-end through the Spark surface: END of
    Reals streams matches tests/signature/test_simple.py:19-34 finals."""
    from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
    from fruits_spark.words import W

    x1 = [
        [[-4.0, 0.8, 0.0, 5.0, -3.0], [2.0, 1.0, 0.0, 0.0, -7.0]],
        [[5.0, 8.0, 2.0, 6.0, 0.0], [-5.0, -1.0, -4.0, -0.5, -8.0]],
    ]
    df = spark.createDataFrame(
        [(i, x1[i], "x1", 5) for i in range(2)],
        "doc_id long, dims array<array<double>>, source string, n_tok int",
    )
    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1]"), W("[12]"), W("[1][2]"))),
                sieves=(Sieve("end"),),
            ),
        )
    )
    out = (
        EX.extract_features(df, fplan, tokens_col="dims", multivariate=True)
        .toPandas()
        .sort_values("doc_id")
    )
    fcols = EX.feature_columns(fplan)
    np.testing.assert_allclose(out[fcols[0]].to_numpy(), [-1.2, 21.0])
    np.testing.assert_allclose(out[fcols[1]].to_numpy(), [13.8, -44.0])
    np.testing.assert_allclose(out[fcols[2]].to_numpy(), [-16.6, -232.5])


def test_extract_features_plan_is_shuffle_free(spark, token_df):
    feats = EX.extract_features(token_df, PLAN)
    plan_str = feats._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_str  # map-only: no shuffle before rollup
    # one Arrow-native Python stage: no pandas conversion in the body
    assert plan_str.count("MapInArrow") == 1, plan_str
    assert "MapInPandas" not in plan_str


def test_codec_chunked_blocks_reassemble(spark, token_df):
    # chunked packing (skew/memory bound at scale): blobs per
    # (source, chunk_id) reassemble to the full ordered stream
    from fruits_spark.engine.codec_udf import decode_stream, encode_streams
    from fruits_spark.kernels.codec import dod_decode

    feats = EX.extract_features(token_df, PLAN)
    fcols = EX.feature_columns(PLAN)
    rolled = RU.rollup_tier(feats, RU.Tier("t1k", 1_000), 16, fcols)
    enc = encode_streams(rolled, f"sum_{fcols[0]}", chunk=4).toPandas()
    raw = rolled.select("source", "bucket", f"sum_{fcols[0]}").toPandas()
    assert (enc.groupby("source").size() > 1).any(), \
        "16 buckets at chunk=4 must split the big sources"
    for src, grp in enc.groupby("source"):
        grp = grp.sort_values("chunk_id")
        vals, bks = [], []
        for _, row in grp.iterrows():
            vals.append(decode_stream(bytes(row["gorilla_blob"]), row["n"]))
            bks.append(dod_decode(bytes(row["dod_blob"]), row["n"]))
        got = np.concatenate(vals)
        expect = (
            raw[raw["source"] == src]
            .sort_values("bucket")[f"sum_{fcols[0]}"]
            .to_numpy()
        )
        np.testing.assert_array_equal(got, expect)
        np.testing.assert_array_equal(
            np.concatenate(bks),
            np.sort(raw[raw["source"] == src]["bucket"].to_numpy()),
        )


def test_extract_stats_accumulators(spark, token_df):
    # distributed observability (reference AbstractCallback analogue):
    # accumulator totals equal the dataset's row/token counts
    from fruits_spark.engine.executor import ExtractStats

    st = EX.ExtractStats(spark)
    EX.extract_features(token_df, PLAN, stats=st).count()
    d = st.as_dict()
    assert d["rows"] == token_df.count()
    assert d["tokens"] == token_df.selectExpr("sum(n_tok)").collect()[0][0]
    assert d["batches"] >= 1
