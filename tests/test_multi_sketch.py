"""Multi-sketch single-pass aggregation: HLL + KLL + Bloom over different
columns in one scan, results matching the single-sketch pipelines."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F


def test_multi_sketch_one_pass(spark, transcripts_path):
    from zetasketch_spark.operators.agg import sketch_agg
    from zetasketch_spark.operators.multi import multi_sketch_agg
    from zetasketch_spark.sketches.base import HllFamily
    from zetasketch_spark.sketches.kll import KllFamily
    from zetasketch_spark.sources.transcripts import load_transcripts

    df = load_transcripts(spark, transcripts_path).withColumn(
        "turn_len", F.length("text").cast("double"))

    from zetasketch_spark.sketches.theta import ThetaFamily, ThetaSketch

    hll = HllFamily(precision=13)
    kll = KllFamily(k=200, quantiles=(0.5, 0.9))
    theta = ThetaFamily(k=512)
    out = multi_sketch_agg(df, ["role"], {
        "convs": ("conv_id", hll),
        "lens": ("turn_len", kll),
        "tconvs": ("conv_id", theta),
    })
    rows = {r["role"]: r for r in out.collect()}
    assert set(rows) == {"user", "assistant", "tool"}

    # theta estimates equal a local single-threaded build (same keys)
    import pandas as pd

    pdf = df.select("role", "conv_id").toPandas()
    for role, grp in pdf.groupby("role"):
        sk = ThetaSketch(k=512)
        sk.add_series(pd.Series(grp["conv_id"]))
        assert rows[role]["tconvs_estimate"] == sk.estimate()

    # HLL estimates equal the single-sketch pipeline (same states)
    single = {r["role"]: r["estimate"] for r in
              sketch_agg(df, ["role"], "conv_id", hll).collect()}
    for role, r in rows.items():
        assert r["convs_estimate"] == single[role]

    # KLL quantiles within rank error of exact
    for role, r in rows.items():
        vals = np.array([x[0] for x in df.filter(F.col("role") == role)
                         .select("turn_len").collect()])
        for q, est in ((0.5, r["lens_q50"]), (0.9, r["lens_q90"])):
            assert abs((vals <= est).mean() - q) <= 0.02

    # one scan: rows_seen matches group counts
    counts = dict(df.groupBy("role").count().collect())
    for role, r in rows.items():
        assert r["rows_seen"] == counts[role]


def test_multi_sketch_single_scan_plan(spark, transcripts_path):
    """The plan must contain exactly one parquet scan (that's the point)."""
    from zetasketch_spark.operators.multi import multi_sketch_partial
    from zetasketch_spark.plans.explain import read_schema_columns
    from zetasketch_spark.sketches.base import HllFamily
    from zetasketch_spark.sketches.bloom import BloomFamily
    from zetasketch_spark.sources.transcripts import load_transcripts

    df = load_transcripts(spark, transcripts_path)
    p = multi_sketch_partial(df, ["role"], {
        "convs": ("conv_id", HllFamily(precision=12)),
        "tools": ("tool", BloomFamily(m=1 << 12, k=4)),
    })
    scans = read_schema_columns(p)
    assert len(scans) == 1
    assert set(scans[0]) == {"role", "conv_id", "tool"}


def test_analyze_table_one_scan_stats(spark):
    """Sketch-powered ANALYZE: one pass yields per-column n_rows / n_nulls
    (exact, from rows_seen and the sketches' own num_values), HLL distinct
    within the envelope, and KLL quartiles within rank error."""
    import pandas as pd

    from zetasketch_spark.operators.analyze import analyze_table

    n = 20_000
    pdf = pd.DataFrame({
        "k": [f"u{i % 1337}" for i in range(n)],
        "v": [float(i % 1000) if i % 10 else None for i in range(n)],
        "g": [i % 7 for i in range(n)],
    })
    df = spark.createDataFrame(pdf)
    stats = {r["column"]: r for r in analyze_table(df).collect()}
    assert set(stats) == {"k", "v", "g"}
    for c in stats:
        assert stats[c]["n_rows"] == n
    assert stats["k"]["n_nulls"] == 0
    assert stats["v"]["n_nulls"] == n // 10
    env = 3 * 1.04 / (2 ** 13) ** 0.5
    assert abs(stats["k"]["approx_distinct"] / 1337 - 1) <= env
    assert abs(stats["g"]["approx_distinct"] - 7) <= 1
    # v quartiles: values 1..999 uniform-ish -> q50 near 500 (rank err 1.5%)
    assert abs(stats["v"]["q50"] - 500) <= 40
    assert stats["k"]["q50"] is None  # non-numeric: no quantiles
    # g is numeric: quartiles of 0..6
    assert 0 <= stats["g"]["q25"] <= stats["g"]["q50"] <= stats["g"]["q75"] <= 6


def test_analyze_table_empty_input(spark):
    from zetasketch_spark.operators.analyze import analyze_table

    df = spark.range(0).select(F.col("id").alias("a"),
                               F.col("id").cast("string").alias("b"))
    rows = {r["column"]: r for r in analyze_table(df).collect()}
    assert set(rows) == {"a", "b"}
    for r in rows.values():
        assert r["n_rows"] == 0 and r["approx_distinct"] == 0


def test_analyze_table_bool_and_decimal_columns(spark):
    """Types outside the native hash kernels (boolean, decimal) distinct-
    count through a deterministic string cast instead of crashing the
    executor stage."""
    import pandas as pd
    from decimal import Decimal

    from zetasketch_spark.operators.analyze import analyze_table

    df = spark.createDataFrame(
        pd.DataFrame({
            "flag": [True, False, True, None] * 25,
            "amount": [Decimal("1.50"), Decimal("2.25"), None, Decimal("1.50")] * 25,
            "n": list(range(100)),
        }))
    stats = {r["column"]: r for r in analyze_table(df).collect()}
    assert stats["flag"]["approx_distinct"] == 2
    assert stats["flag"]["n_nulls"] == 25
    assert stats["amount"]["approx_distinct"] == 2
    assert stats["amount"]["n_nulls"] == 25
    assert stats["n"]["approx_distinct"] == 100


def test_group_count_estimate(spark):
    """Exact in the sub-k regime (the common planning case), estimator
    envelope above it; zero columns of nulls handled by concat_ws."""
    import pandas as pd

    from zetasketch_spark.operators.analyze import group_count_estimate

    n = 30_000
    df = spark.createDataFrame(pd.DataFrame({
        "a": [i % 40 for i in range(n)],
        "b": [f"s{i % 25}" for i in range(n)],
    }))
    est, rse = group_count_estimate(df, ["a", "b"], k=4096)
    exact = df.select("a", "b").distinct().count()
    assert exact == 200 and est == exact  # lcm(40,25) pairs; exact mode below k

    big = spark.range(200_000).selectExpr("id % 50000 AS a", "id % 7 AS b")
    est2, rse2 = group_count_estimate(big, ["a", "b"], k=2048)
    exact2 = big.select("a", "b").distinct().count()
    assert abs(est2 / exact2 - 1.0) <= 4 * rse2

    # GROUP BY null semantics: (1, NULL) and (NULL, 1) are DISTINCT groups
    nulls = spark.createDataFrame(
        pd.DataFrame({"a": [1, None, 1], "b": [None, 1, None]}))
    est3, _ = group_count_estimate(nulls, ["a", "b"], k=256)
    assert est3 == 2


def test_analyze_table_dotted_and_ambiguous_names(spark):
    """Columns with dots (JSON ingestion) must analyze, and a
    case-ambiguous request must raise instead of guessing."""
    import pandas as pd

    from zetasketch_spark.operators.analyze import analyze_table

    df = spark.createDataFrame(pd.DataFrame({"user.id": [1, 2, 2, None]}))
    stats = {r["column"]: r for r in analyze_table(df).collect()}
    assert stats["user.id"]["approx_distinct"] == 2
    assert stats["user.id"]["n_nulls"] == 1

    amb = spark.createDataFrame(pd.DataFrame({"AA": ["x"], "aa": [1]}))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="case-ambiguous"):
        analyze_table(amb, cols=["Aa"])


def test_dotted_column_names_in_dataframe_fabric(spark):
    """A dot in a key or value column name is part of the name, never a
    nested-field path: sketch_agg (fused and keep_sketch merges) and
    multi_sketch_agg match the same data under plain names."""
    from zetasketch_spark.operators.agg import sketch_agg
    from zetasketch_spark.operators.multi import multi_sketch_agg
    from zetasketch_spark.sketches.base import HllFamily

    plain = spark.createDataFrame([(f"k{i % 3}", i % 17) for i in range(300)],
                                  "kv string, uid bigint")
    dotted = plain.toDF("k.v", "user.id")

    def single(df, key, col, keep_sketch):
        return {r[key]: (r["estimate"], r["rows_seen"]) for r in sketch_agg(
            df, [key], col, HllFamily(12), keep_sketch=keep_sketch).collect()}

    def multi(df, key, col):
        return {r[key]: (r["users_estimate"], r["rows_seen"])
                for r in multi_sketch_agg(
                    df, [key], {"users": (col, HllFamily(12))}).collect()}

    want = single(plain, "kv", "uid", False)
    assert len(want) == 3
    assert single(dotted, "k.v", "user.id", False) == want
    assert single(dotted, "k.v", "user.id", True) == want
    assert multi(dotted, "k.v", "user.id") == multi(plain, "kv", "uid")


def test_multi_partial_null_and_date_keys_match_single_spec(spark):
    """multi_sketch_partial groups each Arrow batch with
    arrow_group_indices: with a nullable bigint key and a date key, every
    (key, partition) state is byte-identical to sketch_partial run once
    per spec, the null group included."""
    import datetime

    from zetasketch_spark.operators.agg import SKETCH_COL, sketch_partial
    from zetasketch_spark.operators.multi import multi_sketch_partial
    from zetasketch_spark.sketches.base import HllFamily
    from zetasketch_spark.sketches.kll import KllFamily

    df = spark.createDataFrame(
        [(None if i % 7 == 0 else i % 5, datetime.date(2026, 1, 1 + i % 3),
          f"u{i % 41}", float(i % 97)) for i in range(3000)],
        "k bigint, d date, user string, v double")
    specs = {"users": ("user", HllFamily(precision=12)),
             "lens": ("v", KllFamily(k=200, quantiles=(0.5, 0.9)))}
    keys = ["k", "d"]

    def by_key(rows, col):
        return {(r["k"], r["d"], r["partition_id"]): bytes(r[col])
                for r in rows}

    multi = multi_sketch_partial(df, keys, specs).collect()
    assert any(r["k"] is None for r in multi)
    for name, (col, fam) in specs.items():
        single = by_key(sketch_partial(df, keys, col, fam).collect(),
                        SKETCH_COL)
        assert by_key(multi, name) == single
