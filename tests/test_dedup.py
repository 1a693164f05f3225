"""Last-wins dedup (D4): all three formulations agree with the pandas oracle."""

import pandas as pd

from go_data_publisher_spark.operators.dedup import (
    drop_already_present,
    last_wins,
    last_wins_salted,
    last_wins_window,
)
from go_data_publisher_spark.sources.changelog import generate_changelog


def _winners_pdf(df):
    return (
        df.toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_last_wins_matches_all_formulations(spark):
    log = generate_changelog(spark, 3000, n_convs=50, seed=13)
    log = log.where("conv_id is not null and turn_idx is not null").persist()

    a = _winners_pdf(last_wins(log))
    b = _winners_pdf(last_wins_window(log))
    c = _winners_pdf(last_wins_salted(log, n_salts=4))

    pd.testing.assert_frame_equal(a, b)
    pd.testing.assert_frame_equal(a, c)

    # oracle: pandas replay
    pdf = log.toPandas()
    pdf["__op_rank"] = pdf["op"].map({"I": 1, "U": 2, "D": 3})
    oracle = (
        pdf.sort_values(["lsn", "__op_rank"])
        .drop_duplicates(subset=["conv_id", "turn_idx"], keep="last")
        .drop(columns="__op_rank")
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)[a.columns.tolist()]
    )
    pd.testing.assert_frame_equal(a, oracle)


def test_last_wins_is_idempotent(spark):
    log = generate_changelog(spark, 1000, seed=17).where("conv_id is not null and turn_idx is not null")
    once = last_wins(log)
    twice = last_wins(once)
    assert _winners_pdf(once).equals(_winners_pdf(twice))


def test_drop_already_present(spark):
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "k int, sig string")
    target = spark.createDataFrame([(1, "a")], "k int, sig string")
    out = drop_already_present(batch, target, on=["k", "sig"])
    assert [r["k"] for r in out.collect()] == [2]
