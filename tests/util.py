import pandas as pd


def normalize(pdf: pd.DataFrame, keys) -> pd.DataFrame:
    out = pdf.sort_values(list(keys), kind="stable").reset_index(drop=True)
    # unify missing-value representation across numpy/arrow paths
    out = out.astype(object).where(pd.notna(out), None)
    return out


def assert_same(spark_df, oracle_pdf: pd.DataFrame, keys=("conv_id", "turn_idx")):
    got = normalize(spark_df.toPandas(), keys)
    want = normalize(oracle_pdf[got.columns.tolist()], keys)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

