from contextlib import contextmanager

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


class Py4jCalls:
    """Round trips counted by ``count_py4j_calls``; ``n`` so far."""

    n = 0


@contextmanager
def count_py4j_calls():
    """Count the py4j round trips (commands sent to the JVM) the block
    makes, from every thread: ``with count_py4j_calls() as calls: ...``
    then ``calls.n``. Plan-building budgets are stated in these."""
    from py4j.clientserver import ClientServerConnection

    calls = Py4jCalls()
    send = ClientServerConnection.send_command

    def counted(self, *args, **kwargs):
        calls.n += 1
        return send(self, *args, **kwargs)

    ClientServerConnection.send_command = counted
    try:
        yield calls
    finally:
        ClientServerConnection.send_command = send
