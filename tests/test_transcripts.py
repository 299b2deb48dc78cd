"""Tests for the transcript-level operators (operators/transcripts.py)."""

from __future__ import annotations


# ---------------------------------------------------------------------------
# validate_dialog_format
# ---------------------------------------------------------------------------


def test_validate_dialog_format(spark):
    from datetime import datetime

    from airbyte_spark.operators.transcripts import validate_dialog_format

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    t1 = datetime(2024, 1, 1, 0, 1, 0)
    t2 = datetime(2024, 1, 1, 0, 2, 0)
    rows = [
        # conv 1: clean user/assistant alternation
        (1, 1, "user", "hi", t0),
        (1, 2, "assistant", "hello", t1),
        (1, 3, "user", "bye", t2),
        # conv 2: role repeat (user, user) + a timestamp regression + empty
        (2, 1, "user", "a", t1),
        (2, 2, "user", "b", t0),       # repeat AND ts goes backwards
        (2, 3, "assistant", "  ", t2),  # blank text
        # conv 3: single turn — no adjacent pairs, trivially well formed
        (3, 1, "user", "solo", t0),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "text", "ts"])
    out = {r["conv_id"]: r for r in validate_dialog_format(df).collect()}
    assert out[1]["well_formed"] == 1 and out[1]["n_roles"] == 2
    assert out[2]["n_role_repeats"] == 1
    assert out[2]["n_ts_regressions"] == 1
    assert out[2]["n_empty_turns"] == 1
    assert out[2]["well_formed"] == 0
    assert out[3]["well_formed"] == 1 and out[3]["n_turns"] == 1


def test_validate_dialog_format_single_aggregate_plan(spark):
    from datetime import datetime

    from airbyte_spark.operators.transcripts import validate_dialog_format

    df = spark.createDataFrame(
        [(1, 1, "user", "x", datetime(2024, 1, 1))],
        ["conv_id", "turn_idx", "role", "text", "ts"],
    )
    plan = validate_dialog_format(df)._jdf.queryExecution().executedPlan().toString()
    # one hash-aggregate pair, no window, no join
    assert "Window" not in plan and "Join" not in plan
