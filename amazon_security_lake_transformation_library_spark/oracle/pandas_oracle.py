"""Pure pandas/numpy reference implementations of the north-rule feature
operators. These are the allclose oracle (SURVEY.md §5.2 item 3): Spark
output must match per (conv_id, turn_idx, ts), and text must stay
byte-equal under stable (conv_id, turn_idx) ordering.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _sorted(df: pd.DataFrame, entity: str, order: list[str]) -> pd.DataFrame:
    return df.sort_values([entity, *order], kind="mergesort").reset_index(drop=True)


def turn_features(
    pdf: pd.DataFrame,
    gap_seconds: int = 1800,
    entity: str = "conv_id",
    order: list[str] | None = None,
) -> pd.DataFrame:
    """Oracle for operators.features.build_turn_features."""
    order = order or ["ts", "turn_idx"]
    df = _sorted(pdf, entity, order).copy()
    g = df.groupby(entity, sort=False)

    df["text_len"] = df["text"].str.len().astype("int64")
    df["n_tokens"] = df["text"].str.strip().str.split(r"\s+").map(len).astype("int64")
    df["prev_role"] = g["role"].shift(1)
    df["prev_text_len"] = g["text_len"].shift(1)
    df["next_role"] = g["role"].shift(-1)
    df["tool_ffill"] = g["tool"].ffill()

    prev_ts = g["ts"].shift(1)
    gap = (df["ts"] - prev_ts).dt.total_seconds()
    flag = (prev_ts.isna() | (gap > gap_seconds)).astype("int64")
    df["session_id"] = flag.groupby(df[entity], sort=False).cumsum() - 1
    df["user_turn_cum"] = (
        (df["role"] == "user").astype("int64").groupby(df[entity], sort=False).cumsum()
    )
    return df


def asof(
    probe: pd.DataFrame,
    build: pd.DataFrame,
    on: str = "conv_id",
    ts: str = "ts",
    strict: bool = False,
    tolerance_seconds: float | None = None,
    direction: str = "backward",
) -> pd.DataFrame:
    """Oracle for operators.asof.asof_join (every direction) via
    pd.merge_asof (build assumed unique per (on, ts); latest-wins
    semantics; pandas resolves nearest-distance ties backward, same as
    the Spark operator)."""
    p = probe.sort_values(ts, kind="mergesort").reset_index(drop=True)
    b = (
        build.rename(columns={ts: "asof_ts"})
        .sort_values("asof_ts", kind="mergesort")
        .reset_index(drop=True)
    )
    kwargs = {}
    if tolerance_seconds is not None:
        kwargs["tolerance"] = pd.Timedelta(seconds=tolerance_seconds)
    out = pd.merge_asof(
        p,
        b,
        left_on=ts,
        right_on="asof_ts",
        by=on,
        allow_exact_matches=not strict,
        direction=direction,
        **kwargs,
    )
    return out


def sessionize(
    pdf: pd.DataFrame,
    entity: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    order: list[str] | None = None,
    out_col: str = "session_id",
) -> pd.DataFrame:
    order = order or [ts_col]
    df = _sorted(pdf, entity, order).copy()
    prev_ts = df.groupby(entity, sort=False)[ts_col].shift(1)
    gap = (df[ts_col] - prev_ts).dt.total_seconds()
    flag = (prev_ts.isna() | (gap > gap_seconds)).astype("int64")
    df[out_col] = flag.groupby(df[entity], sort=False).cumsum() - 1
    return df
