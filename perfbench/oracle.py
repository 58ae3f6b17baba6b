"""DuckDB oracles for the sampled output checks.

Each oracle recomputes features for a handful of sampled query rows by a
naive self-join over the generated parquet (every event of the key at or
before the query time), carving windows with the hop-aligned tail rule of
``__spark_entry__._tail``: an event is inside a window of length w with
tail hop h when ``ets >= ((qts - w) // h) * h``.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

MS_5M, MS_1H, MS_1D, MS_7D = 300_000, 3_600_000, 86_400_000, 7 * 86_400_000
# relative tolerance for numbers: summation order differs between engines
REL_TOL = 1e-9


def tail(window_ms: int, hop_ms: int) -> str:
    return f"ets >= ((qts - {window_ms}) // {hop_ms}) * {hop_ms}"


def _nullif0(expr: str) -> str:
    return f"CASE WHEN {expr} = 0 THEN NULL ELSE {expr} END"


def _events_cte(path: str) -> str:
    return f"""ev AS (
      SELECT conv_id, turn_idx AS tid, role, text, length(text) AS len,
             epoch_ms(ts) AS ets
      FROM read_parquet('{path}/*.parquet'))"""


def _run(sql: str, sample: pd.DataFrame) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        con.register("q", sample)
        return con.execute(sql).df()
    finally:
        con.close()


def backfill_features(transcripts: str, sample: pd.DataFrame) -> pd.DataFrame:
    """bench_convo features for sampled turns; ``sample`` has conv_id,
    turn_idx and qts (epoch ms of the turn itself)."""
    h1, d1, d7 = tail(MS_1H, MS_5M), tail(MS_1D, MS_1H), tail(MS_7D, MS_1H)
    sql = f"""
    WITH {_events_cte(transcripts)},
    j AS (SELECT q.conv_id, q.turn_idx, q.qts, ev.tid, ev.role, ev.text, ev.len, ev.ets
          FROM q JOIN ev ON ev.conv_id = q.conv_id AND ev.ets <= q.qts),
    agg AS (
      SELECT conv_id, turn_idx,
        {_nullif0(f"count(text) FILTER (WHERE {h1})")} AS text_count_1h,
        {_nullif0(f"count(text) FILTER (WHERE {d1})")} AS text_count_1d,
        {_nullif0(f"count(text) FILTER (WHERE {d7})")} AS text_count_7d,
        {_nullif0("count(text)")} AS text_count,
        sum(len) FILTER (WHERE {d1}) AS len_text_sum_1d,
        avg(len) FILTER (WHERE {d1}) AS len_text_average_1d,
        CASE WHEN count(text) = 0 THEN NULL ELSE
          (list(text ORDER BY ets DESC, tid DESC) FILTER (WHERE text IS NOT NULL))[1:3]
        END AS text_last3
      FROM j GROUP BY conv_id, turn_idx),
    b AS (
      SELECT conv_id, turn_idx, role, count(text) AS n
      FROM j WHERE {d1} AND role IS NOT NULL AND text IS NOT NULL
      GROUP BY conv_id, turn_idx, role),
    m AS (SELECT conv_id, turn_idx, map(list(role ORDER BY role), list(n ORDER BY role))
            AS text_count_1d_by_role
          FROM b GROUP BY conv_id, turn_idx)
    SELECT agg.*, m.text_count_1d_by_role FROM agg LEFT JOIN m USING (conv_id, turn_idx)
    """
    return _run(sql, sample)


def join_features(transcripts: str, sample: pd.DataFrame) -> pd.DataFrame:
    """The join_training Join's features for sampled query rows; ``sample``
    has qid, conv_id and qts."""
    d1, d7 = tail(MS_1D, MS_1H), tail(MS_7D, MS_1H)
    sql = f"""
    WITH {_events_cte(transcripts)},
    j AS (SELECT q.qid, q.qts, ev.tid, ev.role, ev.text, ev.len, ev.ets
          FROM q LEFT JOIN ev ON ev.conv_id = q.conv_id AND ev.ets <= q.qts)
    SELECT qid,
      {_nullif0(f"count(text) FILTER (WHERE {d1})")} AS ctx_text_count_1d,
      sum(len) FILTER (WHERE {d1}) AS ctx_len_text_sum_1d,
      (list(len ORDER BY ets DESC, tid ASC) FILTER (WHERE {d7} AND len IS NOT NULL))[1]
        AS r_rec_len_text_last_7d,
      avg(len) FILTER (WHERE {d7}) AS r_rec_len_text_average_7d,
      {_nullif0(f"count(text) FILTER (WHERE {d7} AND role = 'user')")} AS usr_text_count_7d,
      max(len) FILTER (WHERE {d1} AND role = 'user') AS usr_len_text_max_1d
    FROM j GROUP BY qid
    """
    out = _run(sql, sample)
    out["turns_1d_7d"] = (out["ctx_text_count_1d"].fillna(0)
                          + out["usr_text_count_7d"].fillna(0)).astype("int64")
    return out


def approx_features(transcripts: str, sample: pd.DataFrame) -> pd.DataFrame:
    """The approx GroupBy's features in the sketches' exact regime (few
    distinct values per window), for sampled query rows."""
    d1, d7 = tail(MS_1D, MS_1H), tail(MS_7D, MS_1H)
    sql = f"""
    WITH {_events_cte(transcripts)},
    j AS (SELECT q.qid, q.qts, ev.text, ev.len, ev.ets
          FROM q LEFT JOIN ev ON ev.conv_id = q.conv_id AND ev.ets <= q.qts)
    SELECT qid,
      CASE WHEN count(text) FILTER (WHERE {d7}) = 0 THEN NULL
           ELSE count(DISTINCT text) FILTER (WHERE {d7}) END AS text_approx_unique_count_7d,
      quantile_cont(len, 0.5) FILTER (WHERE {d7}) AS p50,
      quantile_cont(len, 0.9) FILTER (WHERE {d7}) AS p90,
      sum(len) FILTER (WHERE {d1}) AS len_text_sum_1d,
      min(len) FILTER (WHERE {d7}) AS len_text_min_7d,
      max(len) FILTER (WHERE {d1}) AS len_text_max_1d
    FROM j GROUP BY qid
    """
    return _run(sql, sample)


def _norm(v):
    """Comparable form of one cell from Spark rows, pandas or DuckDB."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        v = v.tolist()
    if isinstance(v, dict):
        if v.keys() == {"key", "value"} and isinstance(v["key"], list):
            v = dict(zip(v["key"], v["value"]))  # DuckDB MAP in a DataFrame
        return {k: _norm(x) for k, x in sorted(v.items())} or None
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def same(a, b) -> bool:
    a, b = _norm(a), _norm(b)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return a == b


def mismatches(got: dict, want: dict, cols: list[str], tag: str) -> list[str]:
    return [f"{tag} {c}: got {_norm(got.get(c))!r} want {_norm(want.get(c))!r}"
            for c in cols if not same(got.get(c), want.get(c))]
