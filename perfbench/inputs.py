"""Seeded input generation for the workloads, cached per
(workload, seed, size).

Every table is a function of (workload, seed, size) only, so a cached copy is
reused instead of regenerated. The engine sees only the parquet files written
here; everything the checks need to know about what was planted (chains, the
hot conversation, the duplicate cluster) is returned in ``meta``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

MS_DAY = 86_400_000
MS_HOUR = 3_600_000

# Sizes per input set. "full" is what the benchmark measures; "smoke" only
# exercises every code path and pins the output schema.
SIZES = {
    "full": {
        "backfill": dict(n_convs=1_000, avg_turns=20, hot_turns=80_000, n_days=12,
                         step_days=4),
        "online": dict(n_convs=300, avg_turns=8, n_days=6, zipf_a=0.7),
        "join": dict(n_convs=1_000, avg_turns=20, n_days=10, n_queries=5_000),
        "dedup": dict(n_docs=2_000, block_chars=50, chain_lens=(2, 3, 4, 5),
                      chains_per_len=3, dup_cluster=300, max_bucket=100),
    },
    "smoke": {
        "backfill": dict(n_convs=40, avg_turns=10, hot_turns=1_000, n_days=4, step_days=2),
        "online": dict(n_convs=30, avg_turns=10, n_days=3, zipf_a=1.2),
        "join": dict(n_convs=40, avg_turns=10, n_days=4, n_queries=300),
        "dedup": dict(n_docs=200, block_chars=40, chain_lens=(2, 3), chains_per_len=2,
                      dup_cluster=30, max_bucket=10),
    },
}


def _write_parquet(df: pd.DataFrame, path: str, n_files: int) -> None:
    """Several part files, so the scan is not capped at one task."""
    os.makedirs(path, exist_ok=True)
    tbl = pa.Table.from_pandas(df, preserve_index=False)
    step = max(1, (len(df) + n_files - 1) // n_files)
    for i in range(n_files):
        piece = tbl.slice(i * step, step)
        if piece.num_rows:
            pq.write_table(piece, os.path.join(path, f"part-{i:04d}.parquet"))


def _transcripts(seed: int, n_convs: int, avg_turns: int, n_days: int,
                 hot_turns: int = 0) -> pd.DataFrame:
    from zipline_chronon_spark.sources.transcripts import BASE_TS_MS, generate_transcripts

    df = generate_transcripts(n_convs=n_convs, avg_turns=avg_turns, n_days=n_days,
                              seed=seed)
    if hot_turns:
        # The hot conversation: the generator's own gap mix would stretch
        # hot_turns turns over years, so its offsets are rescaled to lie
        # inside the first n_days - 1 days. It is then one group whose rows
        # span several Arrow batches (run.ARROW_BATCH_ROWS rows each) in
        # every chunk that scans it: about 4, 8 and 10 at the full size.
        hot = generate_transcripts(n_convs=1, avg_turns=hot_turns, n_days=n_days,
                                   seed=seed + 1_000_003)
        ts = hot["ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)
        span = (n_days - 1) * MS_DAY - MS_HOUR
        off = ts - ts[0]
        new = BASE_TS_MS + (off * (span / max(1, off[-1]))).astype(np.int64)
        hot["ts"] = pd.to_datetime(new, unit="ms").astype("datetime64[us]")
        hot["ds"] = hot["ts"].dt.strftime("%Y-%m-%d")
        hot["conv_id"] = "conv_hot"
        df = pd.concat([df, hot], ignore_index=True)
    return df


def _gen_backfill(seed: int, p: dict, out: str) -> dict:
    df = _transcripts(seed, p["n_convs"], p["avg_turns"], p["n_days"], p["hot_turns"])
    _write_parquet(df, os.path.join(out, "transcripts"), 8)
    ds = sorted(df["ds"].unique())
    return {"rows": int(len(df)), "start_ds": ds[0], "end_ds": ds[-1],
            "step_days": p["step_days"], "hot_rows": int((df["conv_id"] == "conv_hot").sum())}


def _gen_join(seed: int, p: dict, out: str) -> dict:
    df = _transcripts(seed, p["n_convs"], p["avg_turns"], p["n_days"])
    _write_parquet(df, os.path.join(out, "transcripts"), 8)
    # query points between turns: a conversation drawn uniformly (no hot
    # key), a time drawn uniformly inside its [first turn, last turn + 1h]
    rng = np.random.default_rng(seed + 17)
    ts_ms = df["ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)
    span = pd.DataFrame({"conv_id": df["conv_id"], "t": ts_ms}).groupby("conv_id")["t"].agg(["min", "max"])
    pick = rng.integers(0, len(span), size=p["n_queries"])
    lo = span["min"].to_numpy()[pick]
    hi = span["max"].to_numpy()[pick] + MS_HOUR
    q_ts = lo + (rng.random(p["n_queries"]) * (hi - lo)).astype(np.int64)
    left = pd.DataFrame({
        "qid": np.arange(p["n_queries"], dtype=np.int64),
        "conv_id": span.index.to_numpy()[pick],
        "ts": pd.to_datetime(q_ts, unit="ms").astype("datetime64[us]"),
    })
    _write_parquet(left, os.path.join(out, "left"), 4)
    return {"rows": int(len(left)), "event_rows": int(len(df))}


def _gen_dedup(seed: int, p: dict, out: str) -> dict:
    """Documents of random characters from a 2k-symbol alphabet, so two
    unrelated documents share no character 3-gram and LSH candidates come
    only from what was planted:

    - chains: document i of a chain is block_i + block_{i+1}, so neighbours
      share half their 3-grams (Jaccard ~1/3) and documents two apart share
      none. The duplicate graph of a chain of length L is a path of
      diameter L - 1, which label propagation needs ~L rounds to cross.
    - one exact-duplicate cluster larger than max_bucket, which every LSH
      band drops and only exact_dup_groups finds.
    """
    rng = np.random.default_rng(seed)
    b = p["block_chars"]
    alphabet = np.array([chr(0x4E00 + i) for i in range(2_000)])

    def block() -> str:
        return "".join(alphabet[rng.integers(0, len(alphabet), size=b)])

    texts: list[str] = []
    chains: list[list[int]] = []
    for length in p["chain_lens"]:
        for _ in range(p["chains_per_len"]):
            blocks = [block() for _ in range(length + 1)]
            chains.append(list(range(len(texts), len(texts) + length)))
            texts.extend(blocks[i] + blocks[i + 1] for i in range(length))
    dup_text = block() + block()
    dup_ids = list(range(len(texts), len(texts) + p["dup_cluster"]))
    texts.extend([dup_text] * p["dup_cluster"])
    while len(texts) < p["n_docs"]:
        texts.append(block() + block())
    # shuffle ids so chains and the cluster are not contiguous, then order
    # each chain's ids along the chain: the minimum label starts at one end
    # and must travel the whole path, for every seed alike
    doc_ids = rng.permutation(len(texts)).astype(np.int64)
    for c in chains:
        doc_ids[c] = np.sort(doc_ids[c])
    df = pd.DataFrame({"doc_id": doc_ids, "text": texts}).sort_values("doc_id")
    _write_parquet(df, os.path.join(out, "docs"), 4)
    return {"rows": int(len(df)), "max_bucket": p["max_bucket"],
            "chains": [[int(doc_ids[i]) for i in c] for c in chains],
            "dup_ids": sorted(int(doc_ids[i]) for i in dup_ids)}


def _gen_online(seed: int, p: dict, out: str) -> dict:
    df = _transcripts(seed, p["n_convs"], p["avg_turns"], p["n_days"])
    _write_parquet(df, os.path.join(out, "transcripts"), 4)
    ts_ms = df["ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)
    t_min, t_max = int(ts_ms.min()), int(ts_ms.max())
    # batch end T0 at 2/3 of the span (hour-aligned, as a daily upload
    # would be), stream events over (T0, T1] up to the last event
    t0 = (t_min + (t_max - t_min) * 2 // 3) // MS_HOUR * MS_HOUR
    keys = sorted(df["conv_id"].unique())
    rng = np.random.default_rng(seed + 29)
    # Zipf key popularity over a seeded key order
    order = rng.permutation(len(keys))
    weights = 1.0 / np.arange(1, len(keys) + 1) ** p["zipf_a"]
    probs = np.empty(len(keys))
    probs[order] = weights / weights.sum()
    return {"rows": int(len(df)), "t0": t0, "t1": t_max, "keys": keys,
            "key_probs": probs.tolist()}


_PARTS = {"backfill": _gen_backfill, "online": _gen_online, "join": _gen_join,
          "dedup": _gen_dedup}
# each workload pairs two input sets, one subdirectory each
_WORKLOAD_PARTS = {"backfill_online": ("backfill", "online"),
                   "training_prep": ("join", "dedup")}


def prepare(cache_root: str, workload: str, seed: int, size: str) -> tuple[str, dict, float]:
    """Return (input dir, meta, seconds spent generating; 0.0 on a cache hit)."""
    out = os.path.join(cache_root, f"{workload}-s{seed}-{size}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return out, json.load(f), 0.0
    t0 = time.perf_counter()
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = {part: _PARTS[part](seed, SIZES[size][part], os.path.join(tmp, part))
            for part in _WORKLOAD_PARTS[workload]}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, meta, time.perf_counter() - t0


if __name__ == "__main__":
    # python3 inputs.py <cache root> <workload> <seed> <size>: generate (or
    # find) one input set and print its directory, meta and generation time
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    root, wl, sd, sz = sys.argv[1:5]
    path, meta, secs = prepare(root, wl, int(sd), sz)
    print(json.dumps({"dir": path, "meta": meta, "gen_s": secs}))
