"""Oracles for the benchmark's correctness checks.

Each check compares a seeded sample of the program's output with an
independent computation: ``oracle.composition_matrix`` plus plain numpy
for the rolling vectors and sessions, DuckDB for as-of picks, and
Python sets for n-gram Jaccard and token counts. ``Expected`` keeps
each output's row count and xxhash64/bit_xor checksum per seed and per
version of the program's source, so a later run of the same seed on the
same source must reproduce them exactly.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pandas as pd

K, N_TURNS, GAP_S = 4, 3, 1800.0


def rolling_oracle(turns: pd.DataFrame, conv_ids) -> dict:
    """(conv_id, turn_idx) -> (session_seq, vec, roll_vec) for the given
    conversations, as backfill_features_stream(k=4, n_turns=3) defines
    them: per-turn canonical 4-mer composition, the sum over the last
    three turns of the conversation, both divided by max(1, total), and
    sessions split where the gap to the previous turn exceeds 1800 s."""
    from kmertools_spark.oracle import composition_matrix

    out = {}
    sub = turns[turns["conv_id"].isin(set(conv_ids))]
    for conv, g in sub.groupby("conv_id", sort=False):
        g = g.sort_values("turn_idx")
        counts = composition_matrix(g["text"].tolist(), K, canonical=True, norm=False)
        roll = np.zeros_like(counts)
        for i in range(len(g)):
            roll[i] = counts[max(0, i - N_TURNS + 1) : i + 1].sum(axis=0)
        vec = counts / np.maximum(1.0, counts.sum(axis=1))[:, None]
        roll = roll / np.maximum(1.0, roll.sum(axis=1))[:, None]
        ts_ms = g["ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)
        new = np.zeros(len(g), dtype=np.int64)
        new[1:] = np.diff(ts_ms) > int(GAP_S * 1000)
        sess = np.cumsum(new)
        for i, t in enumerate(g["turn_idx"].to_numpy()):
            out[(conv, int(t))] = (int(sess[i]), vec[i], roll[i])
    return out


def vectors_equal(a, b) -> bool:
    return np.allclose(np.asarray(a, dtype=np.float64), b, rtol=1e-9, atol=1e-12)


def asof_oracle(turns: pd.DataFrame, probes: pd.DataFrame) -> dict:
    """(conv_id, probe_ts) -> turn_idx of the latest turn strictly before
    the probe (ties at equal ts go to the largest turn_idx), or None."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("t", turns[["conv_id", "turn_idx", "ts"]])
        con.register("p", probes[["conv_id", "probe_ts"]].drop_duplicates())
        rows = con.execute(
            """
            SELECT p.conv_id, p.probe_ts,
                   (SELECT t.turn_idx FROM t
                     WHERE t.conv_id = p.conv_id AND t.ts < p.probe_ts
                     ORDER BY t.ts DESC, t.turn_idx DESC LIMIT 1) AS turn_idx
            FROM p
            """
        ).fetchall()
    finally:
        con.close()
    return {
        (c, pd.Timestamp(ts)): (None if ti is None else int(ti)) for c, ts, ti in rows
    }


def ngrams(text: str, n: int = 4) -> set[str]:
    return {text[i : i + n] for i in range(len(text) - n + 1)}


def jaccard(a: str, b: str, n: int = 4) -> float:
    ga, gb = ngrams(a, n), ngrams(b, n)
    inter = len(ga & gb)
    return round(inter / (len(ga) + len(gb) - inter), 6)


def prep_tokens(text: str) -> int:
    """normalize_text then token_count, in plain Python."""
    t = re.sub(" +", " ", re.sub("[\x00-\x1f]", " ", text)).strip(" ")
    return 0 if not t else t.count(" ") + 1


def check_keep_list(keep: pd.DataFrame, docs: pd.DataFrame, sample_ids, threshold):
    """Problems found in a dedup keep list (doc_id, cluster_id, keep)."""
    errs = []
    if len(keep) != len(docs) or keep["doc_id"].nunique() != len(docs):
        errs.append(f"keep list has {len(keep)} rows for {len(docs)} docs")
        return errs
    if not (keep["keep"] == (keep["doc_id"] == keep["cluster_id"])).all():
        errs.append("keep flag differs from doc_id == cluster_id")
    mins = keep.groupby("cluster_id")["doc_id"].min()
    if not (mins.index.to_numpy() == mins.to_numpy()).all():
        errs.append("a cluster_id is not its cluster's smallest doc_id")
    text = docs.set_index("doc_id")["text"]
    cluster = keep.set_index("doc_id")["cluster_id"]
    members = keep.groupby("cluster_id")["doc_id"].apply(list)
    for d in sample_ids:
        others = [o for o in members[cluster[d]] if o != d]
        if others and max(jaccard(text[d], text[o]) for o in others) < threshold:
            errs.append(f"doc {d} shares a cluster with no doc it resembles")
    # identical texts have identical signatures, so they must share a cluster
    same = docs[docs["doc_id"].isin(sample_ids)].merge(docs, on="text")
    split = same[cluster[same["doc_id_x"]].to_numpy() != cluster[same["doc_id_y"]].to_numpy()]
    if len(split):
        errs.append(f"{len(split)} identical-text pairs in different clusters")
    return errs


def check_packing(packed: pd.DataFrame, docs: pd.DataFrame, capacity: int):
    """Problems found in a training_prep window map."""
    errs = []
    if packed.empty:
        return ["training_prep packed no documents"]
    per_doc = packed.groupby("doc_id")["n_tok"].sum()
    text = docs.set_index("doc_id")["text"]
    bad = [d for d, n in per_doc.items() if prep_tokens(text[d]) != n]
    if bad:
        errs.append(f"{len(bad)} docs packed with the wrong token count, e.g. {bad[:3]}")
    fill = packed.groupby("bin")["n_tok"].sum().sort_index()
    if (fill.iloc[:-1] != capacity).any() or fill.iloc[-1] > capacity:
        errs.append("a window other than the last is not filled to capacity")
    return errs


def source_key() -> str:
    """Hash of every file of the kmertools_spark package: the version of
    the program whose outputs a checksum record belongs to."""
    import kmertools_spark

    top = os.path.dirname(kmertools_spark.__file__)
    paths = []
    for d, dirs, files in os.walk(top):
        dirs[:] = [x for x in dirs if x != "__pycache__"]
        paths += [os.path.relpath(os.path.join(d, name), top) for name in files]
    h = hashlib.sha1()
    for rel in sorted(paths):
        h.update(rel.encode() + b"\0")
        with open(os.path.join(top, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


class Expected:
    """Per-seed expected (rows, checksum) per output, kept beside the
    cached inputs and keyed by the program's source, so a record is only
    ever compared with runs of the same code. The first verified run of
    a seed on that code records them."""

    def __init__(self, input_dir: str):
        self.path = os.path.join(input_dir, f"expected-{source_key()}.json")
        self.values = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.values = json.load(f)

    def check(self, name: str, value, record: bool = True) -> str | None:
        """Compare with the seed's recorded value; record it when there is
        none yet and ``record`` is set (only outputs that passed every
        other check are recorded)."""
        value = json.loads(json.dumps(value))  # tuples -> lists, int keys -> str
        if name not in self.values:
            if record:
                self.values[name] = value
            return None
        if self.values[name] != value:
            return f"{name}: {value} differs from this seed's earlier {self.values[name]}"
        return None

    def save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.values, f)
        os.replace(tmp, self.path)
