"""Correctness checks, run outside every timed region.  Each returns
(ok, detail); a failed check counts in the run's `failed`.  Pure pandas /
DuckDB, so the self-tests run them without Spark."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

KEYS = ["repo", "path", "commit"]
DUP_KINDS = ("near", "short", "exact")
MIN_RECALL = 0.99


def dup_pair_recall(truth: pd.DataFrame, assign: pd.DataFrame) -> float:
    """Share of planted near/short/exact pairs whose two files share a
    cluster.  truth: KEYS + kind, group_id; assign: KEYS + cluster_id."""
    t = truth[truth["kind"].isin(DUP_KINDS)].merge(assign[KEYS + ["cluster_id"]], on=KEYS)
    sizes = t.groupby("group_id").size()
    total = int((sizes * (sizes - 1) // 2).sum())
    same = t.groupby(["group_id", "cluster_id"]).size()
    shared = int((same * (same - 1) // 2).sum())
    return shared / total if total else 1.0


def block_pairs(truth: pd.DataFrame, assign: pd.DataFrame,
                substr: pd.DataFrame) -> tuple[bool, str]:
    """Planted shared-block pairs are in the substring side output and in
    no shared cluster."""
    t = truth[truth["kind"] == "block"].merge(
        assign[KEYS + ["file_id", "cluster_id"]], on=KEYS
    )
    pairs = t.groupby("group_id").filter(lambda g: len(g) == 2)
    found = {tuple(sorted(p)) for p in substr[["id_a", "id_b"]].itertuples(index=False)}
    missing = merged = 0
    for _, g in pairs.groupby("group_id"):
        a, b = g["file_id"].tolist()
        missing += tuple(sorted((a, b))) not in found
        merged += g["cluster_id"].nunique() == 1
    n = len(pairs) // 2
    return missing == 0 and merged == 0, f"{n} pairs, {missing} missing, {merged} merged"


def content_sha(files: pd.DataFrame, assign: pd.DataFrame) -> tuple[bool, str]:
    """Every row's content_sha equals sha256 of its source content."""
    m = files[KEYS + ["content"]].merge(assign[KEYS + ["content_sha"]], on=KEYS, how="outer")
    want = m["content"].map(
        lambda c: hashlib.sha256(c.encode()).hexdigest() if isinstance(c, str) else None
    )
    bad = int((want != m["content_sha"]).sum())
    return bad == 0 and len(m) == len(files), f"{len(m)} rows, {bad} mismatched"


def partition(assign: pd.DataFrame, id_col: str = "file_id") -> frozenset:
    """The clustering as a set of member sets (labels ignored)."""
    groups = assign.groupby("cluster_id")[id_col].apply(lambda s: frozenset(s.tolist()))
    return frozenset(groups.tolist())


def same_partition(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    pa_, pb = partition(a), partition(b)
    return pa_ == pb, f"{len(pa_)} vs {len(pb)} clusters, {len(pa_ ^ pb)} differ"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive form, as tools/check_oracles.py compares."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return False, f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return False, f"rows {len(g)} vs {len(w)}"
    neq = (g != w) & ~(g.isna() & w.isna())
    bad = int(neq.any(axis=1).sum())
    return bad == 0, f"{len(g)} rows, {bad} differ"
