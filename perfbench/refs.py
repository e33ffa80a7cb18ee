"""Reference outputs, computed once per run before timing starts.

Stages with a DuckDB oracle twin in the package (era_ols_neutralize,
quantile_bin, hash_split, ngram_contamination) use it; the rest are
numpy/pandas re-statements of the documented semantics. The results
are reduced to the digests of digest.py, so every operation's output
is checked without collecting it.
"""

from __future__ import annotations

import math
import re

import duckdb
import numpy as np
import pandas as pd

from centimators_spark.functions.normal import gaussianize
from centimators_spark.operators.encoding import quantile_bin_oracle_sql
from centimators_spark.operators.neutralization import era_ols_neutralize_oracle_sql
from centimators_spark.sampling import sql_hash_split
from centimators_spark.dedup.contamination import contamination_oracle_sql
from centimators_spark.text.analysis import LANG_PROFILES

from perfbench.digest import PANEL_CHECKED, digest_np, weight_np
from perfbench.ops import CONTAM_N, CORPUS_CHECKED, FEATURES, OLS_FEATURES, SPLITS

JACCARD_THRESHOLD = 0.6  # minhash_lsh_pairs default
SHINGLE_N = 3


# ----------------------------------------------------------------- panel

def panel_features(cols: dict) -> pd.DataFrame:
    """Ranks and time-series features over the full history."""
    df = pd.DataFrame(cols)
    g = df.groupby("era")
    for c in ("price", "prediction"):
        df[f"{c}_rank"] = g[c].rank(method="average") / g[c].transform("count")
    df = df.sort_values(["ticker", "era"], kind="stable")
    t = df.groupby("ticker")["price"]
    df["price_lag1"] = t.shift(1)
    df["price_lag2"] = t.shift(2)
    for w in (5, 20):
        df[f"price_ma{w}"] = t.transform(lambda s, w=w: s.rolling(w, min_periods=w).mean())
    df["price_logreturn"] = np.log(df["price"]) - np.log(t.shift(1))
    df = df.sort_values(["era", "ticker"], kind="stable").reset_index(drop=True)
    x = df[FEATURES].to_numpy(np.float64)
    df["feat_groupstats_mean"] = x.mean(axis=1)
    df["feat_groupstats_std"] = x.std(axis=1, ddof=1)
    return df


def _min_max(v: np.ndarray) -> np.ndarray:
    mn, mx = v.min(), v.max()
    return np.full_like(v, 0.5) if mx - mn < 1e-10 else (v - mn) / (mx - mn)


def panel_tail(df: pd.DataFrame) -> dict[str, float]:
    """The per-era and whole-frame stages over the emitted rows; returns
    the digest the sink must reproduce."""
    con = duckdb.connect()
    try:
        con.register("panel", df[["id", "era", "ticker", *FEATURES, "prediction"]])
        ols = con.execute(
            era_ols_neutralize_oracle_sql(
                "panel", "CAST(prediction AS DOUBLE)",
                [f"CAST({f} AS DOUBLE)" for f in OLS_FEATURES],
                era_sql="era", key_sqls=["id"], out_name="ols_neutralized",
            )
        ).df()
        out = df.merge(ols, on="id")
        neut = np.empty(len(out))
        for _, idx in out.groupby("era").indices.items():
            part = out.iloc[idx].sort_values("ticker", kind="stable")
            gauss = gaussianize(part["prediction"].to_numpy(np.float64))
            x = part[FEATURES].to_numpy(np.float64)
            coef = np.linalg.lstsq(x, gauss, rcond=None)[0]
            r = gauss - 0.5 * (x @ coef)
            neut[part.index.to_numpy()] = r / np.std(r)
        out["neutralized"] = _min_max(neut)
        con.register("scored", out[["id", "era", "ticker", "neutralized"]])
        bins = con.execute(
            quantile_bin_oracle_sql(
                "scored", "neutralized", n_bins=5, era_sql="era",
                select_sql="id", out_name="neutralized_bin",
            )
        ).df()
        split = con.execute(
            f"SELECT id, CASE WHEN {sql_hash_split('ticker', SPLITS)} = 'train' "
            "THEN 1.0 ELSE 0.0 END AS split FROM scored"
        ).df()
    finally:
        con.close()
    out = out.merge(bins, on="id").merge(split, on="id")
    w = weight_np(out["id"].to_numpy())
    return digest_np({c: out[c].to_numpy(np.float64) for c in PANEL_CHECKED + ["split"]}, w)


# ---------------------------------------------------------------- corpus

def _tokens(text: str) -> list[str]:
    return [t for t in re.split(" +", text.lower()) if t]


def _quality(text: str) -> tuple[float, float, float]:
    """(quality, n_tokens, lang_hits) as text.analysis defines them."""
    tok = _tokens(text)
    dtok = set(tok)
    n_chars, n_tokens = float(len(text)), float(len(tok))
    lo = text.lower()
    punct = n_chars - len(re.sub("[^a-z0-9 ]", "", lo))
    lang_hits = max(len(dtok & set(words)) for words in LANG_PROFILES.values())
    if n_tokens == 0 or n_chars == 0:
        return float("nan"), n_tokens, float(lang_hits)
    stop = len(dtok & set(LANG_PROFILES["en"])) / len(dtok)
    score = (
        0.4 * min(stop * 4, 1.0)
        + 0.3 * (1.0 - min(punct / n_chars * 10, 1.0))
        + 0.3 * min(n_tokens / 100, 1.0)
    )
    return score, n_tokens, float(lang_hits)


def _shingles(text: str) -> set[str]:
    tok = _tokens(text)
    return {" ".join(tok[i : i + SHINGLE_N]) for i in range(len(tok) - SHINGLE_N + 1)}


def jaccard_pairs(ids: list[int], texts: list[str]) -> list[tuple[int, int]]:
    """All doc pairs with exact shingle Jaccard >= threshold.

    Exact prefix filtering: order shingles rarest first; a pair with
    Jaccard >= t must share one of the first |A| - ceil(t|A|) + 1
    shingles of each side, so only pairs sharing a prefix shingle are
    verified. Frequent (Zipf-head) shingles never enter a prefix."""
    sets = [_shingles(t) for t in texts]
    freq: dict[str, int] = {}
    for s in sets:
        for g in s:
            freq[g] = freq.get(g, 0) + 1
    index: dict[str, list[int]] = {}
    cand: set[tuple[int, int]] = set()
    for i, s in enumerate(sets):
        p = len(s) - math.ceil(JACCARD_THRESHOLD * len(s)) + 1
        for g in sorted(s, key=lambda g: (freq[g], g))[: max(p, 0)]:
            for j in index.get(g, ()):
                cand.add((j, i))
            index.setdefault(g, []).append(i)
    out = []
    for j, i in cand:
        a, b = sets[i], sets[j]
        inter = len(a & b)
        if inter / (len(a) + len(b) - inter) >= JACCARD_THRESHOLD:
            out.append(tuple(sorted((ids[i], ids[j]))))
    return out


def clusters(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """node -> minimum node of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def corpus_reference(corpus: dict, evals: dict, planted: list[tuple[int, int]]) -> tuple[dict, float]:
    """(digest of the kept documents, recall of the planted pairs)."""
    docs = pd.DataFrame(corpus)
    ev = pd.DataFrame(evals)
    con = duckdb.connect()
    try:
        label = clusters(jaccard_pairs(docs["doc_id"].tolist(), docs["text"].tolist()))
        dropped = {n for n, c in label.items() if n != c}
        kept = docs[~docs["doc_id"].isin(dropped)].reset_index(drop=True)
        con.register("kept", kept)
        con.register("evalset", ev)
        cont = con.execute(
            contamination_oracle_sql("kept", "evalset", n=CONTAM_N)
        ).df()
    finally:
        con.close()
    scored = kept.merge(cont, on="doc_id")
    q = np.array([_quality(t) for t in scored["text"]], dtype=np.float64).reshape(-1, 3)
    n_grams, n_hits = (scored[c].to_numpy(np.float64) for c in ("n_grams", "n_hits"))
    vals = dict(zip(CORPUS_CHECKED, (q[:, 0], q[:, 1], q[:, 2], n_grams, n_hits)))
    found = sum(1 for a, b in planted if label.get(a) is not None and label.get(a) == label.get(b))
    recall = found / len(planted) if planted else 1.0
    return digest_np(vals, weight_np(scored["doc_id"].to_numpy())), recall
