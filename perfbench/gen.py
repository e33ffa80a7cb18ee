"""Seeded input generators for the three workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical arrays. Inputs are written as parquet with several files
and several row groups per file, so scans split across cores and an era
filter can skip row groups.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FEATURES = 6
FEATURES = [f"feature_{i}" for i in range(N_FEATURES)]
FEATURE_BINS = 5  # Numerai-style integer bins 0..4
# How strongly the prediction leans on each feature. Fixed, not drawn
# per seed: the penalizer's optimizer runs until every exposure is under
# its cap, so its cost follows this vector. Drawn per seed, it made the
# per-era kernels take 0.15-0.86 s (numpy, one core) over 20 seeds;
# fixed, 0.28-0.40 s over 10.
LEAN = np.array([0.35, 0.82, 0.33, -1.30, 0.91, 0.45])

# a small English-like vocabulary head; the Zipf tail is synthetic words
_HEAD_WORDS = (
    "the of and to a in is it that for was on are as with his they at be this "
    "from have or by one had not but what all were when we there can an your "
    "which their said if do will each about how up out them then she many some"
).split()


# ----------------------------------------------------------------- panel

def panel_frame(seed: int, eras: int, tickers: int) -> dict[str, np.ndarray]:
    """A Numerai-style panel sorted by (era, ticker).

    Columns: ``id`` (era*tickers + ticker index), ``era``, ``ticker``,
    ``feature_0..feature_5`` integer bins 0..4, ``prediction`` an integer score
    0..9999 that leans on the features by ``LEAN`` plus noise, and ``price`` a per-ticker
    log-normal random walk rounded to cents."""
    rng = np.random.default_rng([seed, 1])
    n = eras * tickers
    era = np.repeat(np.arange(eras, dtype=np.int32), tickers)
    tick = np.tile(np.arange(tickers, dtype=np.int32), eras)
    feats = rng.integers(0, FEATURE_BINS, size=(n, N_FEATURES), dtype=np.int32)
    lean = feats @ LEAN
    score = lean + rng.normal(0.0, 4.0, n)
    # integer-valued prediction (era_ols_neutralize wants fixed-decimal inputs)
    lo, hi = score.min(), score.max()
    prediction = np.floor((score - lo) / (hi - lo + 1e-9) * 10_000).astype(np.int32)
    steps = rng.normal(0.0, 0.02, size=(eras, tickers))
    start = rng.uniform(10.0, 200.0, tickers)
    price = np.round(start * np.exp(np.cumsum(steps, axis=0)), 2).reshape(-1)
    cols = {
        "id": era.astype(np.int64) * tickers + tick,
        "era": era,
        "ticker": np.array([f"T{t:05d}" for t in range(tickers)], dtype=object)[tick],
    }
    for i, f in enumerate(FEATURES):
        cols[f] = feats[:, i]
    cols["prediction"] = prediction
    cols["price"] = price
    return cols


def write_panel(cols: dict, out_dir: str, files: int, eras_per_group: int, tickers: int) -> None:
    """Split the panel into ``files`` parquet files by ticker bucket; each
    file stays sorted by era and holds one row group per
    ``eras_per_group`` eras, so an era-range filter prunes row groups."""
    os.makedirs(out_dir, exist_ok=True)
    bucket = cols["id"] % tickers % files
    per_file = tickers // files + (1 if tickers % files else 0)
    for b in range(files):
        mask = bucket == b
        table = pa.table({k: v[mask] for k, v in cols.items()})
        pq.write_table(
            table,
            os.path.join(out_dir, f"part-{b:03d}.parquet"),
            row_group_size=per_file * eras_per_group,
        )


# ---------------------------------------------------------------- corpus

def zipf_vocab(size: int) -> np.ndarray:
    extra = [f"w{i}" for i in range(size - len(_HEAD_WORDS))]
    return np.array(_HEAD_WORDS + extra, dtype=object)


def zipf_probs(size: int, exponent: float) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** exponent
    return p / p.sum()


def corpus_frame(
    seed: int,
    docs: int,
    min_tokens: int,
    max_tokens: int,
    exponent: float,
    dup_frac: float,
    edit_frac: float,
    vocab_size: int,
    eval_docs: int,
) -> tuple[dict, dict, list[tuple[int, int]]]:
    """(corpus columns, eval columns, planted near-dup pairs).

    Token frequencies follow a Zipf law over an English-like vocabulary.
    ``dup_frac`` of the documents are copies of an earlier original with
    ``edit_frac`` of their tokens replaced; the planted (original, copy)
    id pairs are returned for the recall check. The eval set reuses
    spans of a few corpus documents, so contamination finds hits."""
    rng = np.random.default_rng([seed, 2])
    vocab = zipf_vocab(vocab_size)
    probs = zipf_probs(vocab_size, exponent)
    n_dup = int(round(docs * dup_frac))
    n_orig = docs - n_dup
    lengths = rng.integers(min_tokens, max_tokens + 1, n_orig)
    token_ids = [rng.choice(vocab_size, size=int(k), p=probs) for k in lengths]
    planted = []
    for j in range(n_dup):
        src = int(rng.integers(0, n_orig))
        toks = token_ids[src].copy()
        k = max(1, int(round(len(toks) * edit_frac)))
        pos = rng.choice(len(toks), size=k, replace=False)
        toks[pos] = rng.choice(vocab_size, size=k, p=probs)
        token_ids.append(toks)
        planted.append((src, n_orig + j))
    # shuffle document ids so copies are not all at the end
    perm = rng.permutation(docs)
    ids = np.empty(docs, dtype=np.int64)
    ids[perm] = np.arange(docs)
    texts = np.array([" ".join(vocab[t]) for t in token_ids], dtype=object)
    corpus = {"doc_id": ids, "text": texts}
    planted = [tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in planted]
    # eval set: half are spans lifted from corpus docs, half fresh text
    ev = []
    for i in range(eval_docs):
        if i % 2 == 0:
            src = token_ids[int(rng.integers(0, docs))]
            a = int(rng.integers(0, max(1, len(src) - 30)))
            ev.append(" ".join(vocab[src[a : a + 30]]))
        else:
            ev.append(" ".join(vocab[rng.choice(vocab_size, size=60, p=probs)]))
    evals = {"doc_id": np.arange(eval_docs, dtype=np.int64), "text": np.array(ev, dtype=object)}
    return corpus, evals, sorted(set(planted))


def write_table(cols: dict, out_dir: str, files: int, group_rows: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = len(next(iter(cols.values())))
    bounds = np.linspace(0, n, files + 1).astype(int)
    for b in range(files):
        sl = slice(bounds[b], bounds[b + 1])
        table = pa.table({k: v[sl] for k, v in cols.items()})
        pq.write_table(
            table, os.path.join(out_dir, f"part-{b:03d}.parquet"), row_group_size=group_rows
        )
