"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program is made here from the
workload seed: the same seed writes byte-identical files, another seed
writes different ones. Nothing is read from outside the output
directory.

* ``bronze_tree`` / ``bronze_day`` — CoinGecko ``/coins/{id}/history``
  shaped documents, pretty-printed, one file per (coin, day) at
  ``<root>/<coin>/<coin>_<YYYY-MM-DD>.json`` (the reference layout).
* ``corpus_tables`` — the ``documents`` and ``embeddings`` parquet
  tables the curation queries read, shaped like the repository's
  synthetic test data. The seed also picks which documents receive
  extra exact and near copies, since duplicate share is what dedup and
  its pair set depend on.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COINS = {
    "bitcoin": ("btc", "Bitcoin", 60000.0, 1.9e7),
    "ethereum": ("eth", "Ethereum", 2500.0, 1.2e8),
    "cardano": ("ada", "Cardano", 0.7, 3.5e10),
    "solana": ("sol", "Solana", 140.0, 4.6e8),
    "ripple": ("xrp", "XRP", 0.55, 5.5e10),
    "dogecoin": ("doge", "Dogecoin", 0.12, 1.4e11),
    "polkadot": ("dot", "Polkadot", 6.5, 1.4e9),
    "litecoin": ("ltc", "Litecoin", 70.0, 7.5e7),
}

# The 63 vs-currencies of a CoinGecko history document; rates are
# fixed multipliers of the USD value.
CURRENCIES = (
    "aed ars aud bch cop bdt bhd bmd bnb brl btc cad chf clp cny czk dkk dot eos "
    "eth eur gbp gel hkd huf idr ils inr jpy krw kwd lkr ltc mmk mxn myr ngn "
    "nok nzd php pkr pln rub sar sek sgd thb try twd uah usd vef vnd xag xau "
    "xdr xlm xrp yfi zar bits link sats"
).split()
_RATES = {c: 1.0 + (i * 0.37) % 9.0 for i, c in enumerate(CURRENCIES)}
_RATES["usd"] = 1.0

START_DAY = dt.date(2024, 9, 1)


def _coin_doc(coin: str, price: float, cap: float, vol: float) -> dict:
    symbol, name, _, _ = COINS[coin]
    usd = {"current_price": price, "market_cap": cap, "total_volume": vol}
    market = {
        field: {c: round(v * _RATES[c], 8) for c in CURRENCIES} for field, v in usd.items()
    }
    return {
        "id": coin,
        "symbol": symbol,
        "name": name,
        "localization": {"en": name, "de": name, "es": name, "fr": name, "ja": name},
        "image": {
            "thumb": f"https://assets.example/coins/{coin}/thumb.png",
            "small": f"https://assets.example/coins/{coin}/small.png",
        },
        "market_data": market,
        "community_data": {"twitter_followers": int(cap) % 100000, "reddit_subscribers": None},
        "developer_data": {"forks": 10, "stars": 100, "commit_count_4_weeks": 5},
        "public_interest_stats": {"alexa_rank": None, "bing_matches": None},
    }


def _price_paths(rng: np.random.Generator, n_coins: int, n_days: int) -> np.ndarray:
    """Geometric random walks, one row per coin; volatile enough to hold
    runs of >= 3 down days followed by recoveries."""
    base = np.array([v[2] for v in list(COINS.values())[:n_coins]])
    steps = rng.normal(0.0, 0.035, size=(n_coins, n_days))
    return base[:, None] * np.exp(np.cumsum(steps, axis=1))


def _write_doc(root: str, coin: str, day: dt.date, doc: dict) -> None:
    d = os.path.join(root, coin)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{coin}_{day.isoformat()}.json"), "w") as f:
        json.dump(doc, f, indent=2)


def bronze_tree(root: str, seed: int, n_coins: int, n_days: int) -> dict:
    """Write ``n_coins x n_days`` history documents under ``root``.

    Returns the ground truth the checks compare against:
    ``{(coin, iso_day): price_usd}``, prices rounded to 8 decimals the
    way silver stores them."""
    rng = np.random.default_rng([seed, 1])
    prices = _price_paths(rng, n_coins, n_days)
    truth = {}
    for ci, coin in enumerate(list(COINS)[:n_coins]):
        supply = COINS[coin][3]
        for di in range(n_days):
            day = START_DAY + dt.timedelta(days=di)
            p = round(float(prices[ci, di]), 8)
            cap = float(prices[ci, di]) * supply
            vol = cap * 0.05
            _write_doc(root, coin, day, _coin_doc(coin, p, cap, vol))
            truth[(coin, day.isoformat())] = p
    return truth


def bronze_day(root: str, seed: int, n_coins: int, day_index: int) -> dict:
    """One daily ingest drop: every coin's document for
    ``START_DAY + day_index`` under ``root``, prices independent of the
    tree. Returns ``{(coin, iso_day): price_usd}``."""
    rng = np.random.default_rng([seed, 2, day_index])
    day = START_DAY + dt.timedelta(days=day_index)
    truth = {}
    for coin in list(COINS)[:n_coins]:
        p = round(COINS[coin][2] * float(np.exp(rng.normal(0.0, 0.2))), 8)
        _write_doc(root, coin, day, _coin_doc(coin, p, p * COINS[coin][3], p * 1e6))
        truth[(coin, day.isoformat())] = p
    return truth


# ---------------------------------------------------------------------------
# corpus tables

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n_docs: int, dup_share: float) -> dict:
    """Random-word documents plus seeded exact and near copies.

    ``dup_share`` of the corpus is copies of earlier documents: half
    verbatim (exact dedup), half with 1-3 token substitutions (near
    dedup, Jaccard pairs)."""
    n_copies = int(n_docs * dup_share)
    n_base = n_docs - n_copies
    texts = []
    for _ in range(n_base):
        n = int(rng.integers(10, 101))
        texts.append(" ".join(rng.choice(_WORDS, size=n)))
    for i in range(n_copies):
        toks = texts[int(rng.integers(0, n_base))].split()
        if i % 2:  # near copy
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(_WORDS))
        texts.append(" ".join(toks) + " dup")
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    return {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, size=n_docs, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n_vecs: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, size=n_vecs).astype(np.int32)
    centers = rng.normal(0.0, 0.07, size=(10, dim))
    m = centers[labels] + rng.normal(0.0, 0.12, size=(n_vecs, dim))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def corpus_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int, dup_share: float) -> None:
    """Write the registry's ``documents`` and ``embeddings`` tables."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    _write(out_dir, "documents", _documents(rng, n_docs, dup_share))
    _write(out_dir, "embeddings", _embeddings(rng, n_vecs))
