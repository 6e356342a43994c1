"""Seeded input generators owned by the benchmark.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs. They run before the session starts, so neither
``setup_s`` nor any timed operation includes them.

- ``coin_batches``: CoinGecko ``/coins/markets``-shaped JSON batches
  (``RAW_COIN_SCHEMA``), ~75% updated keys and ~25% new keys per batch,
  ~20% null ``max_supply`` and ``roi``, ``last_updated`` spread over
  several dates.
- ``corpus``: a Zipf corpus from ``pipeline.fixtures.zipf_documents``
  with English stopwords mixed in (raw Zipf text fails the quality gate
  every time), planted near-dups and exact dups spread over the whole
  id range, a Spanish-stopword minority the language gate drops, and a
  held-out benchmark built from a few corpus passages.

The registry workload generates nothing: it reads the TPC-H-ish test
tables shipped under ``perfbench/data/sf0.01`` read-only, and its seed
only permutes the query order.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

# ---------------------------------------------------------------- coins
COIN_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
COIN_DATE_SPREAD = 4  # a batch's rows fall on this many consecutive dates


def _coin(rng: random.Random, idx: int, batch: int) -> dict:
    symbol = f"c{idx:06d}"
    price = round(rng.uniform(0.01, 70000.0), 6)
    supply = round(rng.uniform(1e6, 1e9), 2)
    cap = int(price * supply)
    ts = COIN_EPOCH + dt.timedelta(
        days=batch + rng.randrange(COIN_DATE_SPREAD),
        seconds=rng.randrange(86400),
    )
    return {
        "id": f"coin-{idx:06d}",
        "symbol": symbol,
        "name": f"Coin {idx:06d}",
        "image": f"https://img.example/{symbol}.png",
        "current_price": price,
        "market_cap": cap,
        "market_cap_rank": idx + 1,
        "fully_diluted_valuation": int(cap * 1.1),
        "total_volume": int(cap * rng.uniform(0.01, 0.2)),
        "high_24h": round(price * rng.uniform(1.0, 1.2), 6),
        "low_24h": round(price * rng.uniform(0.8, 1.0), 6),
        "price_change_24h": round(price * rng.uniform(-0.1, 0.1), 6),
        "price_change_percentage_24h": round(rng.uniform(-10, 10), 5),
        "market_cap_change_24h": int(cap * rng.uniform(-0.1, 0.1)),
        "market_cap_change_percentage_24h": round(rng.uniform(-10, 10), 5),
        "circulating_supply": supply,
        "total_supply": round(supply * 1.2, 2),
        "max_supply": None if rng.random() < 0.2 else round(supply * 1.5, 2),
        "ath": round(price * rng.uniform(1.0, 3.0), 6),
        "ath_change_percentage": round(rng.uniform(-90, 0), 5),
        "ath_date": "2021-11-10T14:24:11.849Z",
        "atl": round(price * rng.uniform(0.01, 1.0), 6),
        "atl_change_percentage": round(rng.uniform(0, 5000), 5),
        "atl_date": "2020-03-13T02:22:55.391Z",
        "roi": None
        if rng.random() < 0.2
        else {
            "times": round(rng.uniform(-0.9, 50), 6),
            "currency": rng.choice(["btc", "eth", "usd"]),
            "percentage": round(rng.uniform(-90, 5000), 5),
        },
        "last_updated": ts.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
    }


def coin_batches(
    seed: int, n_batches: int, n_coins: int = 1000, update_share: float = 0.75
) -> list[list[dict]]:
    """``n_batches`` raw batches of ``n_coins`` coins each. Batch 0 is
    all new keys; every later batch re-sends ``update_share`` of its
    coins from keys already seen and brings the rest as new keys."""
    rng = random.Random(seed)
    seen: list[int] = []
    batches = []
    for b in range(n_batches):
        n_old = 0 if b == 0 else int(n_coins * update_share)
        idxs = rng.sample(seen, n_old) + list(
            range(len(seen), len(seen) + n_coins - n_old)
        )
        seen.extend(range(len(seen), len(seen) + n_coins - n_old))
        batches.append([_coin(rng, i, b) for i in sorted(idxs)])
    return batches


def write_coin_batch(rows: list[dict], path: str) -> int:
    """Write one batch as a JSON array (the reference's raw shape);
    returns its size in bytes."""
    with open(path, "w") as f:
        json.dump(rows, f)
    return os.path.getsize(path)


# --------------------------------------------------------------- corpus
def corpus(
    seed: int, n_docs: int, en_stopwords, es_stopwords
) -> tuple[list[tuple], list[tuple[int, int]], list[tuple]]:
    """(rows, planted, benchmark).

    ``rows`` match the documents schema. ``planted`` lists (a, b) doc id
    pairs that are near-dups (token-perturbed copies from
    ``zipf_documents``) or exact copies. Ids are shuffled so both kinds
    land in every slice of the id range. ``benchmark`` holds a few
    held-out docs that quote corpus passages, so decontamination has
    work to do."""
    from cryptocoininsights_data_engineer_project_spark.pipeline.fixtures import (
        zipf_documents,
    )

    rng = random.Random(seed)
    base, near = zipf_documents(n_docs=n_docs, seed=seed)
    texts = [r[1].split() for r in base]
    # exact copies: ~2% of docs replaced by a copy of a doc that is
    # itself never replaced, so every planted pair stays a duplicate
    near_members = {d for p in near for d in p}
    candidates = [d for d in range(n_docs) if d not in near_members]
    replaced = rng.sample(candidates, n_docs // 50)
    sources = sorted(set(candidates) - set(replaced))
    exact = [(rng.choice(sources), d) for d in replaced]
    for src, d in exact:
        texts[d] = list(texts[src])
    # stopwords after every third token: positions are stable under the
    # fixture's in-place token perturbation, so near-dups stay near-dups
    spanish = set(rng.sample(range(n_docs), n_docs * 15 // 100))
    spanish -= {d for p in near + exact for d in p}
    rows_text = []
    for d, toks in enumerate(texts):
        words = es_stopwords if d in spanish else en_stopwords
        out = []
        for i, t in enumerate(toks):
            out.append(t)
            if i % 3 == 2:
                out.append(words[(i // 3) % len(words)])
        rows_text.append(" ".join(out))
    perm = list(range(n_docs))
    rng.shuffle(perm)  # old id -> new id
    rows = [
        (perm[d], text, "en", f"src{perm[d] % 4}", len(text))
        for d, text in enumerate(rows_text)
    ]
    rows.sort()
    planted = [(perm[a], perm[b]) for a, b in near + exact]
    bench = []
    for j, d in enumerate(rng.sample(range(n_docs), 4)):
        toks = rows_text[d].split()
        lo = rng.randrange(max(1, len(toks) - 12))
        text = "held out question " + " ".join(toks[lo : lo + 12])
        bench.append((10**9 + j, text, "en", "benchmark", len(text)))
    return rows, planted, bench
