"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same seed gives
byte-identical inputs. Generators use only the standard library, NumPy and
PyArrow, so inputs exist before the engine (and its JVM) is started.

- :func:`write_events` — the ``events`` table the trips report synthesizes
  its trip records from (``plans.trips.trips_raw``). Event ids are a seeded
  sample, so the mix of trip texts (``event_id % len(GOLDEN_TEXTS)``)
  changes with the seed.
- :func:`request_stream` — the closed-loop request sequence for the cleaning
  API: single texts and small batches drawn from a Zipf distribution over a
  pool of messy texts.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "error", "signup", "refund"]

# Context words that surround a location in human-entered trip texts. None
# of them is a dictionary variant, an operational prefix, a round-trip
# marker or a classifier keyword, so they change which tier resolves a
# token without introducing a second location.
_FILLERS = ["رايح", "عند", "قرب", "بجوار", "شارع", "near", "hotel", "street"]

# Near-miss edits a human typist makes (the dictionary's fuzzy tier exists
# for these): doubled letter, dropped letter, swapped neighbours, alef and
# ta-marbuta variants, tatweel.
_ALEF_FORMS = {"ا": "أ", "أ": "ا", "إ": "ا", "آ": "ا"}


def _near_miss(word: str, rng: random.Random) -> str:
    if len(word) < 3:
        return word
    i = rng.randrange(1, len(word) - 1)
    kind = rng.randrange(6)
    if kind == 0:
        return word[:i] + word[i] + word[i:]
    if kind == 1:
        return word[:i] + word[i + 1 :]
    if kind == 2:
        return word[: i - 1] + word[i] + word[i - 1] + word[i + 1 :]
    if kind == 3:
        return "".join(_ALEF_FORMS.get(c, c) for c in word)
    if kind == 4:
        return word[:i] + "ـ" + word[i:]
    return word[:-1] + "ه" if word.endswith("ة") else word + "ه"


def _variants() -> list[str]:
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.sources.dictionary import (
        LOCATIONS,
    )

    return [v for vs in LOCATIONS.values() for v in vs]


def write_events(path: str, n: int, seed: int, row_groups: int) -> dict:
    """``events.parquet`` with the ``events`` fixture schema that
    ``sources.tables`` reads (event_id, ts, user_id, event_type, value,
    props). Returns the input's properties."""
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans.trips import (
        GOLDEN_TEXTS,
    )

    rs = np.random.default_rng(seed)
    event_id = np.sort(rs.choice(10 * n, size=n, replace=False)).astype(np.int64)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rs.integers(1_000_000, 300_000_000, size=n).cumsum()
    ts = start + gaps.astype("timedelta64[us]")
    table = pa.table(
        {
            "event_id": event_id,
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rs.integers(0, 5_000, size=n).astype(np.int64),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rs.integers(0, len(EVENT_TYPES), size=n)]
            ),
            "value": np.round(rs.gamma(2.0, 20.0, size=n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rs.integers(0, 100, size=n)]),
        }
    )
    pq.write_table(table, path, row_group_size=-(-n // row_groups))
    texts = {GOLDEN_TEXTS[int(e) % len(GOLDEN_TEXTS)] for e in event_id}
    return {"rows": n, "distinct_texts": len(texts), "distinct_text_ratio": len(texts) / n}


def request_pool(seed: int, size: int) -> list[str]:
    """Messy texts the API clients send: the reference's golden corpus plus
    seeded near-miss spellings (with and without context words)."""
    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans.trips import (
        GOLDEN_TEXTS,
    )

    rng = random.Random(seed)
    variants = _variants()
    pool = [t for t in GOLDEN_TEXTS if t is not None]
    seen = set(pool)
    while len(pool) < size:
        words = [_near_miss(w, rng) for w in rng.choice(variants).split()]
        if rng.random() < 0.5:
            words.insert(0, rng.choice(_FILLERS))
        text = " ".join(words)
        if text not in seen:
            seen.add(text)
            pool.append(text)
    rng.shuffle(pool)
    return pool


def request_stream(
    seed: int, n_requests: int, pool_size: int, block: tuple[int, ...]
) -> tuple[list[tuple[str, list[str]]], dict]:
    """``n_requests`` requests ``(kind, texts)``: kind ``"clean"`` (one text)
    or ``"clean_batch"`` (several). Request sizes come in blocks, each a
    seeded shuffle of ``block``, so every whole block carries the same number
    of texts; the texts are drawn from a Zipf(1.1) distribution over the
    pool. Returns the stream and its properties."""
    pool = request_pool(seed, pool_size)
    rs = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, len(pool) + 1) ** 1.1
    weights /= weights.sum()
    sizes = np.concatenate([rs.permutation(block) for _ in range(-(-n_requests // len(block)))])
    reqs: list[tuple[str, list[str]]] = []
    for k in sizes[:n_requests]:
        texts = [pool[i] for i in rs.choice(len(pool), int(k), p=weights)]
        reqs.append(("clean" if k == 1 else "clean_batch", texts))
    texts = [t for _, ts in reqs for t in ts]
    return reqs, {
        "requests": n_requests,
        "texts": len(texts),
        "distinct_text_ratio": len(set(texts)) / len(texts),
        "batch_share": sum(k == "clean_batch" for k, _ in reqs) / n_requests,
        "pool": len(pool),
    }
