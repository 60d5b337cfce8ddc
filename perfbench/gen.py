"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed and size arguments: the
same seed gives identical inputs. Each returns the data plus the ground
truth the correctness checks need and an ``info`` dict of input
properties that the run reports. Only numpy and pyarrow are used here;
the engine sees nothing but the parquet files written from these tables.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

DAY0 = np.datetime64("2024-01-01", "D")
N_ZONES = 265
ZIPF_S = 1.1
# trips: days covered, and the planted invalid-row and re-sent-trip shares
TRIP_DAYS = 30
INVALID_SHARE = 0.03
DUP_SHARE = 0.05
# CDC day files: the share of late corrections and how many days back
CORRECTION_SHARE = 0.05
LATE_DAYS = 3
# corpus: planted near- and exact-duplicate, PII and boilerplate shares;
# embedding width and share of near-duplicate vectors
NEAR_DUP_SHARE = 0.08
EXACT_DUP_SHARE = 0.04
PII_SHARE = 0.2
BOILERPLATE_SHARE = 0.3
DIM = 32
VEC_DUP_SHARE = 0.05


def zipf_zones(rng: np.random.Generator, n: int) -> np.ndarray:
    """Zone ids 1..265 with a Zipf(1.1) popularity skew over a seeded
    permutation of the zones (so the hot zone differs per seed)."""
    weights = 1.0 / np.arange(1, N_ZONES + 1) ** ZIPF_S
    order = rng.permutation(N_ZONES) + 1
    return order[rng.choice(N_ZONES, size=n, p=weights / weights.sum())].astype(np.int32)


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, size=n)


# -- medallion_refresh: NYC-taxi-shaped trips --------------------------------


def trips(seed: int, n: int) -> dict:
    """``n`` raw trips with TLC column names over ``TRIP_DAYS`` days. A
    ``DUP_SHARE`` of rows re-send an earlier ``trip_id`` (same times and
    zones) with a later ``ingest_seq`` and a corrected fare; an
    ``INVALID_SHARE`` has fare <= 0 or NULL. Returns
    {"table": pyarrow.Table, "info": {...}}."""
    rng = np.random.default_rng([seed, 1])
    n_dup = int(n * DUP_SHARE)
    n_base = n - n_dup
    src = np.concatenate([np.arange(n_base), rng.choice(n_base, size=n_dup, replace=False)])
    trip_id = (rng.permutation(n_base).astype(np.int64) * 7 + 1)[src]
    base_s = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    pickup = (base_s + rng.integers(0, TRIP_DAYS * 86400, size=n_base))[src]
    dropoff = pickup + rng.integers(120, 5400, size=n_base)[src]
    pu = zipf_zones(rng, n_base)[src]
    do = zipf_zones(rng, n_base)[src]
    fare = _cents(rng, 2.5, 120.0, n)
    tip = _cents(rng, 0.0, 25.0, n)
    n_bad = int(n * INVALID_SHARE)
    bad = rng.choice(n, size=n_bad, replace=False)
    fare[bad[: n_bad // 2]] = -_cents(rng, 0.0, 10.0, n_bad // 2)
    fare_null = np.zeros(n, dtype=bool)
    fare_null[bad[n_bad // 2:]] = True
    total = np.where(fare_null, 0, fare) + tip + 50
    # re-sends land later in the file than their originals would sort
    order = rng.permutation(n)

    def ts(sec):
        return pa.array(sec[order].astype("datetime64[s]").astype("datetime64[us]"))

    def money(cents):
        return (cents / 100.0)[order]

    table = pa.table({
        "trip_id": trip_id[order],
        "ingest_seq": np.arange(n, dtype=np.int64),
        "VendorID": rng.integers(1, 3, size=n).astype(np.int32)[order],
        "tpep_pickup_datetime": ts(pickup),
        "tpep_dropoff_datetime": ts(dropoff),
        "passenger_count": rng.integers(1, 7, size=n).astype(np.int32)[order],
        "trip_distance": money(rng.integers(5, 4000, size=n)),
        "PULocationID": pu[order],
        "DOLocationID": do[order],
        "payment_type": rng.choice(np.array([1, 2, 3, 4], dtype=np.int32), size=n,
                                   p=[0.6, 0.3, 0.06, 0.04])[order],
        "fare_amount": pa.array(money(fare), mask=fare_null[order]),
        "tip_amount": money(tip),
        "total_amount": money(total),
    })
    return {
        "table": table,
        "info": {
            "seed": seed, "rows": n, "distinct_trip_ids": n_base,
            "dup_share": round(n_dup / n, 6),
            "invalid_share": round(n_bad / n, 6),
            "zones": N_ZONES, "zone_zipf_s": ZIPF_S,
            "top_zone_share": round(float(np.bincount(pu).max() / n), 6),
            "days": TRIP_DAYS,
        },
    }


# -- lakehouse_cdc: seeded silver snapshot + one day file per cycle ----------


class CdcStream:
    """Inputs of the lakehouse workload: ``days[0]`` seeds the table with
    ``seed_days`` days; ``days[i]`` (i >= 1) is the file landing in cycle
    i. Each day file carries ``rows_per_day`` new trips plus a
    ``CORRECTION_SHARE`` of rows re-sending trips of the previous
    ``LATE_DAYS`` days with a new fare (keys unique within a file, as an
    equality-delete upsert requires)."""

    def __init__(self, seed: int, rows_per_day: int, seed_days: int, n_days: int):
        self.seed, self.rows_per_day = seed, rows_per_day
        self.seed_days, self.n_days = seed_days, n_days
        rng = np.random.default_rng([seed, 2, 0])
        seed_cols = [self._new_rows(rng, d) for d in range(seed_days)]
        self.days = [_cdc_table({k: np.concatenate([c[k] for c in seed_cols])
                                 for k in seed_cols[0]})]
        self.days += [self._day(seed_days + i) for i in range(n_days)]

    def _new_rows(self, rng, day: int) -> dict:
        n = self.rows_per_day
        return {
            "trip_id": np.arange(1 + day * n, 1 + (day + 1) * n, dtype=np.int64),
            "day": np.full(n, day, dtype=np.int64),
            "zone": zipf_zones(rng, n),
            "fare_cents": _cents(rng, 2.5, 120.0, n),
        }

    def _day(self, day: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, 2, day])
        new = self._new_rows(rng, day)
        n = self.rows_per_day
        n_late = int(n * CORRECTION_SHARE)
        offs = rng.choice(n * LATE_DAYS, size=n_late, replace=False)
        late_day = day - 1 - offs // n
        late = {
            "trip_id": 1 + late_day * n + offs % n,
            "day": late_day,
            "zone": zipf_zones(rng, n_late),
            "fare_cents": _cents(rng, 2.5, 120.0, n_late),
        }
        return _cdc_table({k: np.concatenate([new[k], late[k]]) for k in new})

    def info(self) -> dict:
        return {
            "seed": self.seed, "rows_per_day": self.rows_per_day,
            "seed_days": self.seed_days, "day_files": self.n_days,
            "seed_rows": self.days[0].num_rows,
            "day_file_rows": self.days[1].num_rows if self.n_days else 0,
            "correction_share": CORRECTION_SHARE,
            "late_window_days": LATE_DAYS, "zones": N_ZONES,
            "zone_zipf_s": ZIPF_S,
        }


def _cdc_table(c: dict) -> pa.Table:
    return pa.table({
        "trip_id": c["trip_id"],
        "pickup_date": pa.array(DAY0 + c["day"].astype("timedelta64[D]")),
        "zone": c["zone"],
        "fare_cents": c["fare_cents"],
        "fare": c["fare_cents"] / 100.0,
    })


# -- corpus_curation: documents + embeddings ---------------------------------

_WORDS = (
    "data table query scan merge join window stream batch spark engine "
    "column filter order value index vector model token shard lake house "
    "river mountain forest city market travel harbor bridge garden music "
    "paper theory method result sample signal noise energy price trade "
    "export import policy budget school teacher student library museum "
    "history culture festival weather summer winter autumn spring"
).split()
_VOCAB = [f"{w}{k}" if k else w for k in range(4) for w in _WORDS]
LANGS = {"en": 0.6, "de": 0.15, "fr": 0.15, "es": 0.1}
BOILERPLATE = [
    "accept all cookies to continue browsing this site today",
    "copyright all rights reserved by the publisher of record",
    "subscribe to our newsletter for weekly updates and offers",
    "share this article with friends on your favorite network",
]


def _line(rng) -> str:
    return " ".join(_VOCAB[i] for i in rng.integers(0, len(_VOCAB), size=int(rng.integers(12, 20))))


def corpus(seed: int, n_docs: int, n_vecs: int) -> dict:
    """``n_docs`` documents and ``n_vecs`` embeddings with planted
    duplicates (shares set by the module constants).

    - near-duplicates: copies with ~2% of the words of each line
      replaced (word-3-shingle Jaccard well above 0.7);
    - exact duplicates: copies that differ only in case and whitespace;
    - boilerplate: one of four lines inserted into a share of the docs;
    - PII: an email, a phone number and an IPv4 on a line of their own;
    - duplicate vectors: a base vector plus noise (cosine > 0.99).

    A copy always has a higher id than its original."""
    rng = np.random.default_rng([seed, 3])
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_base = n_docs - n_near - n_exact
    langs_p = np.array(list(LANGS.values()))
    texts, langs, sources = [], [], []
    for _ in range(n_base):
        lines = [_line(rng) for _ in range(int(rng.integers(5, 9)))]
        if rng.random() < BOILERPLATE_SHARE:
            lines.insert(int(rng.integers(0, len(lines))),
                         BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))])
        if rng.random() < PII_SHARE:
            a, b, c = (int(x) for x in rng.integers(1, 255, size=3))
            lines.append(
                f"contact user{int(rng.integers(1e6))}@example.org or call "
                f"555-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))}"
                f" from host 10.{a}.{b}.{c}"
            )
        texts.append("\n".join(lines))
        langs.append(list(LANGS)[int(rng.choice(len(LANGS), p=langs_p))])
        sources.append(f"src{int(rng.integers(0, 8))}")
    near_pairs, exact_pairs = [], []
    for _ in range(n_near):
        j = int(rng.integers(0, n_base))
        out = []
        for line in texts[j].split("\n"):
            words = line.split(" ")
            if line not in BOILERPLATE and not line.startswith("contact"):
                for p in np.flatnonzero(rng.random(len(words)) < 0.02):
                    words[p] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            out.append(" ".join(words))
        copy = "\n".join(out)
        if copy == texts[j]:  # no word was drawn: force one change
            copy = "novel " + copy
        near_pairs.append((j, len(texts)))
        texts.append(copy)
        langs.append(langs[j])
        sources.append(sources[j])
    for _ in range(n_exact):
        j = int(rng.integers(0, n_base))
        exact_pairs.append((j, len(texts)))
        texts.append("  " + texts[j].upper().replace(" ", "  ") + " ")
        langs.append(langs[j])
        sources.append(sources[j])
    docs = pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": sources,
    })

    vec = rng.normal(size=(n_vecs, DIM)).astype(np.float32)
    n_vdup = int(n_vecs * VEC_DUP_SHARE)
    src = rng.choice(n_vecs - n_vdup, size=n_vdup, replace=False)
    dup = np.arange(n_vecs - n_vdup, n_vecs)
    vec[dup] = vec[src] + rng.normal(scale=0.01, size=(n_vdup, DIM)).astype(np.float32)
    vecs = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), DIM).cast(
            pa.list_(pa.float32())),
    })
    return {
        "docs": docs,
        "vecs": vecs,
        "near_pairs": near_pairs,
        "exact_pairs": exact_pairs,
        "vec_dups": list(zip(src.tolist(), dup.tolist())),
        "info": {
            "seed": seed, "docs": len(texts), "vectors": n_vecs, "dim": DIM,
            "near_dup_share": round(n_near / len(texts), 6),
            "exact_dup_share": round(n_exact / len(texts), 6),
            "pii_share": PII_SHARE, "boilerplate_share": BOILERPLATE_SHARE,
            "vec_near_dup_share": round(n_vdup / n_vecs, 6),
            "lang_mix": LANGS,
        },
    }
