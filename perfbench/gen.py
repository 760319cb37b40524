"""Seeded input generator for the perfbench workloads.

Everything the benchmark feeds the package comes from here, and only
from the ``seed`` argument plus the sizes in ``workloads.json``: the
same seed gives the same tables, probe batches and op sequences. The
runner never invents inputs itself.

Tables are produced by Spark expressions over ``spark.range`` hashed
with the seed (deterministic regardless of partitioning); text corpora
are produced in Python with ``random.Random(seed)`` so the oracles can
recompute shingles exactly.
"""

from __future__ import annotations

import random
from typing import Dict, List, Sequence, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_TYPES = ("click", "view", "purchase", "signup", "error", "logout")
EVENT_WEIGHTS = (40, 25, 10, 5, 5, 15)
#: 2024-01-01T00:00:00Z
EPOCH0 = 1_704_067_200
DAY = 86_400
BASE_DAYS = 30


def _u01(seed: int, salt: int) -> Column:
    """Uniform [0, 1) per row of ``spark.range``, a pure function of
    (seed, salt, id)."""
    h = F.xxhash64(F.lit(seed), F.lit(salt), F.col("id"))
    return F.pmod(h, F.lit(1 << 53)).cast("double") / float(1 << 53)


def _event_type(u: Column) -> Column:
    out = None
    edge = 0.0
    total = float(sum(EVENT_WEIGHTS))
    for name, w in zip(EVENT_TYPES, EVENT_WEIGHTS):
        edge += w / total
        out = (F.when(u < edge, name) if out is None else out.when(u < edge, name))
    return out.otherwise(EVENT_TYPES[-1])


def events(
    spark: SparkSession,
    seed: int,
    rows: int,
    users: int,
    id_offset: int = 0,
    day0: float = 0.0,
    days: float = BASE_DAYS,
) -> DataFrame:
    """Click-stream rows. ``user_id`` is log-uniform on [1, users)
    (density ~ 1/u, i.e. Zipf-skewed: a few users own most events);
    ``ts`` is uniform over ``[day0, day0 + days)`` days after EPOCH0."""
    base = spark.range(id_offset, id_offset + rows)
    return base.select(
        F.col("id").alias("event_id"),
        F.floor(F.pow(F.lit(float(users)), _u01(seed, 1))).cast("long").alias("user_id"),
        _event_type(_u01(seed, 2)).alias("event_type"),
        F.timestamp_seconds(
            F.lit(EPOCH0 + int(day0 * DAY))
            + F.floor(_u01(seed, 3) * F.lit(float(days * DAY))).cast("long")
        ).alias("ts"),
        F.round(_u01(seed, 4) * 100.0, 2).alias("value"),
    )


def lineitem(spark: SparkSession, seed: int, rows: int, suppliers: int) -> DataFrame:
    """Lineitem-shaped rows; ``l_suppkey`` is uniform over a domain
    close to the row count, so a key lives in one or two files."""
    return spark.range(rows).select(
        (F.floor(F.col("id") / 4) + 1).alias("l_orderkey"),
        (F.floor(_u01(seed, 11) * suppliers) + 1).cast("long").alias("l_suppkey"),
        (F.floor(_u01(seed, 12) * 50) + 1).cast("long").alias("l_quantity"),
        F.round(_u01(seed, 13) * 10000.0, 2).alias("l_extendedprice"),
    )


# ------------------------------------------------------------------ text


def vocabulary(rng: random.Random, size: int) -> List[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 8))))
    return sorted(words)


class TextGen:
    """Zipf-weighted word sampler over a seeded vocabulary."""

    def __init__(self, seed: int, vocab_size: int):
        self.rng = random.Random(seed)
        self.vocab = vocabulary(self.rng, vocab_size)
        self.rng.shuffle(self.vocab)
        acc, self.cum = 0.0, []
        for rank in range(len(self.vocab)):
            acc += 1.0 / (rank + 1)
            self.cum.append(acc)

    def words(self, n: int) -> List[str]:
        return self.rng.choices(self.vocab, cum_weights=self.cum, k=n)

    def doc(self, lo: int, hi: int) -> List[str]:
        return self.words(self.rng.randint(lo, hi))


def documents(
    seed: int, n: int, words: Tuple[int, int], vocab_size: int
) -> Tuple[TextGen, List[Tuple[int, str, str, str]]]:
    """``(doc_id, text, source, lang)`` rows, single-space separated."""
    g = TextGen(seed, vocab_size)
    sources = ("web", "books", "code", "forum")
    langs = ("en", "de", "es", "fr")
    rows = [
        (i, " ".join(g.doc(*words)), sources[i % 4], langs[(i // 4) % 4])
        for i in range(n)
    ]
    return g, rows


DOC_SCHEMA = "doc_id long, text string, source string, lang string"


TEXT_KINDS = ("term", "bool", "phrase", "prefix")


def text_queries(g: TextGen, docs: Sequence[Tuple], n: int) -> List[Dict]:
    """Term, boolean, phrase and prefix queries drawn from the corpus
    itself (so most of them hit): ``{"kind", "query"}``."""
    rng = random.Random(g.rng.random())
    out = []
    for i in range(n):
        toks = docs[rng.randrange(len(docs))][1].split()
        j = rng.randrange(len(toks) - 1)
        kind = TEXT_KINDS[i % len(TEXT_KINDS)]
        if kind == "term":
            q = toks[j]
        elif kind == "bool":
            other = docs[rng.randrange(len(docs))][1].split()
            q = f"{toks[j]} AND {other[rng.randrange(len(other))]}"
        elif kind == "phrase":
            q = f'"{toks[j]} {toks[j + 1]}"'
        else:
            q = toks[j][:3] + "*"
        out.append({"kind": kind, "query": q})
    return out


def probe_batches(
    g: TextGen,
    base: Sequence[Tuple],
    batches: int,
    size: int,
    id0: int,
    words: Tuple[int, int],
) -> List[List[Tuple[int, str]]]:
    """Gate probe batches. Each batch mixes three kinds in equal parts:

    - reformatted copies of corpus documents (same tokens, different
      whitespace): shingle Jaccard 1.0, so near-duplicates;
    - partial overlaps (the first half of a corpus document followed by
      fresh words): Jaccard well below any sensible threshold, so these
      reach verification as LSH candidates and must be rejected there;
    - novel documents.

    Near-duplicates are exact on shingles on purpose: a probe with a
    Jaccard just above the threshold could be missed by LSH banding,
    which the oracle (brute-force Jaccard) would then count as a wrong
    answer."""
    out = []
    for b in range(batches):
        rows = []
        for i in range(size):
            pid = id0 + b * size + i
            kind = i % 3
            if kind == 0:
                toks = base[g.rng.randrange(len(base))][1].split()
                cut = g.rng.randrange(1, len(toks))
                text = " ".join(toks[:cut]) + "\n  " + " ".join(toks[cut:]) + " "
            elif kind == 1:
                toks = base[g.rng.randrange(len(base))][1].split()
                half = toks[: len(toks) // 2]
                text = " ".join(half + g.words(len(toks) - len(half)))
            else:
                text = " ".join(g.doc(*words))
            rows.append((pid, text))
        out.append(rows)
    return out


def shingles(text: str, k: int = 3) -> frozenset:
    """Python twin of ``dedup.word_shingles`` for ASCII-whitespace text."""
    toks = text.split()
    if len(toks) < k:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))


# ------------------------------------------------------------ predicates


def _date(day: float) -> str:
    import datetime as _dt

    t = _dt.datetime.fromtimestamp(EPOCH0 + int(day * DAY), tz=_dt.timezone.utc)
    return t.strftime("%Y-%m-%d %H:%M:%S")


def zipf_user(rng: random.Random, users: int) -> int:
    """Same log-uniform law the events generator uses."""
    return max(1, int(users ** rng.random()))


def lookup_pool(seed: int, n: int, users: int, suppliers: int) -> List[Dict]:
    """Seeded predicate pool for the ``lookup`` workload. Each entry:
    ``{"kind", "table", "pred"}`` where ``table`` names a fixture and
    ``pred`` is a predicate string valid both for ``Engine.query`` and
    as Spark SQL (the oracle)."""
    rng = random.Random(seed * 7919 + 17)
    kinds = ("eq", "and", "or", "in", "zone", "count", "bloom")
    et = EVENT_TYPES
    pool = []
    for i in range(n):
        kind = kinds[i % len(kinds)]
        if kind == "eq":
            table = ("events", "events_by_type")[rng.randrange(2)]
            pred = f"event_type = '{rng.choice(et)}'"
        elif kind == "and":
            table = "events"
            pred = f"event_type = '{rng.choice(et)}' AND user_id = {zipf_user(rng, users)}"
        elif kind == "or":
            table = ("events", "events_by_type")[rng.randrange(2)]
            a, b = rng.sample(et, 2)
            pred = f"event_type = '{a}' OR event_type = '{b}'"
        elif kind == "in":
            table = "events"
            us = sorted({zipf_user(rng, users) for _ in range(3)})
            pred = f"user_id IN ({', '.join(map(str, us))})"
        elif kind == "zone":
            table = "events_by_ts"
            d = rng.uniform(0, BASE_DAYS - 2)
            pred = f"ts BETWEEN '{_date(d)}' AND '{_date(d + rng.uniform(0.25, 2))}'"
        elif kind == "count":
            table = "events"
            pred = (
                f"event_type = '{rng.choice(et)}'"
                if rng.random() < 0.5
                else f"user_id = {zipf_user(rng, users)}"
            )
        else:
            table = "lineitem"
            pred = f"l_suppkey = {rng.randint(1, suppliers)}"
        pool.append({"kind": kind, "table": table, "pred": pred})
    return pool


class Cycles:
    """Stratified closed-loop op order over a pool of ``{"kind", ...}``
    entries: every cycle holds one entry of each kind, drawn at random
    within the kind, in a shuffled order. Fixed kind proportions keep
    the op mix, and so the latency distribution, the same across seeds;
    the seed picks which predicates run and in which order."""

    def __init__(self, seed: int, pool: Sequence[Dict]):
        self.rng = random.Random(seed * 104_729 + 5)
        self.by_kind: Dict[str, List[Dict]] = {}
        for e in pool:
            self.by_kind.setdefault(e["kind"], []).append(e)

    def next(self) -> List[Dict]:
        cycle = [self.rng.choice(es) for es in self.by_kind.values()]
        self.rng.shuffle(cycle)
        return cycle
