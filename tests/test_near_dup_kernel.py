"""The MinHash near-dup kernel and connected components' two paths.

- ``minhash_near_dup_pairs`` equals the LSH candidates, computed in
  Python from the signature lanes, verified by a brute-force shingle
  Jaccard, for both hash families, both edge modes, and with or without
  caller-supplied carried-shingle signatures.
- ``connected_components`` returns the same rows on its driver path and
  its distributed rounds path; each side is forced by monkeypatching the
  edge bound.
"""

from collections import defaultdict
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from elephant_twin_spark.operators import lifecycle
from elephant_twin_spark.operators.pipeline import dedup

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey"
).split()


def _text(seed: int, n: int = 18) -> str:
    return " ".join(_WORDS[(seed * 7 + i * (seed % 5 + 1)) % len(_WORDS)] for i in range(n))


def _corpus(spark):
    """Groups of exact copies and one-word edits, plus unrelated docs."""
    rows = []
    for g in range(6):
        base = _text(g)
        rows += [
            Row(doc_id=100 * g, text=base),
            Row(doc_id=100 * g + 1, text=base),
            Row(doc_id=100 * g + 2, text=base + " zulu"),
            Row(doc_id=100 * g + 3, text="yankee " + base),
        ]
    rows += [Row(doc_id=1000 + i, text=_text(50 + i, 9)) for i in range(8)]
    rows.append(Row(doc_id=2000, text=None))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _shingles(text: str, k: int = 3) -> frozenset:
    toks = text.split()
    if len(toks) < k:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))


def _bucket_candidates(lanes: dict, num_bands: int, edge_mode: str) -> set:
    """LSH candidates by definition: docs whose lanes agree on every row
    of some band share that band's bucket. ``all_pairs`` pairs every two
    bucket members, ``star`` pairs the bucket's min id with each other
    member."""
    rows = len(next(iter(lanes.values()))) // num_bands
    buckets = defaultdict(list)
    for doc, lane in lanes.items():
        for b in range(num_bands):
            buckets[(b, lane[b * rows : (b + 1) * rows])].append(doc)
    out = set()
    for members in buckets.values():
        members.sort()
        if edge_mode == "star":
            out.update((members[0], m) for m in members[1:])
        else:
            out.update(
                (a, b) for i, a in enumerate(members) for b in members[i + 1 :]
            )
    return out


def _live(pins) -> list:
    """The pins of a scope whose blocks are still held."""
    return [p for p in pins if p._ets_checkpoint.getStorageLevel().isValid()]


@pytest.mark.parametrize("given_sigs", [False, True], ids=["own", "sigs"])
@pytest.mark.parametrize("edge_mode", ["all_pairs", "star"])
@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_kernel_matches_bruteforce_jaccard_on_candidates(spark, hash_fn, edge_mode, given_sigs):
    df = _corpus(spark)
    params = dict(num_perm=16, num_bands=4, hash_fn=hash_fn)
    sh = {r["doc_id"]: _shingles(r["text"]) for r in df.collect() if r["text"] is not None}
    lanes = {
        r[0]: tuple(r[1:])
        for r in dedup.minhash_signatures(df, "text", "doc_id", 16, 3, hash_fn=hash_fn).collect()
    }
    want = set()
    for a, b in _bucket_candidates(lanes, 4, edge_mode):
        k = len(sh[a] & sh[b])
        j = k / (len(sh[a]) + len(sh[b]) - k)
        if j >= 0.7:
            want.add((a, b, j))
    with lifecycle.checkpoint_scope() as pins:
        sigs = None
        if given_sigs:
            sigs = lifecycle.pin(
                dedup._shingled_signatures(df, "text", "doc_id", 16, 3, hash_fn)
            )
        got = dedup.minhash_near_dup_pairs(
            df, "text", "doc_id", threshold=0.7, edge_mode=edge_mode, sigs=sigs, **params
        ).collect()
        # the kernel pins one relation, or none when the caller owns it
        assert len(pins) == 1
    assert sorted(map(tuple, got)) == sorted(want)
    # every exact copy is a candidate, so each group yields edges
    assert {a // 100 for a, _, _ in want if a < 1000} == set(range(6))


# ------------------------------------------------------ connected components

_GRAPHS = {
    # cliques, a self-loop and chains
    "r17_set": (
        [(1, 2), (2, 3), (3, 1), (10, 11), (20, 20), (30, 11), (40, 41), (41, 42)],
        "id_a long, id_b long",
    ),
    "chain121": ([(i, i + 1) for i in range(120)], "id_a long, id_b long"),
    "string_ids": (
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(12)]
        + [("zeta", "éclair"), ("éclair", "ångström"), ("x", "x")],
        "id_a string, id_b string",
    ),
    "decimal_20_0": (
        [(Decimal(10**19 + i), Decimal(10**19 + i + 1)) for i in range(6)]
        + [(Decimal(5), Decimal(10**19 + 3)), (Decimal(7), Decimal(8))],
        "id_a decimal(20,0), id_b decimal(20,0)",
    ),
    "null_endpoints": (
        [(1, None), (None, 2), (None, None), (2, 3), (3, 4), (9, 9)],
        "id_a int, id_b int",
    ),
}


def _cc_rows(spark, monkeypatch, name, bound):
    edges, schema = _GRAPHS[name]
    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGES", bound)
    with lifecycle.checkpoint_scope() as pins:
        out = dedup.connected_components(spark.createDataFrame(edges, schema))
        rows = sorted(map(tuple, out.collect()))
        return rows, out.dtypes, len(_live(pins))


@pytest.mark.parametrize("name", sorted(_GRAPHS))
def test_cc_driver_path_matches_rounds(spark, monkeypatch, name):
    driver, driver_types, driver_pins = _cc_rows(spark, monkeypatch, name, 10_000)
    rounds, round_types, round_pins = _cc_rows(spark, monkeypatch, name, 0)
    assert driver == rounds and driver_types == round_types
    assert driver_pins == 0 and round_pins > 0
    assert driver, "the graph labels no node"


def test_cc_driver_path_holds_no_pin_and_outlives_scope(spark):
    pairs = spark.createDataFrame([(3, 4), (4, 5), (8, 9)], "id_a long, id_b long")
    with lifecycle.checkpoint_scope() as pins:
        out = dedup.connected_components(pairs)
        assert _live(pins) == []
    assert sorted(map(tuple, out.collect())) == [(3, 3), (4, 3), (5, 3), (8, 8), (9, 8)]


def test_cc_edge_bound_is_inclusive(spark, monkeypatch):
    """Exactly ``_CC_DRIVER_EDGES`` deduplicated edges stay on the driver;
    one more takes the rounds."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    for bound, on_driver in ((4, True), (3, False)):
        monkeypatch.setattr(dedup, "_CC_DRIVER_EDGES", bound)
        with lifecycle.checkpoint_scope() as pins:
            rows = sorted(map(tuple, dedup.connected_components(pairs).collect()))
            assert (not _live(pins)) == on_driver
        assert rows == [(1, 1), (2, 1), (3, 1), (4, 1)]


def test_cc_rounds_path_evaluates_pairs_once(spark, monkeypatch):
    """Above the bound the rounds start from the rows the bounded take
    read, so the ``pairs`` lineage runs once."""
    calls = spark.sparkContext.accumulator(0)

    def seen(x):
        calls.add(1)
        return x

    tap = F.udf(seen, "long").asNondeterministic()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    ).select(tap("id_a").alias("id_a"), "id_b")
    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGES", 3)
    with lifecycle.checkpoint_scope():
        rows = dedup.connected_components(pairs).collect()
    assert sorted(map(tuple, rows)) == [(i, 0) for i in range(13)]
    assert calls.value == 12
